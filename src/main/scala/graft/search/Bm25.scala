package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.PostingBlocks

object Bm25 {
  /** docid spaces up to this size use the dense thread-local accumulator
    * (8 B/doc ≈ 32 MB/serving thread at the max); bigger fall back to a
    * hash accumulation. */
  final val DenseAccMax: Int = 1 << 22
  private[search] val accTl = new ThreadLocal[Array[Double]]()
  /** reusable touched-docid scratch (avoids ~100k-int buffer churn per
    * query — at 8 concurrent clients that is ~1 GB/s of young-gen garbage,
    * which throttles multi-client throughput via GC pauses). */
  private[search] val touchedTl = new ThreadLocal[Array[Int]]()
}

/** BM25 top-k over the FOR-compressed posting-block table with block-max
  * pruning — the distributed adaptation of block-max WAND (north rule).
  *
  * Standard BM25 (Robertson/Sparck-Jones idf):
  *   idf(t)   = ln(1 + (N − df + 0.5)/(df + 0.5))
  *   score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl))
  *
  * Single-node WAND walks aligned posting cursors; a cluster can't. Instead:
  *
  *  1. **metadata pass** (driver): read the query terms' block metadata only
  *     (max_tf, count — `bytes` never touched, parquet column pruning);
  *     per-block score upper bound ub(b) = idf·tfUb(max_tf).
  *  2. **θ̂ pass**: exactly score the few highest-ub blocks until they cover
  *     ≥4k postings; the k-th partial score is a valid *lower bound* θ̂ of
  *     the true k-th best (partial scores underestimate).
  *  3. **phase A**: decode only blocks with ub(b) + Σ_{other terms}
  *     globalUb(t) ≥ θ̂ — every true top-k doc has ≥1 posting in a
  *     surviving block (a doc confined to pruned blocks scores < θ̂).
  *     Partial-aggregate per doc → optimistic(d) = partial(d) +
  *     Σ_{terms not seen for d} globalUb(t); candidates = {optimistic ≥ θ̂}.
  *  4. **phase B**: exact rescoring of candidates only — decode just the
  *     blocks whose docid range (block-max skip metadata) intersects a
  *     candidate, TakeOrdered k.
  *
  * Result is identical to full scoring (asserted by Bm25Spec); pruning only
  * skips blocks provably unable to host a top-k doc.
  */
class Bm25(index: GraftIndex, k1: Double = 1.2, b: Double = 0.75,
    /** queries touching ≤ this many postings score driver-side in one
      * posting-block fetch — the adaptive twin of milli's in-process point
      * reads. 0 disables the fast path (tests force the distributed one). */
    smallQueryMaxPostings: Long = 1L << 18,
    /** phase-A candidates above this count rescore via a distributed
      * semi-join instead of a driver collect (all-stop-word queries at web
      * scale can leave millions of survivors; the driver must stay bounded). */
    maxCandidateCollect: Long = 1L << 18) extends Serializable {
  import index.spark
  import spark.implicits._

  lazy val stats: (Long, Double) = {
    val row = index.docStats.agg(count(lit(1)), avg($"doclen")).first()
    (index.numberOfDocuments, row.getDouble(1))
  }

  /** doclen array pinned on the driver for the small-query path — only for
    * indexes small enough that 4 bytes/doc is nothing. Sized by max(docid)+1
    * (docids go sparse after hard deletes / replace merges / caller-assigned
    * ids), missing ids sentinel −1 → the query falls back to the distributed
    * path rather than silently scoring doclen=0. At 10^12 docs this is None
    * and every query takes the distributed path. */
  private lazy val docLensLocal: Option[Array[Int]] =
    if (index.numberOfDocuments > 20000000L) None
    else {
      val rows = index.docStats.select($"docid", $"doclen".cast("int"))
        .as[(Int, Int)].collect()
      val maxId = rows.iterator.map(_._1).foldLeft(-1)(math.max)
      if (maxId >= 40000000) None // sparse ids would blow the dense array up
      else {
        val arr = Array.fill(maxId + 1)(-1)
        rows.foreach { case (d, l) => arr(d) = l }
        Some(arr)
      }
    }

  def idf(df: Long): Double = {
    val n = stats._1
    math.log(1.0 + (n - df + 0.5) / (df + 0.5))
  }

  @inline private def tfUpperBound(maxTf: Int): Double =
    maxTf * (k1 + 1) / (maxTf + k1 * (1 - b))

  /** (word, blockId, minDocidExclusive, maxDocid, ub, count) */
  private final case class BlockMeta(word: String, blockId: Int, minEx: Int,
      maxDocid: Int, ub: Double, count: Int)

  /** Exact top-k. `prune = false` forces full scoring (the oracle path). */
  def topK(terms: Seq[String], k: Int, prune: Boolean = true): Array[(Int, Double)] =
    // in-flight marker: deferred background fills must not land mid-query
    index.markQuery(topKImpl(terms, k, prune))

  private def topKImpl(terms: Seq[String], k: Int,
      prune: Boolean): Array[(Int, Double)] = {
    index.checkFresh() // stale-handle guard: caches pin the opened version
    val (_, avgdl) = stats
    val qterms = terms.distinct
    if (qterms.isEmpty) return Array.empty

    // df through the pinned dictionary: zero jobs on a warm serving handle
    // (term_dict df = posting entries per word, so it is also the exact
    // small-query postings bound — no block-metadata job needed to gate)
    val dfs: Map[String, Long] = index.dfsFor(qterms)
    val present = qterms.filter(dfs.contains)
    if (present.isEmpty) return Array.empty
    val idfs: Map[String, Double] = present.map(w => w -> idf(dfs(w))).toMap

    // small-query fast path: posting-cache fetch (zero jobs when warm) +
    // driver-side exact scoring (identical formula/ordering; Bm25Spec
    // asserts equivalence). Gated on `prune` so `prune = false` keeps its
    // contract of forcing the full distributed scoring (the oracle path);
    // a sparse docid outside the pinned doclen array falls through too.
    val totalPostings = present.map(dfs).sum
    if (prune && totalPostings <= smallQueryMaxPostings && docLensLocal.isDefined)
      topKLocal(present, idfs, avgdl, k) match {
        case Some(hits) => return hits
        case None       => () // doclen miss: fall back to the distributed path
      }

    // block metadata only (bytes column pruned away) — distributed path only
    val rawMetas = index.postingBlocks
      .where($"word".isin(present: _*))
      .select($"word", $"block_id", $"max_docid", $"max_tf", $"count")
      .as[(String, Int, Int, Int, Int)].collect()
    val metas: Array[BlockMeta] = rawMetas.groupBy(_._1).toArray.flatMap {
      case (w, ms) =>
        val sorted = ms.sortBy(_._2)
        var prevMax = -1
        sorted.map { case (_, bid, maxD, maxTf, cnt) =>
          val m = BlockMeta(w, bid, prevMax, maxD, idfs(w) * tfUpperBound(maxTf), cnt)
          prevMax = maxD
          m
        }
    }

    // small posting sets: the 3-pass pruning costs more jobs than it saves
    if (!prune || metas.length <= 64)
      return score(metas.map(m => (m.word, m.blockId)).toSet, present, idfs, avgdl)
        .orderBy(desc("score"), asc("docid")).limit(k).as[(Int, Double)].collect()

    val globalUb: Map[String, Double] =
      metas.groupBy(_.word).map { case (w, ms) => w -> ms.map(_.ub).max }
    val totalUb = present.map(globalUb).sum

    // θ̂ pass
    val byUb = metas.sortBy(m => -m.ub)
    val firstPass = scala.collection.mutable.ArrayBuffer.empty[BlockMeta]
    var covered = 0L
    val it = byUb.iterator
    while (it.hasNext && covered < 4L * k) { val m = it.next(); firstPass += m; covered += m.count }
    val fpScores = score(firstPass.map(m => (m.word, m.blockId)).toSet, present, idfs, avgdl)
      .orderBy(desc("score"), asc("docid")).limit(k).as[(Int, Double)].collect()
    val theta = if (fpScores.length >= k) fpScores.last._2 else 0.0

    // phase A: partial scores over surviving blocks
    val surviving = metas.filter { m =>
      m.ub + present.filter(_ != m.word).map(globalUb).sum >= theta
    }
    val partial = score(surviving.map(m => (m.word, m.blockId)).toSet, present, idfs, avgdl,
        contribUbs = Some(globalUb))
      .withColumn("optimistic", $"score" + lit(totalUb) - $"contrib_ub")
      .where($"optimistic" >= theta)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the candidate count bounds what the driver may materialize: weak θ̂
      // (all-common-term queries) can leave millions of survivors
      val nCandidates = partial.count()
      if (nCandidates == 0L)
        return fpScores // θ̂ pass already had the best k

      if (nCandidates <= maxCandidateCollect) {
        val candSet: Array[Int] = partial.select($"docid").as[Int].collect().sorted
        // phase B: exact rescoring; decode only blocks whose docid range
        // (block-max skip metadata) intersects a candidate
        def intersects(m: BlockMeta): Boolean = {
          val i = java.util.Arrays.binarySearch(candSet, m.minEx + 1)
          val idx = if (i >= 0) i else -i - 1
          idx < candSet.length && candSet(idx) <= m.maxDocid
        }
        val phaseB = metas.filter(intersects).map(m => (m.word, m.blockId)).toSet
        val bCands = spark.sparkContext.broadcast(candSet)
        val exact = score(phaseB, present, idfs, avgdl, docFilter = Some(bCands))
        exact.orderBy(desc("score"), asc("docid")).limit(k).as[(Int, Double)].collect()
      } else {
        // too many candidates for the driver: phase B stays distributed —
        // decode every surviving-term block and semi-join the candidate set
        val candDf = partial.select($"docid")
        val exact = score(metas.map(m => (m.word, m.blockId)).toSet, present, idfs,
          avgdl, docFilterDf = Some(candDf))
        exact.orderBy(desc("score"), asc("docid")).limit(k).as[(Int, Double)].collect()
      }
    } finally partial.unpersist(false)
  }

  /** Small-query path: postings through the word-keyed LRU cache (zero jobs
    * warm or cold: a cold miss batch is one direct parquet point read, with
    * a pruned Spark scan as fallback), scored in-process
    * against the pinned doclen array. Returns None on a doclen miss (sparse
    * docid not in the pinned array) — the caller then rescores distributed. */
  private def topKLocal(terms: Seq[String], idfs: Map[String, Double],
      avgdl: Double, k: Int): Option[Array[(Int, Double)]] = {
    if (k <= 0) return Some(Array.empty)
    val lens = docLensLocal.get
    val del = index.deletedDocids
    val cache = index.postingCache
    val postings = cache.get(terms)
    // dense accumulator: docid-indexed double array + touched list (BM25
    // partial scores are strictly positive, so 0 ⟺ untouched). ~5 ns per
    // posting vs ~400 ns for a boxed HashMap — a stop-word query scans 10^5
    // postings in single-digit ms. The array is thread-local and REUSED
    // (touched entries zeroed after each query); docid spaces too big for
    // 8 B/doc fall back to a hash accumulation.
    if (lens.length <= Bm25.DenseAccMax) {
      var acc = Bm25.accTl.get()
      if (acc == null || acc.length < lens.length) {
        acc = new Array[Double](lens.length)
        Bm25.accTl.set(acc)
      }
      var touched = Bm25.touchedTl.get()
      if (touched == null) { touched = new Array[Int](4096); Bm25.touchedTl.set(touched) }
      var nTouched = 0
      @inline def touch(d: Int): Unit = {
        if (nTouched == touched.length) {
          touched = java.util.Arrays.copyOf(touched, touched.length * 2)
          Bm25.touchedTl.set(touched)
        }
        touched(nTouched) = d
        nTouched += 1
      }
      try {
        terms.foreach { word =>
          val idfw = idfs(word)
          val ps = postings(word)
          var i = 0
          while (i < ps.length) {
            val docid = cache.docidOf(ps(i))
            val tf = cache.tfOf(ps(i))
            if (!del.contains(docid)) {
              if (docid >= lens.length || lens(docid) < 0)
                return None // sparse docid: pinned doclens can't score it
              val dl = lens(docid)
              val s = idfw * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avgdl))
              if (acc(docid) == 0.0) touch(docid)
              acc(docid) += s
            }
            i += 1
          }
        }
        // bounded top-k heap (score desc, docid asc): O(touched) peek compares
        val accRef = acc
        val ord = new Ordering[Int] { // "better" = LESS (heap head = worst kept)
          override def compare(a: Int, bb: Int): Int = {
            val c = java.lang.Double.compare(accRef(bb), accRef(a))
            if (c != 0) c else Integer.compare(a, bb)
          }
        }
        val heap = new java.util.PriorityQueue[Integer](k + 1,
          (x: Integer, y: Integer) => ord.compare(y.intValue(), x.intValue()))
        var ti = 0
        while (ti < nTouched) {
          val d = touched(ti)
          if (heap.size < k) heap.offer(d)
          else if (ord.lt(d, heap.peek().intValue())) { heap.poll(); heap.offer(d) }
          ti += 1
        }
        import scala.jdk.CollectionConverters._
        Some(heap.asScala.toArray.map(_.intValue()).sorted(ord).map(d => (d, accRef(d))))
      } finally {
        var i = 0
        while (i < nTouched) { acc(touched(i)) = 0.0; i += 1 }
      }
    } else {
      val acc = new java.util.HashMap[Integer, java.lang.Double]()
      terms.foreach { word =>
        val idfw = idfs(word)
        val ps = postings(word)
        var i = 0
        while (i < ps.length) {
          val docid = cache.docidOf(ps(i))
          val tf = cache.tfOf(ps(i))
          if (!del.contains(docid)) {
            if (docid >= lens.length || lens(docid) < 0)
              return None // sparse docid: pinned doclens can't score it
            val dl = lens(docid)
            val s = idfw * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avgdl))
            val prev = acc.get(docid)
            acc.put(docid, if (prev == null) s else prev + s)
          }
          i += 1
        }
      }
      import scala.jdk.CollectionConverters._
      Some(acc.entrySet().asScala.toArray
        .map(e => (e.getKey.intValue(), e.getValue.doubleValue()))
        .sortBy { case (docid, s) => (-s, docid) }
        .take(k))
    }
  }

  /** Decode + score the given blocks: flatMap decode → join doclen →
    * partial-aggregated per-doc sums (map-side combine → TakeOrdered).
    * `contribUbs` (phase A) emits each posting's word upper bound straight
    * from the decode loop — no per-row UDF in the hot path. `docFilter`
    * prunes decoded postings against a broadcast sorted array (bounded
    * candidate sets); `docFilterDf` semi-joins instead (unbounded sets). */
  private def score(
      blocks: Set[(String, Int)],
      terms: Seq[String],
      idfs: Map[String, Double],
      avgdl: Double,
      contribUbs: Option[Map[String, Double]] = None,
      docFilter: Option[org.apache.spark.broadcast.Broadcast[Array[Int]]] = None,
      docFilterDf: Option[DataFrame] = None): DataFrame = {
    val bBlocks = spark.sparkContext.broadcast(blocks)
    val bIdfs = spark.sparkContext.broadcast(idfs)
    // contrib_ub = Σ globalUb(word) over the doc's contributing terms (same
    // ub definition as the pruning bound — optimistic(d) stays a true upper
    // bound of the doc's full score)
    val bGub = spark.sparkContext.broadcast(contribUbs.getOrElse(Map.empty))
    val kk1 = k1; val bb = b
    val bDeleted = spark.sparkContext.broadcast(
      graft.core.Bitmaps.cboSerialize(index.deletedDocids))
    // IO half of block-max pruning: the surviving (word, block_id) set is
    // pushed into the scan itself so parquet footer/page pruning skips the
    // pruned blocks' `bytes` payloads — a stop-word term whose pruning keeps
    // 50 of 10^5 blocks must not read 10^5 byte payloads. The JVM-side set
    // filter below remains the exactness guard (and covers words whose id
    // list exceeds the pushdown cap). Words with every block pruned vanish
    // from the scan predicate entirely.
    val blockIdsByWord: Map[String, Seq[Int]] =
      blocks.groupBy(_._1).map { case (w, ws) => w -> ws.map(_._2).toSeq.sorted }
    val MaxPushedIds = 4096
    val scanPred = blockIdsByWord.toSeq.sortBy(_._1).map { case (w, ids) =>
      if (ids.length > MaxPushedIds) $"word" === w
      else $"word" === w && $"block_id".isin(ids: _*)
    }.reduceOption(_ || _).getOrElse(lit(false))
    val contrib = index.postingBlocks
      .where(scanPred)
      .select($"word", $"block_id", $"bytes")
      .as[(String, Int, Array[Byte])]
      .mapPartitions { rows =>
        // tombstone bitmap deserialized ONCE per task, not per block row
        val del = graft.core.Bitmaps.cboDeserialize(bDeleted.value)
        val filt = docFilter.map(_.value)
        val idfs = bIdfs.value
        val gub = bGub.value
        val blocks = bBlocks.value
        rows.filter(r => blocks.contains((r._1, r._2))).flatMap { case (word, _, bytes) =>
          val idfw = idfs(word)
          val wub = gub.getOrElse(word, 0.0)
          PostingBlocks.decode(bytes).iterator
            .filter { case (docid, _) =>
              !del.contains(docid) &&
                filt.forall(a => java.util.Arrays.binarySearch(a, docid) >= 0) }
            .map { case (docid, tf) => (docid, idfw, tf, wub) }
        }
      }
      .toDF("docid", "idf", "tf", "wub")
    val filtered = docFilterDf match {
      case Some(fd) => contrib.join(fd, Seq("docid"), "left_semi")
      case None     => contrib
    }
    val withS = filtered.join(index.docStats, Seq("docid"))
      .withColumn("s", $"idf" * ($"tf" * lit(kk1 + 1)) /
        ($"tf" + lit(kk1) * (lit(1 - bb) + lit(bb) * $"doclen" / lit(avgdl))))
    contribUbs match {
      case Some(_) =>
        withS.groupBy($"docid")
          .agg(sum($"s").as("score"), sum($"wub").as("contrib_ub"))
      case None =>
        withS.groupBy($"docid").agg(sum($"s").as("score"))
    }
  }
}
