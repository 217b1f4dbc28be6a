package graft.perfbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, LongAdder}

import org.apache.spark.sql.SparkSession

import graft.perfbench.Gen.{Bm25Op, Op, Rank}
import graft.perfbench.PerfBench._
import graft.search._

/** serve-head / serve-tail: `Cpus` closed-loop clients against one warmed
  * handle over a [[PerfBench.CorpusDocs]]-page corpus. */
object Serve {

  /** Head queries draw from this many most frequent words ... */
  val HeadSize = 500
  /** ... into this many distinct word lists. */
  val HeadPool = 1000
  /** Tail words rank at or beyond the `warmServing` head (4,096 words). */
  val TailFrom = 4096
  /** Ops run in set-up, before the window: they warm the JIT and, on
    * serve-head, fill the caches (each pool entry runs ~3 times); the tail
    * stream never repeats a word, so there they warm the JIT only. */
  def warmupOps(tail: Boolean): Int = if (tail) 900 else 3500
  val WarmupRounds = 4
  /** Rank and BM25 ops whose outputs are re-checked after the window. */
  val CheckSample = 4

  final class Client(val index: GraftIndex) {
    val search = new Search(index)
    val bm25 = new Bm25(index)
    val derivWords = new LongAdder
    val candidates = new LongAdder

    def request(r: Rank): SearchRequest = SearchRequest(
      query = Some(r.query), filter = r.filter, limit = 20, exhaustive = false,
      sortCriteria = r.sortDesc.map(d => SortSpec("n_chars", ascending = !d)).toSeq)

    /** Runs one op; the result is its top-k ids. Traced runs first call
      * each search stage on its own (priming the caches the rank step
      * then reads), so `search.rank.primed` is mostly drain + rank. */
    def exec(op: Op): Seq[Int] = op match {
      case r: Rank =>
        if (Trace.enabled) stages(r)
        Trace.span("search.rank.primed")(search.execute(request(r))).documentsIds
      case Bm25Op(terms) =>
        Trace.span("search.bm25")(bm25.topK(terms, 20)).map(_._1).toSeq
    }

    private def stages(r: Rank): Unit = {
      val tree = Trace.span("search.query_tree") {
        val parts = QueryTree.primitiveQuery(r.query, index.settings.stopWords)
        val words = parts.collect { case QueryTree.PWord(w, _) => w }
        val ctx = index.primedQueryContext(words)
        QueryTree.build(ctx, QueryTree.MatchingStrategy.Last, true, parts)
      }
      tree.foreach { t =>
        val keys = QueryTree.wordsBranches(t).flatMap(Ranker.derivationKeys).toSet
        val der = Trace.span("search.derivations")(index.derivations(keys))
        derivWords.add(der.map.valuesIterator.map(_.size.toLong).sum)
        Trace.span("search.bitmaps")(index.resolveTreeBitmap(t, der))
          .foreach(b => candidates.add(b.getLongCardinality))
      }
    }
  }

  /** One finished op: its index in the stream, kind and latency in ms
    * (`+Inf` when it threw). */
  final case class Done(i: Int, op: Op, ms: Double, ids: Seq[Int], endNs: Long = System.nanoTime())

  /** The client threads: one per core, kept for the whole run like a
    * server's request threads. */
  private lazy val pool = java.util.concurrent.Executors.newFixedThreadPool(Cpus, r => {
    val t = new Thread(r, "perfbench-client"); t.setDaemon(true); t
  })

  /** Closed loop: `Cpus` clients take ops `[next, until)` in stream order
    * until the stream or the deadline runs out. Op `i` runs as query
    * `qidBase + i`. Exceptions are failed ops: counted, never retried. */
  def drive(spark: SparkSession, c: Client, ops: Vector[Op], next: AtomicInteger,
      until: Int, deadlineNs: Long, qidBase: Long = 0): Vector[Done] = {
    val done = new java.util.concurrent.ConcurrentLinkedQueue[Done]()
    val errors = new AtomicLong()
    val loops = (0 until Cpus).map { _ =>
      pool.submit(new Runnable {
        def run(): Unit = {
          var i = next.getAndIncrement()
          while (i < until && System.nanoTime() < deadlineNs) {
            val t0 = System.nanoTime()
            done.add(
              try {
                val ids = Trace.inQuery(spark.sparkContext, qidBase + i)(c.exec(ops(i)))
                Done(i, ops(i), (System.nanoTime() - t0) / 1e6, ids)
              } catch {
                case e: Throwable =>
                  if (errors.getAndIncrement() < 5)
                    log(s"op $i (${ops(i).text}) failed: $e\n  at " +
                      e.getStackTrace.take(4).mkString("\n  at "))
                  Done(i, ops(i), Double.PositiveInfinity, Nil)
              })
            i = next.getAndIncrement()
          }
        }
      })
    }
    loops.foreach(_.get())
    import scala.jdk.CollectionConverters._
    done.asScala.toVector.sortBy(_.i)
  }

  def run(spark: SparkSession, jobs: Jobs, args: Args, tail: Boolean): Outcome = {
    val dir = s"${args.work}/index"
    val t0 = System.nanoTime()
    Trace.enabled = args.trace // a traced run also records the set-up spans
    val (index, buildS, openS) =
      buildAndOpen(spark, Gen.pages(spark, args.seed, 0, CorpusDocs), dir)
    val byDf = Gen.wordsByDf(spark, dir)
    def stream(seed: Long): (Vector[Op], Vector[Op]) = {
      val s =
        if (tail) Gen.tailStream(seed, byDf, 100000, TailFrom, HeadSize)
        else Gen.headStream(seed, byDf, 100000, HeadSize, HeadPool)
      s.splitAt(warmupOps(tail))
    }
    val (warmOps, ops) = stream(args.seed)
    val client = new Client(index)
    // in rounds: the program defers its background cache fills while
    // queries run, so each round ends by letting the fills drain
    val warmNext = new AtomicInteger()
    val warm = (1 to WarmupRounds).flatMap { r =>
      val d = drive(spark, client, warmOps, warmNext, warmOps.length * r / WarmupRounds,
        Long.MaxValue)
      index.quiesce()
      d
    }
    Trace.enabled = false
    val setupS = (System.nanoTime() - t0) / 1e9
    log(f"setup ${setupS}%.2f s (build $buildS%.2f s, open $openS%.2f s), " +
      f"${byDf.length} words")

    // the window; a traced run first times each facet filter from scratch
    // (Search itself reuses the handle's cached filter bitmaps)
    if (args.trace) {
      Trace.enabled = true
      Gen.Filters.foreach { f =>
        Trace.span("search.filter")(FilterEvaluator.evaluate(index, FilterParser.parse(f)))
      }
    }
    val gc0 = Jvm.gcMs
    val c0 = Counters.now(index, jobs)
    val s0 = System.nanoTime()
    val next = new AtomicInteger()
    val measured = drive(spark, client, ops, next, ops.length, s0 + args.seconds * 1000000000L,
      qidBase = warmOps.length)
    val wall = (System.nanoTime() - s0) / 1e9
    Trace.enabled = false
    Thread.sleep(300) // let the listener bus deliver the window's jobs
    val c1 = Counters.now(index, jobs)
    val gcShare = (Jvm.gcMs - gc0) / 1000.0 / wall
    if (next.get() >= ops.length) log("stream exhausted before the window ended")

    // output checks, outside the window
    val all = warm ++ measured
    val checks = Checks.serve(index, client, all)
    def digest(s: (Vector[Op], Vector[Op])) = Gen.digest(s._1 ++ s._2.take(2000))
    val mine = Gen.digest(warmOps ++ ops.take(2000))
    val streamOk = digest(stream(args.seed)) == mine && digest(stream(args.seed + 1)) != mine
    if (!streamOk) log("stream determinism check failed")
    log(s"stream_digest=$mine " +
      s"topk_digest=${Checks.digest(warm.take(100).map(_.ids))}")

    // pair-frequency probes the run made (every split of every rank-query
    // word); the program caches them in a 65,536-entry LRU
    val splitKeys = all.iterator.collect { case Done(_, r: Rank, _, _, _) => r.query }
      .flatMap(q => QueryTree.primitiveQuery(q, Set.empty))
      .collect { case QueryTree.PWord(w, _) => w }
      .flatMap(w => (1 until w.length).map(i => (w.substring(0, i), w.substring(i))))
      .toSet.size
    log(s"ops run ${all.length} (stream ${warmOps.length} + ${ops.length}), " +
      s"distinct pair-frequency keys $splitKeys")
    def lat(f: Op => Boolean) = measured.filter(d => f(d.op)).map(_.ms)
    val rankMs = lat { case r: Rank => r.filter.isEmpty && r.sortDesc.isEmpty; case _ => false }
    val bm25Ms = lat(_.isInstanceOf[Bm25Op])
    val facetMs = lat { case r: Rank => r.filter.nonEmpty || r.sortDesc.nonEmpty; case _ => false }
    val qps = measured.count(!_.ms.isInfinite) / wall
    def kind(o: Op) = o match {
      case _: Bm25Op => "bm25"
      case r: Rank if r.filter.nonEmpty => "filter"
      case r: Rank if r.sortDesc.nonEmpty => "sort"
      case r: Rank if !r.query.endsWith(" ") => "prefix"
      case _ => "rank"
    }
    log("ops over 20 ms by kind: " + measured.filter(_.ms > 20).groupBy(d => kind(d.op))
      .map { case (k, v) => s"$k ${v.length}/${measured.count(d => kind(d.op) == k)}" }
      .mkString(", "))
    log("ops per 1 s slice: " + slices(measured, s0, wall).mkString(","))
    log(f"window ${wall}%.2f s: ${measured.length} ops, $qps%.1f qps; " +
      f"rank p50 ${pct(rankMs, .5)}%.2f p99 ${pct(rankMs, .99)}%.2f ms (n=${rankMs.length}); " +
      f"bm25 p50 ${pct(bm25Ms, .5)}%.2f p99 ${pct(bm25Ms, .99)}%.2f ms (n=${bm25Ms.length}); " +
      f"facet p50 ${pct(facetMs, .5)}%.2f ms (n=${facetMs.length})")

    // a percentile that lands on a failed op reads as the whole window: that
    // op produced no answer within it
    def answered(ms: Double) = if (ms.isInfinite) wall * 1000 else ms
    val failed = all.count(_.ms.isInfinite) + checks.failed
    val attempted = all.length + checks.attempted
    val metrics =
      if (!args.trace) {
        val heap = Jvm.heapAfterGcMb()
        Seq(
          ("setup_s", setupS, "s"),
          ("ops_per_s", qps, "1/s"),
          ("op_p50_ms", answered(median(measured.map(_.ms))), "ms"),
          ("op_p99_ms", answered(pct(measured.map(_.ms), 0.99)), "ms"),
          ("heap_mb", heap, "MB"))
      } else {
        val nq = math.max(1, measured.length).toDouble
        val nr = math.max(1, measured.count(_.op.isInstanceOf[Rank])).toDouble
        val nb = math.max(1.0, nq - nr)
        def per(name: String, n: Double) = Trace.ms(name, s0) / n
        // the work tracing adds to the window: the stage calls a traced
        // rank op makes before Search.execute, and the span records
        val stagesMs = Seq("search.query_tree", "search.derivations", "search.bitmaps")
          .map(Trace.ms(_, s0)).sum
        val spansMs = Trace.all.count(_.startNs >= s0) * Trace.spanCostNs() / 1e6
        val opMs = measured.iterator.map(_.ms).filterNot(_.isInfinite).sum
        Layers.fill(
          Seq(
            "search.query_tree.ms" -> per("search.query_tree", nr),
            "search.derivations.ms" -> per("search.derivations", nr),
            "search.derivations.words" -> client.derivWords.sum() / nr,
            "search.bitmaps.ms" -> per("search.bitmaps", nr),
            "search.bitmaps.candidates" -> client.candidates.sum() / nr,
            "search.filter.ms" -> Trace.ms("search.filter") / Gen.Filters.length,
            "search.rank.primed_ms" -> per("search.rank.primed", nr),
            "search.bm25.ms" -> per("search.bm25", nb),
            "spark.zero_job_share" ->
              jobs.zeroJobQueries(measured.map(warmOps.length.toLong + _.i)) / nq,
            "jvm.gc_ms_share" -> gcShare,
            "trace.overhead_share" -> (stagesMs + spansMs) / opMs,
            "fail_ratio" -> failed.toDouble / attempted) ++
            (c1 - c0).perQuery(nq, nr) ++ openLayer ++ buildLayer(dir).map(m => m._1 -> m._2) ++
            Seq("core.tokenizer.mb_per_s" -> Tokenize.mbPerS(spark, args.seed)))
      }
    // let background cache fills finish before Spark stops under them
    index.quiesce()
    index.close()
    Outcome(attempted, failed, checks.ok && streamOk, metrics)
  }

  /** Successful ops finished in each whole second of the window. */
  def slices(done: Seq[Done], s0: Long, wallS: Double): Seq[Int] = {
    val counts = new Array[Int](math.max(1, wallS.toInt))
    done.foreach { d =>
      val k = ((d.endNs - s0) / 1000000000L).toInt
      if (!d.ms.isInfinite && k >= 0 && k < counts.length) counts(k) += 1
    }
    counts.toSeq
  }

  /** `search.open.*` from the set-up spans. */
  def openLayer: Seq[(String, Double)] = Seq(
    "search.open.ms" -> Trace.ms("search.open"),
    "search.open.warm_ms" -> Trace.ms("search.open.warm"),
    "search.open.warm_serving_ms" -> Trace.ms("search.open.warm_serving"))
}
