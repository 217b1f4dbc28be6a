package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.webgen.WebPages

/** Seeded inputs. Every page, query and batch is a pure function of the
  * seed, so two runs with one seed see identical inputs.
  *
  * Pages come from `WebPages.gen` with the page index offset by the seed
  * (each seed owns a disjoint block of page indices). Docids are dense:
  * page `off + k` gets docid `k`. */
object Gen {

  /** Page indices of seed `s` start here; 2^24 pages per seed. */
  def pageOffset(seed: Long): Long = (seed & 0x3ffL) << 24

  /** The `WebPages` zipf table (same formula as `WebPages.generate`). */
  lazy val cdf: Array[Double] = {
    val n = WebPages.VocabSize
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, WebPages.ZipfS))
    val sum = w.sum
    var acc = 0.0
    val c = w.map { x => acc += x / sum; acc }
    c(n - 1) = 1.0
    c
  }

  /** Pages with docids `[from, until)` of seed `seed`'s corpus, carrying
    * the facets the serve mix filters and sorts on (`lang`, `n_chars`). */
  def pages(spark: SparkSession, seed: Long, from: Int, until: Int): DataFrame = {
    import spark.implicits._
    val off = pageOffset(seed)
    val bcdf = spark.sparkContext.broadcast(cdf)
    spark.range(from.toLong, until.toLong, 1, math.max(1, (until - from) / 2500))
      .map { d =>
        val p = WebPages.gen(off + d, bcdf.value)
        (d.toInt, p.url, p.text, p.lang)
      }
      .toDF("docid", "url", "text", "lang")
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Words of the built corpus ordered by document frequency (ties by
    * word): rank 0 is the most frequent. */
  def wordsByDf(spark: SparkSession, indexDir: String): Array[String] = {
    import spark.implicits._
    spark.read.parquet(s"$indexDir/term_dict")
      .select(col("word"), col("df").cast("long"))
      .as[(String, Long)].collect()
      .sortBy { case (w, df) => (-df, w) }
      .map(_._1)
  }

  sealed trait Op { def text: String }
  /** milli-rank search; `filter`/`sortDesc` set for the facet slice. */
  final case class Rank(query: String, filter: Option[String] = None,
      sortDesc: Option[Boolean] = None) extends Op {
    def text: String = s"rank:$query|${filter.getOrElse("")}|${sortDesc.getOrElse("")}"
  }
  final case class Bm25Op(terms: Seq[String]) extends Op {
    def text: String = terms.mkString("bm25:", ",", "")
  }

  val Filters: Array[String] = Array(
    "lang = en", "lang = fr OR lang = de", "n_chars > 300",
    "n_chars >= 150 AND lang = en", "NOT lang = en")

  /** Zipf(1.0) draw over ranks `[0, n)`. */
  private def zipfRank(rng: java.util.SplittableRandom, n: Int): Int = {
    // inverse CDF of a continuous 1/x law on [1, n + 1)
    val r = math.exp(rng.nextDouble() * math.log(n + 1.0)) - 1.0
    math.min(n - 1, r.toInt)
  }

  /** Mix shared by both serve workloads: ~70% rank, ~20% BM25, ~10% rank
    * with a facet filter or sort, over the given words; the last word is a
    * prefix in ~30% of rank queries. */
  private def mixOp(rng: java.util.SplittableRandom, words: Seq[String]): Op = {
    val u = rng.nextDouble()
    if (u < 0.2) Bm25Op(words)
    else {
      val prefix = rng.nextDouble() < 0.3 && words.last.length > 2
      val q =
        if (prefix) (words.init :+ words.last.dropRight(1)).mkString(" ")
        else words.mkString(" ") + " " // trailing space: last word exact
      if (u < 0.9) Rank(q)
      else if (rng.nextBoolean()) Rank(q, filter = Some(Filters(rng.nextInt(Filters.length))))
      else Rank(q, sortDesc = Some(rng.nextBoolean()))
    }
  }

  /** serve-head: a pool of `poolSize` distinct word lists, each 1–3 Zipf
    * draws from the `headSize` most frequent words; ops draw a list
    * uniformly from the pool and their kind from the mix. */
  def headStream(seed: Long, byDf: Array[String], n: Int, headSize: Int,
      poolSize: Int): Vector[Op] = {
    val rng = new java.util.SplittableRandom(seed * 0x9e3779b97f4a7c15L + 1)
    val head = math.min(headSize, byDf.length)
    val pool = Iterator.continually(Seq.fill(1 + rng.nextInt(3))(byDf(zipfRank(rng, head))))
      .distinct.take(poolSize).toVector
    Vector.fill(n)(mixOp(rng, pool(rng.nextInt(pool.length))))
  }

  /** One typo in a word: a digit after the first character becomes a
    * letter, so the result is one substitution away and not a corpus word
    * (corpus words are `w<digits>` or stop words). Words shorter than 5
    * (no typo budget) are kept. */
  private def typo(rng: java.util.SplittableRandom, w: String): String =
    if (w.length < 5) w
    else {
      val i = 1 + rng.nextInt(w.length - 1)
      w.substring(0, i) + ('a' + rng.nextInt(26)).toChar.toString.replace("w", "x") +
        w.substring(i + 1)
    }

  /** serve-tail: every query carries 1–3 tail words (df rank at or beyond
    * `tailFrom`), drawn without replacement across the whole stream; a
    * query may add one head word. About half of the rank queries carry one
    * typo. BM25 queries keep their words exact (BM25 has no typo
    * tolerance). The stream ends when the tail runs out. */
  def tailStream(seed: Long, byDf: Array[String], n: Int, tailFrom: Int,
      headSize: Int): Vector[Op] = {
    val rng = new java.util.SplittableRandom(seed * 0x9e3779b97f4a7c15L + 2)
    val tail = byDf.drop(tailFrom)
    // seeded Fisher-Yates: the draw order without replacement
    var j = tail.length - 1
    while (j > 0) {
      val r = rng.nextInt(j + 1); val t = tail(j); tail(j) = tail(r); tail(r) = t; j -= 1
    }
    var next = 0
    val out = Vector.newBuilder[Op]
    var made = 0
    while (made < n && next < tail.length) {
      val k = math.min(1 + rng.nextInt(3), tail.length - next)
      val tw = tail.slice(next, next + k).toSeq
      next += k
      val withHead =
        if (rng.nextDouble() < 0.3) byDf(zipfRank(rng, math.min(headSize, byDf.length))) +: tw
        else tw
      out += (mixOp(rng, withHead) match {
        case Rank(q, f, s) if rng.nextBoolean() =>
          val ws = q.split(' ').toSeq
          val i = rng.nextInt(ws.length)
          Rank(ws.updated(i, typo(rng, ws(i))).mkString(" ") + (if (q.endsWith(" ")) " " else ""),
            f, s)
        case op => op
      })
      made += 1
    }
    out.result()
  }

  /** Ingest batch `b` over an index holding docids `[0, live)`: it adds
    * docids `[live, live + n)` and soft-deletes `nDeletes` distinct live
    * docids (a seeded draw). */
  def batch(seed: Long, b: Int, live: Int, n: Int, nDeletes: Int): (Int, Int, Seq[Int]) = {
    val rng = new java.util.SplittableRandom(seed * 0x9e3779b97f4a7c15L + 100 + b)
    val dels = Iterator.continually(rng.nextInt(live)).distinct.take(nDeletes).toVector
    (live, live + n, dels)
  }

  /** A stable digest of an op stream (determinism self-check). */
  def digest(ops: Seq[Op]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    ops.foreach(o => md.update((o.text + "\n").getBytes("UTF-8")))
    md.digest().take(8).map("%02x".format(_)).mkString
  }
}
