package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.index.IndexSettings
import graft.search.{DirectParquet, GraftIndex, RankCells}

/** The per-layer metrics every traced run reports, by name and unit. A
  * workload reports 0 for a layer it does not exercise. */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "search.query_tree.ms" -> "ms",
    "search.derivations.ms" -> "ms",
    "search.derivations.words" -> "count",
    "search.bitmaps.ms" -> "ms",
    "search.bitmaps.candidates" -> "count",
    "search.filter.ms" -> "ms",
    "search.rank.primed_ms" -> "ms",
    "search.rank.drains" -> "count",
    "search.rank.bound_drains" -> "count",
    "search.rank.attr_drains" -> "count",
    "search.rank.exact_drains" -> "count",
    "search.bm25.ms" -> "ms",
    "search.direct.reads" -> "count",
    "search.direct.rows_decoded" -> "count",
    "search.direct.fallback_share" -> "ratio",
    "search.pairs.prefix_point_reads" -> "count",
    "search.pairs.prefix_ranged_reads" -> "count",
    "search.pairs.prefix_direct_ranged_reads" -> "count",
    "search.pairs.position_row_reads" -> "count",
    "search.open.ms" -> "ms",
    "search.open.warm_ms" -> "ms",
    "search.open.warm_serving_ms" -> "ms",
    "spark.jobs_per_query" -> "count",
    "spark.tasks_per_query" -> "count",
    "spark.executor_ms_per_query" -> "ms",
    "spark.zero_job_share" -> "ratio") ++
    IndexSettings.T.buildStages.map(t => s"index.build.table_s.$t" -> "s") ++ Seq(
    "index.build.executor_ms" -> "ms",
    "index.build.tasks" -> "count",
    "index.build.pair_prox_share" -> "ratio",
    "index.updates.add_s" -> "s",
    "index.updates.soft_delete_ms" -> "ms",
    "index.updates.bytes_rewritten_per_input_byte" -> "ratio",
    "index.updates.max_files_per_table" -> "count",
    "core.tokenizer.mb_per_s" -> "MB/s",
    "jvm.gc_ms_share" -> "ratio",
    "trace.overhead_share" -> "ratio",
    "pipeline.exact_dedup_s" -> "s",
    "pipeline.near_dedup_s" -> "s",
    "pipeline.quality_s" -> "s",
    "pipeline.lang_id_s" -> "s",
    "fail_ratio" -> "ratio")

  /** Every per-layer metric, taking `got`'s value where present, else 0. */
  def fill(got: Seq[(String, Double)]): Seq[(String, Double, String)] = {
    val m = got.toMap
    val unknown = m.keySet -- all.map(_._1)
    require(unknown.isEmpty, s"unregistered per-layer metrics: $unknown")
    all.map { case (n, u) => (n, m.getOrElse(n, 0.0), u) }
  }
}

/** Program-side counters read before and after a window. Per-query values
  * divide the window's deltas by its query counts. */
final case class Counters(values: Map[String, Long]) {
  def -(o: Counters): Counters =
    Counters(values.map { case (k, v) => k -> (v - o.values.getOrElse(k, 0L)) })

  def perQuery(queries: Double, ranks: Double): Seq[(String, Double)] = {
    val v = values
    val dr = v("direct.reads") + v("direct.fallbacks")
    Seq(
      "search.rank.drains" -> v("rank.drains") / ranks,
      "search.rank.bound_drains" -> v("rank.bound_drains") / ranks,
      "search.rank.attr_drains" -> v("rank.attr_drains") / ranks,
      "search.rank.exact_drains" -> v("rank.exact_drains") / ranks,
      "search.direct.reads" -> v("direct.reads") / queries,
      "search.direct.rows_decoded" -> v("direct.rows_decoded") / queries,
      "search.direct.fallback_share" -> (if (dr > 0) v("direct.fallbacks").toDouble / dr else 0.0),
      "search.pairs.prefix_point_reads" -> v("pairs.point") / queries,
      "search.pairs.prefix_ranged_reads" -> v("pairs.ranged") / queries,
      "search.pairs.prefix_direct_ranged_reads" -> v("pairs.direct_ranged") / queries,
      "search.pairs.position_row_reads" -> v("pairs.position_rows") / queries,
      "spark.jobs_per_query" -> v("spark.jobs") / queries,
      "spark.tasks_per_query" -> v("spark.tasks") / queries,
      "spark.executor_ms_per_query" -> v("spark.executor_ms") / queries)
  }
}

object Counters {
  def now(index: GraftIndex, jobs: Jobs): Counters = {
    val (j, t, e) = jobs.snapshot
    Counters(Map(
      "rank.drains" -> RankCells.drains.get(),
      "rank.bound_drains" -> RankCells.boundDrains.get(),
      "rank.attr_drains" -> RankCells.attrDrains.get(),
      "rank.exact_drains" -> RankCells.exactDrains.get(),
      "direct.reads" -> DirectParquet.reads.get(),
      "direct.fallbacks" -> DirectParquet.fallbacks.get(),
      "direct.rows_decoded" -> DirectParquet.rowsDecoded.get(),
      "pairs.point" -> index.prefixPairPointReads.get(),
      "pairs.ranged" -> index.prefixPairRangedReads.get(),
      "pairs.direct_ranged" -> index.prefixPairDirectRangedReads.get(),
      "pairs.position_rows" -> index.positionRowReads.get(),
      "spark.jobs" -> j, "spark.tasks" -> t, "spark.executor_ms" -> e))
  }
}

/** `Tokenizer.tokenize` throughput over a sample of the seed's corpus,
  * single-threaded, after a warm-up pass. */
object Tokenize {
  def mbPerS(spark: SparkSession, seed: Long): Double = {
    val off = Gen.pageOffset(seed)
    val texts = (0 until 2000).map(i => graft.webgen.WebPages.gen(off + i, Gen.cdf).text)
    val bytes = texts.map(_.length.toLong).sum
    var sink = 0L
    def pass(): Double = {
      val t0 = System.nanoTime()
      texts.foreach(t => sink += graft.core.Tokenizer.tokenize(t).length)
      (System.nanoTime() - t0) / 1e9
    }
    pass()
    val s = Seq.fill(5)(pass()).sorted.apply(2)
    if (sink < 0) println(sink)
    bytes / 1e6 / s
  }
}
