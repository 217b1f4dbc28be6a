package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.index.{IndexBuilder, Updates}
import graft.perfbench.PerfBench._
import graft.pipeline.{Dedup, TextStats}
import graft.search.{GraftIndex, QueryTree, Search, SearchRequest}

/** ingest: a full build of the corpus, then batches while the window lasts
  * (at least one). A batch passes new pages (1% of the corpus) through the
  * library's text pipeline (exact and near dedup, quality, language id),
  * adds them, soft-deletes existing ids, then rotates the serving handle
  * the way `Main serve` does and queries it until an added page is found.
  * One op is one batch; its latency runs from batch start to that answer. */
object Ingest {

  val BatchDocs: Int = CorpusDocs / 100
  val BatchDeletes = 20
  /** Added and deleted pages whose visibility is checked per batch. */
  val CheckPages = 3

  /** A query of three rare words of page `docid` (its highest-numbered
    * words): All-strategy, so matching docs must contain every word. */
  def pageQuery(seed: Long, docid: Int): SearchRequest = {
    val text = graft.webgen.WebPages.gen(Gen.pageOffset(seed) + docid, Gen.cdf).text
    val rare = text.split(' ').distinct.filter(_.matches("w[0-9]+"))
      .sortBy(w => -w.drop(1).toInt).take(3)
    SearchRequest(query = Some(rare.mkString(" ") + " "), limit = 1000,
      strategy = QueryTree.MatchingStrategy.All, authorizeTypos = false, exhaustive = false)
  }

  final case class Batch(addS: Double, delMs: Double, visibleS: Double, rewritten: Long,
      inputBytes: Long, pipeline: Map[String, Double])

  val Stages: Seq[String] = Seq("exact_dedup", "near_dedup", "quality", "lang_id")

  /** The pipeline stages a batch runs, each timed in its own span; the
    * exact-dedup ids are checked against a recount over the page texts. */
  def pipeline(docs: DataFrame, texts: Map[Int, String],
      check: (String, => Boolean) => Unit): Map[String, Double] = {
    def stage[A](name: String)(f: => A): (A, Double) =
      timed(Trace.span(s"pipeline.$name")(f))
    val (drop, exactS) = stage("exact_dedup") {
      Dedup.exactDropIds(docs, "docid", "text").collect().map(_.getInt(0)).toSet
    }
    val want = texts.groupBy(_._2).values.flatMap(g => g.keys.toSeq.sorted.drop(1)).toSet
    check("exact dedup drops the later copies of each repeated text", drop == want)
    val (_, nearS) = stage("near_dedup")(Dedup.nearDuplicates(docs, "docid", "text").count())
    val (scores, qualityS) = stage("quality") {
      TextStats.qualityScore(docs, "docid", "text").select("score").collect().map(_.getDouble(0))
    }
    check("quality scores lie in [0, 1]",
      scores.length == texts.size && scores.forall(s => s >= 0 && s <= 1))
    val (_, langS) = stage("lang_id")(TextStats.languageId(docs, "docid", "text").count())
    Map("exact_dedup" -> exactS, "near_dedup" -> nearS, "quality" -> qualityS,
      "lang_id" -> langS)
  }

  def run(spark: SparkSession, args: Args): Outcome = {
    val dir = s"${args.work}/index"
    val updates = new Updates(spark, settings)
    Trace.enabled = args.trace
    val (_, setupS) = timed(Trace.span("index.build") {
      new IndexBuilder(spark, settings)
        .build(Gen.pages(spark, args.seed, 0, CorpusDocs), dir, resume = false)
    })
    log(f"setup ${setupS}%.2f s (build ${CorpusDocs / setupS}%.0f docs/s), " +
      f"index ${snapshot(dir).values.map(_._1).sum / 1e6}%.1f MB")

    var attempted = 0L
    var failed = 0L
    var ok = true
    def check(what: String, cond: => Boolean): Unit = {
      attempted += 1
      try if (!cond) { log(s"check failed: $what"); failed += 1; ok = false }
      catch { case e: Throwable => log(s"$what threw: $e"); failed += 1 }
    }

    val batches = Vector.newBuilder[Batch]
    val deleted = scala.collection.mutable.ArrayBuffer.empty[Int]
    var live = CorpusDocs
    var index = Option.empty[GraftIndex]
    val gc0 = Jvm.gcMs
    val w0 = System.nanoTime()
    val deadline = w0 + args.seconds * 1000000000L
    var b = 0
    while (b == 0 || System.nanoTime() < deadline) {
      val (from, until, dels) = Gen.batch(args.seed, b, live, BatchDocs, BatchDeletes)
      val before = snapshot(dir)
      val s0 = System.nanoTime()
      attempted += 1
      try {
        val texts = (from until until).map(d =>
          d -> graft.webgen.WebPages.gen(Gen.pageOffset(args.seed) + d, Gen.cdf).text).toMap
        val newDocs = Gen.pages(spark, args.seed, from, until).cache()
        val stages = pipeline(newDocs, texts, check)
        val (_, addS) = timed(Trace.span("index.updates.add")(updates.addDocuments(dir, newDocs)))
        newDocs.unpersist()
        live = until
        val (_, delS) = timed(Trace.span("index.updates.soft_delete")(updates.softDelete(dir, dels)))
        deleted ++= dels
        index.foreach(_.close())
        index = Some(open(spark, dir))
        val search = new Search(index.get)
        val found = search.execute(pageQuery(args.seed, from)).documentsIds
        val visibleS = (System.nanoTime() - s0) / 1e9
        val seen = found.contains(from)
        if (b == 0)
          log(s"stream_digest=${Checks.digest(Seq(from until until, dels))} " +
            s"topk_digest=${Checks.digest(Seq(found))}")
        check(s"batch $b: added page $from is findable", seen)
        val rewritten = snapshot(dir).collect {
          case (p, (n, t)) if !before.get(p).contains((n, t)) => n
        }.sum
        batches += Batch(addS, delS * 1000, visibleS, rewritten,
          texts.values.map(_.length.toLong).sum, stages)
        // untimed: more added pages findable, deleted pages never returned
        (1 to CheckPages).map(k => from + (k * 37) % BatchDocs).foreach { d =>
          check(s"batch $b: added page $d is findable",
            search.execute(pageQuery(args.seed, d)).documentsIds.contains(d))
        }
        dels.take(CheckPages).foreach { d =>
          check(s"batch $b: deleted page $d is not returned",
            !search.execute(pageQuery(args.seed, d)).documentsIds.contains(d))
        }
      } catch {
        case e: Throwable =>
          failed += 1
          log(s"batch $b failed: $e\n  at " + e.getStackTrace.take(4).mkString("\n  at "))
      }
      b += 1
    }
    val wall = (System.nanoTime() - w0) / 1e9
    val bs = batches.result()
    Trace.enabled = false
    val files = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.listFiles().count(_.getName.endsWith(".parquet")))
    val bytesPerDoc = snapshot(dir).values.map(_._1).sum.toDouble / (live - deleted.distinct.size)
    log(f"${bs.length} batches in ${wall}%.2f s: update_s ${median(bs.map(_.addS))}%.2f, " +
      f"visible_s ${median(bs.map(_.visibleS))}%.2f, bytes_per_doc ${bytesPerDoc}%.0f, " +
      f"build_docs_per_s ${CorpusDocs / setupS}%.0f, pipeline " +
      Stages.map(s => f"$s ${median(bs.map(_.pipeline(s)))}%.2f").mkString(", "))

    val metrics =
      if (!args.trace) Seq(
        ("setup_s", setupS, "s"),
        ("ops_per_s", bs.length / wall, "1/s"),
        ("op_p50_ms", median(bs.map(_.visibleS * 1000)), "ms"),
        ("op_p99_ms", pct(bs.map(_.visibleS * 1000), 0.99), "ms"),
        ("heap_mb", Jvm.heapAfterGcMb(), "MB"))
      else {
        val opens = math.max(1, bs.length).toDouble
        Layers.fill(Seq(
          "index.updates.add_s" -> median(bs.map(_.addS)),
          "index.updates.soft_delete_ms" -> median(bs.map(_.delMs)),
          "index.updates.bytes_rewritten_per_input_byte" ->
            bs.map(_.rewritten).sum.toDouble / bs.map(_.inputBytes).sum,
          "index.updates.max_files_per_table" -> files.maxOption.getOrElse(0).toDouble,
          "search.open.ms" -> Trace.ms("search.open") / opens,
          "search.open.warm_ms" -> Trace.ms("search.open.warm") / opens,
          "search.open.warm_serving_ms" -> Trace.ms("search.open.warm_serving") / opens,
          "jvm.gc_ms_share" -> (Jvm.gcMs - gc0) / 1000.0 / wall,
          "trace.overhead_share" -> Trace.all.size * Trace.spanCostNs() / 1e9 / wall,
          "fail_ratio" -> failed.toDouble / attempted,
          "core.tokenizer.mb_per_s" -> Tokenize.mbPerS(spark, args.seed)) ++
          Stages.map(s => s"pipeline.${s}_s" -> median(bs.map(_.pipeline(s)))) ++
          buildLayer(dir).map(m => m._1 -> m._2))
      }
    index.foreach { i => i.quiesce(); i.close() }
    Outcome(attempted, failed, ok, metrics)
  }
}
