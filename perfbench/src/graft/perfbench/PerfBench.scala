package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.index.{IndexBuilder, IndexSettings}
import graft.search.GraftIndex

/** One measured run of one workload; prints its result as one JSON line
  * prefixed `PERFBENCH_RESULT `.
  *
  *   --workload <serve-head|serve-tail|ingest> --seed <n>
  *   --seconds <window> --trace <0|1> --work <scratch dir>
  *
  * Untraced runs report the end-to-end metrics; traced runs report the
  * per-layer metrics. Output checks run outside the timed window. */
object PerfBench {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String)

  /** What a workload hands back: ops attempted/failed, whether every output
    * check passed, and its metrics (end-to-end or per-layer). */
  final case class Outcome(attempted: Long, failed: Long, correct: Boolean,
      metrics: Seq[(String, Double, String)])

  val Cpus: Int = Runtime.getRuntime.availableProcessors()

  /** Corpus size of the serve and ingest workloads. */
  val CorpusDocs: Int = 10000

  val settings: IndexSettings = IndexSettings(
    searchableFields = Seq("text"),
    filterableFields = Set("lang", "n_chars"),
    sortableFields = Set("n_chars"))

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val args = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv("trace") == "1", kv("work"))
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", Cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    log(s"${args.workload} seed ${args.seed}: Spark up on local[$Cpus]")
    val jobs = new Jobs
    spark.sparkContext.addSparkListener(jobs)
    val out =
      try args.workload match {
        case "serve-head" => Serve.run(spark, jobs, args, tail = false)
        case "serve-tail" => Serve.run(spark, jobs, args, tail = true)
        case "ingest" => Ingest.run(spark, args)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      } finally spark.stop()
    log("Spark stopped")
    if (args.trace)
      Trace.write(java.nio.file.Paths.get(s"${args.work}/trace.jsonl"))
    val metrics = out.metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    println(s"""PERFBENCH_RESULT {"correct": ${out.correct}, "attempted": ${out.attempted}, """ +
      s""""failed": ${out.failed}, "metrics": $metrics}""")
    System.out.flush()
    // Spark is stopped and the scratch dir is the caller's to delete: skip
    // the JVM's shutdown hooks (seconds of temp-dir cleanup per run)
    Runtime.getRuntime.halt(0)
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private val started = System.nanoTime()

  def cpuS: Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%6.2f cpu $cpuS%6.1f $msg")

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Nearest-rank percentile of the given latencies; a failed op
    * (`Double.PositiveInfinity`) misses every limit. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Build the index of `docs` under `dir` and open a warmed serving
    * handle, the way `Main serve` opens one. Returns the handle and the
    * build and open timings. */
  def buildAndOpen(spark: SparkSession, docs: org.apache.spark.sql.DataFrame,
      dir: String): (GraftIndex, Double, Double) = {
    val (_, buildS) = timed(Trace.span("index.build") {
      new IndexBuilder(spark, settings).build(docs, dir, resume = false)
    })
    val (idx, openS) = timed(open(spark, dir))
    (idx, buildS, openS)
  }

  /** GraftIndex + warm + warmServing, each in its own span. */
  def open(spark: SparkSession, dir: String): GraftIndex = {
    val idx = Trace.span("search.open")(GraftIndex(spark, dir, settings))
    Trace.span("search.open.warm")(idx.warm())
    Trace.span("search.open.warm_serving")(idx.warmServing())
    idx
  }

  /** Per-layer metrics of the build recorded in `dir`'s manifest. */
  def buildLayer(dir: String): Seq[(String, Double, String)] = {
    val lines = scala.util.Try(scala.io.Source.fromFile(s"$dir/_graft_manifest.jsonl")
      .getLines().toVector).getOrElse(Vector.empty)
    def field(l: String, k: String): Option[String] =
      s""""$k":("[^"]*"|[-0-9.eE]+)""".r.findFirstMatchIn(l).map(_.group(1).stripPrefix("\"")
        .stripSuffix("\""))
    val perTable = mutable.LinkedHashMap.empty[String, Double]
    var tasks = 0.0; var execMs = 0.0
    lines.foreach { l =>
      field(l, "table") match {
        case Some("__tasks__") =>
          tasks += field(l, "tasks").map(_.toDouble).getOrElse(0.0)
          execMs += field(l, "executor_ms").map(_.toDouble).getOrElse(0.0)
        case Some(t) if !t.startsWith("__") =>
          field(l, "seconds").foreach(s => perTable(t) = perTable.getOrElse(t, 0.0) + s.toDouble)
        case _ => ()
      }
    }
    val total = perTable.values.sum
    val pair = perTable.collect { case (t, s) if t.contains("pair_proximity") => s }.sum
    IndexSettings.T.buildStages.map(t =>
      (s"index.build.table_s.$t", perTable.getOrElse(t, 0.0), "s")) ++ Seq(
      ("index.build.executor_ms", execMs, "ms"),
      ("index.build.tasks", tasks, "count"),
      ("index.build.pair_prox_share", if (total > 0) pair / total else 0.0, "ratio"))
  }

  /** (relative path → (bytes, mtime)) of every file under `dir`. */
  def snapshot(dir: String): Map[String, (Long, Long)] = {
    val root = java.nio.file.Paths.get(dir)
    val s = java.nio.file.Files.walk(root)
    try s.filter(java.nio.file.Files.isRegularFile(_)).iterator().asScala
      .map(p => root.relativize(p).toString -> (p.toFile.length(), p.toFile.lastModified()))
      .toMap
    finally s.close()
  }
}
