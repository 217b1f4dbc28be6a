package graft.search

import org.apache.spark.sql.functions.{col, desc, input_file_name, lit, max, min}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.core.PostingBlocks
import graft.index.{IndexBuilder, IndexSettings, Updates}
import graft.index.IndexSettings.T
import graft.webgen.WebPages

/** Posting-cache misses are served by the driver-side posting-block point
  * read ([[GraftIndex.postingBlocksDirect]]): a cold BM25 small query
  * launches no Spark job and scores exactly like full distributed scoring,
  * and the point read returns the Spark scan's postings even over the
  * overlapping fragment files incremental batches leave behind. */
class PostingDirectReadSpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark
  private lazy val stg = IndexSettings(searchableFields = Seq("text"))

  /** Spark-scan postings of `words`: word → (docid, tf) in block order. */
  private def sparkPostings(index: GraftIndex, words: Seq[String])
      : Map[String, Seq[(Int, Int)]] = {
    import spark.implicits._
    index.postingBlocks.where(col("word").isin(words: _*))
      .select(col("word"), col("block_id"), col("bytes"))
      .as[(String, Int, Array[Byte])].collect()
      .groupBy(_._1).map { case (w, bs) =>
        w -> bs.sortBy(_._2).toSeq.flatMap(b => PostingBlocks.decode(b._3).toSeq)
      }
  }

  test("cold BM25 small query: zero Spark jobs, direct reads, full-scoring answers") {
    val dir = TestSpark.tempDir("graft-posting-direct")
    new IndexBuilder(spark, stg).build(WebPages.generate(spark, 2000), dir, resume = false)
    val index = GraftIndex(spark, dir, stg)
    val head = 64
    index.warmServing(head)
    import spark.implicits._
    val byDf = index.termDict.orderBy(desc("df"), col("word"))
      .select(col("word")).as[String].collect().toSeq
    val bm25 = new Bm25(index)
    // pins the handle's BM25 statistics (corpus size, doclens) off a
    // prewarmed head word; every query below misses the posting cache
    bm25.topK(Seq(byDf.head), 10)
    val queries = Seq(
      Seq(byDf(head + 10)),
      Seq(byDf(head + 40), byDf(head + 200)),
      Seq(byDf(head + 100), byDf(head + 400), byDf(head + 800)))
    val reads0 = DirectParquet.reads.get()
    val fb0 = DirectParquet.fallbacks.get()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val cold = try {
      val r = queries.map(q => bm25.topK(q, 10))
      Thread.sleep(2000) // listener bus is async
      r
    } finally spark.sparkContext.removeSparkListener(listener)
    withClue("cold BM25 posting fetches launched Spark jobs: ")(jobs.get() shouldBe 0)
    withClue("direct posting reads never engaged: ")(
      DirectParquet.reads.get() - reads0 should be >= queries.length.toLong)
    withClue("direct posting reads fell back: ")(DirectParquet.fallbacks.get() shouldBe fb0)
    queries.zip(cold).foreach { case (q, got) =>
      val full = bm25.topK(q, 10, prune = false)
      withClue(s"terms=$q: ") {
        got should not be empty
        got.map(_._1).toSeq shouldBe full.map(_._1).toSeq
        got.zip(full).foreach { case ((_, a), (_, b)) => a shouldBe b +- 1e-9 }
      }
    }
  }

  test("direct posting reads equal the Spark scan after two addDocuments batches") {
    import spark.implicits._
    val settings = stg.copy(primaryKey = "url")
    val dir = TestSpark.tempDir("graft-posting-direct-inc")
    val all = WebPages.generate(spark, 420).cache()
    // several range-partitioned base files (AQE would coalesce a corpus
    // this small into one)
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(coalesce, "false")
    try new IndexBuilder(spark, settings).build(all.where($"docid" < 400), dir, resume = false)
    finally spark.conf.unset(coalesce)
    // touched-file merges: batch 1's words sort past every base file and
    // land in a new tail file; batch 2 touches that tail file and the head
    // of the dictionary, so its merged fragment spans the untouched files
    def batch(lo: Int, hi: Int, text: String) =
      all.where($"docid" >= lo && $"docid" < hi).withColumn("text", lit(text))
    val updates = new Updates(spark, settings)
    updates.addDocuments(dir, batch(400, 410, "zzzz1 zzzz3"), autoCompactFiles = 0)
    updates.addDocuments(dir, batch(410, 420, "aaab zzzz2"), autoCompactFiles = 0)
    // fixture precondition: the batches left posting_blocks fragment files
    // whose word ranges overlap (no longer one range-sorted file set)
    val ranges = spark.read.parquet(s"$dir/${T.PostingBlocks}")
      .groupBy(input_file_name()).agg(min(col("word")), max(col("word")))
      .as[(String, String, String)].collect().map(r => (r._2, r._3)).sortBy(_._1)
    withClue(s"posting_blocks file ranges ${ranges.toSeq}: ")(
      ranges.sliding(2).exists { case Array(a, b) => b._1 <= a._2; case _ => false }
        shouldBe true)

    val index = GraftIndex(spark, dir, settings)
    val words = index.termDict.select(col("word")).as[String].collect().toSeq.sorted
    val want = sparkPostings(index, words)
    val reads0 = DirectParquet.reads.get()
    val fb0 = DirectParquet.fallbacks.get()
    val got = words.grouped(512).flatMap { ws =>
      index.postingCache.get(ws).map { case (w, ps) =>
        w -> ps.toSeq.map(p => (index.postingCache.docidOf(p), index.postingCache.tfOf(p)))
      }
    }.toMap
    withClue("direct posting reads never engaged: ")(
      DirectParquet.reads.get() should be > reads0)
    withClue("direct posting reads fell back: ")(DirectParquet.fallbacks.get() shouldBe fb0)
    got.keySet shouldBe words.toSet
    words.foreach { w =>
      withClue(s"word '$w': ")(got(w) shouldBe want.getOrElse(w, Seq.empty))
    }
  }
}
