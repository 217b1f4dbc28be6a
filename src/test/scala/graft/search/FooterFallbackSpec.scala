package graft.search

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.index.{IndexBuilder, IndexSettings}
import graft.index.IndexSettings.T
import graft.webgen.WebPages

/** A corrupt parquet footer on the direct-read path must never fail a
  * query: the footer index cannot be built, the read counts as a fallback,
  * and the Spark scan (here over the executor-cached tables of a `warm()`ed
  * handle) answers exactly as the intact files do. */
class FooterFallbackSpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark
  private lazy val stg = IndexSettings(searchableFields = Seq("text"))
  private lazy val dir: String = {
    val d = TestSpark.tempDir("graft-footer-fallback")
    new IndexBuilder(spark, stg).build(WebPages.generate(spark, 1500), d, resume = false)
    d
  }

  private val bm25Terms = Seq("w3", "w17", "w250")
  private val rankReq = SearchRequest(query = Some("w25 w40 "), limit = 20)

  /** Overwrite the last 8 bytes (footer length + magic) of every parquet
    * file under `tables`; returns the saved tails for [[restore]]. */
  private def truncateFooters(tables: Seq[String]): Seq[(java.io.File, Array[Byte])] =
    tables.flatMap { t =>
      new java.io.File(s"$dir/$t").listFiles().filter(_.getName.endsWith(".parquet"))
        .toSeq.map { f =>
          val raf = new java.io.RandomAccessFile(f, "rw")
          try {
            val tail = new Array[Byte](8)
            raf.seek(f.length() - 8); raf.readFully(tail)
            raf.seek(f.length() - 8); raf.write(new Array[Byte](8))
            f -> tail
          } finally raf.close()
        }
    }

  private def restore(saved: Seq[(java.io.File, Array[Byte])]): Unit =
    saved.foreach { case (f, tail) =>
      val raf = new java.io.RandomAccessFile(f, "rw")
      try { raf.seek(f.length() - 8); raf.write(tail) } finally raf.close()
    }

  test("corrupt posting_blocks / word_docids footers fall back to the Spark scan") {
    // answers on the intact files, from a cold handle of its own
    val intact = GraftIndex(spark, dir, stg)
    val wantBm25 = new Bm25(intact).topK(bm25Terms, 10)
    val wantRank = new Search(intact).execute(rankReq)
    wantBm25 should not be empty
    wantRank.documentsIds should not be empty

    // warm() only: tables cached on the executors, no footer index built
    val h = GraftIndex(spark, dir, stg)
    h.warm()
    val saved = truncateFooters(Seq(T.PostingBlocks, T.WordDocids))
    try {
      saved should not be empty
      val fb0 = DirectParquet.fallbacks.get()
      val gotBm25 = new Bm25(h).topK(bm25Terms, 10)
      val gotRank = new Search(h).execute(rankReq)
      withClue("BM25 over the fallback: ") {
        gotBm25.map(_._1).toSeq shouldBe wantBm25.map(_._1).toSeq
        gotBm25.zip(wantBm25).foreach { case ((_, a), (_, b)) => a shouldBe b +- 1e-9 }
      }
      withClue("ranked search over the fallback: ") {
        gotRank.documentsIds shouldBe wantRank.documentsIds
        gotRank.candidates shouldBe wantRank.candidates
      }
      withClue("footer failures were not counted as fallbacks: ")(
        DirectParquet.fallbacks.get() should be > fb0)
    } finally {
      restore(saved)
      h.close()
    }
  }
}
