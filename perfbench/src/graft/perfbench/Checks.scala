package graft.perfbench

import graft.perfbench.Gen.{Bm25Op, Rank}
import graft.perfbench.PerfBench.log
import graft.search.{Bm25, GraftIndex, Search}

/** Output checks, run after the timed window. Each check is one op: a
  * mismatch is a failed op and makes the run incorrect; an exception is a
  * failed op. */
final case class Checks(attempted: Int, failed: Int, ok: Boolean)

object Checks {

  /** Runs each check; `Some(msg)` is a mismatch. */
  def tally(checks: Seq[(String, () => Option[String])]): Checks = {
    var failed = 0
    var ok = true
    checks.foreach { case (what, check) =>
      try check().foreach { msg =>
        failed += 1; ok = false
        log(s"check failed: $what: $msg")
      } catch {
        case e: Throwable => failed += 1; log(s"check threw: $what: $e")
      }
    }
    Checks(checks.length, failed, ok)
  }

  /** A stable digest of top-k id lists (determinism self-check). */
  def digest(ids: Seq[Seq[Int]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    ids.foreach(s => md.update(s.mkString("", ",", ";").getBytes("UTF-8")))
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** Serve: on a fixed sample of the run's successful ops, the top-k the
    * client got equals the distributed path's (`maxLocalPostings = 0`) for
    * rank ops, and full BM25 scoring's for BM25 ops (ids and scores). */
  def serve(index: GraftIndex, c: Serve.Client, done: Seq[Serve.Done]): Checks = {
    val ok = done.filter(!_.ms.isInfinite)
    def sample[A](xs: Seq[A]): Seq[A] =
      if (xs.isEmpty) Nil
      else (0 until Serve.CheckSample).map(k => xs((k * 7919L % xs.length).toInt)).distinct
    val ranks = sample(ok.filter(_.op.isInstanceOf[Rank]))
    val bm25s = sample(ok.filter(_.op.isInstanceOf[Bm25Op]))
    val distributed = new Search(index, maxLocalPostings = 0)
    val full = new Bm25(index)
    val checks =
      ranks.map { d =>
        val r = d.op.asInstanceOf[Rank]
        s"local = distributed for ${r.text}" -> { () =>
          val want = distributed.execute(c.request(r)).documentsIds
          if (d.ids == want) None else Some(s"served ${d.ids}, distributed $want")
        }
      } ++ bm25s.map { d =>
        val terms = d.op.asInstanceOf[Bm25Op].terms
        s"bm25 pruned = full for ${terms.mkString(",")}" -> { () =>
          val want = full.topK(terms, 20, prune = false).toSeq
          val got = c.bm25.topK(terms, 20, prune = true).toSeq
          val same = d.ids == want.map(_._1) && got.length == want.length &&
            got.zip(want).forall { case (a, b) =>
              a._1 == b._1 && math.abs(a._2 - b._2) <= 1e-9 * math.max(1.0, math.abs(b._2))
            }
          if (same) None else Some(s"served ${d.ids}, pruned $got, full $want")
        }
      }
    tally(checks)
  }
}
