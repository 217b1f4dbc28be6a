package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spans recorded from the benchmark's side of each layer boundary.
  * Off unless the run is traced; kept in memory and written at exit. */
object Trace {
  final case class Span(id: Long, parent: Long, qid: Long, name: String,
      startNs: Long, endNs: Long)

  @volatile var enabled = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val query = ThreadLocal.withInitial[java.lang.Long](() => -1L)

  /** Runs `body` as query `qid`: its spans and Spark jobs carry the id. */
  def inQuery[A](sc: SparkContext, qid: Long)(body: => A): A = {
    query.set(qid)
    if (enabled) sc.setLocalProperty(Jobs.QidKey, qid.toString)
    try body
    finally {
      query.set(-1L)
      if (enabled) sc.setLocalProperty(Jobs.QidKey, null)
    }
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(0L), query.get(), name,
          t0, System.nanoTime()))
        stack.set(parents)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Total ms inside spans named `name` that started at or after `from`. */
  def ms(name: String, from: Long = Long.MinValue): Double =
    all.iterator.filter(s => s.name == name && s.startNs >= from)
      .map(s => (s.endNs - s.startNs) / 1e6).sum

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.startNs).foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"qid":${s.qid},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      w.newLine()
    } finally w.close()
  }

  /** Mean ns one recorded empty span costs (traced-run overhead estimate). */
  def spanCostNs(): Double = {
    val was = enabled
    enabled = true
    val n = 20000
    val t0 = System.nanoTime()
    var i = 0
    while (i < n) { span("trace.calibrate")(()); i += 1 }
    val per = (System.nanoTime() - t0).toDouble / n
    // drop the calibration spans again
    spans.removeIf(_.name == "trace.calibrate")
    enabled = was
    per
  }
}

/** Spark scheduler counters from a listener the benchmark registers. Jobs
  * started from a thread running [[Trace.inQuery]] carry that query's id
  * (jobs started from pool threads the program owns carry none). */
class Jobs extends SparkListener {
  val jobs = new LongAdder
  val tasks = new LongAdder
  val executorMs = new LongAdder
  private val perQuery = new java.util.concurrent.ConcurrentHashMap[Long, LongAdder]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.increment()
    Option(e.properties).flatMap(p => Option(p.getProperty(Jobs.QidKey)))
      .foreach(q => perQuery.computeIfAbsent(q.toLong, _ => new LongAdder).increment())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    Option(e.taskMetrics).foreach(m => executorMs.add(m.executorRunTime))
  }

  /** Queries among `qids` during which no job carried their id. */
  def zeroJobQueries(qids: Iterable[Long]): Int =
    qids.count(q => !perQuery.containsKey(q))

  def snapshot: (Long, Long, Long) = (jobs.sum(), tasks.sum(), executorMs.sum())
}

object Jobs {
  val QidKey = "graft.perfbench.qid"
}

object Jvm {
  def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  /** JVM heap in use after a full GC, in MB (Spark runs in this JVM). */
  def heapAfterGcMb(): Double = {
    val rt = Runtime.getRuntime
    System.gc(); Thread.sleep(200); System.gc()
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }
}
