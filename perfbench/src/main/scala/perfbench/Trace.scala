package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. Spans of one operation (a
  * batch, a request, a query) share `op`; `parent` is the enclosing
  * span's id, 0 at the root.
  */
final case class Span(id: Long, op: Long, name: String, parent: Long,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Span recorder. Spans stay in memory until [[write]]; when tracing is
  * off, [[span]] only runs its body.
  */
final class Tracer {
  @volatile var on = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val ids = new java.util.concurrent.atomic.AtomicLong(0L)

  private val nano0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis()

  def newOp(): Long = ids.incrementAndGet()

  /** A span time (`System.nanoTime`) on the wall clock, in ms. */
  def wallMs(ns: Long): Long = wall0 + (ns - nano0) / 1000000L

  def span[T](op: Long, name: String, parent: Long = 0L)(body: Long => T): T =
    if (!on) body(0L)
    else {
      val id = ids.incrementAndGet()
      val t0 = System.nanoTime()
      try body(id)
      finally {
        val t1 = System.nanoTime()
        spans.synchronized(spans += Span(id, op, name, parent, t0, t1))
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toSeq)

  /** Self time of the spans named `names` (a span's duration minus that
    * of its direct children), per operation that has such spans.
    */
  def selfMs(names: Set[String]): Double = {
    val s = all
    val kids = s.groupBy(_.parent).view.mapValues(_.map(_.ms).sum).toMap
    val mine = s.filter(x => names(x.name))
    val ops = mine.map(_.op).distinct.size
    if (ops == 0) 0.0
    else mine.map(x => x.ms - kids.getOrElse(x.id, 0.0)).sum / ops
  }

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = new java.io.PrintWriter(path.toFile, "UTF-8")
    try all.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"id":${s.id},"op":${s.op},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

/** Task counters summed over a set of tasks. */
final case class Work(jobs: Long = 0, tasks: Long = 0, taskMs: Long = 0,
                      schedDelayMs: Long = 0, shuffleBytes: Long = 0,
                      spillBytes: Long = 0) {
  def +(o: Work): Work = Work(jobs + o.jobs, tasks + o.tasks, taskMs + o.taskMs,
    schedDelayMs + o.schedDelayMs, shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes)
  def -(o: Work): Work = Work(jobs - o.jobs, tasks - o.tasks, taskMs - o.taskMs,
    schedDelayMs - o.schedDelayMs, shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes)
}

/** The engine as seen through a `SparkListener`. A job is charged to the
  * operation named by the `perfbench.op` local property of the thread
  * that submitted it while that operation is open; every other job (the
  * streaming query's, or one submitted from a pool thread) is
  * background work, summed in [[background]].
  */
final class EngineLedger extends SparkListener {
  private val open = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val stageTag = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val byTag = mutable.HashMap.empty[String, Work]
  private val Bg = ""

  def openOp(tag: String): Unit = open.add(tag)
  def closeOp(tag: String): Unit = open.remove(tag)

  private def add(tag: String, w: Work): Unit = byTag.synchronized {
    byTag(tag) = byTag.getOrElse(tag, Work()) + w
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val t = Option(e.properties).flatMap(p => Option(p.getProperty(EngineLedger.Key)))
      .filter(open.contains).getOrElse(Bg)
    e.stageIds.foreach(stageTag.put(_, t))
    add(t, Work(jobs = 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val i = e.taskInfo
      val sched = math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - i.gettingResultTime)
      add(Option(stageTag.get(e.stageId)).getOrElse(Bg), Work(tasks = 1,
        taskMs = m.executorRunTime, schedDelayMs = sched,
        shuffleBytes = m.shuffleWriteMetrics.bytesWritten,
        spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  def of(tag: String): Work = byTag.synchronized(byTag.getOrElse(tag, Work()))
  def background: Work = of(Bg)
}

object EngineLedger { val Key = "perfbench.op" }

/** Catalyst phase times (`QueryExecution.tracker`) of every finished
  * action, with the wall-clock window of its phases.
  */
final class PlanLedger extends QueryExecutionListener {
  import PlanLedger.Rec
  private val recs = mutable.ArrayBuffer.empty[Rec]

  private def note(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases.values
    if (ph.nonEmpty) recs.synchronized(
      recs += Rec(qe.sparkSession, ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum))
  }
  override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = note(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = note(qe)

  /** Phase time of the actions of `session` (any session when null)
    * planned in `[fromMs, toMs]`; a streaming query plans on a session of
    * its own.
    */
  def phasesMs(session: SparkSession, fromMs: Long, toMs: Long): Long = recs.synchronized(
    recs.filter(r => (session == null || (r.session eq session)) &&
      r.startMs >= fromMs && r.startMs <= toMs)
      .map(_.phasesMs).sum)
}

object PlanLedger {
  final case class Rec(session: SparkSession, startMs: Long, phasesMs: Long)
}

/** Per-micro-batch progress of the streaming queries. */
final class StreamLedger extends StreamingQueryListener {
  import StreamLedger.Rec
  private val recs = mutable.ArrayBuffer.empty[Rec]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = p.stateOperators.toSeq
    recs.synchronized(recs += Rec(p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum,
      ops.map(_.memoryUsedBytes).sum))
  }

  /** Batches that carried input. */
  def batches: Seq[Rec] = recs.synchronized(recs.filter(_.inputRows > 0).toSeq)
}

object StreamLedger {
  final case class Rec(inputRows: Long, durations: Map[String, Long],
                       stateCommitMs: Long, stateRows: Long, stateBytes: Long)
}

/** Hadoop `FileSystem` statistics of the local file system, summed over
  * every thread (tasks run in this JVM).
  */
final case class Fs(bytesRead: Long, bytesWritten: Long) {
  def -(o: Fs): Fs = Fs(bytesRead - o.bytesRead, bytesWritten - o.bytesWritten)
}
object Fs {
  @annotation.nowarn("cat=deprecation")
  def now(): Fs = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    Fs(st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }
}

/** Shape of a store directory on disk. */
final case class Tree(leafDirs: Long, dataFiles: Long, dataBytes: Long)
object Tree {
  def of(root: java.nio.file.Path): Tree = {
    if (!java.nio.file.Files.exists(root)) return Tree(0, 0, 0)
    val s = java.nio.file.Files.walk(root)
    try {
      var leaf, files, bytes = 0L
      s.iterator.asScala.foreach { p =>
        if (java.nio.file.Files.isDirectory(p)) {
          val c = java.nio.file.Files.list(p)
          try if (!c.iterator.asScala.exists(java.nio.file.Files.isDirectory(_))) leaf += 1
          finally c.close()
        } else if (p.getFileName.toString.endsWith(".parquet")) {
          files += 1; bytes += java.nio.file.Files.size(p)
        }
      }
      Tree(leaf, files, bytes)
    } finally s.close()
  }
}
