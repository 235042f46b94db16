package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Progress lines on standard error (the run's log), stamped with the
  * JVM's uptime.
  */
object Log {
  def apply(msg: String): Unit = System.err.println(
    s"[perfbench] +${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime} ms $msg")
}

/** What one run measured, handed to `run.py` as the last stdout line.
  * Latencies are raw samples; `run.py` owns the percentile rule.
  */
final class Result(val workload: String) {
  /** (operation kind, latency ms, recorded while tracing). */
  val ops = mutable.ArrayBuffer.empty[(String, Double, Boolean)]
  val setupS = mutable.ArrayBuffer.empty[Double]
  /** Work units done in the untraced measured window, and its wall time. */
  var work = 0.0
  /** Length of the operation sequence's fixed cycle; 0 when there is none. */
  var cycle = 0
  var wallS = 0.0
  /** Report-only figures: name → (value, unit). */
  val extra = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  /** Count one checked operation; `problem` is its mismatch, if any. */
  def check(what: String, problem: Option[String]): Unit = synchronized {
    attempted += 1
    problem.foreach { p =>
      failed += 1
      if (failures.size < 20) failures += s"$what: $p"
    }
  }

  def toJson: String = {
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val o = ops.map { case (k, ms, t) => s"""[${str(k)},${num(ms)},${if (t) 1 else 0}]""" }
    val x = extra.map { case (k, (v, u)) => s"${str(k)}:[${num(v)},${str(u)}]" }
    val l = layers.map { case (k, v) => s"${str(k)}:${num(v)}" }
    s"""{"workload":${str(workload)},"ops":[${o.mkString(",")}],""" +
      s""""setup_s":[${setupS.map(num).mkString(",")}],"work":${num(work)},"cycle":$cycle,""" +
      s""""wall_s":${num(wallS)},"extra":{${x.mkString(",")}},""" +
      s""""layers":{${l.mkString(",")}},"attempted":$attempted,"failed":$failed,""" +
      s""""failures":[${failures.map(str).mkString(",")}]}"""
  }
}

/** Everything a workload needs: the session, the run's knobs, and the
  * listeners that are registered once tracing starts.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val trace: Boolean, val work: Path, val res: Result) {
  val tracer = new Tracer
  val engine = new EngineLedger
  val plans = new PlanLedger
  val streams = new StreamLedger
  private var dirs = 0

  def sc: org.apache.spark.SparkContext = spark.sparkContext

  /** A fresh directory under the run's work directory. */
  def freshDir(name: String): String = {
    dirs += 1
    val p = work.resolve(s"$name-$dirs")
    Files.createDirectories(p)
    p.toString
  }

  /** Register the listeners and start recording spans. */
  def startTracing(): Unit = {
    sc.addSparkListener(engine)
    spark.listenerManager.register(plans)
    spark.streams.addListener(streams)
    tracer.on = true
  }

  def stopTracing(): Unit = {
    drain()
    sc.removeSparkListener(engine)
    spark.listenerManager.unregister(plans)
    spark.streams.removeListener(streams)
    tracer.on = false
  }

  def tracing: Boolean = tracer.on

  /** Run one operation: its jobs are tagged with its id, its root span is
    * `kind`, and its latency is recorded. Returns the body's value.
    */
  def op[T](kind: String)(body: (Long, Long) => T): T = {
    val id = tracer.newOp()
    val tag = id.toString
    engine.openOp(tag)
    sc.setLocalProperty(EngineLedger.Key, tag)
    val t0 = System.nanoTime()
    try tracer.span(id, kind)(root => body(id, root))
    finally {
      val ms = (System.nanoTime() - t0) / 1e6
      sc.setLocalProperty(EngineLedger.Key, null)
      engine.closeOp(tag)
      res.synchronized(res.ops += ((kind, ms, tracing)))
      Log(s"op $kind: $ms ms")
    }
  }

  /** Length of one measured window: the whole run, or half of it in a
    * traced run (untraced half first, for the overhead comparison).
    */
  def window: Double = if (trace) seconds / 2 else seconds

  /** Drive `step` in a closed loop for an untraced window, then, in a
    * traced run, for a traced window; each window runs at least
    * `minSteps` steps. Work units returned by `step` in the untraced
    * window are summed into `res.work`; returns the number of traced
    * steps.
    */
  def closedLoop(step: () => Double, onTrace: () => Unit = () => (),
                 minSteps: Int = 2): Int = {
    val t0 = System.nanoTime()
    var n = 0
    while ((System.nanoTime() - t0) / 1e9 < window || n < minSteps) {
      res.work += step(); n += 1
    }
    res.wallS = (System.nanoTime() - t0) / 1e9
    if (!trace) 0
    else {
      onTrace()
      startTracing()
      val t1 = System.nanoTime()
      var m = 0
      while ((System.nanoTime() - t1) / 1e9 < window || m < minSteps) { step(); m += 1 }
      m
    }
  }

  /** Median of `reps` timed repetitions of a set-up step; the value of
    * the last repetition is kept.
    */
  def setup[T](reps: Int)(build: Int => T): T = {
    var last: Option[T] = None
    (1 to reps).foreach { k =>
      val t0 = System.nanoTime()
      last = Some(build(k))
      res.setupS += (System.nanoTime() - t0) / 1e9
      Log(s"set-up $k: ${res.setupS.last} s")
    }
    last.get
  }

  /** Wait for the listener bus, so every finished job has been seen. */
  def drain(): Unit = org.apache.spark.BusDrain(sc)
}

object Main {
  val Workloads: Seq[String] = Seq("ingest", "history", "mixed", "pipeline")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a.getOrElse("workload", "")
    require(Workloads.contains(workload), s"unknown workload '$workload'")
    val work = Paths.get(a("work")).toAbsolutePath
    Files.createDirectories(work)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Log("session up")
    val res = new Result(workload)
    val ctx = new Ctx(spark, a("seed").toLong, a("seconds").toDouble,
      a.getOrElse("trace", "0") == "1", work, res)
    try {
      workload match {
        case "ingest" => IngestWorkload.run(ctx)
        case "history" => ReadWorkload.run(ctx, concurrentIngest = false)
        case "mixed" => ReadWorkload.run(ctx, concurrentIngest = true)
        case "pipeline" => PipelineWorkload.run(ctx, a("tables"), a.getOrElse("digests", ""),
          a.get("record"))
      }
      Log("workload done")
      if (ctx.trace) {
        ctx.drain()
        ctx.tracer.write(work.resolve("spans.jsonl"))
      }
    } catch {
      case e: Throwable =>
        res.check("run", Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
        e.printStackTrace()
    }
    spark.streams.active.foreach(q => scala.util.Try(q.stop()))
    println(res.toJson)
    spark.stop()
    Log("stopped")
  }
}
