package perfbench

import graft.core.HistoryRequest
import graft.operators.{QueryDispatcher, QueryStats}
import graft.sources.ChunkDecode
import graft.streaming.{HtaStore, IngestStats, StreamingIngest}
import graft.streaming.StreamingIngest.Point
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.sum

import scala.collection.mutable

/** A store with a live ingest query fed from a [[Gen]], and the gate
  * model of everything submitted to it.
  */
final class Ingester(ctx: Ctx, val gen: Gen) {
  private val spark = ctx.spark
  import spark.implicits._
  val root: String = ctx.freshDir("store")
  val store = new HtaStore(root, gen.intervalMinNs)
  val stats = new IngestStats
  val model = new GateModel
  private val ms = MemoryStream[Point](spark)
  val query = StreamingIngest.start(spark, ms.toDS(), store, ctx.freshDir("ckpt"), Some(stats))
  private val tallies = mutable.ArrayBuffer.empty[Tally]
  @volatile var submitted = 0
  @volatile var committed = 0

  /** Draw the next batch and record what the gate must make of it. */
  def next(): Vector[Chunk] = synchronized {
    val chunks = gen.nextBatch()
    tallies += model.offer(chunks.flatMap(_.points))
    chunks
  }

  /** Decode one batch and ingest it; returns once it is committed. */
  def submit(chunks: Vector[Chunk], op: Long = 0L, parent: Long = 0L): Unit = {
    val t = if (op == 0L) new Tracer else ctx.tracer
    val pts = t.span(op, "sources.decode", parent) { _ =>
      ChunkDecode.decode(chunks.toDF()).as[Point].collect()
    }
    def key(p: Point) = (p.metric, p.time, java.lang.Double.doubleToLongBits(p.value), p.seq)
    val want = chunks.flatMap(_.points).map(key)
    ctx.res.check("decode", if (pts.sortBy(_.seq).toSeq.map(key) == want) None
      else Some(s"${pts.length} points decoded, expected ${want.size}"))
    submitted += 1
    t.span(op, "stream.commit", parent) { _ =>
      ms.addData(pts.toSeq)
      query.processAllAvailable()
    }
    committed += 1
  }

  def feed(): Unit = submit(next())

  /** Points in and points kept over every batch so far, as the program's
    * `IngestStats` counted them; call after `ctx.drain()`.
    */
  def counted(): (Long, Long) = {
    val r = stats.toDF(spark).agg(sum("nIn"), sum("nKept")).head()
    (if (r.isNullAt(0)) 0L else r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def stop(): Unit = if (query.isActive) { query.processAllAvailable(); query.stop() }

  /** The checks of the write path: per-batch drop counters, the raw
    * point count, and per-bucket level-0 count and sum.
    */
  def verify(): Unit = {
    stop()
    ctx.drain()
    val rows = stats.toDF(spark).filter("nIn > 0").orderBy("batchId")
      .select("nIn", "nNan", "nInf", "n_nonmono", "nKept").as[(Long, Long, Long, Long, Long)]
      .collect().map { case (i, n, f, nm, k) => Tally(i, n, f, nm, k) }.toSeq
    ctx.res.check("ingest_stats", if (rows == tallies.toSeq) None
      else Some(s"drop counters ${rows.take(3)} differ from model ${tallies.take(3)}"))
    ctx.res.check("generator", if (gen.generated == model.total) None
      else Some(s"generator tally ${gen.generated} != gate model ${model.total}"))
    verifyStore()
  }

  /** Compact the stopped store, timed. Returns (seconds, bytes written). */
  def compact(): (Double, Long) = {
    stop()
    val fs0 = Fs.now()
    val t0 = System.nanoTime()
    store.compact(spark, None)
    ((System.nanoTime() - t0) / 1e9, (Fs.now() - fs0).bytesWritten)
  }

  /** The store's raw point count, and per-bucket level-0 count and sum. */
  def verifyStore(): Unit = {
    val snap = store.snapshot(spark)
    val n = snap.raw(spark).count()
    ctx.res.check("raw_count", if (n == model.total.kept) None
      else Some(s"$n raw points, expected ${model.total.kept}"))
    val i = gen.intervalMinNs
    val got = snap.level0(spark).filter("cnt > 0")
      .select("metric", "bucket_start", "cnt", "sum_c").as[(String, Long, Long, Long)]
      .collect().map { case (m, b, c, s) => (m, b) -> (c, s) }.toMap
    val want = model.series().toSeq.flatMap { case (m, s) =>
      s.times.indices.groupBy(k => s.times(k) - s.times(k) % i).map { case (b, ks) =>
        (m, b) -> (ks.size.toLong, ks.map(k => math.round(s.values(k) * 100)).sum)
      }
    }.toMap
    ctx.res.check("level0", if (got == want) None
      else Some(s"${(got.toSet diff want.toSet).size} level-0 buckets differ from the model"))
  }
}

/** Per-layer figures common to every workload, from the listeners and
  * from before/after differences around the traced window. Every name
  * is always present; a layer the workload bypasses reads 0.
  */
object Layers {
  val Names: Seq[String] = Seq(
    "sources.decode_ms",
    "state.commit_ms", "state.rows_total", "state.memory_bytes",
    "stream.planning_ms", "stream.wal_commit_ms", "gate.kept_ratio",
    "stream.add_batch_ms", "store.files_written_per_batch",
    "store.bytes_written_per_point", "spark.task_ms_per_batch",
    "spark.shuffle_bytes_per_batch",
    "store.snapshot_ms", "store.frame_ms", "store.bytes_read_per_req", "store.leaf_dirs",
    "store.compact_s", "store.bytes_rewritten",
    "service.dispatch_ms", "service.encode_ms", "plan.phases_ms",
    "spark.jobs", "spark.tasks", "spark.task_ms", "spark.sched_delay_ms",
    "spark.shuffle_bytes", "service.utilization",
    "self.sources_ms", "self.streaming_ms", "self.store_read_ms",
    "self.service_ms", "self.pipeline_ms", "self.harness_ms") ++
    PipelineWorkload.Queries.flatMap(q => Seq("build_ms", "plan_ms", "wall_s", "task_ms",
      "shuffle_bytes", "spill_bytes").map(f => s"pipeline.$q.$f")) :+
    "pipeline.parallelism"

  def init(res: Result): Unit = Names.foreach(n => res.layers(n) = 0.0)

  /** Stream-side figures over the micro-batches seen while tracing;
    * `inPoints` and `keptPoints` are `IngestStats` counts over them.
    */
  def stream(ctx: Ctx, inPoints: Long, keptPoints: Long, fs: Fs, files: Long,
             bgWork: Work): Unit = {
    val b = ctx.streams.batches
    if (b.nonEmpty) {
      val n = b.size.toDouble
      def d(k: String) = b.map(_.durations.getOrElse(k, 0L)).sum / n
      val l = ctx.res.layers
      l("state.commit_ms") = b.map(_.stateCommitMs).sum / n
      l("state.rows_total") = b.last.stateRows.toDouble
      l("state.memory_bytes") = b.last.stateBytes.toDouble
      l("stream.planning_ms") = d("queryPlanning")
      l("stream.wal_commit_ms") = d("walCommit") + d("commitOffsets")
      l("stream.add_batch_ms") = d("addBatch")
      l("gate.kept_ratio") = if (inPoints > 0) keptPoints.toDouble / inPoints else 0.0
      l("store.files_written_per_batch") = files / n
      l("store.bytes_written_per_point") =
        if (keptPoints > 0) fs.bytesWritten.toDouble / keptPoints else 0.0
      l("spark.task_ms_per_batch") = bgWork.taskMs / n
      l("spark.shuffle_bytes_per_batch") = bgWork.shuffleBytes / n
    }
  }

  def selfTimes(ctx: Ctx): Unit = {
    val t = ctx.tracer
    val l = ctx.res.layers
    l("self.sources_ms") = t.selfMs(Set("sources.decode"))
    l("self.streaming_ms") = t.selfMs(Set("stream.commit"))
    l("self.store_read_ms") = t.selfMs(Set("store.snapshot", "store.frame"))
    l("self.service_ms") = t.selfMs(Set("service.dispatch", "service.encode"))
    l("self.pipeline_ms") = t.selfMs(Set("pipeline.build", "pipeline.run"))
    l("self.harness_ms") = t.selfMs(ReadWorkload.Kinds.toSet ++
      Set("batch") ++ PipelineWorkload.Queries)
  }
}

/** `ingest`: a closed loop of DataChunk batches — decode, submit, wait
  * for the commit — with no reads. 40 metrics: a micro-batch's cost
  * grows with the directories it writes (one per metric and day), and at
  * 200 metrics one batch takes ~4.5 s on a 4-core host.
  */
object IngestWorkload {
  val Metrics = 40
  val PointsPerChunk = 100
  val SamplingNs = 10L * 1000000000L

  def run(ctx: Ctx): Unit = {
    Layers.init(ctx.res)
    var prev: Option[Ingester] = None
    val ing = ctx.setup(3) { _ =>
      prev.foreach(_.stop())
      val i = new Ingester(ctx, new Gen(ctx.seed, Metrics, PointsPerChunk, SamplingNs))
      i.feed() // the first batch plans and warms the whole write path
      prev = Some(i)
      i
    }
    var fs0 = Fs(0, 0); var files0 = 0L; var bg0 = Work(); var counted0 = (0L, 0L)
    val traced = ctx.closedLoop(
      step = () => {
        val kept0 = ing.model.total.kept
        val chunks = ing.next()
        ctx.op("batch") { (op, root) => ing.submit(chunks, op, root) }
        (ing.model.total.kept - kept0).toDouble
      },
      onTrace = () => {
        ctx.drain()
        fs0 = Fs.now(); files0 = Tree.of(java.nio.file.Paths.get(ing.root)).dataFiles
        bg0 = ctx.engine.background; counted0 = ing.counted()
      })
    val untracedBatches = ctx.res.ops.count(o => o._1 == "batch" && !o._3)
    if (traced > 0) {
      ctx.drain()
      val (in, kept) = ing.counted()
      val tree = Tree.of(java.nio.file.Paths.get(ing.root))
      Layers.stream(ctx, in - counted0._1, kept - counted0._2, Fs.now() - fs0,
        tree.dataFiles - files0, ctx.engine.background - bg0)
      ctx.res.layers("sources.decode_ms") =
        ctx.tracer.all.filter(_.name == "sources.decode").map(_.ms).sum / traced
      Layers.selfTimes(ctx)
    }
    val tree = Tree.of(java.nio.file.Paths.get(ing.root))
    ctx.res.extra("batches") = (untracedBatches.toDouble, "count")
    ctx.res.extra("store_bytes_per_point") =
      (tree.dataBytes.toDouble / math.max(1L, ing.model.total.kept), "B/point")
    ing.verify()
  }
}

/** `history` and `mixed`: one closed-loop client sending history
  * requests through `QueryDispatcher`. `history` serves a store that
  * set-up built and compacted; `mixed` serves an uncompacted store
  * while an open-loop ingest appends a batch every [[PeriodS]]. The
  * store holds 50 metrics, each batch about two days of 5-minute
  * samples per metric, so a compacted store has ~125 leaf directories
  * (metric × day). Above 32 metrics the raw frame's listing runs as a
  * Spark job, ~0.4 s of a ~1 s request.
  */
object ReadWorkload {
  val Metrics = 50
  val PointsPerChunk = 576
  val SamplingNs = 300L * 1000000000L
  val SetupBatches = 1
  /** Set-ups per run. One takes ~10 s warm and ~25 s on a cold JVM;
    * a third would not fit a run's time budget.
    */
  val SetupReps = 2
  val PeriodS = 10.0
  val Kinds: Seq[String] = Seq("flex_timeline", "agg_timeline", "aggregate", "last_value")

  def kind(r: HistoryRequest): String = r match {
    case _: HistoryRequest.FlexTimeline => "flex_timeline"
    case _: HistoryRequest.AggregateTimeline => "agg_timeline"
    case _: HistoryRequest.Aggregate => "aggregate"
    case _: HistoryRequest.LastValue => "last_value"
  }

  def run(ctx: Ctx, concurrentIngest: Boolean): Unit = {
    val spark = ctx.spark
    Layers.init(ctx.res)
    var prev: Option[Ingester] = None
    var compacted = (0.0, 0L)
    val ing = ctx.setup(SetupReps) { k =>
      prev.foreach(_.stop())
      // `history` has no writes to trace while serving: a traced run
      // records the write path and compaction of its last set-up instead
      val traceWrites = ctx.trace && !concurrentIngest && k == SetupReps
      if (traceWrites) ctx.startTracing()
      val i = new Ingester(ctx, new Gen(ctx.seed, Metrics, PointsPerChunk, SamplingNs))
      val fs0 = Fs.now()
      val bg0 = ctx.engine.background
      (1 to SetupBatches).foreach { _ =>
        val op = ctx.tracer.newOp()
        ctx.tracer.span(op, "batch")(root => i.submit(i.next(), op, root))
      }
      if (traceWrites) {
        ctx.drain()
        val (in, kept) = i.counted()
        Layers.stream(ctx, in, kept, Fs.now() - fs0,
          Tree.of(java.nio.file.Paths.get(i.root)).dataFiles, ctx.engine.background - bg0)
        ctx.res.layers("sources.decode_ms") =
          ctx.tracer.all.filter(_.name == "sources.decode").map(_.ms).sum / SetupBatches
      }
      if (!concurrentIngest) compacted = i.compact()
      if (traceWrites) ctx.stopTracing()
      prev = Some(i)
      i
    }
    val levels = ing.store.levels
    val spanEnd = Gen.T0 + (SetupBatches * PointsPerChunk * SamplingNs)
    val requests = new RequestGen(ctx.seed, ing.gen.names, levels, Gen.T0, spanEnd)
    val qstats = new QueryStats()
    val dispatcher = new QueryDispatcher(qstats)

    // the open-loop writer of `mixed`: batch k is due at start + k·period
    @volatile var stopIngest = false
    val lags = mutable.ArrayBuffer.empty[Double]
    val writer = new Thread(() => {
      val t0 = System.nanoTime()
      var k = 1
      while (!stopIngest) {
        val due = t0 + (k * PeriodS * 1e9).toLong
        while (!stopIngest && System.nanoTime() < due) Thread.sleep(5)
        if (!stopIngest) {
          ing.submit(ing.next())
          lags.synchronized(lags += (System.nanoTime() - due) / 1e9)
          k += 1
        }
      }
    }, "perfbench-writer")
    writer.setDaemon(true)
    if (concurrentIngest) writer.start()

    /** Serve one request and check it against the model. */
    def serve(req: HistoryRequest, timed: Boolean): Unit = {
      val lo = ing.committed
      def body(op: Long, root: Long) = {
        val t = ctx.tracer
        val snap = t.span(op, "store.snapshot", root)(_ => ing.store.snapshot(spark))
        val raw = t.span(op, "store.frame", root)(_ => snap.raw(spark))
        val resp = t.span(op, "service.dispatch", root)(_ => dispatcher.dispatch(req, raw, levels))
        t.span(op, "service.encode", root) { _ =>
          resp.map { r =>
            val rows = r.df.collect().toSeq.map(x => x.getValuesMap[Any](x.schema.fieldNames.toIndexedSeq))
            dispatcher.release(r)
            rows
          }
        }
      }
      val got = if (timed) ctx.op(kind(req))(body) else body(0L, 0L)
      val hi = ing.submitted
      ctx.res.check(s"${kind(req)} ${req.metric}", got match {
        case Left(e) => Some(e.message)
        case Right(rows) =>
          // under concurrent ingest the snapshot holds some committed
          // prefix of the batches between `lo` and `hi`
          val diffs = (lo to hi).map(k =>
            Model.diff(Model.respond(req, ing.model.series(k), levels), rows))
          if (diffs.exists(_.isEmpty)) None else diffs.last
      })
    }

    // half a cycle of untimed requests of another stream warms the read
    // path up: the first requests of a run are ~30 % slower while the
    // JIT compiles it
    val warmup = new RequestGen(ctx.seed + 1, ing.gen.names, levels, Gen.T0, spanEnd)
    (1 to RequestGen.Cycle.length / 2).foreach(_ => serve(warmup.next(), timed = false))
    var fs0 = Fs(0, 0); var bg0 = Work(); var counted0 = (0L, 0L); var files0 = 0L
    ctx.res.cycle = RequestGen.Cycle.length
    val traced = ctx.closedLoop(step = () => { serve(requests.next(), timed = true); 1.0 },
      onTrace = () => {
        ctx.drain()
        fs0 = Fs.now(); bg0 = ctx.engine.background; counted0 = ing.counted()
        files0 = Tree.of(java.nio.file.Paths.get(ing.root)).dataFiles
        qstats.collect()
      },
      minSteps = RequestGen.Cycle.length)
    stopIngest = true
    writer.join(60000)
    Log("measured")

    val tree = Tree.of(java.nio.file.Paths.get(ing.root))
    if (traced > 0) {
      ctx.drain()
      val l = ctx.res.layers
      val util = qstats.collect().find(_.metric.endsWith("read.utilization")).map(_.value)
      val spans = ctx.tracer.all
      def mean(name: String) = spans.filter(_.name == name).map(_.ms).sum / traced
      l("store.snapshot_ms") = mean("store.snapshot")
      l("store.frame_ms") = mean("store.frame")
      l("service.dispatch_ms") = mean("service.dispatch")
      l("service.encode_ms") = mean("service.encode")
      l("store.leaf_dirs") = tree.leafDirs.toDouble
      val reads = spans.filter(s => s.parent == 0L && Kinds.contains(s.name))
      val w = reads.map(s => ctx.engine.of(s.op.toString)).foldLeft(Work())(_ + _)
      l("spark.jobs") = w.jobs.toDouble / traced
      l("spark.tasks") = w.tasks.toDouble / traced
      l("spark.task_ms") = w.taskMs.toDouble / traced
      l("spark.sched_delay_ms") = w.schedDelayMs.toDouble / traced
      l("spark.shuffle_bytes") = w.shuffleBytes.toDouble / traced
      l("plan.phases_ms") = reads.map(s => ctx.plans.phasesMs(spark,
        ctx.tracer.wallMs(s.startNs), ctx.tracer.wallMs(s.endNs))).sum.toDouble / traced
      l("service.utilization") = util.getOrElse(0.0)
      val fs = Fs.now() - fs0
      // the local file system does not count listings, only bytes read
      l("store.bytes_read_per_req") = fs.bytesRead.toDouble / traced
      if (concurrentIngest) {
        val (in, kept) = ing.counted()
        Layers.stream(ctx, in - counted0._1, kept - counted0._2, fs,
          tree.dataFiles - files0, ctx.engine.background - bg0)
      }
      Layers.selfTimes(ctx)
    }
    ctx.res.extra("leaf_dirs") = (tree.leafDirs.toDouble, "count")
    if (concurrentIngest) {
      val lg = lags.synchronized(lags.toSeq)
      ctx.res.extra("ingest_batches") = (lg.size.toDouble, "count")
      ctx.res.extra("ingest_lag_s") = (lg.lastOption.getOrElse(Double.NaN), "s")
    }
    ing.verify()
    // a traced `mixed` run ends by compacting the store it grew
    if (concurrentIngest && ctx.trace) { compacted = ing.compact(); ing.verifyStore() }
    ctx.res.layers("store.compact_s") = compacted._1
    ctx.res.layers("store.bytes_rewritten") = compacted._2.toDouble
  }
}
