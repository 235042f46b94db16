package perfbench

import graft.SparkEntry
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

/** `pipeline`: a fixed list of registry queries, each built through
  * `SparkEntry.queries` and materialized in full into a `noop` sink, in
  * a seeded order. They read the `documents` and `embeddings` tables of
  * the repo's sf0.1 test data, kept in `perfbench/data/sf0.1`, through
  * `Tables.read`. The first pass doubles as the correctness pass: each
  * result's digest must equal the one recorded from oracle-verified
  * output of the same tables.
  */
object PipelineWorkload {
  val Queries: Seq[String] = Seq(
    "x148_ivfadc_probed", // Similarity
    "x23_simhash", // Dedup
    "x77_tfidf_terms") // TextAnalysis

  /** Order-insensitive digest of a result: row count and the sum of the
    * rows' 64-bit hashes over the columns in name order.
    */
  def digest(df: DataFrame): String = {
    val r = df.select(xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum("h")).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }

  private def recorded(path: String): Map[String, String] =
    "\"([^\"]+)\"\\s*:\\s*\"([^\"]+)\"".r
      .findAllMatchIn(new String(Files.readAllBytes(Paths.get(path)), "UTF-8"))
      .map(m => m.group(1) -> m.group(2)).toMap

  def run(ctx: Ctx, dir: String, digests: String, record: Option[String]): Unit = {
    val spark = ctx.spark
    Layers.init(ctx.res)
    val order = {
      val r = new SplittableRandom(ctx.seed)
      val a = Queries.toArray
      (a.length - 1 to 1 by -1).foreach { i =>
        val j = r.nextInt(i + 1); val x = a(i); a(i) = a(j); a(j) = x
      }
      a.toSeq
    }
    // set-up opens the tables and builds every query's DataFrame through
    // `SparkEntry.queries` (schema reads, analysis and whatever a builder
    // computes eagerly), without running it
    ctx.setup(3) { _ =>
      val before = spark.sparkContext.getPersistentRDDs.keySet
      order.foreach(q => SparkEntry.queries(q)(spark, dir))
      SparkEntry.releaseNewlyPersisted(spark, before)
    }
    val want = if (record.isEmpty) recorded(digests) else Map.empty[String, String]
    val got = scala.collection.mutable.LinkedHashMap.empty[String, String]

    def attempt[T](name: String)(body: => T): Option[T] =
      try Some(body) catch {
        case e: Exception =>
          ctx.res.check(name, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
          None
      }
    // correctness pass (also the warm-up): a failure is counted, never retried
    order.foreach { q =>
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val c0 = System.nanoTime()
      attempt(q) {
        val df = SparkEntry.queries(q)(spark, dir)
        val d = digest(df)
        got(q) = d
        record.foreach(out => df.coalesce(1).write.mode("overwrite").parquet(s"$out/$q"))
        if (record.isEmpty) ctx.res.check(q,
          if (want.get(q).contains(d)) None else Some(s"digest $d, recorded ${want.get(q)}"))
      }
      Log(s"check $q: ${(System.nanoTime() - c0) / 1e6} ms")
      SparkEntry.releaseNewlyPersisted(spark, before)
    }
    record.foreach { out =>
      def js(m: Iterable[(String, String)]) = m.map { case (k, v) =>
        "\"" + k + "\": \"" + v.flatMap {
          case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
          case c => c.toString
        } + "\""
      }.mkString("{\n  ", ",\n  ", "\n}\n")
      Files.write(Paths.get(s"$out/oracle_sql.json"),
        js(SparkEntry.oracleSql.filter(e => Queries.contains(e._1))).getBytes("UTF-8"))
      Files.write(Paths.get(s"$out/digests.json"), js(got).getBytes("UTF-8"))
      Files.write(Paths.get(s"$out/tables_dir"), dir.getBytes("UTF-8"))
    }

    final case class QRec(buildMs: Double, wallS: Double, fromMs: Long, toMs: Long, work: Work)
    val perQuery = scala.collection.mutable.LinkedHashMap.empty[String, Vector[QRec]]
    def pass(): Double = {
      order.foreach { q =>
        // each query starts on a collected heap, so that none pays for
        // the garbage of the one before it
        System.gc()
        val before = spark.sparkContext.getPersistentRDDs.keySet
        val bg0 = ctx.engine.background
        val from = System.currentTimeMillis()
        val t0 = System.nanoTime()
        var tag = ""
        var buildMs = 0.0
        attempt(q) {
          ctx.op(q) { (op, root) =>
            tag = op.toString
            val df = ctx.tracer.span(op, "pipeline.build", root)(_ =>
              SparkEntry.queries(q)(spark, dir))
            buildMs = (System.nanoTime() - t0) / 1e6
            ctx.tracer.span(op, "pipeline.run", root)(_ =>
              df.write.format("noop").mode("overwrite").save())
          }
        }
        if (ctx.tracing) {
          val wallS = (System.nanoTime() - t0) / 1e9
          val to = System.currentTimeMillis()
          // jobs from pool threads or already-closed streams count as the
          // query's: nothing else runs between two queries
          ctx.drain()
          perQuery(q) = perQuery.getOrElse(q, Vector.empty) :+ QRec(buildMs, wallS, from, to,
            ctx.engine.of(tag) + (ctx.engine.background - bg0))
        }
        SparkEntry.releaseNewlyPersisted(spark, before)
      }
      order.size.toDouble
    }
    ctx.closedLoop(() => pass())
    val passes = ctx.res.ops.count(!_._3) / order.size
    ctx.res.extra("pipeline_s") = (ctx.res.wallS / math.max(1, passes), "s")
    if (ctx.trace) {
      val l = ctx.res.layers
      perQuery.foreach { case (q, xs) =>
        val n = xs.size.toDouble
        l(s"pipeline.$q.build_ms") = xs.map(_.buildMs).sum / n
        l(s"pipeline.$q.plan_ms") = xs.map(x => ctx.plans.phasesMs(null, x.fromMs, x.toMs)).sum / n
        l(s"pipeline.$q.wall_s") = xs.map(_.wallS).sum / n
        l(s"pipeline.$q.task_ms") = xs.map(_.work.taskMs).sum / n
        l(s"pipeline.$q.shuffle_bytes") = xs.map(_.work.shuffleBytes).sum / n
        l(s"pipeline.$q.spill_bytes") = xs.map(_.work.spillBytes).sum / n
      }
      val all = perQuery.values.flatten
      val wallMs = all.map(_.wallS).sum * 1000
      l("pipeline.parallelism") = if (wallMs > 0) all.map(_.work.taskMs).sum / wallMs else 0.0
      Layers.selfTimes(ctx)
    }
  }
}
