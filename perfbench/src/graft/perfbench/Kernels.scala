package graft.perfbench

import graft.core.{Cover, Htm, Sid, TrixelUnion}
import graft.functions.StareFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-layer measurements below the operators, made in every traced run:
  * the `core` kernels on one thread, and the `functions` expressions as
  * noop-sink phases over the workload's own points. */
object Kernels {
  /** Every per-layer metric, with its unit. A traced run reports each one;
    * a layer the workload does not call reports 0. */
  lazy val perLayer: Seq[(String, String)] = Seq(
    "core.encode_ns" -> "ns", "core.cover_ms" -> "ms", "core.compress_ns_per_sid" -> "ns",
    "core.expand_ns_per_sid" -> "ns", "core.dissolve_wkt_ms" -> "ms",
    "functions.scan_s" -> "s", "functions.encode_s" -> "s", "functions.key_s" -> "s",
    "operators.pointjoin.call_s" -> "s", "operators.pointjoin.jobs" -> "count",
    "operators.pointjoin.probe_s" -> "s", "operators.pointjoin.aggregate_s" -> "s",
    "operators.shufflejoin.call_s" -> "s", "operators.shufflejoin.jobs" -> "count",
    "operators.shufflejoin.exec_s" -> "s", "operators.shufflejoin.max_task_s" -> "s",
    "operators.shufflejoin.task_skew" -> "ratio", "operators.skew.spec_s" -> "s",
    "operators.skew.engaged" -> "bool",
    "sources.pods.write_s" -> "s", "sources.pods.write_jobs" -> "count",
    "sources.pods.files" -> "count", "sources.pods.dirs" -> "count",
    "sources.pods.bytes_per_row" -> "B", "sources.pods.resume_s" -> "s",
    "sources.pods.manifests_s" -> "s", "sources.pods.read_call_s" -> "s",
    "sources.pods.read_exec_s" -> "s", "sources.pods.rows_read_per_row_returned" -> "ratio") ++
    Sweep.queryNames.map(q => s"query.${q}_s" -> "s") ++
    Sweep.coldQueries.map(q => s"query.${q}_cold_s" -> "s") ++
    Seq("spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.executor_core_s" -> "s", "spark.driver_gap_s" -> "s", "spark.gc_s" -> "s",
      "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB", "trace_overhead" -> "ratio")

  def run(ctx: Ctx, w: Workload): Unit = {
    val t = ctx.tracer
    // a sample of the workload's own points, on the driver
    val sample = w.points.select(col("lat"), col("lon")).limit(200000).collect()
    val lats = sample.map(_.getDouble(0))
    val lons = sample.map(_.getDouble(1))
    def med3(f: => Double): Double = Stats.median((1 to 3).map(_ => f))
    var sink = 0L
    ctx.layer("core.encode_ns") = (med3 {
      t.span("core.encode") {
        val t0 = System.nanoTime()
        var i = 0
        while (i < lats.length) { sink ^= Htm.latLonToSid(lats(i), lons(i), 26); i += 1 }
        (System.nanoTime() - t0).toDouble / math.max(1, lats.length)
      }
    }, "ns")
    val boxes = graft.SparkEntry.regions
    ctx.layer("core.cover_ms") = (med3 {
      t.span("core.cover") {
        val t0 = System.nanoTime()
        boxes.foreach { r =>
          val c =
            if (!r.wraps) Cover.coverFromBox(r.lonMin, r.lonMax, r.latMin, r.latMax, 6)
            else Cover.coverFromBox(r.lonMin, 180.0, r.latMin, r.latMax, 6) ++
              Cover.coverFromBox(-180.0, r.lonMax, r.latMin, r.latMax, 6)
          sink ^= c.length
        }
        (System.nanoTime() - t0) / 1e6
      }
    }, "ms")
    val l4 = Sid.compress(Cover.coverFromBox(-180.0, 0.0, -40.0, 40.0, 4) ++
      Cover.coverFromBox(0.0, 180.0, -40.0, 40.0, 4))
    var expanded = Array.emptyLongArray
    ctx.layer("core.expand_ns_per_sid") = (med3 {
      t.span("core.expand") {
        val t0 = System.nanoTime()
        expanded = Sid.expandToLevel(l4, 8)
        (System.nanoTime() - t0).toDouble / expanded.length
      }
    }, "ns")
    ctx.layer("core.compress_ns_per_sid") = (med3 {
      t.span("core.compress") {
        val t0 = System.nanoTime()
        sink ^= Sid.compress(expanded).length
        (System.nanoTime() - t0).toDouble / expanded.length
      }
    }, "ns")
    val europe = graft.SparkEntry.regionCover(graft.SparkEntry.region("europe_c"))
    ctx.layer("core.dissolve_wkt_ms") = (med3 {
      t.span("core.dissolve_wkt") {
        val t0 = System.nanoTime()
        sink ^= TrixelUnion.dissolveWkt(europe).length
        (System.nanoTime() - t0) / 1e6
      }
    }, "ms")
    if (sink == 42L) ctx.log("") // keeps the kernels' results live

    // function-layer phases through the noop sink
    def noop(df: DataFrame): Double = ctx.timed(df.write.format("noop").mode("overwrite").save())._2
    val pts = w.points.select(col("lat"), col("lon"))
    val enc = pts.withColumn("sid", stareSid(col("lat"), col("lon"), 26))
    val key = enc.withColumn("k", stareClearTo(col("sid"), 6))
    noop(key) // compiles the phases' code once
    ctx.layer("functions.scan_s") = (med3(t.span("functions.scan")(noop(pts))), "s")
    ctx.layer("functions.encode_s") = (med3(t.span("functions.encode")(noop(enc))), "s")
    ctx.layer("functions.key_s") = (med3(t.span("functions.key")(noop(key))), "s")

    perLayer.foreach { case (k, u) => if (!ctx.layer.contains(k)) ctx.layer(k) = (0.0, u) }
  }

  /** The Spark-engine metrics over traced windows, per unit of work (one
    * operation, or one sweep pass). */
  def sparkLayer(ctx: Ctx, windows: Seq[(Double, Double)], units: Int): Unit = {
    val ws = windows.map { case (a, b) => ctx.tracer.window(a, b) }
    def per(f: SparkWindow => Double): Double = ws.map(f).sum / math.max(1, units)
    ctx.layer("spark.jobs") = (per(_.jobs), "count")
    ctx.layer("spark.stages") = (per(_.stages), "count")
    ctx.layer("spark.tasks") = (per(_.tasks), "count")
    ctx.layer("spark.executor_core_s") = (per(_.executorCoreS), "s")
    ctx.layer("spark.driver_gap_s") = (per(_.driverGapS), "s")
    ctx.layer("spark.gc_s") = (per(_.gcS), "s")
    ctx.layer("spark.shuffle_write_mb") = (per(_.shuffleWriteMb), "MB")
    ctx.layer("spark.spill_mb") = (per(_.spillMb), "MB")
  }
}
