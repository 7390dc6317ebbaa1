package graft.perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** One workload in one fresh JVM. Prints one JSON line as the last line
  * of standard output: the outcome counts, the end-to-end metrics (or,
  * traced, the per-layer metrics), the metrics named per workload, and
  * every pass.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <scale full|smoke>
  *             <dataDir> <workDir> <traceDir> <warmPasses> [record]
  *
  * The sweep reads its recorded results from `<workDir>/expected.tsv` and,
  * with `record`, writes what it got to `<workDir>/got.tsv`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, scale, dataDir, workDir, traceDir, warm) = args.take(9)
    val ctx = new Ctx(workload, seed.toLong, seconds.toDouble, trace == "1", scale == "smoke",
      dataDir, workDir, traceDir, warm.toInt, args.lift(9).contains("record"))
    val code =
      try { ctx.run(); if (ctx.correct) 0 else 1 }
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $workload aborted: $e")
          e.printStackTrace()
          2
      }
    System.out.flush()
    System.exit(code)
  }
}

/** State of one run: the session, the tracer, the outcome counts and the
  * metrics the workload fills in. */
final class Ctx(val workload: String, val seed: Long, val seconds: Double, val traced: Boolean,
                val smoke: Boolean, val dataDir: String, val workDir: String, val traceDir: String,
                val warmPasses: Int, val record: Boolean) {
  val nproc: Int = Runtime.getRuntime.availableProcessors()
  var spark: SparkSession = _
  var tracer: Tracer = _
  var attempted = 0L
  var failed = 0L
  private var checksOk = true
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.LinkedHashMap.empty[String, String]
  val passes = mutable.LinkedHashMap.empty[String, Seq[Double]]

  def correct: Boolean = checksOk && failed == 0

  def log(msg: String): Unit = System.err.println(s"[perfbench] $workload: $msg")

  /** Runs one operation; an exception counts it as failed. */
  def op[A](name: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        failed += 1
        log(s"$name FAILED: $e")
        None
    }
  }

  /** An output check on an operation that already counted as attempted:
    * a mismatch counts the operation as failed. */
  def check(what: String, ok: Boolean, detail: => String = ""): Boolean = {
    if (!ok) {
      failed += 1
      checksOk = false
      log(s"CHECK FAILED: $what $detail")
    }
    ok
  }

  /** Closed loop: one operation at a time until `budgetS` has passed and
    * at least `minOps` ran; returns each result with its seconds and
    * whether it was traced. In a traced run the operations alternate,
    * untraced first, so neither side runs on a warmer JVM. */
  def loop[A](name: String, budgetS: Double, minOps: Int)(body: Int => A): Seq[(A, Double, Boolean)] = {
    val out = Vector.newBuilder[(A, Double, Boolean)]
    val t0 = System.nanoTime()
    var k = 0
    while (k < minOps || (System.nanoTime() - t0) / 1e9 < budgetS) {
      val on = traced && k % 2 == 1
      if (on) tracer.enable() else tracer.disable()
      op(name)(timed(body(k))).foreach { case (a, s) => out += ((a, s, on)) }
      k += 1
    }
    tracer.disable()
    out.result()
  }

  /** Splits a loop's seconds into untraced and traced, and in a traced run
    * sets the trace overhead and the Spark-engine metrics of the traced
    * operations' spans. */
  def split[A](res: Seq[(A, Double, Boolean)], span: String): (Seq[Double], Seq[Double]) = {
    val plain = res.filterNot(_._3).map(_._2)
    val tr = res.filter(_._3).map(_._2)
    passes("op_s") = plain
    if (traced) {
      passes("traced_op_s") = tr
      layer("trace_overhead") = (Stats.median(tr) / Stats.median(plain), "ratio")
      val spans = tracer.spansNamed(span)
      Kernels.sparkLayer(this, spans.map(s => (s.start, s.end)), spans.length)
    }
    (plain, tr)
  }

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def run(): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    tracer = new Tracer(spark.sparkContext)
    notes("session_s") = f"${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.3f"
    val w: Workload = workload match {
      case "geojoin" => new GeoJoin(this)
      case "shufflejoin" => new ShuffleJoinWl(this)
      case "sweep" => new Sweep(this)
      case "pods" => new PodsWl(this)
      case other => sys.error(s"unknown workload $other")
    }
    // one set-up, from JVM start until the inputs are materialized, first
    // uses included: a repeated set-up would run on a warmed JVM and take
    // first-use costs away from the timed part
    w.setup()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    e2e("setup_s") = (setupS, "s")
    named("setup_s") = (setupS, "s")

    if (traced) tracer.resetWindow()
    w.measure()
    if (traced) {
      tracer.enable()
      Kernels.run(this, w)
      tracer.write(java.nio.file.Paths.get(traceDir, s"$workload-seed$seed.spans.jsonl"))
    }
    w.verify()
    w.release()
    named("peak_rss_mb") = (peakRssMb(), "MB")
    named("ops_failed_ratio") = (if (attempted == 0) 1.0 else failed.toDouble / attempted, "ratio")
    named("ops_attempted") = (attempted.toDouble, "count")
    spark.stop()
    println(resultJson())
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  private def obj(m: collection.Map[String, (Double, String)]): String =
    m.map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""

  def resultJson(): String = {
    val metrics = if (traced) layer else e2e
    val ps = passes.map { case (k, xs) => s""""$k":${xs.map(num).mkString("[", ",", "]")}""" }
      .mkString("{", ",", "}")
    val ns = notes.map { case (k, v) => s""""$k":${str(v)}""" }.mkString("{", ",", "}")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":${obj(metrics)},""" +
      s""""named":${obj(named)},"passes":$ps,"notes":$ns,"nproc":$nproc,""" +
      s""""spark_version":"${org.apache.spark.SPARK_VERSION}"}"""
  }
}

/** A workload: inputs built from the seed, a timed closed loop, and checks
  * of every output through a path that avoids the operator under test. */
trait Workload {
  /** Builds and materializes the inputs. */
  def setup(): Unit
  /** Drops what `setup` materialized. */
  def release(): Unit
  /** The timed part: fills the end-to-end metrics, and, traced, the
    * per-layer ones and the trace overhead. */
  def measure(): Unit
  /** Output checks that run after the timed part. */
  def verify(): Unit
  /** Points with lat/lon columns, for the function-layer phases. */
  def points: org.apache.spark.sql.DataFrame
}
