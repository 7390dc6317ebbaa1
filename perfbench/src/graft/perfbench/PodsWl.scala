package graft.perfbench

import graft.core.Cover
import graft.functions.StareFunctions._
import graft.sources.Pods
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}

/** Writes beside reads: seeded timestamped points, indexed at level 26, go
  * through `Pods.write` with a time column and a fresh lineage, then a
  * resume with the same lineage, then many `Pods.read` calls bounded by a
  * cover and a time window, each followed by the exact refine filter. */
final class PodsWl(ctx: Ctx) extends Workload {
  import ctx._
  val rows: Long = if (smoke) 100000L else 300000L
  private val minReads = if (smoke) 20 else 100
  private val writes = 3
  private val t0Sec = 1700000000L
  private val spanSec = 90L * 86400L
  private val ops = new PodsOps(ctx, Paths.get(workDir, "pods"), t0Sec, t0Sec + spanSec)
  private var pts: DataFrame = _
  private var store: Path = _
  private var reads = Vector.empty[(Int, (Long, Long))]

  def points: DataFrame = pts

  def setup(): Unit = {
    def u(salt: Int): Column =
      pmod(xxhash64(lit(seed), lit(salt), col("id")), lit(1000003L)).cast("double") / 1000003.0
    pts = spark.range(rows)
      .withColumn("lat", lit(-85.0) + u(1) * 170.0)
      .withColumn("lon", lit(-180.0) + u(2) * 359.999)
      .withColumn("ts", timestamp_seconds(lit(t0Sec) + (u(3) * spanSec).cast("long")))
      .withColumn("sid", stareSid(col("lat"), col("lon"), 26))
      .persist()
    pts.count()
  }

  def release(): Unit = {
    if (pts != null) pts.unpersist(true)
    Sweep.deleteRecursively(ops.root)
  }

  def measure(): Unit = {
    ops.covers.foreach(_.length)
    val t0 = System.nanoTime()
    val ws = (1 to writes).flatMap { i =>
      val dir = ops.root.resolve(s"store-$i")
      val lineage = s"perfbench-$seed-$i-${System.nanoTime()}"
      op(s"pods write $i") { timed(ops.write(pts, dir, lineage))._2 }.map { s => store = dir; (s, lineage) }
    }
    val writeS = ws.map(_._1)
    passes("write_s") = writeS
    val resumeS = ops.resumeChecked(pts, store, ws.last._2)
    ops.checkManifests(store, rows)
    val spent = (System.nanoTime() - t0) / 1e9
    val res = loop("pods read", seconds - spent, if (traced) 2 * minReads else minReads) { k =>
      (reads.length + k, ops.read(store, reads.length + k))
    }
    reads ++= res.map(_._1)
    val (rs, _) = split(res, "op.pods.read")
    val steady = Stats.median(writeS.tail)
    e2e("rows_per_s") = (rows / steady, "rows/s")
    e2e("op_p50_s") = (Stats.median(rs), "s")
    named("cold_s") = (writeS.head, "s")
    named("pods_write_rows_per_s") = (rows / steady, "rows/s")
    named("pods_rows") = (rows.toDouble, "count")
    named("pods_resume_s") = (resumeS, "s")
    named("pods_read_p50_s") = (Stats.median(rs), "s")
    named("pods_read_p90_s") = (Stats.percentile(rs, 0.9), "s")
    named("pods_read_p90_samples_beyond") = (Stats.beyond(rs.length, 0.9).toDouble, "count")
    named("pods_reads") = (rs.length.toDouble, "count")
    if (traced) {
      tracer.enable()
      ops.layers(pts, rows, reads = 20)
    }
  }

  def verify(): Unit = ops.verifyReads(pts, reads)
}

/** Pods calls shared by the pods workload and the sweep's traced run: the
  * seeded query boxes and time windows, the write, the read with its exact
  * refine, and the per-layer measurements of one store. */
final class PodsOps(ctx: Ctx, val root: Path, tMinSec: Long, tMaxSec: Long) {
  import ctx._

  /** (lonMin, lonMax, latMin, latMax, fromSec, toSec) */
  val queries: IndexedSeq[(Double, Double, Double, Double, Long, Long)] = {
    val r = new scala.util.Random(seed)
    val span = tMaxSec - tMinSec
    (0 until 16).map { _ =>
      val lat0 = -70.0 + r.nextDouble() * 110.0
      val lon0 = -180.0 + r.nextDouble() * 300.0
      val w = (span * (0.05 + r.nextDouble() * 0.1)).toLong
      val from = tMinSec + (r.nextDouble() * (span - w)).toLong
      (lon0, lon0 + 20.0 + r.nextDouble() * 40.0, lat0, lat0 + 10.0 + r.nextDouble() * 20.0, from, from + w)
    }
  }
  lazy val covers: IndexedSeq[Array[Long]] =
    queries.map { case (a, b, c, d, _, _) => Cover.coverFromBox(a, b, c, d, 6) }

  def refine(i: Int)(df: DataFrame): DataFrame = {
    val (lonA, lonB, latA, latB, from, to) = queries(i % queries.length)
    df.filter(col("lat").between(latA, latB) && col("lon").between(lonA, lonB) &&
      unix_timestamp(col("ts")).between(from, to))
  }

  def write(pts: DataFrame, dir: Path, lineage: String): Unit = tracer.span("sources.pods.write") {
    Pods.write(pts, dir.toString, "sid", podLevel = 2, lineageId = lineage, tsCol = Some("ts"))
  }

  private def scan(i: Int, store: Path): DataFrame = {
    val q = queries(i % queries.length)
    Pods.read(spark, store.toString, covers(i % covers.length), Some((q._5 * 1000L, q._6 * 1000L)))
  }

  private def countAndSum(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(col("id")), lit(0L))).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** One read: the pruned scan, then the exact refine; returns the refined
    * rows' count and id sum. */
  def read(store: Path, i: Int): (Long, Long) = tracer.span("op.pods.read") {
    val df = tracer.span("sources.pods.read.call")(scan(i, store))
    tracer.span("sources.pods.read.exec")(countAndSum(refine(i)(df)))
  }

  private def files(dir: Path): Map[Path, java.nio.file.attribute.FileTime] = {
    val s = Files.walk(dir)
    try s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
      .map(f => f -> Files.getLastModifiedTime(f)).toMap
    finally s.close()
  }

  /** The resume with the committed lineage; it must write no file. */
  def resumeChecked(pts: DataFrame, store: Path, lineage: String): Double = {
    val before = files(store)
    val s = op("pods resume")(timed(tracer.span("sources.pods.resume")(write(pts, store, lineage)))._2)
    check("resume writes no file", s.isDefined && files(store) == before)
    s.getOrElse(Double.NaN)
  }

  def checkManifests(store: Path, rows: Long): Unit = {
    val n = tracer.span("sources.pods.manifests")(Pods.manifests(store.toString)).map(_.rowCount).sum
    check("manifest row counts sum to the input rows", n == rows, s"$n != $rows")
  }

  /** Traced: one write with a fresh lineage, its resume and manifests, then
    * `reads` reads; fills the sources.pods metrics. */
  def layers(pts: DataFrame, rows: Long, reads: Int): Unit = {
    val dir = root.resolve("store-traced")
    val lineage = s"perfbench-$seed-traced-${System.nanoTime()}"
    covers.foreach(_.length)
    op("pods write traced")(write(pts, dir, lineage))
    resumeChecked(pts, dir, lineage)
    checkManifests(dir, rows)
    val got = (0 until reads).flatMap(i => op("pods read traced")(i -> read(dir, i)))
    verifyReads(pts, got)
    def med(name: String) = Stats.median(tracer.spansNamed(name).map(_.dur / 1e3))
    val w = tracer.spansNamed("sources.pods.write").head
    layer("sources.pods.write_s") = (w.dur / 1e3, "s")
    layer("sources.pods.write_jobs") = (tracer.jobsIn(w).toDouble, "count")
    layer("sources.pods.resume_s") = (med("sources.pods.resume"), "s")
    layer("sources.pods.manifests_s") = (med("sources.pods.manifests"), "s")
    layer("sources.pods.read_call_s") = (med("sources.pods.read.call"), "s")
    layer("sources.pods.read_exec_s") = (med("sources.pods.read.exec"), "s")
    val data = files(dir).keys.filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    val dirs = { val s = Files.walk(dir); try s.filter(Files.isDirectory(_)).count() finally s.close() }
    layer("sources.pods.files") = (data.length.toDouble, "count")
    layer("sources.pods.dirs") = (dirs.toDouble, "count")
    layer("sources.pods.bytes_per_row") = (data.map(Files.size).sum.toDouble / rows, "B")
    val (scanned, kept) = queries.indices.map { i =>
      val df = scan(i, dir)
      (df.count(), refine(i)(df).count())
    }.unzip
    layer("sources.pods.rows_read_per_row_returned") = (scanned.sum.toDouble / math.max(1L, kept.sum), "ratio")
  }

  /** Each refined read against the same predicate applied to the source. */
  def verifyReads(pts: DataFrame, reads: Seq[(Int, (Long, Long))]): Unit = {
    val truth = queries.indices.map(i => countAndSum(refine(i)(pts)))
    reads.foreach { case (i, got) =>
      val want = truth(i % queries.length)
      check(s"pods read $i equals the source predicate", got == want, s"$got != $want")
    }
  }
}
