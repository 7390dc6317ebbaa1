package graft.perfbench

import graft.core.{Cover, Htm, Sid}
import graft.functions.StareFunctions._
import graft.operators.Skew
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The partitioned regime: pre-encoded points, 90% of them in a seeded hot
  * city inside one level-6 cell, joined through `Skew.shuffleJoin` with
  * the hot-cell split against a cover table that is not broadcast: 5k
  * disjoint level-8 cells in a band plus the city's cover. The split's
  * cost grows with the number of cover cells (about 70 us a cell, measured
  * at 20k and 100k cells with 1M points on 4 cores), so the cell count
  * sets much of an operation's time. */
final class ShuffleJoinWl(ctx: Ctx) extends Workload {
  import ctx._
  val rows: Long = if (smoke) 100000L else 500000L
  // far from the level-9 cells' ~40k rows, so every seed splits the hot
  // cell to level 10
  val maxRowsPerCell: Long = if (smoke) 5000L else 20000L
  private var pts: DataFrame = _
  private var covers: DataFrame = _
  private var counts = Vector.empty[Map[Long, Long]]
  private var unsplitCounts = Vector.empty[Map[Long, Long]]

  // the hot city sits north of the band, so only the city cover matches
  // it; the seed moves it within one fixed level-6 cell, so every seed
  // splits the same cell
  private val (hotLat, hotLon) = {
    val (lat, lon) = Htm.sidToCenter(Htm.latLonToSid(52.0, 13.0, 6))
    val r = new scala.util.Random(seed)
    (lat + (r.nextDouble() - 0.5) * 0.1, lon + (r.nextDouble() - 0.5) * 0.1)
  }
  private val cells: Array[Long] = {
    val l4 = Sid.compress(Cover.coverFromBox(-180.0, 0.0, -40.0, 40.0, 4) ++
      Cover.coverFromBox(0.0, 180.0, -40.0, 40.0, 4))
    Sid.expandToLevel(l4, 8).take(if (smoke) 2000 else 5000)
  }
  private val cityCover: Array[Long] =
    Cover.coverFromBox(hotLon - 2.0, hotLon + 2.0, hotLat - 2.0, hotLat + 2.0, 6)
  def points: DataFrame = pts

  def setup(): Unit = {
    // the cover table is materialized like the points, as a table would be
    val s = spark
    import s.implicits._
    covers = spark.sparkContext.parallelize(
      (-1L, cityCover.toSeq) +: cells.toSeq.zipWithIndex.map { case (c, i) => (i.toLong, Seq(c)) }, nproc)
      .toDF("cover_id", "sids").persist()
    covers.count()
    def u(salt: Int): org.apache.spark.sql.Column =
      pmod(xxhash64(lit(seed), lit(salt), col("id")), lit(1000003L)).cast("double") / 1000003.0
    pts = spark.range(rows)
      .withColumn("hot", col("id") % 10 =!= 0)
      .withColumn("lat", when(col("hot"), lit(hotLat - 0.25) + u(1) * 0.5).otherwise(lit(-39.0) + u(2) * 78.0))
      .withColumn("lon", when(col("hot"), lit(hotLon - 0.25) + u(3) * 0.5).otherwise(lit(-179.0) + u(4) * 358.0))
      .withColumn("sid", stareSid(col("lat"), col("lon"), 26))
      .select(col("id"), col("lat"), col("lon"), col("sid"))
      .persist()
    pts.count()
  }

  def release(): Unit = Seq(pts, covers).filter(_ != null).foreach(_.unpersist(true))

  private def withConf[A](body: => A): A = {
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.graft.skew.splitOverheadSec" -> splitOverheadSec.toString)
    val prior = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The split gate's fixed-overhead allowance. The library default (4 s)
    * engages only from ~16M rows at 4 partitions; at the benchmark's size
    * the projected saving is ~0.2 s (~0.04 s at the smoke size), so the
    * allowance is lowered to let the gate engage here. A run whose gate
    * skips the split fails a check, so a changed gate cannot turn the
    * timed path into the unsplit join. */
  private val splitOverheadSec = if (smoke) 0.01 else 0.1

  /** One operation: the join, counted per cover row. */
  private def joinOnce(split: Boolean): Map[Long, Long] = tracer.span("op.shufflejoin") {
    val joined = tracer.span("operators.shufflejoin.call") {
      Skew.shuffleJoin(pts, "sid", covers, "sids", splitHot = if (split) Some(maxRowsPerCell) else None,
        knownMinLeftLevel = Some(26))
    }
    tracer.span("operators.shufflejoin.exec") {
      joined.groupBy(col("cover_id")).count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
  }

  def measure(): Unit = withConf {
    val spec = Skew.splitHotCellsWithSpec(pts, "sid", covers, "sids", maxRowsPerCell, knownMinLeftLevel = Some(26))
    notes("skew_gate") = spec.skipReason.map(r => s"skipped: $r").getOrElse(
      s"engaged: ${spec.parents.length} parents -> levels " +
        spec.parents.flatMap(_.childLevels).distinct.sorted.mkString("/"))
    notes("skew_split_overhead_sec") = splitOverheadSec.toString
    op("skew split gate")(check("the skew split gate engages", spec.skipReason.isEmpty, notes("skew_gate")))
    notes("hot_city") = f"$hotLat%.4f,$hotLon%.4f"
    val (_, coldS) = timed(op("shufflejoin cold")(joinOnce(split = true)).foreach(c => counts :+= c))
    passes("cold_op_s") = Seq(coldS)
    // the unsplit join on the same inputs, for comparison with the split;
    // it also warms the scan, shuffle and sort-merge code the split shares
    val unsplit = (1 to 3).flatMap(_ => op("shufflejoin unsplit")(timed(joinOnce(split = false))))
    unsplitCounts = unsplit.map(_._1).toVector
    passes("unsplit_op_s") = unsplit.map(_._2)
    if (unsplit.nonEmpty) named("unsplit_op_p50_s") = (Stats.median(unsplit.map(_._2)), "s")
    // two more untimed split operations: operations keep getting faster
    // over the first five or six while the JIT compiles the driver's code
    (1 to 2).foreach(_ => op("shufflejoin warm-up")(joinOnce(split = true)).foreach(c => counts :+= c))
    val res = loop("shufflejoin", seconds, minOps = if (traced) 8 else 6)(_ => joinOnce(split = true))
    counts ++= res.map(_._1)
    val (plain, _) = split(res, "op.shufflejoin")
    val p50 = Stats.median(plain)
    e2e("rows_per_s") = (rows / p50, "rows/s")
    e2e("op_p50_s") = (p50, "s")
    named("cold_s") = (coldS, "s")
    named("shufflejoin_rows_per_s") = (rows / p50, "rows/s")
    named("shufflejoin_rows") = (rows.toDouble, "count")
    if (traced) {
      tracer.enable()
      val calls = tracer.spansNamed("operators.shufflejoin.call")
      val execs = tracer.spansNamed("operators.shufflejoin.exec")
      layer("operators.shufflejoin.call_s") = (Stats.median(calls.map(_.dur / 1e3)), "s")
      layer("operators.shufflejoin.jobs") =
        (Stats.median(calls.zip(execs).map { case (c, e) => (tracer.jobsIn(c) + tracer.jobsIn(e)).toDouble }), "count")
      layer("operators.shufflejoin.exec_s") = (Stats.median(execs.map(_.dur / 1e3)), "s")
      val tasks = execs.map(e => tracer.window(e.start, e.end))
      layer("operators.shufflejoin.max_task_s") = (Stats.median(tasks.map(_.maxTaskS)), "s")
      layer("operators.shufflejoin.task_skew") = (Stats.median(tasks.map(_.taskSkew)), "ratio")
      val specs = (1 to 3).map { _ =>
        tracer.span("operators.skew.spec") {
          timed(Skew.splitHotCellsWithSpec(pts, "sid", covers, "sids", maxRowsPerCell, knownMinLeftLevel = Some(26)))
        }
      }
      layer("operators.skew.spec_s") = (Stats.median(specs.map(_._2)), "s")
      layer("operators.skew.engaged") = (if (specs.head._1.skipReason.isEmpty) 1.0 else 0.0, "bool")
    }
  }

  /** The split result against the unsplit one and an independent count:
    * band points by level-8 cell-set membership, city points through
    * `stareIntersectsCover`. */
  def verify(): Unit = withConf {
    val index = cells.zipWithIndex.map { case (c, i) => c -> i.toLong }.toMap
    val mask = Sid.clearMask(8)
    val cellOf = udf((s: Long) => index.getOrElse((s & mask) | 8L, -2L))
    val band = pts.select(cellOf(col("sid")).as("cover_id")).filter(col("cover_id") >= 0)
      .groupBy(col("cover_id")).count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val city = pts.filter(stareIntersectsCover(col("sid"), cityCover)).count()
    val expected = if (city > 0) band + (-1L -> city) else band
    val total = expected.values.sum
    notes("shufflejoin_matches") = total.toString
    unsplitCounts.zipWithIndex.foreach { case (c, i) =>
      check(s"unsplit op $i per-cover counts equal the independent count", c == expected,
        s"${c.size} covers vs ${expected.size}; totals ${c.values.sum} vs $total")
    }
    counts.zipWithIndex.foreach { case (c, i) =>
      check(s"split op $i per-cover counts equal the unsplit and independent counts", c == expected,
        s"${c.size} covers vs ${expected.size}; totals ${c.values.sum} vs $total")
    }
  }
}
