package graft

import org.apache.spark.graft.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildSide}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec, ShuffledHashJoinExec,
  SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.core.{Cover, Htm, Sid}
import graft.functions.StareFunctions._
import graft.operators.{Skew, StareJoin}

/** Plan-shape contract of the join family, read from the physical plan
  * before anything executes: which output shape and which build each
  * join takes for the shapes the benchmark and the queries run, and the
  * input checks that must fire before any job. */
class JoinPlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val prior = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  // ------------------------------------------------------------- plans

  /** The physical plan as first planned (before any adaptive re-plan). */
  private def initial(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.initialPlan
    case p                        => p
  }

  /** The join on the left key column `lk`: its strategy, its build side
    * (the right child for a sort-merge join) and its streamed side. */
  private case class KeyJoin(kind: String, build: SparkPlan, streamed: SparkPlan) {
    def buildCols: Set[String] = build.output.map(_.name).toSet
  }

  private def keyJoin(df: DataFrame, lk: String): KeyJoin = {
    def on(keys: Seq[Expression]) = keys.exists(_.references.exists(_.name == lk))
    def sides(kind: String, b: BuildSide, l: SparkPlan, r: SparkPlan) =
      if (b == BuildLeft) KeyJoin(kind, l, r) else KeyJoin(kind, r, l)
    val plan = initial(df)
    val found = plan.collect {
      case j: BroadcastHashJoinExec if on(j.leftKeys) =>
        sides("broadcast", j.buildSide, j.left, j.right)
      case j: ShuffledHashJoinExec if on(j.leftKeys) =>
        sides("shuffle_hash", j.buildSide, j.left, j.right)
      case j: SortMergeJoinExec if on(j.leftKeys) => KeyJoin("sort_merge", j.right, j.left)
    }
    assert(found.size == 1, s"expected one join on $lk:\n$plan")
    found.head
  }

  /** Every join with a key on column `c`. */
  private def joinsOn(df: DataFrame, c: String): Seq[BaseJoinExec] = initial(df).collect {
    case j: BaseJoinExec if (j.leftKeys ++ j.rightKeys).exists(_.references.exists(_.name == c)) => j
  }

  /** Jobs launched while `body` runs, read after the listener bus has
    * delivered every event. */
  private def jobsDuring(body: => Any): Int = {
    val sc = spark.sparkContext
    Bus.drain(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try { body; Bus.drain(sc); jobs.get }
    finally sc.removeSparkListener(listener)
  }

  // --------------------------------------------------------- fixtures

  /** Level-26 points: a fraction `hot` of them inside 0.5° around
    * (hotLat, hotLon), the rest spread over ±40° latitude. */
  private def points(n: Int, hot: Double = 0.0, hotLat: Double = 52.0,
                     hotLon: Double = 13.0): DataFrame = {
    def u(salt: Int) =
      pmod(xxhash64(lit(salt), col("id")), lit(1000003L)).cast("double") / 1000003.0
    val isHot = u(7) < hot
    spark.range(n).select(col("id").as("lid"),
        when(isHot, lit(hotLat) + u(1) * 0.5).otherwise(lit(-40.0) + u(2) * 80.0).as("lat"),
        when(isHot, lit(hotLon) + u(3) * 0.5).otherwise(lit(-179.0) + u(4) * 358.0).as("lon"))
      .withColumn("sid", stareSid(col("lat"), col("lon"), 26))
  }

  /** contains over the compressed cover — JoinEquivalenceFuzzSpec's
    * brute-force reference. */
  private def expectedPairs(left: Seq[(Long, Long)], covers: Seq[(String, Seq[Long])],
                            how: String): Seq[(Long, String)] = {
    val compressed = covers.map { case (name, cover) => name -> Sid.compress(cover.toArray) }
    val inner = for {
      (lid, sid) <- left
      (name, comp) <- compressed
      if comp.exists(c => Sid.level(c) <= Sid.level(sid) && Sid.intersects(c, sid))
    } yield (lid, name)
    val matched = inner.map(_._1).toSet
    val out = if (how == "inner") inner
              else inner ++ left.collect { case (lid, _) if !matched(lid) => (lid, "__none") }
    out.sorted
  }

  private def observedPairs(df: DataFrame): Seq[(Long, String)] =
    df.select(col("lid"), col("rname")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) "__none" else r.getString(1)))
      .toSeq.sorted

  // ------------------------------------------------------------- tests

  test("few-row, giant-cover right side: its full rows are never broadcast or hash-built") {
    import spark.implicits._
    // Two cover rows, each ~24k level-10 cells (3 of every 4 siblings,
    // so compression keeps them all) plus a 100k-char payload: the rows
    // alone fit the 1 MB broadcast threshold, but keyed per cell they
    // are ~50k full rows — far over both the broadcast and SHJ caps.
    def giantCover(cells: (Double, Double)*): Seq[Long] = cells.flatMap { case (lat, lon) =>
      val l3 = Sid.clearToLevel(Htm.latLonToSid(lat, lon, 3))
      Sid.expandToLevel(Array(l3), 10).zipWithIndex.collect { case (c, i) if i % 4 != 3 => c }
    }
    val payload = "x" * 100000
    val covers = Seq(
      ("a", giantCover((10.0, 10.0), (10.0, 40.0))),
      ("b", giantCover((-20.0, -60.0), (40.0, 100.0))))
    val rightDf = covers.map { case (n, c) => (n, c, payload) }.toDF("rname", "sids", "payload")
    val r = new scala.util.Random(11)
    val centers = Seq((10.0, 10.0), (10.0, 40.0), (-20.0, -60.0), (40.0, 100.0), (-60.0, 170.0))
    val left = (0 until 400).map { i =>
      val (lat, lon) = centers(i % centers.length)
      (i.toLong, Htm.latLonToSid(lat + r.nextGaussian() * 4, lon + r.nextGaussian() * 4, 26))
    }
    val leftDf = left.toDF("lid", "sid")
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "1048576",
      "spark.graft.join.shjMaxBuildBytesPerPartition" -> "1048576") {
      for (how <- Seq("left", "inner")) {
        val joined = Skew.shuffleJoin(leftDf, "sid", rightDf, "sids", how = how)
        val kj = keyJoin(joined, "__lk")
        assert(kj.kind == "sort_merge" || !kj.buildCols.contains("payload"),
          s"how=$how: ~50k full cover rows planned as a ${kj.kind} build:\n${initial(joined)}")
        val exp = expectedPairs(left, covers, how)
        assert(exp.exists(_._2 != "__none"))
        assert(observedPairs(joined) === exp, s"shuffleJoin how=$how")
        // pointJoin collects the two rows, finds the full-row dictionary
        // over its byte budget and hands them to the shuffle join
        assert(observedPairs(StareJoin.pointJoin(leftDf, "sid", rightDf, "sids", how = how)) === exp,
          s"pointJoin how=$how")
      }
    }
  }

  test("how other than left/inner throws before any job runs") {
    val covers = SparkEntry.coversDf(spark)
    val pts = points(1000)
    intercept[IllegalArgumentException](StareJoin.pointJoin(pts, "sid", covers, "sids",
      how = "outer", knownMinLeftLevel = Some(26)))
    // a right side that fails when evaluated: a job run before the check
    // would surface as a SparkException instead
    val poison = udf((s: Seq[Long]) =>
      if (s != null) throw new IllegalStateException("right side evaluated") else s)
    val poisoned = covers.withColumn("sids", poison(col("sids")))
    intercept[IllegalArgumentException](StareJoin.pointJoin(pts, "sid", poisoned, "sids", how = "outer"))
    intercept[IllegalArgumentException](Skew.shuffleJoin(pts, "sid", poisoned, "sids", how = "outer"))
  }

  test("geojoin shape: pointJoin is one broadcast hash join with no exchange on the point side") {
    val joined = StareJoin.pointJoin(points(1000), "sid", SparkEntry.coversDf(spark), "sids",
      how = "inner", knownMinLeftLevel = Some(26))
    val plan = initial(joined)
    assert(plan.collect { case j: BroadcastHashJoinExec => j }.size == 1, plan.toString)
    assert(plan.collect { case j: ShuffledHashJoinExec => j }.isEmpty, plan.toString)
    assert(plan.collect { case j: SortMergeJoinExec => j }.isEmpty, plan.toString)
    val kj = keyJoin(joined, "__stare_lkey")
    assert(kj.kind == "broadcast" && kj.buildCols.contains("region_name"), plan.toString)
    assert(kj.streamed.collect { case e: ShuffleExchangeExec => e }.isEmpty, plan.toString)
  }

  test("shufflejoin shape: inner join with broadcast off is the full-row shuffled hash join") {
    import spark.implicits._
    val cells = Sid.expandToLevel(Sid.compress(Cover.coverFromBox(-180.0, 0.0, -40.0, 40.0, 4)), 8)
      .take(200)
    val city = Cover.coverFromBox(11.0, 15.0, 50.0, 54.0, 6)
    val covers = ((-1L, city.toSeq) +: cells.toSeq.zipWithIndex.map { case (c, i) => (i.toLong, Seq(c)) })
      .toDF("cover_id", "sids")
    val pts = points(2000, hot = 0.9).select(col("lid"), col("sid"))
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.graft.skew.splitOverheadSec" -> "0") {
      val joined = Skew.shuffleJoin(pts, "sid", covers, "sids", splitHot = Some(200L),
        knownMinLeftLevel = Some(26))
      val kj = keyJoin(joined, "__lk")
      assert(kj.kind == "shuffle_hash" && kj.buildCols.contains("cover_id"), initial(joined).toString)
    }
  }

  test("q43 shape: a single-key left join broadcasts its full-row side") {
    val joined = Skew.shuffleJoin(points(1000), "sid", SparkEntry.coversDf(spark), "sids",
      how = "left", knownMinLeftLevel = Some(26))
    val kj = keyJoin(joined, "__lk")
    assert(kj.kind == "broadcast" && kj.buildCols.contains("region_name"), initial(joined).toString)
  }

  test("a multi-key left join takes the pair shape") {
    import spark.implicits._
    // cover cells at levels 3, 4 and 6 and an undeclared level-5 left
    // row: the rebase stops at level 5, leaving keys at levels 5 and 6
    val s3 = Sid.clearToLevel(Htm.latLonToSid(10.0, 10.0, 3))
    val s4 = Sid.clearToLevel(Htm.latLonToSid(50.0, 100.0, 4))
    val s6 = Sid.clearToLevel(Htm.latLonToSid(-40.0, -60.0, 6))
    val covers = Seq(("r3", Seq(s3)), ("r4", Seq(s4)), ("r6", Seq(s6))).toDF("rname", "sids")
    val left = Seq((1L, Htm.latLonToSid(10.1, 10.1, 26)), (2L, Htm.latLonToSid(-40.1, -60.05, 26)),
      (3L, Htm.latLonToSid(0.0, 170.0, 26)), (4L, Sid.clearToLevel(Htm.latLonToSid(10.2, 10.2, 5))))
    val joined = Skew.shuffleJoin(left.toDF("lid", "sid"), "sid", covers, "sids", how = "left")
    val kj = keyJoin(joined, "__lk")
    assert(kj.buildCols == Set("__rid", "__rk"), initial(joined).toString)
    assert(observedPairs(joined) ===
      expectedPairs(left, Seq(("r3", Seq(s3)), ("r4", Seq(s4)), ("r6", Seq(s6))), "left"))
  }

  test("a shuffleJoin call measures its right side in one job: 7, 2 and 2 jobs before execution") {
    import spark.implicits._
    // the shufflejoin shape: 200 level-8 cells plus a level-6 city
    // cover, 90% of the points in the city
    val cells = Sid.expandToLevel(Sid.compress(Cover.coverFromBox(-180.0, 0.0, -40.0, 40.0, 4)), 8)
      .take(200)
    val city = Cover.coverFromBox(11.0, 15.0, 50.0, 54.0, 6)
    val covers = ((-1L, city.toSeq) +: cells.toSeq.zipWithIndex.map { case (c, i) => (i.toLong, Seq(c)) })
      .toDF("cover_id", "sids")
    val pts = points(2000, hot = 0.9).select(col("lid"), col("sid"))
    val (split, unsplit) = withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.graft.skew.splitOverheadSec" -> "0") {
      assert(Skew.splitHotCellsWithSpec(pts, "sid", covers, "sids", 200L,
        knownMinLeftLevel = Some(26)).skipReason.isEmpty, "the split gate must engage")
      (jobsDuring(Skew.shuffleJoin(pts, "sid", covers, "sids", splitHot = Some(200L),
          knownMinLeftLevel = Some(26))),
        jobsDuring(Skew.shuffleJoin(pts, "sid", covers, "sids", knownMinLeftLevel = Some(26))))
    }
    val q43 = jobsDuring(Skew.shuffleJoin(points(1000), "sid", SparkEntry.coversDf(spark), "sids",
      how = "left", knownMinLeftLevel = Some(26)))
    assert((split, unsplit, q43) === ((7, 2, 2)), "(split, unsplit, q43-shaped) jobs per call")
  }

  test("empty-cover rows count toward the row build: 20k padded cover rows are not broadcast") {
    import spark.implicits._
    // the multi-key left fixture, padded with empty covers to 20k rows
    // of ~1.1 KB each: ~22 MB of rows to join back, over the 10 MB
    // broadcast threshold
    val s3 = Sid.clearToLevel(Htm.latLonToSid(10.0, 10.0, 3))
    val s4 = Sid.clearToLevel(Htm.latLonToSid(50.0, 100.0, 4))
    val s6 = Sid.clearToLevel(Htm.latLonToSid(-40.0, -60.0, 6))
    val covers = Seq(("r3", Seq(s3)), ("r4", Seq(s4)), ("r6", Seq(s6))) ++
      (0 until 19997).map(i => (s"pad$i", Seq.empty[Long]))
    val payload = "x" * 500
    val rightDf = covers.map { case (n, c) => (n, c, payload) }.toDF("rname", "sids", "payload")
    val left = Seq((1L, Htm.latLonToSid(10.1, 10.1, 26)), (2L, Htm.latLonToSid(-40.1, -60.05, 26)),
      (3L, Htm.latLonToSid(0.0, 170.0, 26)), (4L, Sid.clearToLevel(Htm.latLonToSid(10.2, 10.2, 5))))
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "10485760") {
      // left takes the pair shape, inner the full-row shape; both join
      // the right rows back by key_right
      for (how <- Seq("left", "inner")) {
        val joined = Skew.shuffleJoin(left.toDF("lid", "sid"), "sid", rightDf, "sids", how = how)
        val back = joinsOn(joined, "key_right")
        assert(back.nonEmpty && back.forall(!_.isInstanceOf[BroadcastHashJoinExec]),
          s"how=$how: ~22 MB of cover rows broadcast:\n${initial(joined)}")
        assert(observedPairs(joined) === expectedPairs(left, covers, how), s"how=$how")
      }
    }
  }
}
