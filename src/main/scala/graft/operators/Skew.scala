package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.functions._
import graft.core.Sid
import graft.functions.StareFunctions._

/** Explicit skew handling for the shuffle-path spatial join (SURVEY.md
  * §4.4 / north rule: hot cells — cities, coastlines — must not melt a
  * reducer).
  *
  * STARE gives an *exact* salting mechanism: a trixel's four children
  * partition it. Splitting a hot cover cell into descendants rewrites
  * one fat join key into up to 4^k disjoint keys whose point
  * populations are the true spatial sub-populations — the left side
  * derives child keys directly (clearToLevel at the deeper level), so
  * unlike classic salting no replication of the probe side is needed
  * and results are bit-identical.
  *
  * The split decision is computed ON THE DRIVER from a sampled
  * per-cell histogram (covers are small by design), which also yields a
  * split SPEC: the left side emits a deep-level key ONLY for rows whose
  * ancestor is a split parent (children partition the parent, so a
  * gated key always hits). Without the gate, every left row paid one
  * extra exploded key per split level — measured 2x total join cost at
  * 4M rows with one hot city.
  */
object Skew {

  /** A hot cell that was split: the original cell and the levels its
    * replacement descendants live at. */
  final case class SplitParent(cell: Long, level: Int, childLevels: Array[Int])

  /** `keptLevels` = levels of cells kept whole (probed unconditionally);
    * split-child levels NOT in keptLevels are probed only under their
    * parent's gate. `skipReason` is set when the cost gate decided
    * splitting cannot win (right is returned unchanged, parents empty).
    * `minLeftLevel` = the exact minimum left-side sid level the spec was
    * computed against — callers (shuffleJoin's uniform rebase) reuse it
    * instead of re-aggregating the left side. */
  final case class SplitResult(right: DataFrame, parents: Seq[SplitParent],
                               keptLevels: Array[Int], skipReason: Option[String] = None,
                               minLeftLevel: Int = Sid.MaxLevel)

  /** A join's right side, measured by `sizeRight`: the (row, cell) pair
    * count of every own-level cover cell, the exact row count (rows
    * with an empty cover included) and the rows' summed
    * `StareJoin.rowBytes`. */
  private final case class RightSize(cellPairs: Map[Long, Long], rows: Long, bytes: Long) {
    /** The mean row width, as `StareJoin.approxRowBytes` reads it. */
    def meanRowBytes: Long = if (rows == 0) 16L else math.max(16L, bytes / rows)
  }

  /** The one sizing job over a join's right side: one aggregate over
    * its compressed cover cells, exploded with `posexplode_outer` so a
    * row with an empty cover still counts once (its position-0 or null
    * entry carries the row count and width). Widths are measured on the
    * rows as `collect` returns them (a typed map, not a Row UDF, whose
    * arrays arrive as a collection type `rowBytes` sizes differently),
    * so they equal `StareJoin.approxRowBytes` over the collected rows. */
  private def sizeRight(right: DataFrame, rightSids: String): RightSize = {
    val sidsIdx = right.schema.fieldIndex(rightSids)
    val widths = right.map(r => Row(StareJoin.rowBytes(r), r.get(sidsIdx)))(Encoders.row(
      StructType(Seq(StructField("__w", LongType), right.schema(sidsIdx)))))
    val first = coalesce(col("__p"), lit(0)) === 0
    val agg = widths
      .select(col("__w"), posexplode_outer(stareCompress(col(rightSids))).as(Seq("__p", "__c")))
      .groupBy(stareClearToOwn(col("__c")).as("__c"))
      .agg(count(col("__c")), count(when(first, 1)), coalesce(sum(when(first, col("__w"))), lit(0L)))
      .collect()
    RightSize(agg.collect { case r if !r.isNullAt(0) => r.getLong(0) -> r.getLong(1) }.toMap,
      agg.map(_.getLong(2)).sum, agg.map(_.getLong(3)).sum)
  }

  /** Cells after expanding every cell of a level histogram (level ->
    * cells) coarser than `target` to `target`; finer cells count as
    * they are. Saturates at Long.MaxValue: the counts are unbounded and
    * a wide level spread shifts past 62 bits, so an overflow must read
    * as an infinite cost, not as a budget pass. */
  private[operators] def expandedCells(hist: Map[Int, Long], target: Int): Long =
    hist.foldLeft(0L) { case (acc, (l, n)) =>
      val shift = 2 * math.max(0, target - l)
      val cells = if (shift >= 62 || n > (Long.MaxValue >> shift)) Long.MaxValue else n << shift
      if (cells > Long.MaxValue - acc) Long.MaxValue else acc + cells
    }

  /** Deepest split below a hot cell. */
  private final val MaxExtraLevels = 6

  private def confOr[A](spark: SparkSession, key: String, default: A)(parse: String => A): A =
    try parse(spark.conf.get(key, default.toString).trim) catch { case _: Exception => default }

  /** The session values every join-build choice reads, parsed once: the
    * broadcast threshold (bytes; <= 0 disables broadcasting), the
    * shuffle partition count, and the per-partition byte cap on a
    * shuffled-hash build (spark.graft.join.shjMaxBuildBytesPerPartition). */
  private[operators] final case class JoinConf(broadcastBytes: Long, partitions: Int,
                                               shjBytesPerPartition: Long) {
    def broadcasts(bytes: Long): Boolean = broadcastBytes > 0 && bytes <= broadcastBytes
    /** The build for a side of `bytes`: broadcast under the threshold,
      * shuffled hash when one partition's share fits the SHJ cap, else
      * sort-merge. */
    def build(bytes: Long): Build =
      if (broadcasts(bytes)) Build.Broadcast
      else if (bytes / math.max(1, partitions) <= shjBytesPerPartition) Build.ShuffleHash
      else Build.SortMerge
  }
  private[operators] object JoinConf {
    def apply(spark: SparkSession): JoinConf = JoinConf(
      confOr(spark, "spark.sql.autoBroadcastJoinThreshold", 10485760L)(raw =>
        if (raw.startsWith("-")) -1L
        else org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw)),
      confOr(spark, "spark.sql.shuffle.partitions", 200)(_.toInt),
      confOr(spark, "spark.graft.join.shjMaxBuildBytesPerPartition", 64L * 1024 * 1024)(_.toLong))
  }

  /** Estimate per-cell point counts from a sample of the left side and
    * split cells whose projected population exceeds `maxRowsPerCell`.
    *
    * Depth selection follows ACTUAL sampled descendant counts, not a
    * uniform-quartering assumption: real hot spots (cities) concentrate
    * in a corner of a coarse cell, so est/4-per-child systematically
    * under-descends — one child inherits nearly everything and the
    * reducer still melts (round-2's split demo lost partly for this).
    * Once the hot cells are known (first sample pass at the cover-cell
    * levels), a second pass over the same (cached) sample counts their
    * descendants at every candidate split level, and each parent splits
    * to the ONE uniform depth at which its heaviest sampled descendant
    * fits the cap (see the uniformChildren comment for why mixed
    * depths backfire on the left shuffle).
    *
    * Split depth is capped at the EXACT minimum left-side sid level
    * (one narrow aggregation): a left sid coarser than a split cell
    * would derive no key at the cell's level and silently lose its
    * match — the cap keeps the rewrite bit-identical for any input.
    *
    * The cover cells and their (row, cell) pair counts come from the
    * right side's one sizing job (`sizeRight`): this entry runs it, and
    * `shuffleJoin` passes in the measurement it already has. */
  def splitHotCellsWithSpec(left: DataFrame, leftSid: String,
                            right: DataFrame, rightSids: String,
                            maxRowsPerCell: Long, sampleFraction: Double = 0.01,
                            knownMinLeftLevel: Option[Int] = None): SplitResult =
    splitSpec(left, leftSid, right, rightSids, sizeRight(right, rightSids), maxRowsPerCell,
      sampleFraction, knownMinLeftLevel)

  private def splitSpec(left: DataFrame, leftSid: String, right: DataFrame, rightSids: String,
                        size: RightSize, maxRowsPerCell: Long, sampleFraction: Double,
                        knownMinLeftLevel: Option[Int]): SplitResult = {
    // the pair count is the quantity the join actually shuffles or
    // broadcasts (a distinct-cell count under-sizes a many-row cover
    // side sharing few cells)
    val cells = size.cellPairs.keys.toArray
    val rightPairCount = size.cellPairs.valuesIterator.sum
    val levels = cells.map(Sid.level).distinct.sorted
    // callers that KNOW their point level (e.g. a level-26 indexed
    // table) pass it and skip the exact full-scan guard
    val minLeftLevel = knownMinLeftLevel.getOrElse(StareJoin.minLevel(left, leftSid))
    // persist the (small) sample: phase A and phase B both read it, and
    // an uncached sample re-SCANS THE FULL LEFT SIDE per phase — at any
    // scale the whole point of sampling is to pay the wide scan once
    val sample = left.sample(withReplacement = false, sampleFraction, seed = 42)
      .select(col(leftSid).as("s")).persist()
    val keyed = sample.withColumn("k", explode(filter(
      array(levels.map(l => when(stareLevel(col("s")) >= l, stareClearTo(col("s"), l))): _*),
      c => c.isNotNull)))
    val cellSet = cells.toSet
    val isCell = udf((k: Long) => cellSet.contains(k))
    val counts = keyed.filter(isCell(col("k"))).groupBy("k").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scale = 1.0 / sampleFraction

    // ---- cost gate: engage splitting only when it can actually win ----
    // (round-2 lesson: at bench scale the split demonstration LOST — the
    // rewrite is pure overhead whenever no reducer melts in the first
    // place). All inputs to the decision are already on the driver.
    def skip(reason: String): SplitResult = {
      sample.unpersist(false)
      System.err.println(s"[skew] split skipped: no projected win — $reason")
      SplitResult(right, Seq.empty, levels, Some(reason), minLeftLevel)
    }
    val spark = left.sparkSession
    val joinConf = JoinConf(spark)
    // (1) a cover-key side under the broadcast threshold never shuffles
    // the point side by key: there is no reducer to melt. ~32 B per
    // exploded (rid, key) pair mirrors Catalyst's sizing order.
    if (joinConf.broadcasts(rightPairCount * 32))
      return skip(s"cover side (~$rightPairCount exploded (row, cell) pairs) fits the " +
        "broadcast threshold; the join has no per-key shuffle")
    // (2) the hottest cell must exceed the per-cell cap AND dominate a
    // fair reducer share by enough to beat the re-key overhead: a key
    // within ~2x the average reducer load doesn't bound the stage.
    val estHot = counts.valuesIterator.maxOption.getOrElse(0L) * scale
    val estTotal = counts.valuesIterator.sum * scale
    val shufflePartitions = joinConf.partitions
    val fairShare = estTotal / math.max(1, shufflePartitions)
    if (estHot <= maxRowsPerCell)
      return skip(f"hottest cell ~${estHot}%.0f rows <= maxRowsPerCell=$maxRowsPerCell")
    if (estHot <= 2.0 * fairShare)
      return skip(f"hottest cell ~${estHot}%.0f rows is within 2x the fair " +
        f"reducer share (~$fairShare%.0f of ~$estTotal%.0f matched rows over " +
        f"$shufflePartitions partitions); reducers are already balanced")
    // (3) wall-clock projection (r3 verdict item 6): a melted reducer
    // that only bounds the stage by a couple of seconds cannot repay the
    // split machinery's fixed overhead (sampling jobs + cover rewrite +
    // gated key derivation — ~4 s measured at the r3 sub-threshold bench,
    // where the split won max-task but tied/lost wall). Projected saving
    // = the melt the hot reducer carries beyond its fair share, at the
    // measured reducer sort rate (~2M rows/s, BENCH.md). The
    // rate/overhead constants are host-dependent (ours come from the
    // bench box, BENCH.md): a deployment with slower reducers sets the
    // conf keys below so an explicit splitHot request doesn't silently
    // no-op where a sub-4s-projected melt is in fact material (ADVICE
    // r5). Mechanism tests that want max-task balance regardless of wall
    // clock set splitOverheadSec to 0: gate (2) already guarantees a
    // positive projected saving.
    val reduceRowsPerSec = confOr(spark, "spark.graft.skew.reduceRowsPerSec", 2e6)(_.toDouble)
    val fixedOverheadSec = confOr(spark, "spark.graft.skew.splitOverheadSec", 4.0)(_.toDouble)
    val projectedSaveSec = (estHot - fairShare) / reduceRowsPerSec
    if (projectedSaveSec <= fixedOverheadSec)
      return skip(f"projected wall-clock saving ~$projectedSaveSec%.1f s " +
        f"((hot ~${estHot}%.0f - fair ~$fairShare%.0f rows) / " +
        f"${reduceRowsPerSec}%.0f rows/s) does not cover the " +
        f"~$fixedOverheadSec%.1f s fixed split overhead")

    // Phase B: descendant counts of the HOT cells only, from the same
    // sample — one more narrow job over hot-membership rows. The
    // recursion then descends where mass actually sits instead of
    // assuming each level quarters the population.
    val hotCells = cells.filter(c => counts.getOrElse(c, 0L) * scale > maxRowsPerCell)
    val childCounts: Map[Long, Long] = {
      val hotByLevel = hotCells.groupBy(Sid.level)
      val candLevels = hotCells.flatMap { c =>
        val l = Sid.level(c)
        (l + 1) to math.min(l + MaxExtraLevels, math.min(minLeftLevel, Sid.MaxLevel))
      }.distinct.sorted
      if (hotCells.isEmpty || candLevels.isEmpty) Map.empty
      else {
        // membership via a broadcast-in-closure Set UDF, NOT an
        // OR-of-isin expression chain: thousands of hot cells would
        // balloon the expression tree / generated code (64KB method
        // limit), while a hash probe per level stays O(1) in plan size
        val hotSets: Array[(Int, Set[Long])] =
          hotByLevel.map { case (l, cs) => (l, cs.toSet) }.toArray
        val inHotUdf = udf((s: Long) => {
          var i = 0
          var found = false
          while (i < hotSets.length && !found) {
            val (l, set) = hotSets(i)
            found = Sid.level(s) >= l && set((s & Sid.clearMask(l)) | l.toLong)
            i += 1
          }
          found
        })
        sample.filter(inHotUdf(col("s")))
          .withColumn("k", explode(filter(
            array(candLevels.map(lv =>
              when(stareLevel(col("s")) >= lv, stareClearTo(col("s"), lv))): _*),
            c => c.isNotNull)))
          .groupBy("k").count()
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
    }
    sample.unpersist(false)

    // The split plan, fully decided on the driver from actual counts.
    //
    // UNIFORM depth per parent — one level for all of a parent's
    // children, the smallest whose heaviest SAMPLED descendant fits the
    // cap. A mixed-depth plan (split only the heavy child deeper) looks
    // cheaper on the right side but multiplies the LEFT shuffle: every
    // hot row must emit one candidate key per distinct child level
    // (only one finds a partner; the rest are shuffled dead weight) —
    // measured 2x max-task REGRESSION at 8M rows when phase-B descended
    // to 3 mixed levels. Uniform depth emits exactly ONE gated key per
    // hot row: split shuffle volume equals no-split, and the extra
    // right-side rows (≤ 4^depth tiny cells per parent) are free.
    def uniformChildren(cell: Long): Seq[Long] = {
      val l = Sid.level(cell)
      val maxLv = math.min(l + MaxExtraLevels, math.min(minLeftLevel, Sid.MaxLevel))
      if (counts.getOrElse(cell, 0L) * scale <= maxRowsPerCell || maxLv <= l) Seq(cell)
      else {
        val lv = ((l + 1) to maxLv).find { v =>
          val heaviest = Sid.expandToLevel(Array(cell), v).iterator
            .map(c => childCounts.getOrElse(c, 0L)).max
          heaviest * scale <= maxRowsPerCell
        }.getOrElse(maxLv)
        Sid.expandToLevel(Array(cell), lv).toSeq
      }
    }
    val plan: Map[Long, Seq[Long]] = cells.map(cell => cell -> uniformChildren(cell)).toMap
    val parents = plan.collect {
      case (cell, children) if children != Seq(cell) =>
        SplitParent(cell, Sid.level(cell), children.map(Sid.level).distinct.sorted.toArray)
    }.toSeq.sortBy(_.cell)
    val keptLevels = plan.collect {
      case (cell, children) if children == Seq(cell) => Sid.level(cell)
    }.toArray.distinct.sorted

    val rewriteUdf = udf((sids: Seq[Long]) => {
      val canon = Sid.compress(sids.toArray)
      canon.flatMap(c => plan.getOrElse(Sid.clearToLevel(c), Seq(Sid.clearToLevel(c))))
    })
    SplitResult(right.withColumn(rightSids, rewriteUdf(col(rightSids))), parents, keptLevels,
      minLeftLevel = minLeftLevel)
  }

  /** shuffleJoin's two output shapes, each with its builds. */
  private sealed trait Shape
  /** Full right rows on the keyed side (keys ⋈ rows, built by `rows`):
    * the big side crosses one exchange, or none when broadcast, and the
    * join output is final. Inner joins explode every candidate key; a
    * left join needs exactly one key per row. */
  private final case class FullRow(build: Build, rows: Build) extends Shape
  /** (row id, key) pairs joined to the left, then the right rows
    * joined back by row id (StareJoin.assemble). */
  private final case class Pairs(keys: Build, rows: Build) extends Shape

  /** Picks the output shape and every build from exact sizes: the keyed
    * right rows, the right rows and their measured width. The first fit
    * wins:
    *  1. the full-row shape, when the keyed full rows broadcast;
    *  2. the pair shape, when both of its builds broadcast;
    *  3. the full-row shape, when it fits the SHJ cap per partition;
    *  4. otherwise the pair shape, each build sized on its own (sort-merge
    *     over the caps).
    * A multi-key left join only has the pair shape: a row exploded to N
    * candidate keys would left-join into one spurious all-null row per
    * non-matching key. */
  private def chooseShape(conf: JoinConf, keyedRows: Long, rightRows: Long, rowBytes: Long,
                          fullRowOk: Boolean): Shape = {
    def bytes(rows: Long, width: Long): Long =
      if (rows > Long.MaxValue / math.max(1L, width)) Long.MaxValue else rows * width
    val full = conf.build(bytes(keyedRows, rowBytes))
    val pairs = Pairs(conf.build(bytes(keyedRows, 32L)), conf.build(bytes(rightRows, rowBytes)))
    if (fullRowOk && full == Build.Broadcast) FullRow(full, pairs.rows)
    else if (pairs.keys == Build.Broadcast && pairs.rows == Build.Broadcast) pairs
    else if (fullRowOk && full == Build.ShuffleHash) FullRow(full, pairs.rows)
    else pairs
  }

  /** Shuffle-path spatial join for cover sides too large to broadcast
    * whole: a prefix-key equi-join with AQE skew splitting, optionally
    * after exact hot-cell splitting. Same pair semantics and output
    * contract (suffixes, `key_right`, column order) as
    * StareJoin.pointJoin, for how = inner | left.
    *
    * Keys: every cover cell keyed at its own level, rebased to one
    * uniform level when the expansion budget allows, plus gated split
    * levels. Two output shapes, picked with every build by
    * `chooseShape` from exact sizes: the full-row keyed join, or the
    * (row id, key) pairs plus a join-back by row id.
    *
    * The right side is measured once, by the one sizing job
    * (`sizeRight`): its cell pair counts feed the split spec, the level
    * histogram (derived on the driver, split included) feeds the rebase
    * budget and the keyed row count, and its exact row count and mean
    * row width feed `chooseShape`.
    *
    * Row ids come from StareJoin.withStableId (packed, deterministic)
    * instead of persist + monotonically_increasing_id: nothing stays
    * cached after the query completes. */
  def shuffleJoin(left: DataFrame, leftSid: String, right: DataFrame, rightSids: String,
                  splitHot: Option[Long] = None, how: String = "inner",
                  knownMinLeftLevel: Option[Int] = None): DataFrame = {
    val joinType = StareJoin.checkHow(how)
    // ids first, split-rewrite second: the assembled output carries the
    // ORIGINAL cover rows; only the join-key derivation sees split cells
    val rightRows = StareJoin.withStableId(right, "key_right")
    val size = sizeRight(rightRows, rightSids)
    val splitRes = splitHot.map(t => splitSpec(left, leftSid, rightRows, rightSids, size, t,
      sampleFraction = 0.01, knownMinLeftLevel))
    val rKeySource = splitRes.map(_.right).getOrElse(rightRows)
    // did the rewrite actually run, or did the cost gate skip it?
    val splitApplied = splitRes.exists(_.skipReason.isEmpty)
    // CRITICAL: a split cover must NOT be re-compressed — compress
    // canonically merges the four split siblings straight back into the
    // hot parent, silently undoing the split (round-1 latent bug: the
    // old code compressed unconditionally, so splitting never actually
    // reached the join keys). The rewrite UDF already compresses its
    // input and emits normalized disjoint cells. A gate-skipped cover is
    // untouched and still needs the canonical compress.
    val cellsCol = if (splitApplied) col(rightSids) else stareCompress(col(rightSids))
    val rightKeyed = rKeySource
      .select(col("key_right").as("__rid"), explode(cellsCol).as("__rs"))
      .withColumn("__rk", stareClearToOwn(col("__rs")))
      .select(col("__rid"), col("__rk"))
    val parents = splitRes.map(_.parents).getOrElse(Seq.empty)
    // level histogram of the keyed right cells, exactly as the rewrite
    // UDF emits them: a split parent's pairs move to its one child level,
    // 4^(child level - parent level) cells each
    val childLevel = parents.map(p => p.cell -> p.childLevels.head).toMap
    val levelHist: Map[Int, Long] = size.cellPairs.toSeq.map { case (c, n) =>
      val l = childLevel.getOrElse(c, Sid.level(c))
      l -> (n << 2 * (l - Sid.level(c)))
    }.groupMapReduce(_._1)(_._2)(_ + _)
    val keptLevels: Array[Int] = splitRes.map(_.keptLevels)
      .getOrElse(levelHist.keys.toArray.sorted)
    // ---- uniform-level rebase: the pointJoin dictionary lesson applied
    // to the shuffle path. A multi-level cover makes every left row
    // derive one key PER COVER LEVEL — the big side's shuffle volume
    // multiplies by |levels| (measured 4-5x at the skew bench, where it
    // dwarfed the reducer melt the bench exists to show). Expanding
    // every kept cell to the finest ELIGIBLE level multiplies only the
    // small keyed right side (budget-gated) and each left row derives
    // ONE base key per remaining base level. Pair multiplicity is
    // unchanged: cells are disjoint, so a row's covering cell expands
    // to exactly the one uniform cell that still covers it.
    //
    // The target is capped at the exact minimum LEFT sid level (ADVICE
    // r4 HIGH): a left row with sid level >= a cover cell's level but
    // < target matched that cell via its base-level key before the
    // rebase; expanding the cell past the row's own level would leave
    // the row keyless (when(stareLevel >= target) -> null) and silently
    // drop the pair. Cells FINER than the capped target keep their own
    // base levels (they can only match left rows at least that fine,
    // which the per-level guard already expresses).
    val rebaseBudget = 16L * 1024 * 1024
    // cost of expanding every keyed cell below `target` up to `target` —
    // over ALL levels present in the keyed right frame (levelHist
    // includes SPLIT-CHILD cells, which the rebase UDF also expands;
    // budgeting only the kept levels would admit an expansion orders of
    // magnitude over budget through the children)
    def rebaseCostTo(target: Int): Long = expandedCells(levelHist.filter(_._1 < target), target)
    // cheapest conceivable rebase: collapse only the two coarsest keyed
    // levels (the smallest shift any useful target could need). If even
    // that exceeds the budget, NO target can pass — skip the min-level
    // fallback scan entirely (it is a full pass over the left sid column)
    val sortedKept = keptLevels.sorted
    val anyTargetCanFit = sortedKept.length > 1 && rebaseCostTo(sortedKept(1)) <= rebaseBudget
    val minLeftLevel: Int = knownMinLeftLevel
      .orElse(splitRes.map(_.minLeftLevel))
      .getOrElse {
        if (!anyTargetCanFit) Sid.MaxLevel // rebase hopeless: cap is moot
        else StareJoin.minLevel(left, leftSid)
      }
    val target = math.min(if (keptLevels.isEmpty) 0 else keptLevels.max, minLeftLevel)
    val rebased = keptLevels.count(_ <= target) > 1 && rebaseCostTo(target) <= rebaseBudget
    val rightKeyedFinal =
      if (!rebased) rightKeyed
      else {
        val rebase = udf((c: Long) =>
          if (Sid.level(c) < target) Sid.expandToLevel(Array(c), target) else Array(c))
        rightKeyed.withColumn("__rk", explode(rebase(col("__rk"))))
      }
    // the keyed right side's exact row count (r6, guide §3.1): its
    // lineage passes through withStableId's RDD round trip, which erases
    // size stats — Catalyst would plan EVERY join here as a sort-merge
    // join, even for an 8-row cover table (measured: 7 SMJs in the q43
    // plan), so the builds are chosen from these counts instead
    val keyedRightRows: Long =
      if (rebased) expandedCells(levelHist, target) else levelHist.valuesIterator.sum
    // base levels probed unconditionally; split-child levels already in
    // the base set are matched by the base key (no gated duplicate — a
    // duplicate key value would double pairs); levels introduced ONLY
    // by splitting are probed under their parent's membership gate, so
    // non-hot rows never pay for them. A row lies in at most one parent
    // (cells are disjoint), so gates cannot duplicate a level either.
    // Under a rebase, child cells at/below the target were expanded to
    // the target like any kept cell, so only deeper-than-target child
    // levels (not already covered by a finer-than-target base level)
    // keep their gates.
    val baseLevels: Array[Int] =
      if (rebased) (target +: keptLevels.filter(_ > target)).distinct.sorted else keptLevels
    val baseSet = baseLevels.toSet
    // Dead base-key suppression (r6): a row inside a split parent p
    // derives, at every base level inside p's region that p's
    // (uniform-depth) replacement children do not serve, a key value
    // that matches NOTHING on the right — the parent was removed, its
    // children key at their own (or rebase-expanded) level, and the
    // rows match through the GATED child key. Those dead keys are
    // guaranteed-dead shuffle traffic that re-melts the very reducer
    // the split exists to relieve (measured at the melt bench: the
    // entire 21.6M-row hot population still shuffled into ONE
    // partition — via its dead rebase-level key — to match nothing;
    // that partition's probe/sort was the split leg's max task, in
    // every round since the mechanism shipped). Suppression predicate
    // per (base level lv, parent p): drop the key when the row lies in
    // p (the gate test) and lv >= p.level and lv != p's effective
    // child level. Applied ONLY for parents no other original cover
    // cell overlaps: an overlapping cell (e.g. a coarser cell of
    // another cover row, rebase-expanded onto lv) could legitimately
    // match rows inside p, and suppression would lose the pair. The
    // overlap check runs on the driver over the small distinct-cell list.
    val suppressByLevel: Map[Int, Seq[SplitParent]] = splitRes match {
      case Some(sr) if sr.skipReason.isEmpty =>
        val safe = sr.parents.filter { p =>
          val lo = Sid.intervalLo(p.cell); val hi = Sid.intervalHi(p.cell)
          !size.cellPairs.keysIterator.exists(c => c != p.cell &&
            Sid.intervalLo(c) < hi && lo < Sid.intervalHi(c))
        }
        baseLevels.toSeq.map { lv =>
          lv -> safe.filter { p =>
            // uniform split depth => one child level per parent
            val ecl = p.childLevels.map(cl => if (rebased && cl <= target) target else cl)
            lv >= p.level && !ecl.contains(lv)
          }
        }.filter(_._2.nonEmpty).toMap
      case _ => Map.empty
    }
    // candidate keys of a left row: one per base level, then the gated
    // split levels
    val keys: Seq[Column] = {
      val sidCol = col(leftSid)
      val base = baseLevels.toSeq.map { lv =>
        val k = stareClearTo(sidCol, lv)
        var cond = stareLevel(sidCol) >= lv
        suppressByLevel.getOrElse(lv, Seq.empty).foreach { p =>
          cond = cond && !(stareClearTo(sidCol, p.level) === p.cell)
        }
        when(cond, k)
      }
      val gated = parents.flatMap { p =>
        p.childLevels
          .filter(lv => (!rebased || lv > target) && !baseSet.contains(lv))
          .map { lv =>
            when(stareLevel(sidCol) >= lv &&
              stareClearTo(sidCol, p.level) === p.cell,
              stareClearTo(sidCol, lv))
          }
      }
      base ++ gated
    }
    val allKeys = explode(filter(array(keys: _*), c => c.isNotNull))
    val keyMatch = StareJoin.mixKey(col("__lk")) === StareJoin.mixKey(col("__rk"))
    // AQE's skew-join splitter still handles residual imbalance on the
    // non-broadcast builds
    chooseShape(JoinConf(left.sparkSession), keyedRightRows, size.rows, size.meanRowBytes,
      fullRowOk = joinType == "inner" || keys.size == 1) match {
      case FullRow(build, rowsBuild) =>
        // Full-row keyed right (r6, guide §2.3/§8): attach the right ROW
        // COLUMNS to the small keyed side BEFORE the big join (a
        // small⋈small join), so the big side crosses at most ONE exchange
        // and the join output is final — assembling by row id would
        // re-shuffle the entire joined output (24M rows at the bench, its
        // single largest cost). The split rewrite stays confined to the
        // key derivation: rightKeyedFinal carries (rid, key) from the
        // (possibly split/rebased) cells, the row columns come from the
        // ORIGINAL rightRows. A single-key left join is exact here: a
        // non-match is THE unmatched row, and a match has exact
        // multiplicity (cells within a cover row are disjoint, so one key
        // matches at most one cell per right row).
        val rightFull = rightKeyedFinal
          .join(rowsBuild(rightRows), col("__rid") === col("key_right"), "inner")
          .drop("__rid")
        val keyedLeft = left.withColumn("__lk", if (joinType == "inner") allKeys else keys.head)
        StareJoin.contractJoin(keyedLeft, rightFull, keyMatch, joinType, build)
      case Pairs(keysBuild, rowsBuild) =>
        // cover cells are disjoint after compression, so pairs are
        // already unique. A left join pairs stable row ids first, then
        // re-attaches unmatched left rows.
        val joined =
          if (joinType == "inner")
            left.withColumn("__lk", allKeys).join(keysBuild(rightKeyedFinal), keyMatch, "inner")
              .drop("__lk", "__rk")
          else {
            val leftIds = StareJoin.withStableId(left, "__stare_lid")
            val pairs = leftIds.select(col("__stare_lid"), col(leftSid))
              .withColumn("__lk", allKeys)
              .join(keysBuild(rightKeyedFinal), keyMatch, "inner")
              .select(col("__stare_lid"), col("__rid"))
            leftIds.join(pairs, Seq("__stare_lid"), "left").drop("__stare_lid")
          }
        StareJoin.assemble(joined, rightRows, joinType, rowsBuild)
    }
  }
}
