package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.core.Sid
import graft.functions.StareFunctions._

/** Distributed STARE spatial join (intersects predicate).
  *
  * Reference semantics (tools/stare_join.py:4-63): for each right row,
  * every left row whose SID set intersects the right row's SID set is
  * emitted; how='left' keeps unmatched left rows with null right
  * columns; clashing column names get _left/_right suffixes and a
  * key_right column carries the right row id.
  *
  * Spark-first plan — NOT the reference's O(L×R) nested loop: trixel
  * intervals are aligned quadtree ranges, so interval containment is an
  * EQUI-join on the cleared-to-level prefix key:
  *
  *     sid_a ⊇ sid_b  ⟺  clearTo(b, level(a)) == normalize(a)
  *
  * Three joins share that key rule and one output contract
  * (`contractJoin`):
  *  - `pointJoin` (scalar point sids vs array covers) has ONE local
  *    plan: the cover side is collected, expanded on the driver to its
  *    finest level and broadcast as a dictionary of full cover rows, so
  *    each point derives one key and the probe is the only pass over the
  *    big side. Every case that plan does not fit goes to
  *    `Skew.shuffleJoin`.
  *  - `Skew.shuffleJoin` partitions both sides. It has two output shapes
  *    (full right rows on the keyed side, or (row id, key) pairs plus a
  *    join-back by row id) and one chooser that picks the shape and
  *    every build from exact sizes.
  *  - `join` (covers vs covers) keys both containment directions, or
  *    runs an exact driver-local loop when both sides are small.
  */
object StareJoin {

  private final val LKey = "__stare_lkey"
  private final val RKey = "__stare_rkey"

  /** Bijective low-bit mix applied to BOTH sides of every sid-derived
    * long equi-join key (r6, the single largest headline-join cost):
    * Spark's LongToUnsafeRowMap slots a key by
    * ((key * 0x9E3779B9) ^ (product >> 32)) & mask — a 32-bit golden
    * multiply. A cover-level key is (locationPrefix << (5 + 2*(27-L)))
    * | L: at L=6 the low 47 bits are IDENTICAL across every key, so the
    * product's low 32 bits are constant and the varying bits land at
    * positions 15-31 — masked out for any map under ~4B slots. Every
    * level-6 cover cell therefore hashed into ONE linear-probe cluster,
    * and each of the 16M bench probes walked a ~7k-entry chain:
    * measured 160 core-seconds (~10 core-µs/row) against 0.28 s for an
    * equal-cardinality dense-key join; fixed, the probe is ~40x cheaper
    * (OPTIMIZATION_r06.md).
    *
    * key ^ (key >>> 31) is invertible (xorshift), null-preserving, and
    * moves every cover level's meaningful bits (positions 5..61) into
    * the golden multiply's low 32 bits, so equality — and hence the
    * join's match set — is EXACTLY preserved while slots spread. Row-id
    * join-backs (packed partition<<40|pos ids) already vary in their
    * low bits and stay unmixed. */
  private[operators] def mixKey(c: Column): Column =
    c.bitwiseXOR(shiftrightunsigned(c, 31))

  /** The Spark join type for `how`, checked before any job runs. */
  private[operators] def checkHow(how: String): String = how match {
    case "left" | "inner" => how
    case other            => throw new IllegalArgumentException(s"how=$other (left|inner)")
  }

  /** The exact minimum sid level of `df`, from one narrow aggregate
    * job; Sid.MaxLevel when `df` is empty. */
  private[operators] def minLevel(df: DataFrame, sid: String): Int =
    df.agg(coalesce(min(stareLevel(col(sid))), lit(Sid.MaxLevel.toLong))).collect()(0).getLong(0).toInt

  /** ancestor keys of a sid for the given candidate levels, keeping only
    * levels at or above the sid's own level. */
  private def ancestorKeys(sid: Column, levels: Array[Int]): Column =
    filter(array(levels.map(l => when(stareLevel(sid) >= l, stareClearTo(sid, l))): _*),
      c => c.isNotNull)

  /** Point-left join: left has a scalar sid column (points at a fine
    * level), right has an array cover column. Returns the joined frame
    * with all left columns, `key_right`, and right columns (clashes
    * suffixed). This is the 100TB-shape join.
    *
    * One local plan, the full-row dictionary: the cover side is
    * collected, each compressed cover is expanded to the finest cover
    * level, and the full right rows keyed by those cells are broadcast.
    * Every point derives exactly ONE cleared key, so the probe is the
    * only pass over the big side. Expansion is per right row over
    * disjoint cells, so pair multiplicity is unchanged. Every other case
    * is routed to `Skew.shuffleJoin`, which has the same pair semantics
    * and output contract:
    *  - the right side is over `maxBroadcastRows` rows or ~512 MB;
    *  - the dictionary would exceed 4M keys or 256 MB;
    *  - the cover has several levels and some left sid is coarser than
    *    the finest one (one key per row would lose that row's match).
    * Past the collect, the shuffle join gets the collected rows as a
    * local frame plus the min left level already computed, so neither
    * the right plan nor the left min-level aggregate runs twice.
    *
    * PRECONDITION: left sids must be at least as fine as the cover
    * cells they should match — only the cover-contains-point direction
    * is implemented. A left sid COARSER than a cover cell derives no key
    * at that cell's level and never matches (use join() for
    * cover-vs-cover semantics). Fine-level point tables (level 26/27) vs
    * polygon covers (level <= ~12) always satisfy this.
    *
    * `knownMinLeftLevel`: callers that KNOW their minimum left sid
    * level (e.g. a table indexed at level 26) pass it so the per-row
    * level guard constant-folds away. This matters when the sid column
    * is itself an unevaluated encode expression: projection collapse
    * otherwise re-inlines the encode into the guard and the pushed
    * null-check, evaluating the kernel up to 3x per row (measured ~2x
    * headline join throughput). */
  def pointJoin(left: DataFrame, leftSid: String, right: DataFrame, rightSids: String,
                how: String = "left", knownMinLeftLevel: Option[Int] = None,
                maxBroadcastRows: Int = 1 << 20): DataFrame = {
    val joinType = checkHow(how)
    def viaShuffle(r: DataFrame, minLeftLevel: Option[Int]): DataFrame =
      Skew.shuffleJoin(left, leftSid, r, rightSids, how = how, knownMinLeftLevel = minLeftLevel)
    // Guard the by-design assumption instead of trusting the caller: the
    // cover side is about to be collect()ed to the driver. One SMALL
    // probe collect answers the common case (covers of a few rows)
    // outright AND doubles as the byte-width sample; bigger sides pay
    // one count plus a byte estimate before the full collect. A
    // row-count-only guard would still OOM on count-compliant frames
    // with fat payload rows. The right frame is persisted ACROSS the
    // guard so probe + count + collect evaluate each partition of the
    // right plan at most ~once (r3 verdict item 8: the un-cached guard
    // scheduled up to 3 full evaluations for 1000..1M-row covers); the
    // cache is dropped before returning on every path.
    val spark = left.sparkSession
    val probeCap = math.min(1000, maxBroadcastRows)
    val maxBroadcastBytes = 512L * 1024 * 1024
    // persist only when the caller hasn't: an unconditional persist +
    // unpersist would silently DROP a caller's own cache (KnnJoin
    // persists its reusable sides across rounds)
    val weCached = right.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (weCached) right.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val collected: Array[Row] =
      try {
        val probe = right.limit(probeCap + 1).collect()
        val n = if (probe.length <= probeCap) probe.length.toLong else right.count()
        if (n > maxBroadcastRows || approxRowBytes(probe) * n > maxBroadcastBytes)
          return viaShuffle(right, knownMinLeftLevel)
        if (probe.length <= probeCap) probe else right.collect()
      } finally if (weCached) right.unpersist(false)

    // compressed cover cells per collected row, computed ONCE on the
    // driver: they feed the level set and the per-ROW expansion budget.
    // Canonical covers are non-nested, so a point matches at most one
    // cell per right row — no pair dedup is ever needed.
    val sidsIdx = right.schema.fieldIndex(rightSids)
    val perRowCells: Array[Array[Long]] = collected.map { r =>
      val s = r.getSeq[Long](sidsIdx)
      if (s == null) Array.emptyLongArray else Sid.compress(s.toArray)
    }
    val levelHist = perRowCells.iterator.flatMap(_.iterator).map(Sid.level).toSeq
      .groupMapReduce(identity)(_ => 1L)(_ + _)
    // all covers empty: the dictionary is empty, so inner joins nothing
    // and left pads every row with null right columns
    val maxLevel = if (levelHist.isEmpty) 0 else levelHist.keys.max
    // Expansion cost summed over ROWS, not distinct keys: the dictionary
    // expands the cover per right row, so duplicate covers multiply the
    // broadcast.
    val keyBudget = 4L * 1024 * 1024
    val expansionCost = Skew.expandedCells(levelHist, maxLevel)
    // A one-level dictionary probes every left row at exactly ONE level,
    // so it is only SOUND when every left sid is at least as fine as the
    // finest cover cell: a left row with level in [cellLevel, maxLevel)
    // is contained by a coarse cell but would derive no key at maxLevel
    // and silently lose that match. A single-level cover needs no check
    // — a row coarser than the only level is matchless under the
    // containment contract and its null key is exact. Otherwise the
    // declared min left level decides, or — when the caller declared
    // nothing — one narrow column-pruned agg job over the left sid
    // column does; the shuffle join reuses its answer.
    val minLeftLevel: Option[Int] =
      if (levelHist.size <= 1 || expansionCost > keyBudget) knownMinLeftLevel
      else knownMinLeftLevel.orElse(Some(minLevel(left, leftSid)))
    val dictSafe = expansionCost <= keyBudget &&
      (levelHist.size <= 1 || minLeftLevel.exists(_ >= maxLevel))
    // a BYTE cap on expansionCost x measured row width too: a fat cover
    // side (wide payload columns, big sid arrays) duplicated per
    // expanded cell would otherwise build a multi-GB broadcast
    if (!dictSafe || expansionCost * approxRowBytes(collected) > 256L * 1024 * 1024)
      return viaShuffle(spark.createDataFrame(java.util.Arrays.asList(collected: _*), right.schema),
        minLeftLevel)

    // The cover side fits in a broadcast, so assign row ids on the
    // driver: deterministic across every reuse of the frame (no
    // monotonically_increasing_id re-evaluation hazard) and no lingering
    // persist() that pressures the executor cache across queries.
    val rightRows = {
      val schema = org.apache.spark.sql.types.StructType(
        right.schema.fields :+ org.apache.spark.sql.types.StructField("key_right", org.apache.spark.sql.types.LongType, nullable = false))
      val rows: java.util.List[Row] =
        java.util.Arrays.asList(collected.zipWithIndex.map { case (r, i) =>
          Row.fromSeq(r.toSeq :+ i.toLong)
        }: _*)
      spark.createDataFrame(rows, schema)
    }
    val expandAll = udf((sids: Seq[Long]) => Sid.expandToLevel(sids.toArray, maxLevel))
    val rightUniform = rightRows.withColumn(RKey, explode(expandAll(stareCompress(col(rightSids)))))
    // Coarser left rows get a null key => no match, never a wrong match.
    // With a known-fine left the guard drops at plan time (one encode
    // evaluation per row instead of three — see method doc).
    // knownMinLeftLevel also implies non-null sids (an indexed table),
    // so the key is marked KnownNotNull: without it the planner infers
    // an IsNotNull(key) filter that re-evaluates the key expression —
    // i.e. a second encode per row when sid is an unevaluated encode.
    val leftKeyed = knownMinLeftLevel match {
      case Some(ml) if ml >= maxLevel =>
        left.withColumn(LKey, graft.functions.NativeExpressions.knownNotNull(
          stareClearTo(col(leftSid), maxLevel)))
      case _ => left.withColumn(LKey,
        when(stareLevel(col(leftSid)) >= maxLevel, stareClearTo(col(leftSid), maxLevel)))
    }
    // for how='left' a point matching nothing keeps one row with all-null
    // right columns — exactly stare_join's left semantics, no key filter
    // needed because there is a single key per row
    contractJoin(leftKeyed, rightUniform, mixKey(col(LKey)) === mixKey(col(RKey)), joinType,
      Build.Broadcast)
  }

  /** Rough in-memory width of one row (bytes): the per-row figure every
    * build size in the join family is measured with. */
  private[operators] def rowBytes(row: Row): Long = {
    def sz(v: Any): Long = v match {
      case null          => 8L
      case s: String     => 40L + 2L * s.length
      case a: Seq[_]     => 40L + a.iterator.map(sz).sum
      case a: Array[_]   => 40L + a.iterator.map(sz).sum
      case m: Map[_, _]  => 48L + m.iterator.map { case (k, w) => sz(k) + sz(w) }.sum
      case r: Row        => rowBytes(r)
      case _             => 8L
    }
    16L + row.toSeq.iterator.map(sz).sum
  }

  /** Mean `rowBytes` of collected rows — drives the dictionary-plan
    * byte budget. Samples <= ~100 rows evenly. */
  private[operators] def approxRowBytes(rows: Array[Row]): Long = {
    if (rows.isEmpty) return 16L
    val step = math.max(1, rows.length / 100)
    val sampled = rows.indices.by(step).map(rows(_))
    math.max(16L, sampled.iterator.map(rowBytes).sum / sampled.length)
  }

  /** Stable, deterministic row ids, packed (partition << 40 | pos):
    * unlike monotonically_increasing_id (whose values can change if a
    * cached frame is recomputed under a different physical layout) the
    * assignment is a pure function of the partitioned input lineage, so
    * the frame can be reused across joins with NO persist — cache
    * hygiene with correctness intact. Unlike content-hash ids there are
    * no birthday collisions (~rows²/2^65 silently merged row identities
    * at 10^12 rows, i.e. wrong join multiplicity).
    *
    * Round-4 rework (r3 verdict item 1): the previous rdd.zipWithIndex
    * ran one extra Spark job (partition counts) that re-evaluated the
    * whole upstream plan, plus an InternalRow->Row->InternalRow round
    * trip; the packed id needs ZERO extra jobs and stays on
    * InternalRows (shim.withPackedIdColumn). Ids are unique and stable
    * but not contiguous — no caller depends on contiguity.
    *
    * Order stabilization (ADVICE r5): packed ids are a function of
    * intra-partition row ORDER, which an exchange-bearing lineage does
    * not guarantee across the two subtrees that evaluate the id frame
    * (pair derivation + join-back). When the optimized plan carries an
    * exchange, rows are first sorted WITHIN partitions by every
    * orderable column — no extra shuffle, no cache, and the id becomes
    * a pure function of partition CONTENT (hash partitioning fixes
    * content; only arrival order was unstable). Scan/narrow/cached
    * lineages — every hot bench path — skip the sort entirely. */
  private[operators] def withStableId(df: DataFrame, name: String): DataFrame = {
    val shim = org.apache.spark.sql.graft.shim
    val stabilized =
      if (!shim.hasOrderHazard(df)) df
      else {
        val orderable = df.schema.fields.filter(f => shim.isOrderable(f.dataType))
          .map(f => col(f.name))
        if (orderable.nonEmpty) df.sortWithinPartitions(orderable.toIndexedSeq: _*)
        else {
          // nothing to sort by (every column non-orderable, e.g. all
          // maps): fall back to persisting the frame, so both subtrees
          // of the consuming join read ONE materialization — block-level
          // locking means each partition is computed once and the id is
          // assigned on that single computation. The pin is deliberate
          // and logged; silently proceeding risked mismatched ids.
          System.err.println(
            s"[stare_join] withStableId($name): exchange-bearing lineage with no orderable " +
              "columns — persisting the id frame to pin row order (cache not auto-released)")
          df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        }
      }
    shim.withPackedIdColumn(stabilized, name)
  }

  /** General cover-vs-cover join (both sides array covers).
    *
    * Fixed-cost budget (r3 verdict item 1): both sides' level sets come
    * from ONE combined job (not two collects), stable ids cost zero
    * extra jobs (withStableId), and the strictly-coarser direction B —
    * with its join + filter subplan — is built only when some left
    * level is actually coarser than the finest right level. */
  def join(left: DataFrame, leftSids: String, right: DataFrame, rightSids: String,
           how: String = "left"): DataFrame = {
    val joinType = checkHow(how)
    // Small-sides fast path (r6, guide §1.2): both sides of a general
    // cover×cover join pass through withStableId, whose RDD round-trip
    // erases size statistics — every downstream join then plans as a
    // SortMergeJoin cascade (measured: 20 Exchanges for an 8×8-row
    // join). When BOTH sides fit a driver probe, the exact pair set is
    // one interval-intersection loop (the fuzz suite's own reference
    // kernel) and the result a LocalRelation with known stats.
    // Conf-gated (spark.graft.join.localCoverCap, rows per side; 0
    // disables) so tests exercise both paths.
    val localCap = try left.sparkSession.conf
        .get("spark.graft.join.localCoverCap", "1024").toInt
      catch { case _: Exception => 1024 }
    if (localCap > 0) {
      val lp = left.limit(localCap + 1).collect()
      if (lp.length <= localCap) {
        val rp = right.limit(localCap + 1).collect()
        if (rp.length <= localCap &&
          approxRowBytes(lp) * lp.length + approxRowBytes(rp) * rp.length <=
            128L * 1024 * 1024)
          return localJoin(left.sparkSession, lp, left.schema, leftSids,
            rp, right.schema, rightSids, joinType)
      }
    }
    // both level sets in one tiny aggregation job
    val lv = left.select(lit(1).as("side"), explode(col(leftSids)).as("s"))
      .unionByName(right.select(lit(2).as("side"), explode(col(rightSids)).as("s")))
      .select(col("side"), stareLevel(col("s")).as("l"))
      .distinct().collect()
    val llevels = lv.filter(_.getInt(0) == 1).map(_.getLong(1).toInt).sorted
    val rlevels = lv.filter(_.getInt(0) == 2).map(_.getLong(1).toInt).sorted

    val leftIds = withStableId(left, "__lid")
    val rightIds = withStableId(right, "key_right")

    val le = leftIds.select(col("__lid"), explode(col(leftSids)).as("__ls"))
    val re = rightIds.select(col("key_right").as("__rid"), explode(col(rightSids)).as("__rs"))

    // direction A: right sid contains left sid (left key cleared to right levels)
    val a = le.withColumn(LKey, explode(ancestorKeys(col("__ls"), rlevels)))
      .join(re.withColumn(RKey, stareClearToOwn(col("__rs"))), mixKey(col(LKey)) === mixKey(col(RKey)))
      .select(col("__lid"), col("__rid"))
    // direction B: left sid contains right sid (strictly coarser to avoid
    // double-count); provably empty — and skipped wholesale — when no
    // left level is coarser than the finest right level
    val bLevels = if (rlevels.isEmpty) Array.empty[Int] else llevels.filter(l => l < rlevels.max)
    val ab = if (bLevels.isEmpty) a else {
      val b = re.withColumn(RKey, explode(ancestorKeys(col("__rs"), bLevels)))
        .join(le.withColumn(LKey, stareClearToOwn(col("__ls"))), mixKey(col(LKey)) === mixKey(col(RKey)))
        .filter(stareLevel(col("__ls")) < stareLevel(col("__rs")))
        .select(col("__lid"), col("__rid"))
      a.union(b)
    }

    val pairs = ab.distinct()
      .withColumnRenamed("__lid", "__plid").withColumnRenamed("__rid", "__rid")

    val joined = leftIds.join(pairs, leftIds("__lid") === pairs("__plid"), "left")
      .drop("__lid", "__plid")
    assemble(joined, rightIds, joinType, Build.SortMerge)
  }

  /** Driver-local general join over two collected sides: exact
    * interval-intersects in both directions (Sid.anyIntersects over
    * merged intervals — the same reference kernel the equivalence fuzz
    * asserts against), with join()'s output contract: left columns,
    * key_right (dense 0..n-1 right row ids, like pointJoin's), right
    * columns, clashes suffixed, how=left emitting one all-null right
    * row per unmatched left row. */
  private def localJoin(spark: org.apache.spark.sql.SparkSession,
                        leftRows: Array[org.apache.spark.sql.Row],
                        leftSchema: org.apache.spark.sql.types.StructType, leftSids: String,
                        rightRows: Array[org.apache.spark.sql.Row],
                        rightSchema: org.apache.spark.sql.types.StructType, rightSids: String,
                        how: String): DataFrame = {
    val lIdx = leftSchema.fieldIndex(leftSids)
    val rIdx = rightSchema.fieldIndex(rightSids)
    def cells(r: org.apache.spark.sql.Row, i: Int): Array[Long] = {
      val s = if (r.isNullAt(i)) null else r.getSeq[Long](i)
      if (s == null) Array.emptyLongArray else s.toArray
    }
    val rightCells = rightRows.map(cells(_, rIdx))
    val rightIntervals = rightCells.map(c =>
      if (c.isEmpty) Array.empty[(Long, Long)] else Sid.mergedIntervals(c))
    val (lNames, rNames) = clashRenames(leftSchema.fieldNames, rightSchema.fieldNames)
    def suffixed(s: org.apache.spark.sql.types.StructType, names: Map[String, String],
                 forceNull: Boolean) =
      s.fields.map(f => f.copy(name = names.getOrElse(f.name, f.name),
        nullable = f.nullable || forceNull))
    val outSchema = org.apache.spark.sql.types.StructType(
      suffixed(leftSchema, lNames, forceNull = false) ++
        (org.apache.spark.sql.types.StructField("key_right",
          org.apache.spark.sql.types.LongType, nullable = how == "left") +:
          suffixed(rightSchema, rNames, forceNull = how == "left")))
    val nullRight: Seq[Any] = Seq.fill(rightSchema.fields.length + 1)(null)
    val out = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
    leftRows.foreach { lr =>
      val lc = cells(lr, lIdx)
      var matched = false
      if (lc.nonEmpty) {
        var j = 0
        while (j < rightRows.length) {
          if (rightCells(j).nonEmpty && Sid.anyIntersects(lc, rightIntervals(j))) {
            matched = true
            out += org.apache.spark.sql.Row.fromSeq(
              lr.toSeq ++ (j.toLong +: rightRows(j).toSeq))
          }
          j += 1
        }
      }
      if (!matched && how == "left")
        out += org.apache.spark.sql.Row.fromSeq(lr.toSeq ++ nullRight)
    }
    spark.createDataFrame(java.util.Arrays.asList(out.toSeq: _*), outSchema)
  }

  /** Columns the output contract neither suffixes nor keeps: the join
    * keys and the row id (`key_right` is placed by `contractJoin`). */
  private val Internal = Set(LKey, RKey, "__lk", "__rk", "__rid", "key_right")

  /** The contract's clash rule, in one place: a column named on both
    * sides becomes `name_left` on the left and `name_right` on the
    * right. Returns the (left, right) renames. */
  private def clashRenames(leftCols: Seq[String],
                           rightCols: Seq[String]): (Map[String, String], Map[String, String]) = {
    val clash = leftCols.toSet.intersect(rightCols.toSet) -- Internal
    (clash.map(c => c -> (c + "_left")).toMap, clash.map(c => c -> (c + "_right")).toMap)
  }

  /** Joins `left` to `right` (which carries `key_right`) on `on` under the
    * output contract: clashing columns suffixed, then the left columns,
    * `key_right`, and the right columns (test_join.py:77-81). `build`
    * plans the right side. */
  private[operators] def contractJoin(left: DataFrame, right: DataFrame, on: Column,
                                      joinType: String, build: Build): DataFrame = {
    val lCols = left.columns.filterNot(Internal)
    val rCols = right.columns.filterNot(Internal)
    val (lNames, rNames) = clashRenames(lCols.toSeq, rCols.toSeq)
    val l = lNames.foldLeft(left) { case (df, (c, n)) => df.withColumnRenamed(c, n) }
    val r = rNames.foldLeft(right) { case (df, (c, n)) => df.withColumnRenamed(c, n) }
    val out = l.join(build(r), on, joinType)
    out.select((lCols.map(c => out(lNames.getOrElse(c, c))) :+ out("key_right")) ++
      rCols.map(c => out(rNames.getOrElse(c, c))): _*)
  }

  /** The row-id join-back: attaches the right rows to (left columns,
    * `__rid`) pairs. */
  private[operators] def assemble(leftWithRid: DataFrame, rightRows: DataFrame, joinType: String,
                                  build: Build): DataFrame =
    contractJoin(leftWithRid, rightRows, col("__rid") === col("key_right"), joinType, build)
}

/** How a join plans its build side. `SortMerge` adds no hint: the join
  * family's lineages carry no size statistics, so Catalyst then plans a
  * sort-merge join (which spills gracefully for huge sides). */
private[operators] sealed abstract class Build(plan: DataFrame => DataFrame) {
  def apply(df: DataFrame): DataFrame = plan(df)
}
private[operators] object Build {
  case object Broadcast extends Build(df => broadcast(df))
  case object ShuffleHash extends Build(_.hint("shuffle_hash"))
  case object SortMerge extends Build(identity)
}
