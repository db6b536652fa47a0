package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed forms of operations whose naive Spark expression funnels
  * the whole dataset through ONE task (the "No Partition Defined for
  * Window operation" warning — a scale-killer at 100 TB, where a
  * global window means one executor sorts everything).
  */
object Distributed {

  /** Exact SQL `ntile(n) OVER (ORDER BY sort…)` without a
    * single-partition window.
    *
    * Shape: range-repartition by the sort key (so partition p holds a
    * contiguous, ordered key range), count rows per partition (one
    * O(P)-row job; the driver holds P scalars), broadcast the
    * cumulative offsets back, and compute each row's GLOBAL 0-based
    * rank as `offset(p) + row_number() within p` — a PARTITIONED
    * window, never a global one. The bucket then follows SQL ntile
    * semantics exactly: with N rows the first `N mod n` buckets get
    * `N/n + 1` rows, the rest `N/n`.
    *
    * The ranged frame is read twice (count job + final job), so it is
    * pinned by an eager localCheckpoint: the range partitioner's
    * reservoir sampling is seeded with the RDD id, which CHANGES
    * between executions of the same DataFrame — without the pin the
    * two jobs can draw different boundaries and the broadcast offsets
    * silently misalign with the final job's partitions (caught by the
    * sf0.1 oracle sweep: 58/1500 rows crossed a bucket). At 100 TB
    * this is the classic two-pass distributed ranking — the
    * materialization holds one partition per task, and the only
    * driver state is P counts.
    *
    * `sort` must be a TOTAL order (append a unique key) — ntile on a
    * non-total order is nondeterministic in any engine.
    */
  def globalNtile(df: DataFrame, n: Int, sort: Seq[Column], out: String)
      : DataFrame = {
    val (ranked, total, rankCol) = globalRank0(df, sort, out)
    val rank0 = col(rankCol)
    val small = total / n // rows in each of the later buckets
    val big   = total % n // leading buckets holding one extra row
    val cut   = big * (small + 1)
    // integer division via truncating cast: exact for rank < 2^52
    def idiv(a: Column, b: Long) = (a / lit(b)).cast("long")
    val bucket =
      if (small == 0) rank0 + 1 // fewer rows than buckets
      else
        when(rank0 < cut, idiv(rank0, small + 1) + 1)
          .otherwise(lit(big) + idiv(rank0 - cut, small) + 1)
    ranked.withColumn(out, bucket.cast("int")).drop(rankCol)
  }

  /** Exact GLOBAL 0-based `row_number() OVER (ORDER BY sort…) - 1`
    * without a single-partition window — the two-pass ranked frame
    * [[globalNtile]] is built on, exposed for operators that need the
    * rank itself (e.g. snake-order shard balancing). Returns the frame
    * with the rank in column `__rank0_$tag`, the total row count, and
    * that column's name. `sort` must be a total order.
    */
  /** Exact global running sum `sum(value) OVER (ORDER BY sort… ROWS
    * UNBOUNDED PRECEDING)` without a single-partition window — the
    * prefix-sum sibling of [[globalRank0]]: range-repartition on the
    * sort key (pinned by localCheckpoint against re-sampled
    * boundaries), one O(P)-row job collecting each partition's total,
    * broadcast the exclusive prefix offsets back, then a PARTITIONED
    * running sum plus the partition offset. `value` must be integral
    * (it is cast to long; exact for |Σ| < 2^63); `sort` must be a
    * total order so the running sum is well-defined. Driver state is
    * P scalars; every task holds one contiguous key range.
    */
  def globalCumSum(df: DataFrame, sort: Seq[Column], value: Column,
      out: String): DataFrame = {
    val spark  = df.sparkSession
    val p      = spark.sessionState.conf.numShufflePartitions
    val pidCol = s"__pid_$out"
    val offCol = s"__off_$out"
    val valCol = s"__val_$out"
    val ranged = df.withColumn(valCol, value.cast("long"))
      .repartitionByRange(p, sort: _*)
      .withColumn(pidCol, spark_partition_id())
      .localCheckpoint()
    val sums = ranged.groupBy(pidCol)
      .agg(sum(col(valCol)).as("s")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = sums.map(_._1).zip(
      sums.scanLeft(0L)(_ + _._2).dropRight(1))
    import spark.implicits._
    val offDf = offsets.toSeq.toDF(pidCol, offCol)
    val w = Window.partitionBy(pidCol).orderBy(sort: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranged.join(broadcast(offDf), Seq(pidCol))
      .withColumn(out, col(offCol) + sum(col(valCol)).over(w))
      .drop(pidCol, offCol, valCol)
  }

  def globalRank0(df: DataFrame, sort: Seq[Column], tag: String)
      : (DataFrame, Long, String) = {
    val spark  = df.sparkSession
    val p      = spark.sessionState.conf.numShufflePartitions
    val pidCol  = s"__pid_$tag"
    val offCol  = s"__off_$tag"
    val rankCol = s"__rank0_$tag"
    val ranged = df.repartitionByRange(p, sort: _*)
      .withColumn(pidCol, spark_partition_id())
      .localCheckpoint()
    val counts = ranged.groupBy(pidCol).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val total  = counts.map(_._2).sum
    val offsets = counts.map(_._1).zip(
      counts.scanLeft(0L)(_ + _._2).dropRight(1))
    import spark.implicits._
    val offDf = offsets.toSeq.toDF(pidCol, offCol)

    val w = Window.partitionBy(pidCol).orderBy(sort: _*)
    val ranked = ranged
      .join(broadcast(offDf), Seq(pidCol))
      .withColumn(rankCol, col(offCol) + row_number().over(w) - 1)
      .drop(pidCol, offCol)
    (ranked, total, rankCol)
  }

  /** Join a corpus-side `probe` to a model/vocabulary-sized `build`
    * frame on `keys`, gating the broadcast hint on the build side's
    * actual row count — [[Layout.applyDeletionVectors]]'s size-gate
    * pattern generalized to every trained-model join (NB classifier
    * weights, tokenizer piece-count tables, near-dup cluster labels).
    *
    * Why a gate and not an unconditional hint: these frames are keyed
    * on the corpus vocabulary (or the near-dup membership) —
    * Heaps-sublinear but UNBOUNDED. A web corpus's raw-token
    * vocabulary runs 10⁸–10⁹ entries once URLs, typos, and code land,
    * and forcing that through a driver broadcast is an OOM, not a
    * plan choice. Under `maxBroadcastRows` the model broadcasts (zero
    * shuffle of the probe side); above it the join falls back to a
    * key-partitioned shuffle join, co-partitioning the exploded
    * corpus stream with the model on the join key. Both arms are
    * plan-asserted (ClassifierSpec).
    *
    * `buildRows` is counted by the caller — every model frame in the
    * repo is memoized and localCheckpoint-pinned, so the count is a
    * cheap job over pinned blocks, not a recompute of the training
    * pass.
    *
    * The default threshold is MEASURED, not asserted
    * (graft.tools.ModelJoinProbe, SCALE.md: model-shaped build —
    * 32-hex token key + 3 BIGINTs — against a 2·10⁷-row probe stream,
    * auto-broadcast disabled, medians of 3): broadcast beats the
    * shuffle join 2.2× at 10⁵ rows (3.18 vs 6.85 s) and 1.5× at 10⁶
    * (4.71 vs 7.08 s); the arms cross near 4·10⁶ (7.56 vs 8.01 s) and
    * by 10⁷ broadcast is 1.46× SLOWER (14.22 vs 9.76 s) — the old 10⁷
    * default sat past its own crossover. 10⁶ keeps a decade of margin
    * below the measured local crossover, which matters because
    * local[n] understates broadcast cost: a real cluster re-ships the
    * collected model once per executor, so the true crossover only
    * moves DOWN from the measured one.
    *
    * The shuffle arm under Zipfian key skew is ALSO measured
    * (graft.tools.SkewJoinProbe, SCALE.md round 13): AQE's
    * OptimizeSkewedJoin splits the hot token's partition
    * (`skew=true`, median task 40× faster) once the run is in the
    * regime a production shuffle is always in — hot partition's
    * compressed bytes above the detector's absolute floor, partition
    * count high enough that the row factor clears 5× despite the
    * repeated key's compression discount. No salting: whole-join
    * salting measured 3.5× SLOWER (build-side replication dominates);
    * the mechanism is plan-asserted deterministically in
    * Round13BatchSpec.
    */
  def modelJoin(probe: DataFrame, build: DataFrame, buildRows: Long,
      keys: Seq[String], joinType: String = "inner",
      maxBroadcastRows: Long = 1000000L): DataFrame = {
    val hinted = if (buildRows <= maxBroadcastRows) broadcast(build) else build
    probe.join(hinted, keys, joinType)
  }

  /** Exact LOWER MEDIAN of a BIGINT column — the smallest value v with
    * 2·cum(v) ≥ n (the repo's determinate-on-ties convention) — by
    * RADIX BUCKET SELECTION instead of a ranged cum-sum: ≤ 4
    * aggregate passes over `df` at the [[radixLevels]] ladder
    * (arithmetic shiftright is order-preserving, negatives included),
    * each collecting ≤ 2¹⁷ (bucket, count) rows and narrowing to the
    * bucket whose cumulative count crosses n/2.
    *
    * Versus the [[globalCumSum]] form this replaces for the pair-slope
    * median: no range repartition of the value stream (the shuffles
    * here carry ≤ 2¹⁷ partially-aggregated bucket rows), no
    * partitioned window, no checkpoint of the shuffled stream, and no
    * driver ordering of anything larger than one bucket level. The
    * caller should pin `df` (localCheckpoint) when its lineage is
    * expensive — the level passes each re-read it.
    *
    * `n` must be `df`'s exact row count (the caller usually knows it
    * in closed form). Returns None for n ≤ 0. Driver state: ≤ 4·2¹⁷
    * scalars, independent of the data scale.
    */
  /** Radix levels (shift amounts) for a value range: the highest level
    * must bucket [lo, hi] into ≤ 2¹⁷ buckets so every per-level
    * collect is bounded, and each refinement gap is ≤ 17 bits (the
    * filtered stream then lands in ≤ 2¹⁷ buckets again). The top shift
    * is the smallest that clears the cap — not a multiple of the gap —
    * so a 2⁵¹ range resolves in THREE passes (shifts 34/17/0) where
    * the former 16-bit ladder took four (48/32/16/0); each level pass
    * is a full scan of the (pinned) value stream, so one fewer level
    * is one fewer scan (measured on q_theil_sen's 2.89 M-row pair
    * stream, r14). Driver state stays ≤ #levels · 2¹⁷ scalars,
    * independent of the data scale. A range within one bucket width
    * needs only the exact level.
    */
  private def radixLevels(lo: Long, hi: Long): Seq[Int] = {
    val range = BigInt(hi) - BigInt(lo) // exact for the full Long domain
    var top = 0
    while ((range >> top) >= (1L << 17)) top += 1
    val ladder = top to 0 by -17
    if (ladder.last == 0) ladder else ladder :+ 0
  }

  /** `bounds`: a PROVABLY-enclosing (lo, hi) the caller already knows
    * (e.g. from arithmetic on an existing aggregate) — skips the
    * min/max stats job. Wider-than-actual bounds only add a vacuous
    * top level; narrower bounds would be wrong.
    */
  def lowerMedianLong(df: DataFrame, value: Column, n: Long,
      bounds: Option[(Long, Long)] = None): Option[Long] = {
    if (n <= 0) return None
    val v = value.cast("long")
    // the level ladder: a narrow value range (cents, ppm scores)
    // resolves in 1–2 bucket passes instead of a fixed 3, and a wide
    // one (2⁴⁸+) stays driver-bounded
    val (lo, hi) = bounds.getOrElse {
      val mm = df.agg(min(v).as("lo"), max(v).as("hi")).collect()(0)
      if (mm.isNullAt(0)) return None
      (mm.getLong(0), mm.getLong(1))
    }
    val levels = radixLevels(lo, hi)
    var cond: Column = lit(true)
    var before = 0L
    var result: Option[Long] = None
    for (sh <- levels) {
      val cnts = df.filter(cond)
        .groupBy(shiftright(v, sh).as("bk"))
        .agg(count(lit(1)).as("c"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .sortBy(_._1)
      var cum = before
      var found: Option[(Long, Long)] = None // (bucket, cum before it)
      val it = cnts.iterator
      while (found.isEmpty && it.hasNext) {
        val (bk, c) = it.next()
        if (2 * (cum + c) >= n) found = Some((bk, cum)) else cum += c
      }
      found match {
        case None => return None // empty frame (inconsistent n)
        case Some((bk, cumBefore)) =>
          before = cumBefore
          cond = cond && (shiftright(v, sh) === lit(bk))
          if (sh == 0) result = Some(bk)
      }
    }
    result
  }

  /** [[lowerMedianLong]] per GROUP, weighted: for each value of the
    * string `group` column, the smallest v with 2·cumweight(v) ≥
    * totalweight(group). Groups are selected in lockstep — each radix
    * level is ONE aggregate pass computing every group's bucket counts
    * (≤ #groups · 2¹⁷ collected rows per level), so the total job
    * count stays 1 (totals) + #levels regardless of group count.
    * For the per-category medians this serves (return-flag groups),
    * #groups is catalog-bounded. The caller pins `df` when its lineage
    * is expensive. Returns (group → lower median); groups with zero
    * total weight are absent.
    */
  /** `statsIn`: caller-provided per-group (total weight, lo, hi) when
    * those are already known — in closed form from an earlier
    * aggregate (e.g. the deviation stream's bounds derive from the
    * value stream's stats once the median is known: n is unchanged,
    * lo = 0 is provably enclosing because the lower median is an
    * attained value, hi = max(hi − med, med − lo)) — skipping this
    * function's own stats job. Bounds may be wider than actual
    * (vacuous top levels only); narrower would be wrong.
    */
  def groupedLowerMedianLong(df: DataFrame, group: Column, value: Column,
      weight: Column,
      statsIn: Option[Seq[(String, Long, Long, Long)]] = None)
      : Map[String, Long] = {
    val v = value.cast("long")
    val wt = weight.cast("long")
    // totals + the level ladder's min/max ride ONE job
    val stats = statsIn.getOrElse {
      df.groupBy(group.as("g"))
        .agg(sum(wt).as("n"), min(v).as("lo"), max(v).as("hi"))
        .collect().map(r =>
          (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
    }.filter(_._2 > 0)
    if (stats.isEmpty) return Map.empty
    val totals = stats.map(t => t._1 -> t._2).toMap
    val levels = radixLevels(stats.map(_._3).min, stats.map(_._4).max)
    var conds: Map[String, Column] = totals.keys.map(_ -> lit(true)).toMap
    var before: Map[String, Long] = totals.keys.map(_ -> 0L).toMap
    var result: Map[String, Long] = Map.empty
    for (sh <- levels) {
      val levelCond = conds.map { case (g, c) => (group === lit(g)) && c }
        .reduce(_ || _)
      val cnts = df.filter(levelCond)
        .groupBy(group.as("g"), shiftright(v, sh).as("bk"))
        .agg(sum(wt).as("c"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1)
      for (g <- totals.keys) {
        val buckets = cnts.getOrElse(g, Array.empty).map(t => (t._2, t._3))
          .sortBy(_._1)
        var cum = before(g)
        var found: Option[(Long, Long)] = None
        val it = buckets.iterator
        while (found.isEmpty && it.hasNext) {
          val (bk, c) = it.next()
          if (2 * (cum + c) >= totals(g)) found = Some((bk, cum))
          else cum += c
        }
        require(found.isDefined,
          s"groupedLowerMedianLong: group '$g' has no median crossing — " +
            s"its total weight ${totals(g)} exceeds the summed weight of " +
            "its rows; statsIn totals must equal the exact summed weight")
        val (bk, cumBefore) = found.get
        before += g -> cumBefore
        conds += g -> (conds(g) && (shiftright(v, sh) === lit(bk)))
        if (sh == 0) result += g -> bk
      }
    }
    result
  }
}
