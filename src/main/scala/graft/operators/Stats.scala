package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed exact statistics with cross-engine-reproducible
  * results.
  *
  * Both operators avoid the float-summation-order trap: a plain
  * SUM(double) is not associative, so its value depends on partition
  * count — useless for an exact gate and flaky at scale. Quantiles
  * never sum at all (they SELECT an element); correlation sums in
  * DECIMAL (exact, order-free) and only then runs a fixed sequence of
  * correctly-rounded double ops.
  */
object Stats {

  /** The house pre-adjusted flooring division as ONE audited helper:
    * ⌊numer/den⌋ computed as (numer − pmod(numer, den)) div den —
    * the numerator is made exactly divisible first, so truncating
    * and flooring division agree (exact on negative numerators too),
    * and the arithmetic never leaves integers/decimals (a Column `/`
    * would detour through double and drift past 2⁵³). Oracle
    * spelling: `(x - (((x % d) + d) % d)) // d` — the pre-adjustment
    * is REQUIRED there too: DuckDB's bare `//` TRUNCATES toward zero
    * (-7 // 3 = -2, verified on 1.0.0; fuzz r13 caught an oracle that
    * assumed it floors), so only the exactly-divisible numerator
    * makes the two engines agree on signed values.
    *
    * Contract: den > 0. Spark's pmod returns the remainder in
    * [0, |den|), so for den < 0 the exact quotient of the adjusted
    * numerator is the CEILING, not the floor. Every caller divides
    * by a count.
    */
  def fdivExact(numer: Column, den: Column): Column = {
    val adj = numer - pmod(numer, den)
    org.apache.spark.sql.GraftColumnBridge.toColumn(
      new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        org.apache.spark.sql.GraftColumnBridge.toCatalystExpr(adj),
        org.apache.spark.sql.GraftColumnBridge.toCatalystExpr(den)))
  }

  /** Exact per-group discrete quantiles (percentile_disc semantics:
    * the smallest element whose cumulative rank reaches ⌈p·n⌉).
    *
    * One sort-shuffle per group set (rank + count in a single window
    * pass), then a conditional-min agg per fraction — no per-fraction
    * rescan. This is the exact path; at 100 TB the approximate path is
    * approx_percentile over the same grouping (one map-side-combining
    * pass, no sort), with this as its audit.
    */
  def groupedQuantilesDisc(
      df: DataFrame,
      group: String,
      value: String,
      ps: Seq[Double]): DataFrame = {
    val w = Window.partitionBy(group).orderBy(value)
    // group sizes via a pre-agg broadcast join, NOT a second
    // count-over-partition window: the count window has a different
    // ordering requirement, so Spark would run (and sort for) two
    // WindowExecs; the agg is map-side-combining and tiny
    val counts = df.groupBy(group).agg(count(lit(1)).as("n"))
    val ranked = df
      .withColumn("rn", row_number().over(w))
      .join(broadcast(counts), group)
    ranked.groupBy(group)
      .agg(
        min(when(col("rn") ===
          greatest(ceil(lit(ps.head) * col("n")), lit(1L)), col(value)))
          .as(pName(ps.head)),
        ps.tail.map(p =>
          min(when(col("rn") ===
            greatest(ceil(lit(p) * col("n")), lit(1L)), col(value)))
            .as(pName(p))): _*)
  }

  def pName(p: Double): String = "p" + math.round(p * 100)

  /** The same exact order statistics by distributed SELECTION instead
    * of a per-group sort: three narrow passes, none of which ever
    * sorts or single-partitions the fact table —
    *
    *   1. per-group (n, min, max): map-side-combining agg, tiny
    *   2. per-group value histogram (B buckets) with a cumulative sum
    *      (window over bkt: ≤B rows per group partition), joined to the
    *      per-(group, p) target ranks to pick each target's bucket and
    *      within-bucket rank — O(groups·B) rows end to end, sharded by
    *      group across executors even at millions of groups
    *   3. only rows in the targeted buckets (≈ n/B per group·target)
    *      are ranked
    *
    * A full sort of a 100 TB fact table to read off four order
    * statistics is the thing to avoid; the histogram passes touch
    * every row but shuffle only O(groups·B) counts. Returns the
    * identical values as `groupedQuantilesDisc` (order statistics
    * don't care how you select them — asserted in StatsSpec), so the
    * same ⌈p·n⌉ oracle verifies both.
    *
    * With `broadcastMeta=true` (default) the extent/target joins ship
    * O(groups) and O(groups·|ps|) rows through the driver — fine up to
    * ~10⁶ groups; past that pass false and the same plan runs those
    * joins as shuffles on the group key (the SQL shape is unchanged).
    *
    * Values AND the group key must be non-null (matches the sort-based
    * operator for values; a NULL group would be dropped by the
    * non-null-safe extent join here while the window path keeps it).
    */
  def groupedQuantilesSelect(
      df: DataFrame,
      group: String,
      value: String,
      ps: Seq[Double],
      buckets: Int = 256,
      broadcastMeta: Boolean = true): DataFrame = {
    def hint(d: DataFrame): DataFrame = if (broadcastMeta) broadcast(d) else d
    // pass 1: per-group extent — built ONCE, joined ONCE (n tags
    // along so no second extent scan/broadcast is ever needed; the
    // histogram carries it forward as a per-group constant)
    val extent = df.groupBy(group).agg(
      count(lit(1)).as("n"), min(value).as("mn"), max(value).as("mx"))

    val withB = df.join(hint(extent), group)
      .withColumn("bkt",
        least(greatest(
          floor((col(value) - col("mn"))
            / (col("mx") - col("mn") + lit(1e-300)) * buckets).cast("int"),
          lit(0)), lit(buckets - 1)))

    // pass 2: per-(group, bucket) histogram + cumulative counts. The
    // window partitions by group over ≤B rows each — never a global
    // window, never a driver walk.
    val wc = Window.partitionBy(group).orderBy("bkt")
    val cumHist = withB.groupBy(col(group), col("bkt"))
      .agg(count(lit(1)).as("c"), first("n").as("n"))
      .withColumn("cum", sum("c").over(wc))
      .withColumn("cum0", col("cum") - col("c"))

    // target ranks, one row per (group, p), derived from the
    // histogram itself (explode ps over the O(groups·B) bucket rows,
    // keep the unique bucket whose [cum0, cum) covers each target) —
    // no extent re-join, no second fact scan
    val wanted = cumHist
      .withColumn("p", explode(array(ps.map(lit): _*)))
      .withColumn("target", greatest(ceil(col("p") * col("n")), lit(1L)))
      .filter(col("target") > col("cum0") && col("target") <= col("cum"))
      .select(col(group), col("bkt"), col("p"),
        (col("target") - col("cum0")).as("rprime"))

    // pass 3: rank only the targeted buckets. `wanted` is O(groups·|ps|)
    // rows — broadcast-joined (when broadcastMeta) so the fact table is
    // touched map-side.
    val cand = withB.join(hint(wanted), Seq(group, "bkt"))
    val w = Window.partitionBy(col(group), col("p")).orderBy(col(value))
    val picked = cand
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === col("rprime"))
    picked.groupBy(group)
      .agg(
        min(when(col("p") === ps.head, col(value))).as(pName(ps.head)),
        ps.tail.map(p =>
          min(when(col("p") === p, col(value))).as(pName(p))): _*)
  }

  /** The DuckDB rendering (same ⌈p·n⌉ arithmetic rather than
    * quantile_disc, so the selection rule is identical by
    * construction).
    */
  def quantilesOracleSql(
      table: String, group: String, value: String, ps: Seq[Double]): String = {
    val cols = ps.map(p =>
      s"""MIN(CASE WHEN rn = greatest(CAST(ceil($p * n) AS BIGINT), 1)
         |    THEN $value END) AS ${pName(p)}""".stripMargin).mkString(",\n")
    s"""SELECT $group, $cols FROM (
       |  SELECT $group, $value,
       |         ROW_NUMBER() OVER (PARTITION BY $group ORDER BY $value) AS rn,
       |         COUNT(*) OVER (PARTITION BY $group) AS n
       |  FROM $table)
       |GROUP BY $group""".stripMargin
  }

  /** Exact-input Pearson correlation per group. The five sufficient
    * statistics (n, Σx, Σy, Σxy, Σx², Σy²) accumulate in DECIMAL —
    * exact in any summation order, so one map-side-combining shuffle
    * and bitwise-stable under repartitioning (unlike `corr`, whose
    * double sums drift with partitioning). The final formula is fixed
    * double arithmetic on those exact sums.
    *
    * Inputs are casted to DECIMAL(12,2); per-row products fit
    * DECIMAL(25,4) and group sums DECIMAL(35,4) — no precision-loss
    * rounding on either engine at any tested SF.
    */
  def pearsonExact(
      df: DataFrame, group: String, x: String, y: String): DataFrame = {
    // cents-scaled longs: five of six sufficient statistics stay in
    // integer registers (Pearson r is scale-invariant, and the
    // scale cancels identically in both engines since the final
    // float formula runs op-for-op the same). Only Σy² keeps a
    // decimal accumulator — cents² per row is ~1e14, so a long SUM
    // overflows past ~10^4 rows·group; per-row products stay long.
    val xl = (col(x).cast("decimal(12,2)") * 100).cast("long")
    val yl = (col(y).cast("decimal(12,2)") * 100).cast("long")
    val s = df.groupBy(group).agg(
      count(lit(1)).as("n"),
      sum(xl).as("sx"), sum(yl).as("sy"),
      sum(xl * yl).as("sxy"), sum(xl * xl).as("sxx"),
      // syy squares decimal(18,0) operands (not long·long-then-cast):
      // cents² wraps long for values past ~$30M, and the wrap would
      // poison the accumulator before the decimal cast saw it
      sum(yl.cast("decimal(18,0)") * yl.cast("decimal(18,0)")).as("syy"))
    val n = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    s.select(col(group),
      nullDiv(n * d("sxy") - d("sx") * d("sy"),
        sqrt(n * d("sxx") - d("sx") * d("sx"))
          * sqrt(n * d("syy") - d("sy") * d("sy"))).as("corr_xy"))
  }

  /** Double division with zero-divisor → NULL in BOTH ANSI modes
    * (r14 ANSI fuzz sweep): Spark's non-ANSI `/` returns NULL on a
    * zero divisor — NOT the IEEE ±Inf/NaN — and its ANSI profile
    * THROWS DIVIDE_BY_ZERO even for doubles, so the zero-variance
    * groups these finishes produce (corr/slope/z of a constant
    * series) killed the whole job under ANSI. The guard states the
    * non-ANSI value explicitly: zero or NULL divisor → NULL (a NULL
    * condition also lands in otherwise), NaN divisor → the divide
    * branch (NaN != 0.0) → NaN, exactly as before — every committed
    * oracle hash is unchanged (DuckDB's x/0 is NULL too).
    */
  private[operators] def nullDiv(num: Column, den: Column): Column =
    when(den =!= 0.0, num / den).otherwise(lit(null).cast("double"))

  /** Grouped z-score outlier detection — the numeric anomaly gate of
    * a cleaning pipeline (sensor spikes, bot traffic, corrupt
    * measurements). `xInt` must be an integer-valued quantization of
    * the measure (e.g. `floor(value*100)` cents — floor, NOT a
    * decimal cast, so arbitrary doubles quantize identically on any
    * engine): the sufficient statistics (n, Σx, Σx²) are then exact
    * integers, partitioning-invariant, and the per-row z runs in
    * fixed double arithmetic on them. z is scale-invariant, so the
    * quantization factor cancels.
    *
    * Scale shape: one map-side-combined groupBy builds a
    * groups-sized stats table that broadcasts back onto the fact —
    * the fact itself NEVER shuffles, which is the only acceptable
    * plan when the fact is 100 TB and the group count is thousands.
    */
  def zscoreOutliers(
      df: DataFrame, group: String, xInt: Column, zMax: Double,
      keep: Seq[String]): DataFrame = {
    val base = df.withColumn("xl", xInt.cast("long"))
    val stats = base.groupBy(group).agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("xl")).as("sx"),
        // cast BEFORE the multiply: a long·long square silently wraps
        // for |xl| > ~3.03e9 (ANSI off) while the oracle errors — the
        // decimal(18,0) operands make the product exact decimal(37,0)
        // on both engines for the full documented input domain
        sum(col("xl").cast("decimal(18,0)")
          * col("xl").cast("decimal(18,0)")).as("sxx"))
      .select(col(group),
        (col("sx").cast("double") / col("n")).as("mean_c"),
        // n=1: the old /(n-1) was a zero-divisor division, which the
        // non-ANSI profile renders NULL (and ANSI throws) — state the
        // NULL explicitly so both modes agree; sqrt(NULL) was NULL
        // and the z division against it was NULL, so nothing changes
        when(col("n") > 1.0,
          sqrt((col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double") / col("n"))
            / (col("n") - lit(1.0))))
          .otherwise(lit(null).cast("double")).as("sd_c"))
    base.join(broadcast(stats), Seq(group))
      .withColumn("z",
        nullDiv(col("xl").cast("double") - col("mean_c"), col("sd_c")))
      .filter(abs(col("z")) > zMax)
      .select(keep.map(col) :+ col("z"): _*)
  }

  /** Robust grouped outlier detection via the modified z-score
    * (Iglewicz–Hoaglin): 0.6745·(x − median)/MAD, flag |z| > zMax
    * (3.5 classic). Unlike [[zscoreOutliers]], a few extreme spikes
    * cannot inflate the spread estimate and mask each other — median
    * and MAD have a 50% breakdown point, which is what a
    * heavy-tailed cleaning gate actually needs.
    *
    * Exactness: `xInt` integer-quantized as in zscoreOutliers; median
    * and MAD are DISCRETE order statistics (selected elements, never
    * interpolated, never summed) so they are partitioning-invariant
    * exact integers; z is fixed double arithmetic on them. Groups
    * with MAD = 0 (over half the group identical) flag nothing by
    * contract.
    *
    * Scale shape — ONE histogram drives BOTH order statistics.
    * Naively MAD is two selection runs (median of xl, then median of
    * |xl−med|), i.e. two extents + two histograms + two rank passes
    * over the fact. But the dev-median can be *localized* from the
    * xl histogram alone: every xl-bucket [xlo,xhi) maps to a dev
    * interval [dlo,dhi] w.r.t. med, so per-group prefix sums over
    * bucket counts ordered by dhi (resp. dlo) give an exact
    * upper bound `ub` (≥ target rows certainly at dev ≤ ub) and
    * lower bound `lb` (≤ lb the count cannot have reached target)
    * bracketing the true MAD. Only buckets intersecting [lb,ub] need
    * their rows ranked, and buckets entirely below lb contribute an
    * exact rank offset (every row there has dev < lb ≤ mad). Bucket
    * dev-bounds are widened by ±1 (devs are integers) so double
    * rounding in the bucket-edge arithmetic can never exclude the
    * target row — widening only ever grows the candidate set.
    *
    * Fact passes: extent, histogram, median-bucket rank (≈n/B rows),
    * candidate-bucket dev rank (≈ a few n/B), final gate — five, two
    * of them over bucket-sized subsets; everything else is
    * O(groups·B) metadata. The fact never sorts and never shuffles
    * (group stats broadcast back). Cut 3.44 s → see BENCH_r07 at
    * sf0.1 vs the two-run selection path, and at 10× data the
    * selection family was already 11.6 s → 6.1 s vs per-group sort.
    */
  def madOutliers(
      df: DataFrame, group: String, xInt: Column, zMax: Double,
      keep: Seq[String], buckets: Int = 256): DataFrame = {
    val B = buckets
    val base = df.withColumn("xl", xInt.cast("long"))

    // pass 1: per-group extent + the (shared) p50 target rank. ONE
    // projection broadcast everywhere below — identical canonical
    // plans, so ReuseExchange computes (and builds) it exactly once.
    val extent = base.groupBy(group).agg(
        count(lit(1)).as("n"), min("xl").as("mn"), max("xl").as("mx"))
      .withColumn("target", greatest(ceil(lit(0.5) * col("n")), lit(1L)))
      .drop("n")
    val bExtent = broadcast(extent)

    val withB = base.join(bExtent, Seq(group))
      .withColumn("bkt",
        least(greatest(
          floor((col("xl") - col("mn"))
            / (col("mx") - col("mn") + lit(1e-300)) * B).cast("int"),
          lit(0)), lit(B - 1)))

    // pass 2: the ONE per-(group, bucket) histogram, reused by the
    // median selection and the MAD localization. target/mn/mx tag
    // along (constant per group) so no second extent join is needed.
    val hist = withB
      .groupBy(col(group), col("bkt"))
      .agg(count(lit(1)).as("c"), first("target").as("target"),
        first("mn").as("mn"), first("mx").as("mx"))

    val wc = Window.partitionBy(group).orderBy("bkt")
    val cum = hist
      .withColumn("cum", sum("c").over(wc))
      .withColumn("cum0", col("cum") - col("c"))
    val medBucket = cum
      .filter(col("target") > col("cum0") && col("target") <= col("cum"))
      .select(col(group), col("bkt"), (col("target") - col("cum0")).as("rprime"))

    // pass 3: rank only the median bucket (≈ n/B rows per group)
    val wmed = Window.partitionBy(group).orderBy("xl")
    val med = withB.join(broadcast(medBucket), Seq(group, "bkt"))
      .withColumn("rn", row_number().over(wmed))
      .filter(col("rn") === col("rprime"))
      .select(col(group), col("xl").as("med"))

    // metadata: each bucket's dev interval w.r.t. med (±1 widening —
    // see Scaladoc), then exact bracketing bounds for the MAD. All
    // bound/offset math runs as WINDOWS over the O(groups·B) bucket
    // table — no extra shuffle aggs, no metadata-to-metadata joins.
    val bmeta = hist
      .join(broadcast(med), Seq(group))
      .withColumn("w", (col("mx") - col("mn") + lit(1e-300)) / B)
      .withColumn("xlo", col("mn") + col("bkt") * col("w"))
      .withColumn("xhi", col("mn") + (col("bkt") + 1) * col("w"))
      .withColumn("dlo", greatest(lit(0.0),
        greatest(col("xlo") - col("med"), col("med") - col("xhi")) - lit(1.0)))
      .withColumn("dhi",
        greatest(col("med") - col("xlo"), col("xhi") - col("med")) + lit(1.0))
    val wU = Window.partitionBy(group).orderBy("dhi")
    val wL = Window.partitionBy(group).orderBy("dlo")
    val wg = Window.partitionBy(group)
    val candBuckets = bmeta
      .withColumn("cumU", sum("c").over(wU))
      .withColumn("cumL", sum("c").over(wL))
      .withColumn("ub", min(when(col("cumU") >= col("target"), col("dhi"))).over(wg))
      .withColumn("lb", min(when(col("cumL") >= col("target"), col("dlo"))).over(wg))
      .withColumn("n_below",
        sum(when(col("dhi") < col("lb"), col("c"))).over(wg))
      .filter(col("dlo") <= col("ub") && col("dhi") >= col("lb"))
      .withColumn("loc_target",
        col("target") - coalesce(col("n_below"), lit(0L)))
      .select(col(group), col("bkt"), col("med"), col("loc_target"))

    // pass 4: rank dev over candidate-bucket rows only
    val wdev = Window.partitionBy(group).orderBy("dev")
    val mad = withB.join(broadcast(candBuckets), Seq(group, "bkt"))
      .withColumn("dev", abs(col("xl") - col("med")))
      .withColumn("rn", row_number().over(wdev))
      .filter(col("rn") === col("loc_target"))
      .select(col(group), col("med"), col("dev").as("mad"))

    // final gate: one broadcast of the groups-sized (med, mad) table
    base.join(broadcast(mad), Seq(group))
      .withColumn("z", lit(0.6745) * (col("xl") - col("med")).cast("double")
        / col("mad").cast("double"))
      .filter(col("mad") > 0 && abs(col("z")) > zMax)
      .select(keep.map(col) :+ col("z"): _*)
  }

  /** Grouped winsorization — clip each value into its group's
    * [pLo, pHi] quantile range: the standard heavy-tail taming step
    * when DROPPING outliers (the z/MAD gates) would bias a mean-based
    * downstream (feature scaling, reward normalization). Bounds are
    * DISCRETE order statistics from the 3-pass selection path (no
    * per-group sort, fact never shuffles for the bounds), broadcast
    * back onto the fact for a map-only integer clamp — the fact's
    * only pass with data movement is the output itself.
    *
    * `xInt` integer-quantized as in [[zscoreOutliers]]; the clamp is
    * exact integer min/max so the result is partitioning-invariant
    * and replayable in any engine.
    */
  def winsorize(
      df: DataFrame, group: String, xInt: Column,
      pLo: Double, pHi: Double, keep: Seq[String]): DataFrame = {
    val base = df.withColumn("xl", xInt.cast("long"))
    val bounds = groupedQuantilesSelect(base, group, "xl", Seq(pLo, pHi))
      .select(col(group), col(pName(pLo)).as("qlo"), col(pName(pHi)).as("qhi"))
    base.join(broadcast(bounds), Seq(group))
      .withColumn("xl_w", least(greatest(col("xl"), col("qlo")), col("qhi")))
      .select(keep.map(col) :+ col("xl_w"): _*)
  }

  /** Grouped equi-depth binning — assign each row the index (1..B) of
    * its group's quantile bin: the standard feature bucketization for
    * tree/embedding models and for histogram-balanced sharding, where
    * equal-WIDTH bins collapse under skew but equal-DEPTH bins hold
    * ~n/B rows each by construction.
    *
    * The B−1 interior boundaries are discrete order statistics from
    * the selection path (one histogram pass, no per-group sort);
    * they broadcast back and the bin index is a map-only sum of
    * integer comparisons `1 + Σᵢ (x > qᵢ)` — exact, replayable,
    * partitioning-invariant. Boundary ties go LEFT (x == qᵢ stays in
    * bin i), matching the ⌈p·n⌉ selection rule.
    */
  def equiDepthBins(
      df: DataFrame, group: String, xInt: Column, bins: Int,
      keep: Seq[String]): DataFrame = {
    require(bins >= 2, "bins must be >= 2")
    val ps = (1 until bins).map(_.toDouble / bins)
    val base = df.withColumn("xl", xInt.cast("long"))
    val bounds = groupedQuantilesSelect(base, group, "xl", ps)
    val binCol = ps.map(p => when(col("xl") > col(pName(p)), 1)
      .otherwise(0)).reduce(_ + _) + lit(1)
    base.join(broadcast(bounds), Seq(group))
      .select(keep.map(col) :+ binCol.as("bin"): _*)
  }

  /** Approximate per-row percentile rank in MILLI units (0..999) —
    * the map-only scale path beside the exact `cume_dist` window
    * (q_w_rank_distrib, which per-group-sorts the fact): each row's
    * rank is approximated by its histogram bucket's cumulative start,
    * `pct_milli = cum0·1000 div n` — error bounded by the largest
    * bucket's mass fraction. The fact is touched twice (extent+hist
    * build, then the output pass) and NEVER sorted or shuffled: the
    * bucket table broadcasts back. Bucket arithmetic is the
    * selection-path formula (doubles, but ×B is a power of two and
    * the divide is correctly rounded identically in any IEEE engine),
    * and the rank is integer floor division — deterministic and
    * oracle-replayable end to end.
    */
  def approxPercentileRankMilli(
      df: DataFrame, group: String, xInt: Column,
      keep: Seq[String], buckets: Int = 256): DataFrame = {
    val B = buckets
    val base = df.withColumn("xl", xInt.cast("long"))
    val extent = base.groupBy(group).agg(
      count(lit(1)).as("n"), min("xl").as("mn"), max("xl").as("mx"))
    val withB = base.join(broadcast(extent), Seq(group))
      .withColumn("bkt",
        least(greatest(
          floor((col("xl") - col("mn"))
            / (col("mx") - col("mn") + lit(1e-300)) * B).cast("int"),
          lit(0)), lit(B - 1)))
    val cum = withB.groupBy(col(group), col("bkt"))
      .agg(count(lit(1)).as("c"))
      .withColumn("cum0",
        sum("c").over(Window.partitionBy(group).orderBy("bkt")) - col("c"))
      .select(col(group), col("bkt"), col("cum0"))
    withB.join(broadcast(cum), Seq(group, "bkt"))
      .withColumn("pct_milli", expr("cum0 * 1000 div n"))
      .select(keep.map(col) :+ col("pct_milli"): _*)
  }

  /** DuckDB rendering of `approxPercentileRankMilli` (identical
    * bucket arithmetic and floor division).
    */
  def approxPctRankOracleSql(
      table: String, group: String, xIntSql: String,
      keep: Seq[String], buckets: Int = 256): String =
    s"""WITH b AS (SELECT *, CAST($xIntSql AS BIGINT) AS xl FROM $table),
       |ex AS (SELECT $group, COUNT(*) AS n, MIN(xl) AS mn, MAX(xl) AS mx
       |       FROM b GROUP BY $group),
       |wb AS (SELECT b.*, ex.n,
       |         least(greatest(CAST(floor((xl - mn)
       |           / (mx - mn + 1e-300) * $buckets) AS INT), 0),
       |           ${buckets - 1}) AS bkt
       |       FROM b JOIN ex USING ($group)),
       |h AS (SELECT $group, bkt, COUNT(*) AS c FROM wb GROUP BY 1, 2),
       |cu AS (SELECT $group, bkt,
       |         CAST(SUM(c) OVER (PARTITION BY $group ORDER BY bkt) - c
       |              AS BIGINT) AS cum0
       |       FROM h)
       |SELECT ${keep.mkString(", ")},
       |       CAST(cum0 * 1000 // n AS BIGINT) AS pct_milli
       |FROM wb JOIN cu USING ($group, bkt)""".stripMargin

  /** Per-group quantile normalization onto the GLOBAL distribution —
    * the cross-source score-calibration step before a single global
    * quality threshold is applied to a mixed corpus: a score of "0.8
    * from source A" and "0.8 from source B" mean different things
    * when the sources' score distributions differ, so each row is
    * mapped to its source-local percentile ([[
    * approxPercentileRankMilli]] — the no-sort histogram path) and
    * re-expressed as the global distribution's value at that
    * percentile (inverse-CDF via a second, GLOBAL histogram).
    *
    * Scale shape: two histogram passes over the fact (one per-group,
    * one global), both map-side-combined into bucket tables that
    * broadcast back; the inverse lookup is a row-vs-256-bucket
    * broadcast range join. The fact is never sorted, never shuffled
    * by value. All bucket arithmetic is the selection-path formula;
    * the normalized value `mn + bkt·(mx−mn)/B` (the matched global
    * bucket's lower bound) is one deterministic double expression
    * from exact integers — replayable in any engine. Approximation
    * error on both the rank and the inverse is bounded by the
    * largest bucket's mass/width, same contract as the rank op.
    *
    * Output: keep ++ (pct_milli, norm_x).
    */
  def quantileNormalize(
      df: DataFrame, group: String, xInt: Column,
      keep: Seq[String], buckets: Int = 256): DataFrame = {
    val B = buckets
    val pct = approxPercentileRankMilli(df, group, xInt, keep, buckets)
    val base = df.withColumn("xl", xInt.cast("long"))
    val gext = base.agg(count(lit(1)).as("ng"),
      min("xl").as("mn"), max("xl").as("mx"))
    val ghist = base.crossJoin(broadcast(gext))
      .withColumn("bkt",
        least(greatest(
          floor((col("xl") - col("mn"))
            / (col("mx") - col("mn") + lit(1e-300)) * B).cast("int"),
          lit(0)), lit(B - 1)))
      .groupBy("bkt").agg(count(lit(1)).as("c"))
      .withColumn("cum0",
        sum("c").over(Window.orderBy("bkt")) - col("c"))
    pct.crossJoin(broadcast(gext))
      .withColumn("rg", expr("pct_milli * ng div 1000"))
      .join(broadcast(ghist),
        col("rg") >= col("cum0") && col("rg") < col("cum0") + col("c"))
      // UNROUNDED on purpose (fuzz r13): every term is exact —
      // mn/mx/bkt·range are exactly-representable longs (< 2^53) and
      // the one divide + one add are correctly rounded identically in
      // any IEEE engine — while a final ROUND(x, 6) is NOT
      // cross-engine at |x| ≳ 2^43: DuckDB rounds via x·1e6 in double
      // (lossy there), Spark via exact BigDecimal. Rounding removed
      // from BOTH sides; they now agree bitwise on the full domain.
      .select(keep.map(col) ++ Seq(col("pct_milli"),
        (col("mn") + col("bkt") * (col("mx") - col("mn"))
          / lit(B.toDouble)).as("norm_x")): _*)
  }

  /** Poisson-bootstrap thresholds for λ=1 in integer MICROS of the
    * uniform draw: P(X ≤ k) = e⁻¹ Σ_{j≤k} 1/j!, floored at 1e-6 —
    * weights come from pure integer comparisons, no float anywhere
    * in the draw (the exp-free trick the DSIR sampler uses for its
    * log-space priorities). Weight capped at 5 (P ≈ 6e-4 truncated —
    * negligible and replayable).
    */
  private val PoissonCdfMicros: Seq[Long] =
    Seq(367879L, 735758L, 919698L, 981011L, 996340L)

  /** Per-group bootstrap confidence interval for a mean — the
    * Poisson(1) bootstrap (Chamandy et al., "Estimating Uncertainty
    * for Massive Data Streams", Google TR'12): instead of resampling
    * rows (impossible distributed — a resample is a global shuffle),
    * every row gets an independent Poisson(1) weight per replicate,
    * and replicate means are weighted means. One pass: all B·2
    * conditional sums fold into a single map-side-combined hash
    * aggregation; everything after is groups-sized metadata. The
    * draw is the house affine hash of (rowKey·131 + b) compared
    * against integer CDF thresholds — no float path until the final
    * per-replicate division, so replicates replay exactly in any
    * engine.
    *
    * Output per group: n, mean (= Σx/n/100, 4 dp), ci_lo, ci_hi
    * (2.5%/97.5% order statistics of the B sorted replicate means,
    * in the same /100 units — `xCents` is integer cents).
    */
  def bootstrapMeanCi(df: DataFrame, group: String, rowKey: Column,
      xCents: Column, b: Int = 40): DataFrame = {
    require(b >= 40 && b % 40 == 0, "b >= 40 keeps the 2.5% index >= 1")
    // EXPLODE rendering, measured 6x faster than the "one wide agg
    // with 2B buffers" alternative (11.5 s vs 1.8 s at sf0.1): 2B+2
    // aggregate buffers push the hash aggregate off whole-stage
    // codegen, while B thin replicated rows ride a fully-codegen'd
    // two-level (group, replicate) hash agg — map-side combine makes
    // the exploded volume cost one narrow pass, and the second level
    // is groups×B metadata.
    val base = df
      .select(col(group).as("g"), rowKey.as("k"),
        xCents.cast("long").as("cents"))
      .select(col("g"), col("k"), col("cents"),
        explode(sequence(lit(0), lit(b - 1))).as("r"))
    val u = Sampling.hashBucket(col("k") * 131 + col("r"), 1000000)
    val w = PoissonCdfMicros.zipWithIndex.foldRight(lit(5L): Column) {
      case ((thr, k), rest) => when(u < thr, k.toLong).otherwise(rest)
    }
    val perRep = base.withColumn("w", w)
      .groupBy("g", "r")
      .agg(sum(col("w") * col("cents")).as("swx"), sum("w").as("sw"),
        count(lit(1)).as("n_r"), sum("cents").as("sc_r"))
    val loIdx = math.ceil(0.025 * b).toInt
    val hiIdx = math.ceil(0.975 * b).toInt
    // a replicate whose every row drew weight 0 (probability e^-n per
    // replicate — real for tiny groups) is a degenerate resample: it
    // contributes the group's own mean, keeping all B order-statistic
    // slots occupied identically in both engines (a NULL mean would
    // silently shift the CI indices — collect_list drops NULLs)
    val repMean = when(col("sw") === 0,
      col("sc_r").cast("double") / col("n_r"))
      .otherwise(col("swx").cast("double") / col("sw"))
    perRep.groupBy("g")
      .agg(max("n_r").as("n"), max("sc_r").as("sc"),
        array_sort(collect_list(repMean)).as("means"))
      .select(col("g").as(group), col("n"),
        round(col("sc").cast("double") / col("n") / lit(100.0), 4).as("mean"),
        round(element_at(col("means"), loIdx) / lit(100.0), 4).as("ci_lo"),
        round(element_at(col("means"), hiIdx) / lit(100.0), 4).as("ci_hi"))
  }

  /** DuckDB rendering of [[bootstrapMeanCi]]. `xCentsSql` must cast
    * to BIGINT cents exactly like the Scala side's column.
    */
  def bootstrapMeanCiOracleSql(table: String, group: String,
      rowKeySql: String, xCentsSql: String, b: Int = 40): String = {
    val wCols = (0 until b).map { r =>
      val u = Sampling.hashBucketSql(s"($rowKeySql * 131 + $r)", 1000000)
      val cases = PoissonCdfMicros.zipWithIndex
        .map { case (thr, k) => s"WHEN $u < $thr THEN $k" }.mkString(" ")
      s"CASE $cases ELSE 5 END AS w$r"
    }.mkString(",\n|         ")
    val sums = (0 until b).map(r =>
      s"CAST(SUM(w$r * cents) AS BIGINT) AS swx_$r, CAST(SUM(w$r) AS BIGINT) AS sw_$r")
      .mkString(",\n|         ")
    val meansList = (0 until b).map(r =>
      s"""CASE WHEN sw_$r = 0 THEN CAST(sc AS DOUBLE) / n
         |ELSE CAST(swx_$r AS DOUBLE) / sw_$r END""".stripMargin
        .replace("\n", " ")).mkString(", ")
    val loIdx = math.ceil(0.025 * b).toInt
    val hiIdx = math.ceil(0.975 * b).toInt
    s"""WITH base AS (SELECT $group, CAST($xCentsSql AS BIGINT) AS cents,
       |         $wCols
       |       FROM $table),
       |agg AS (SELECT $group,
       |         $sums,
       |         COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS sc
       |       FROM base GROUP BY $group),
       |ms AS (SELECT $group, n, sc,
       |         list_sort([$meansList]) AS m FROM agg)
       |SELECT $group, n,
       |       ROUND(CAST(sc AS DOUBLE) / n / 100.0, 4) AS mean,
       |       ROUND(m[$loIdx] / 100.0, 4) AS ci_lo,
       |       ROUND(m[$hiIdx] / 100.0, 4) AS ci_hi
       |FROM ms""".stripMargin
  }

  /** DuckDB rendering of [[quantileNormalize]]. */
  def quantileNormalizeOracleSql(
      table: String, group: String, xIntSql: String,
      keep: Seq[String], buckets: Int = 256): String = {
    val B = buckets
    s"""WITH pr AS (${approxPctRankOracleSql(table, group, xIntSql, keep,
           buckets)}),
       |gb AS (SELECT CAST($xIntSql AS BIGINT) AS xl FROM $table),
       |gex AS (SELECT COUNT(*) AS ng, MIN(xl) AS mn, MAX(xl) AS mx FROM gb),
       |gh AS (SELECT least(greatest(CAST(floor((xl - mn)
       |         / (mx - mn + 1e-300) * $B) AS INT), 0), ${B - 1}) AS bkt,
       |         COUNT(*) AS c
       |       FROM gb CROSS JOIN gex GROUP BY 1),
       |gcu AS (SELECT bkt, c,
       |          CAST(SUM(c) OVER (ORDER BY bkt) - c AS BIGINT) AS cum0
       |        FROM gh),
       |tg AS (SELECT pr.*, CAST(pct_milli * ng // 1000 AS BIGINT) AS rg
       |       FROM pr CROSS JOIN gex)
       |SELECT ${keep.mkString(", ")}, pct_milli,
       |       mn + bkt * (mx - mn) / $B.0 AS norm_x
       |FROM tg JOIN gcu ON rg >= cum0 AND rg < cum0 + c
       |CROSS JOIN gex""".stripMargin
  }

  /** DuckDB rendering of `equiDepthBins` (identical comparisons on
    * the same ⌈p·n⌉ order statistics).
    */
  def equiDepthOracleSql(
      table: String, group: String, xIntSql: String, bins: Int,
      keep: Seq[String]): String = {
    val ps = (1 until bins).map(_.toDouble / bins)
    val sums = ps.map(p =>
      s"CASE WHEN xl > ${pName(p)} THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH b AS (SELECT *, CAST($xIntSql AS BIGINT) AS xl FROM $table),
       |qs AS (${quantilesOracleSql("b", group, "xl", ps)})
       |SELECT ${keep.mkString(", ")}, $sums + 1 AS bin
       |FROM b JOIN qs USING ($group)""".stripMargin
  }

  /** DuckDB rendering of `winsorize` (identical clamp on the same
    * ⌈p·n⌉ order statistics).
    */
  def winsorizeOracleSql(
      table: String, group: String, xIntSql: String,
      pLo: Double, pHi: Double, keep: Seq[String]): String =
    s"""WITH b AS (SELECT *, CAST($xIntSql AS BIGINT) AS xl FROM $table),
       |qs AS (${quantilesOracleSql("b", group, "xl", Seq(pLo, pHi))})
       |SELECT ${keep.mkString(", ")},
       |       least(greatest(xl, ${pName(pLo)}), ${pName(pHi)}) AS xl_w
       |FROM b JOIN qs USING ($group)""".stripMargin

  /** DuckDB rendering of `madOutliers` (identical op order). */
  def madOracleSql(
      table: String, group: String, xIntSql: String, zMax: Double,
      keep: Seq[String]): String =
    s"""WITH b AS (SELECT *, CAST($xIntSql AS BIGINT) AS xl FROM $table),
       |m AS (${quantilesOracleSql("b", group, "xl", Seq(0.5))}),
       |d AS (SELECT b.*, m.p50 AS med, abs(b.xl - m.p50) AS dev
       |      FROM b JOIN m USING ($group)),
       |md AS (${quantilesOracleSql("d", group, "dev", Seq(0.5))}),
       |f AS (SELECT d.*, md.p50 AS mad FROM d JOIN md USING ($group))
       |SELECT ${keep.mkString(", ")},
       |       CAST(0.6745 AS DOUBLE) * CAST(xl - med AS DOUBLE)
       |         / CAST(mad AS DOUBLE) AS z
       |FROM f
       |WHERE mad > 0 AND abs(CAST(0.6745 AS DOUBLE)
       |    * CAST(xl - med AS DOUBLE) / CAST(mad AS DOUBLE)) > $zMax""".stripMargin

  /** DuckDB rendering of `zscoreOutliers` (identical op order), for
    * oracle replay: same floor quantization, same exact integer
    * sufficient statistics, same double formula.
    */
  def zscoreOracleSql(
      table: String, group: String, xIntSql: String, zMax: Double,
      keep: Seq[String]): String =
    s"""WITH b AS (SELECT *, CAST($xIntSql AS BIGINT) AS xl FROM $table),
       |st AS (SELECT $group, CAST(COUNT(*) AS DOUBLE) AS n,
       |         CAST(SUM(xl) AS BIGINT) AS sx,
       |         SUM(CAST(xl AS HUGEINT) * CAST(xl AS HUGEINT)) AS sxx
       |       FROM b GROUP BY $group),
       |sd AS (SELECT $group,
       |         CAST(sx AS DOUBLE) / n AS mean_c,
       |         sqrt((CAST(sxx AS DOUBLE)
       |               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
       |              / (n - 1.0)) AS sd_c
       |       FROM st)
       |SELECT ${keep.mkString(", ")},
       |       (CAST(xl AS DOUBLE) - mean_c) / sd_c AS z
       |FROM b JOIN sd USING ($group)
       |WHERE abs((CAST(xl AS DOUBLE) - mean_c) / sd_c) > $zMax""".stripMargin

  /** DuckDB rendering of `pearsonExact` (identical op order). */
  def pearsonOracleSql(
      table: String, group: String, x: String, y: String): String =
    s"""SELECT $group,
       |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
       |     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |  / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |     * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
       |            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS corr_xy
       |FROM (
       |  SELECT $group, COUNT(*) AS n,
       |    CAST(SUM(xl) AS BIGINT) AS sx, CAST(SUM(yl) AS BIGINT) AS sy,
       |    CAST(SUM(xl * yl) AS BIGINT) AS sxy,
       |    CAST(SUM(xl * xl) AS BIGINT) AS sxx,
       |    SUM(CAST(yl AS HUGEINT) * CAST(yl AS HUGEINT)) AS syy
       |  FROM (SELECT $group,
       |          CAST(CAST($x AS DECIMAL(12,2)) * 100 AS BIGINT) AS xl,
       |          CAST(CAST($y AS DECIMAL(12,2)) * 100 AS BIGINT) AS yl
       |        FROM $table)
       |  GROUP BY $group)""".stripMargin

  /** Per-group OLS trend slope — "how fast is this segment's metric
    * moving": the regression-slope sibling of [[pearsonExact]], same
    * convention end to end. One map-side-combined aggregation folds
    * the fact to a groups-sized sufficient-statistics table (n, Σt,
    * Σy, Σty, Σt²) — the fact never shuffles more than the group
    * key — and the slope finish is a fixed sequence of IEEE ops on
    * exact accumulators, rounded 6 dp.
    *
    * `tInt`/`yInt` must be integer-valued quantizations (epoch days,
    * cents). Overflow budget: Σty squares decimal(18,0) operands
    * (t·y per row can pass 2⁶³ across 10⁹-row groups); Σt² stays
    * long (epoch-day² ≈ 4e8/row ⇒ safe past 10¹⁰ rows/group).
    * Output: (group, n, slope) — slope in y-units per t-unit.
    */
  /** Time-weighted average per group over IRREGULAR samples — the
    * aggregation a raw AVG gets wrong whenever sampling density
    * correlates with the value (bursts of cheap readings drag the
    * mean; TWAP weights each observation by how long it was the
    * current one). Each value holds until the group's next
    * observation (step-function convention; the last one carries no
    * weight — span-end is the integration bound), so
    * twap = Σ vᵢ·Δtᵢ / span — decimal-exact products, pmod-floor at
    * the end (negative values floor toward −∞ identically in both
    * engines). One per-group window for the lead + one agg; ties on
    * the id column keep the order total.
    */
  def groupTwap(events: DataFrame, keyCol: String, idCol: String,
      secCol: Column, valueCents: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCol).orderBy(col("sec"), col("__id"))
    events
      .select(col(keyCol), col(idCol).as("__id"),
        secCol.cast("long").as("sec"), valueCents.cast("long").as("v"))
      .withColumn("dt", lead(col("sec"), 1).over(w) - col("sec"))
      .groupBy(keyCol)
      .agg(count(lit(1)).as("n"),
        (max("sec") - min("sec")).as("span_sec"),
        sum(col("v").cast("decimal(38,0)") * col("dt")).as("wsum"))
      .select(col(keyCol), col("n"), col("span_sec"),
        when(col("span_sec") > 0, expr(
          "(wsum - (((wsum % span_sec) + span_sec) % span_sec)) div span_sec"))
          .cast("long").as("twap_cents"))
  }

  def groupedOlsSlope(df: DataFrame, group: String, tInt: Column,
      yInt: Column): DataFrame =
    olsSlopeFromStats(olsSufficientStats(df, group, tInt, yInt))

  /** The sufficient-statistics aggregation of [[groupedOlsSlope]]:
    * (group, n, Σt, Σy, Σty, Σt²) — count and exact sums are
    * ORDER-FREE merges, so the identical expression runs as an
    * incremental stateful STREAMING aggregation
    * ([[graft.streaming.StreamTrend]]) and the streamed state
    * finishes to the bit-exact batch slope via
    * [[olsSlopeFromStats]] — the StreamDrift/StreamCalibration
    * theorem.
    */
  def olsSufficientStats(df: DataFrame, group: String, tInt: Column,
      yInt: Column): DataFrame = {
    val t = tInt.cast("long")
    val y = yInt.cast("long")
    df.groupBy(group).agg(
      count(lit(1)).as("n"),
      sum(t).as("st"), sum(y).as("sy"),
      sum(t.cast("decimal(18,0)") * y.cast("decimal(18,0)")).as("sty"),
      sum(t * t).as("stt"))
  }

  /** The slope finish of [[groupedOlsSlope]] over a sufficient-
    * statistics table (keeps every non-stat column, e.g. the group).
    */
  def olsSlopeFromStats(s: DataFrame): DataFrame = {
    val n = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    s.select(
      s.columns.filterNot(Set("st", "sy", "sty", "stt")).map(col) :+
        round(nullDiv(n * d("sty") - d("st") * d("sy"),
          n * d("stt") - d("st") * d("st")), 6).as("slope"): _*)
  }

  /** Oracle rendering of [[groupedOlsSlope]]; srcSql yields
    * (g, t, y) integer-valued.
    */
  def olsSlopeOracleSql(srcSql: String): String =
    s"""SELECT g, n,
       |  ROUND((CAST(n AS DOUBLE) * CAST(sty AS DOUBLE)
       |          - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
       |        / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
       |           - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)), 6) AS slope
       |FROM (
       |  SELECT g, COUNT(*) AS n,
       |    CAST(SUM(t) AS BIGINT) AS st, CAST(SUM(y) AS BIGINT) AS sy,
       |    SUM(CAST(t AS HUGEINT) * CAST(y AS HUGEINT)) AS sty,
       |    CAST(SUM(t * t) AS BIGINT) AS stt
       |  FROM ($srcSql) GROUP BY g)""".stripMargin

  /** Simpson's-paradox trend audit: per-segment OLS slopes beside the
    * POOLED-points slope, with a sign-flip flag — the aggregation
    * trap every segment-level dashboard walks into (each segment can
    * trend down while the pooled scatter trends up whenever segment
    * level correlates with time coverage; Simpson 1951). The pooled
    * slope is computed by SUMMING the per-segment sufficient
    * statistics — count and exact sums add, so the pooled OLS costs
    * one more fold over the segments-sized metadata table, never a
    * second fact scan. Flag: slope·pooled < 0 on the rounded values
    * (zero slopes never flag).
    */
  def simpsonAudit(df: DataFrame, group: String, tInt: Column,
      yInt: Column): DataFrame = {
    val st = olsSufficientStats(df, group, tInt, yInt)
      .localCheckpoint() // segments-sized; feeds both finishes
    val pooled = olsSlopeFromStats(
        st.agg(sum("n").as("n"), sum("st").as("st"), sum("sy").as("sy"),
          sum("sty").as("sty"), sum("stt").as("stt")))
      .select(col("slope").as("pooled_slope"))
    olsSlopeFromStats(st).crossJoin(broadcast(pooled))
      .withColumn("sign_flip", col("slope") * col("pooled_slope") < 0)
  }

  /** Theil–Sen robust trend slope (Theil '50, Sen '68) — the median
    * of all pairwise slopes: the trend estimator a monitoring series
    * needs when OLS is one bad day away from nonsense (29.3%
    * breakdown point vs OLS's zero). Operates on an ALREADY-REDUCED
    * series (daily totals — the caller aggregates the fact first),
    * so the pair table is periods²-bounded METADATA: 2 400 days ⇒
    * 2.9M pair rows, distributed joins, never a corpus-scale
    * quadratic. The median-rank window sorts only that pair table —
    * for minute-grain series use [[groupedOlsSlope]] instead.
    *
    * Determinism: pair slopes are exact rational (dy, dx) longs; the
    * global order is (dy/dx double, dy, dx) — the division of two
    * exact longs is one identically-rounded IEEE op in any engine,
    * and the exact tie-breaks pin equal ratios. The median element
    * is found by SELECTION, never a global pair sort (the first
    * rendering's single-partition rank over all pairs measured
    * 4.9 s at 2.9M pairs).
    *
    * r14 (guide §2.5, single-partition hazards): the r12 rendering
    * bucketed ONE 4096-histogram over the micros-slope range and then
    * ranked the whole median bucket in one task. Measured at sf0.1
    * that degenerates: a handful of dx=1 outlier pairs stretch the
    * range so ~half of all pairs share the median bucket — a 37 MB
    * single-task exchange plus a 1.5M-row single-partition sort, the
    * same defect class as the r13 budget-path Window. The selection
    * now REFINES: buckets are cut on the double ratio ITSELF (the
    * primary sort key — equal doubles land in the same bucket by
    * construction and floor((r−lo)/w) is monotone in r, so a boundary
    * can never split a tie-run nor invert the order; this is strictly
    * stronger than the old micros-bucket argument, which could in
    * principle split a double-tie run across a bucket edge), and the
    * histogram re-buckets within the selected bucket until ≤ 32 768
    * candidates remain (4096-way fan-out per level: 2 levels cover
    * 134M pairs in one bucket). Each level is one map-side pass over
    * the pairs plus a ≤4096-row bounded collect of the histogram —
    * O(1) driver rows per level, never a pair materialization. Only
    * the final ≤32 768-row (or exact-tie-run, data-inherent)
    * candidate set pays the single-partition rank.
    * Long bound: |dy|·10⁶ must fit 2⁶³ ⇒ |Δy| ≤ 9.2·10¹² per pair —
    * cents-scale daily series clear this by orders of magnitude;
    * rescale y first past it. Output (1 row):
    * n_points, n_pairs, med_dy, med_dx, slope_micros (the exact
    * floor-div micros of the median pair).
    */
  def theilSenSlope(series: DataFrame, tInt: Column, yInt: Column)
      : DataFrame = {
    val base = series.select(tInt.cast("long").as("t"),
      yInt.cast("long").as("y")).localCheckpoint()
    val l = base.select(col("t").as("ti"), col("y").as("yi"))
    val r = base.select(col("t").as("tj"), col("y").as("yj"))
    val pairs = l.join(r, col("ti") < col("tj"))
      .select((col("yj") - col("yi")).as("dy"),
        (col("tj") - col("ti")).as("dx"))
    // NOT checkpointed: the pair frame is derived from the tiny
    // checkpointed base by a broadcast self-join — recomputing it per
    // pass is pure map-side compute, cheaper than materializing
    // periods² rows to block storage (measured: checkpointing the
    // pairs cost more than the original global sort it was meant to
    // beat)
    // total under ANSI: the bucket filter is pushed into the self-join
    // ahead of ti < tj, where the diagonal's dx = 0 would throw
    val ratio = try_divide(col("dy").cast("double"), col("dx").cast("double"))
    val s0 = pairs.agg(count(lit(1)), min(ratio), max(ratio)).first()
    val nPairs = s0.getLong(0)
    val target = (nPairs + 1L) / 2L
    // Selection loop (driver-side, O(levels) actions of O(1)/4096
    // rows): narrow the candidate set by composed bucket-membership
    // filters until it is rank-able in one bounded task. The running
    // [lo, hi) range only steers bucket WIDTH (progress); correctness
    // needs only monotone, tie-preserving bucket ids, which the
    // floor expression provides for ANY lo/w.
    val MaxRankRows = 32768L
    var sel = pairs
    var off = target
    var cnt = nPairs
    var lo = if (nPairs == 0L) 0.0 else s0.getDouble(1)
    var hi = if (nPairs == 0L) 0.0 else s0.getDouble(2)
    var level = 0
    while (cnt > MaxRankRows && hi > lo && level < 4) {
      val w = (hi - lo) / 4096.0
      if (!(w > 0.0)) { hi = lo } // sub-ulp range: exact-tie regime,
      else {                      // 0-width buckets would be NaN-fed
      val b = least(floor((ratio - lit(lo)) / lit(w)).cast("long"),
        lit(4095L))
      val hist = sel.groupBy(b.as("cb")).agg(count(lit(1)).as("c"))
        .collect().map(h => (h.getLong(0), h.getLong(1))).sortBy(_._1)
      var cum = 0L; var picked = Long.MinValue; var inOff = off
      for ((cb, c) <- hist) {
        if (picked == Long.MinValue && cum + c >= off) {
          picked = cb; inOff = off - cum
        }
        cum += c
      }
      sel = sel.filter(b === lit(picked))
      off = inOff
      cnt = hist.find(_._1 == picked).map(_._2).getOrElse(0L)
      // refined range of the picked bucket (floating slop at the
      // edges is harmless — membership is the filter above, the
      // range only sizes the next level's buckets); stop on a
      // degenerate width (an exact ratio-tie run: data-inherent,
      // the final rank is its tie-broken scan)
      val nlo = lo + picked * w
      val nhi = if (picked >= 4095L) hi else lo + (picked + 1L) * w
      if (nhi > nlo && (nlo > lo || nhi < hi)) { lo = nlo; hi = nhi }
      else { hi = lo }
      }
      level += 1
    }
    // exact floor-div micros slope — needed only for the ONE median
    // row now, not for every pair in every pass (signed-safe)
    val sm = expr(
      "(dy * 1000000 - (((dy * 1000000 % dx) + dx) % dx)) div dx")
    val med = sel
      .withColumn("rk", row_number().over(Window.orderBy(
        ratio.asc, col("dy").asc, col("dx").asc)))
      .filter(col("rk") === lit(off))
      .select(lit(nPairs).as("n_pairs"), col("dy").as("med_dy"),
        col("dx").as("med_dx"), sm.as("slope_micros"))
    val np = base.agg(count(lit(1)).as("n_points"))
    np.crossJoin(broadcast(med))
      .select(col("n_points"), col("n_pairs"), col("med_dy"),
        col("med_dx"), col("slope_micros"))
  }

  /** Oracle rendering of [[theilSenSlope]] (self-contained statement);
    * srcSql yields (t, y) integer-valued.
    */
  def theilSenOracleSql(srcSql: String): String =
    s"""WITH base AS ($srcSql),
       |prs AS (SELECT r.y - l.y AS dy, r.t - l.t AS dx
       |        FROM base l JOIN base r ON l.t < r.t),
       |rkd AS (SELECT dy, dx, (SELECT COUNT(*) FROM prs) AS n_pairs,
       |          ROW_NUMBER() OVER (ORDER BY CAST(dy AS DOUBLE) / dx,
       |                             dy, dx) AS rk
       |        FROM prs)
       |SELECT (SELECT COUNT(*) FROM base) AS n_points, n_pairs,
       |       dy AS med_dy, dx AS med_dx,
       |       (dy * 1000000 - (((dy * 1000000 % dx) + dx) % dx)) // dx
       |         AS slope_micros
       |FROM rkd WHERE rk = (n_pairs + 1) // 2""".stripMargin

  /** Isotonic (monotone non-decreasing) score calibration — PAV via
    * the minimax characterization (Barlow et al. '72; Robertson-
    * Wright-Dykstra): the calibration step that turns a raw quality-
    * classifier score into P(label | score) before thresholding a
    * corpus keep/drop decision — the fastText-quality-filter pattern
    * every LLM curation pipeline runs, where an uncalibrated score
    * makes "keep the top 30% probability-of-good" unanswerable.
    *
    * Scale shape — the bin-then-solve decomposition sklearn-at-scale
    * uses: ONE map-side-combined aggregation folds the corpus to
    * ≤ nBins (bin, n, Σy) rows (the fact never shuffles more than the
    * bin id; same envelope as Drift.binCounts), and the PAV solve
    * runs ENTIRELY on that metadata: iso(i) = max_{j≤i} min_{k≥i}
    * avg(y over bins j..k), materialized as the (j,k) segment-average
    * grid (≤ B² rows from prefix sums) joined against bins i (≤ B³
    * rows — at B=50, 125k metadata rows; the corpus size never enters
    * the solve). No driver-side loop, no sequential pool scan.
    *
    * Determinism: bin edges are the fixed-width integer rule of
    * [[graft.operators.Drift.binIdSql]]; counts and label sums are
    * exact longs; each segment average is ONE floor division of
    * exact integers in micros (y ∈ {0,1} ⇒ numerators nonneg — `div`
    * is floor); floor commutes with finite min/max, so the output IS
    * floor(10⁶ · exact-rational isotonic fit) — bit-replayable, and
    * monotone by construction (spec-asserted). Long capacity:
    * Σy·10⁶ < 2⁶³ ⇒ safe past 9·10¹² positive labels per bin.
    *
    * Output: one row per NON-EMPTY bin — (bin, n, sy, p_raw_micros,
    * p_cal_micros); empty bins are absent (no evidence — callers
    * joining the table back interpolate or carry the neighbor, their
    * policy choice). Apply is a broadcast join of this table on the
    * bin id — map-only over the corpus.
    */
  def isotonicCalibrate(df: DataFrame, score: Column, label: Column,
      lo: Double, hi: Double, nBins: Int): DataFrame =
    isotonicFromCounts(calibrationBinCounts(df, score, label, lo, hi, nBins))

  /** The binning aggregation of [[isotonicCalibrate]]: (bin, n, sy)
    * over ≤ nBins fixed-width-bin keys. Count and sum are ORDER-FREE
    * merges over a bounded key domain, so the identical expression
    * runs as an incremental stateful STREAMING aggregation
    * ([[graft.streaming.StreamCalibration]]) — the StreamDrift/
    * StreamSketch argument — and the streamed state finishes to the
    * bit-exact batch calibration via [[isotonicFromCounts]].
    */
  def calibrationBinCounts(df: DataFrame, score: Column, label: Column,
      lo: Double, hi: Double, nBins: Int): DataFrame = {
    require(nBins >= 2 && hi > lo, "need >= 2 bins over a real range")
    val width = (hi - lo) / nBins
    val bin = least(greatest(floor((score - lit(lo)) / lit(width))
      .cast("long"), lit(0L)), lit(nBins - 1L))
    df.select(bin.as("bin"), label.cast("long").as("y"))
      .groupBy("bin").agg(count(lit(1)).as("n"), sum("y").as("sy"))
  }

  /** The PAV finish of [[isotonicCalibrate]] over a (bin, n, sy)
    * count table — bins-sized metadata in, calibration table out.
    */
  def isotonicFromCounts(bins: DataFrame): DataFrame = {
    // prefix sums over the ≤nBins metadata frame (the single-partition
    // window runs on bins, never the fact)
    val w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    val pre = bins
      .withColumn("cn", sum("n").over(w))
      .withColumn("cy", sum("sy").over(w))
      .localCheckpoint() // referenced 4× below; bins-sized
    val j = pre.select(col("bin").as("jb"),
      (col("cn") - col("n")).as("cnj"), (col("cy") - col("sy")).as("cyj"))
    val k = pre.select(col("bin").as("kb"),
      col("cn").as("cnk"), col("cy").as("cyk"))
    val grid = j.join(k, col("jb") <= col("kb"))
      .select(col("jb"), col("kb"),
        expr("(cyk - cyj) * 1000000 div (cnk - cnj)").as("avgm"))
    val iso = grid
      .join(pre.select(col("bin").as("ib")),
        col("jb") <= col("ib") && col("ib") <= col("kb"))
      .groupBy("ib", "jb").agg(min("avgm").as("mn"))
      .groupBy("ib").agg(max("mn").as("p_cal_micros"))
    pre.join(iso, col("bin") === col("ib"))
      .select(col("bin"), col("n"), col("sy"),
        expr("sy * 1000000 div n").as("p_raw_micros"),
        col("p_cal_micros"))
  }

  /** Oracle rendering of [[isotonicCalibrate]] — identical prefix
    * sums, segment grid, and minimax; `srcSql` yields (x, y).
    */
  def isotonicOracleSql(srcSql: String, lo: Double, hi: Double,
      nBins: Int): String = {
    val width = (hi - lo) / nBins
    s"""d AS (SELECT ${Drift.binIdSql("x", lo, width, nBins)} AS bin, y
       |      FROM ($srcSql)),
       |b AS (SELECT bin, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS sy
       |      FROM d GROUP BY bin),
       |p AS (SELECT bin, n, sy,
       |        CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT) AS cn,
       |        CAST(SUM(sy) OVER (ORDER BY bin) AS BIGINT) AS cy
       |      FROM b),
       |g AS (SELECT j.bin AS jb, k.bin AS kb,
       |        (k.cy - (j.cy - j.sy)) * 1000000
       |          // (k.cn - (j.cn - j.n)) AS avgm
       |      FROM p j JOIN p k ON j.bin <= k.bin),
       |mi AS (SELECT i.bin AS ib, g.jb, MIN(g.avgm) AS mn
       |       FROM g JOIN p i ON g.jb <= i.bin AND i.bin <= g.kb
       |       GROUP BY 1, 2),
       |iso AS (SELECT ib, CAST(MAX(mn) AS BIGINT) AS p_cal_micros
       |        FROM mi GROUP BY ib)""".stripMargin
  }

  /** Per-group autocorrelation function at lags 1..maxLag — "does
    * this metric remember itself an hour later": ACF(ℓ) = Pearson of
    * the ZERO-FILLED bucket series against its ℓ-shifted self. The
    * diagnostic behind every seasonality/forecast choice in the
    * catalog (q_w_seasonality says WHICH cycle; ACF says HOW MUCH
    * memory at each offset) — and the standard pre-read before
    * picking a seasonal-naive lag.
    *
    * Zero-fill is deliberate: for activity series an absent bucket
    * IS zero activity, and gap-skipping pairs would silently change
    * n per lag. The spine is the global [min, max] bucket range
    * crossed with the group list (metadata × metadata — the fact
    * folds ONCE to the (group, bucket) series, map-side combined).
    * The lag pairing explodes lags 1..maxLag on the series table
    * (≤ maxLag × |spine| rows, still metadata) and joins back on
    * (group, bucket+ℓ) — never touching the fact again. The Pearson
    * finish is the [[pearsonExact]] convention: exact integer
    * sufficient statistics, fixed IEEE op order, NULL on degenerate
    * (constant) windows.
    *
    * Overflow: per-bucket sums are cents-scale longs; squares and
    * cross products run on decimal(18,0) operands (sums of v² past
    * 2⁶³ are realistic for busy buckets at 100 TB).
    */
  /** One map-side-combined fact fold to the (g, b, v) bucket series —
    * the shared first stage of [[groupedAcf]] and [[ewmaFromSums]],
    * and (being an order-free exact-sum agg) the state a streaming
    * sibling can maintain incrementally (streaming/StreamEwma).
    */
  def bucketSums(df: DataFrame, group: String, bucket: Column,
      vInt: Column): DataFrame =
    df.groupBy(col(group).as("g"), bucket.cast("long").as("b"))
      .agg(sum(vInt.cast("long")).as("v"))

  /** Zero-fill a (g, b, v) series onto the global [min, max] bucket
    * spine crossed with the group list — metadata × metadata; an
    * absent bucket IS zero activity for the series operators.
    */
  private[graft] def zeroFilled(series0: DataFrame): DataFrame = {
    val span = series0.agg(min("b").as("lo"), max("b").as("hi"))
    val spine = span
      .select(explode(sequence(col("lo"), col("hi"))).as("bb"))
    // renamed join keys: the spine×groups side must not share
    // attributes with series0, or plans whose lineage Spark cannot
    // auto-dedup (e.g. a drained streaming memory sink) fail analysis
    val groups = series0.select(col("g").as("gg")).distinct()
    groups.crossJoin(broadcast(spine))
      .join(series0,
        col("gg") === col("g") && col("bb") === col("b"), "left")
      .select(col("gg").as("g"), col("bb").as("b"),
        coalesce(col("v"), lit(0L)).as("v"))
  }

  def groupedAcf(df: DataFrame, group: String, bucket: Column,
      vInt: Column, maxLag: Int): DataFrame =
    acfFromSums(bucketSums(df, group, bucket, vInt), maxLag)

  /** Finish stage of [[groupedAcf]] from a (g, b, v) bucket-sum
    * table — shared arithmetic with the streaming sibling
    * (StreamAcf finishes its drained streaming-agg state here, so
    * batch ≡ streaming bit-exact by construction, exactly as
    * [[ewmaFromSums]] does for the EWMA).
    */
  def acfFromSums(series0: DataFrame, maxLag: Int): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    val series = zeroFilled(series0)
    val lags = (1 to maxLag).map(lit(_))
    val shifted = series
      .select(col("g"), col("b"), col("v"),
        explode(array(lags: _*)).as("lag"))
      .select(col("g"), col("lag"), (col("b") - col("lag")).as("b"),
        col("v").as("y"))
    val dec = (c: String) => col(c).cast("decimal(18,0)")
    val stats = series.withColumnRenamed("v", "x")
      .join(shifted, Seq("g", "b"))
      .groupBy("g", "lag")
      .agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(dec("x") * dec("y")).as("sxy"),
        sum(dec("x") * dec("x")).as("sxx"),
        sum(dec("y") * dec("y")).as("syy"))
    val n = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    stats.select(col("g"), col("lag"), col("n"),
      when((n * d("sxx") - d("sx") * d("sx")) > 0 &&
          (n * d("syy") - d("sy") * d("sy")) > 0,
        (n * d("sxy") - d("sx") * d("sy"))
          / (sqrt(n * d("sxx") - d("sx") * d("sx"))
            * sqrt(n * d("syy") - d("sy") * d("sy"))))
        .as("acf"))
  }

  /** DuckDB rendering of [[groupedAcf]]; `srcSql` must yield
    * (g, b, v) pre-aggregation rows (raw, not bucket-summed).
    */
  def groupedAcfOracleSql(srcSql: String, maxLag: Int): String =
    s"""WITH s0 AS (
       |  SELECT g, b, CAST(SUM(v) AS BIGINT) AS v
       |  FROM ($srcSql) GROUP BY 1, 2),
       |sp AS (SELECT MIN(b) AS lo, MAX(b) AS hi FROM s0),
       |spine AS (SELECT unnest(range(lo, hi + 1)) AS b FROM sp),
       |ser AS (SELECT gs.g, spine.b, COALESCE(s0.v, 0) AS v
       |        FROM (SELECT DISTINCT g FROM s0) gs
       |        CROSS JOIN spine
       |        LEFT JOIN s0 ON s0.g = gs.g AND s0.b = spine.b),
       |sh AS (SELECT g, lag, b - lag AS b, v AS y
       |       FROM ser CROSS JOIN
       |         (SELECT unnest(range(1, ${maxLag + 1})) AS lag)),
       |st AS (SELECT ser.g, sh.lag, COUNT(*) AS n,
       |         CAST(SUM(ser.v) AS BIGINT) AS sx,
       |         CAST(SUM(sh.y) AS BIGINT) AS sy,
       |         SUM(CAST(ser.v AS HUGEINT)
       |             * CAST(sh.y AS HUGEINT)) AS sxy,
       |         SUM(CAST(ser.v AS HUGEINT)
       |             * CAST(ser.v AS HUGEINT)) AS sxx,
       |         SUM(CAST(sh.y AS HUGEINT)
       |             * CAST(sh.y AS HUGEINT)) AS syy
       |       FROM ser JOIN sh ON ser.g = sh.g AND ser.b = sh.b
       |       GROUP BY 1, 2)
       |SELECT g, lag, n,
       |       CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
       |             AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
       |                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
       |       THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
       |             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |            / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |               * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
       |                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
       |       END AS acf
       |FROM st""".stripMargin

  /** Per-group truncated exponential moving average over the
    * zero-filled bucket series — the smoothing layer under every
    * "current level" readout (trend baselines, drift denominators,
    * rate limiters). Geometric weights with ratio num/den are cut at
    * `window` terms so the result is a CLOSED FORM over the last
    * `window` buckets — exactly replayable, unlike the infinite
    * recursion, and the standard production trade (the dropped tail
    * carries (num/den)^window of the mass; window 6 at 3/4 ≈ 18%,
    * window 12 ≈ 3%).
    *
    * Exactness contract: weight c_j = num^j · den^(window−1−j) for
    * age j (0 = current bucket) — all integers — and
    * ewma_micros = ⌊Σ_j v(b−j)·c_j · 10⁶ / Σ_j c_j⌋ in integer
    * arithmetic (decimal(38,0) products, integral divide), so both
    * engines replay bit-exact. v must be non-negative (integral
    * divide truncates toward zero in Spark and floors in DuckDB —
    * they agree only on non-negatives; every cents/count series in
    * the catalog qualifies).
    *
    * Scale shape: the fact folds ONCE ([[bucketSums]], map-side
    * combined); the lag window runs per-group on the spine-sized
    * metadata series — parallel across groups, never a fact sort.
    * Only full windows emit (first window−1 spine buckets are
    * warm-up), so n per group is deterministic.
    */
  def groupedEwma(df: DataFrame, group: String, bucket: Column,
      vInt: Column, window: Int, num: Int, den: Int): DataFrame =
    ewmaFromSums(bucketSums(df, group, bucket, vInt), window, num, den)

  /** Finish stage of [[groupedEwma]] from a (g, b, v) bucket-sum
    * table — shared arithmetic with the streaming sibling
    * (StreamEwma finishes its drained streaming-agg state here, so
    * batch ≡ streaming bit-exact by construction).
    */
  def ewmaFromSums(sums: DataFrame, window: Int, num: Int,
      den: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(num >= 1 && den > num,
      s"need 1 <= num < den for a decaying average, got $num/$den")
    val weights = ewmaWeights(window, num, den)
    val denom = weights.sum
    val series = zeroFilled(sums)
    val w = Window.partitionBy("g").orderBy("b")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val wsum = weights.zipWithIndex.map { case (c, j) =>
      dec(if (j == 0) col("v") else lag(col("v"), j).over(w)) * lit(c)
    }.reduce(_ + _)
    series
      .withColumn("rn", row_number().over(w))
      .withColumn("wsum", wsum)
      .filter(col("rn") >= window)
      .select(col("g"), col("b"), col("v"),
        expr(s"wsum * 1000000 div $denom").as("ewma_micros"))
  }

  /** c_j = num^j · den^(window−1−j), age 0 first; guarded so the
    * ×10⁶ micros product stays inside decimal(38,0) headroom.
    */
  private def ewmaWeights(window: Int, num: Int, den: Int): Seq[Long] = {
    val ws = (0 until window).map(j =>
      BigInt(num).pow(j) * BigInt(den).pow(window - 1 - j))
    require(ws.sum < BigInt(Long.MaxValue) / 1000000L,
      s"weights overflow micros headroom: window=$window den=$den")
    ws.map(_.toLong)
  }

  /** DuckDB rendering of [[groupedEwma]]; `srcSql` must yield
    * (g, b, v) pre-aggregation rows (raw, not bucket-summed).
    */
  def groupedEwmaOracleSql(srcSql: String, window: Int, num: Int,
      den: Int): String = {
    val weights = ewmaWeights(window, num, den)
    val denom = weights.sum
    val terms = weights.zipWithIndex.map { case (c, j) =>
      if (j == 0) s"CAST(v AS HUGEINT) * $c"
      else s"CAST(LAG(v, $j) OVER w AS HUGEINT) * $c"
    }.mkString("\n       |          + ")
    s"""WITH s0 AS (
       |  SELECT g, b, CAST(SUM(v) AS BIGINT) AS v
       |  FROM ($srcSql) GROUP BY 1, 2),
       |sp AS (SELECT MIN(b) AS lo, MAX(b) AS hi FROM s0),
       |spine AS (SELECT unnest(range(lo, hi + 1)) AS b FROM sp),
       |ser AS (SELECT gs.g, spine.b, COALESCE(s0.v, 0) AS v
       |        FROM (SELECT DISTINCT g FROM s0) gs
       |        CROSS JOIN spine
       |        LEFT JOIN s0 ON s0.g = gs.g AND s0.b = spine.b),
       |wn AS (SELECT g, b, v,
       |         ROW_NUMBER() OVER w AS rn,
       |         $terms
       |           AS wsum
       |       FROM ser WINDOW w AS (PARTITION BY g ORDER BY b))
       |SELECT g, b, v,
       |       CAST(wsum * 1000000 // $denom AS BIGINT) AS ewma_micros
       |FROM wn WHERE rn >= $window""".stripMargin
  }

  /** Holt's linear-trend exponential smoothing (Holt 1957 / Hyndman
    * FPP §8.2) as a 1-step-ahead forecaster with exact integer state,
    * scored against the lag-1 naive on the same series — the level-
    * AND-trend upgrade over [[groupedEwma]] (a plain EWMA lags any
    * trending series by a constant offset; Holt's trend term closes
    * it).
    *
    * Rational smoothing weights α = 1/alphaDen, β = 1/betaDen keep
    * every state transition in integer arithmetic:
    *   l′ = (x + (alphaDen−1)·(l+b)) div alphaDen
    *   b′ = ((l′−l) + (betaDen−1)·b)  div betaDen
    * with TRUNCATING division — Spark's `div` and DuckDB's `//` agree
    * on truncation toward zero for negative operands (verified), so
    * the fold replays bit-for-bit. Init: l₀ = x₀, b set at the second
    * observation (b₁ = x₁ − x₀, l₁ = x₁); scoring starts at the third.
    *
    * Scale shape: the fact folds to the periods-sized series in one
    * map-side-combined agg; the recursion — inherently sequential —
    * then runs as ONE ordered fold over that metadata-sized list (the
    * zipf/seasonality pattern), never touching the fact again. The
    * `(a − a mod n)/n` double hop in the fold is exact while |state|
    * < 2⁵³ — document-scale daily sums; beyond that swap the state to
    * decimal.
    *
    * Output (one row): n_scored, sae_holt, sae_naive, mae_holt,
    * mae_naive, skill_micros (= sae_holt·10⁶ div sae_naive; < 10⁶
    * means Holt beat naive), level_end, trend_end.
    */
  def holtLinearSummary(
      series: DataFrame, // (t ascending-sortable, x long)
      tCol: String,
      xCol: String,
      alphaDen: Int = 5,
      betaDen: Int = 10): DataFrame = {
    // truncating long division for Column expressions inside a HOF
    // lambda (expr("div") can't see lambda variables): (a - a % n) is
    // exactly divisible, and the double division is exact under 2^53.
    def tdiv(a: Column, n: Int): Column =
      ((a - a % lit(n.toLong)) / lit(n.toLong)).cast("long")
    val z = struct(lit(0L).as("i"), lit(0L).as("l"), lit(0L).as("b"),
      lit(0L).as("prev"), lit(0L).as("sae_h"), lit(0L).as("sae_n"))
    def step(a: Column, x: Column): Column = {
      val i = a.getField("i"); val l = a.getField("l")
      val b = a.getField("b"); val prev = a.getField("prev")
      val f = l + b
      val l2 = tdiv(x + lit((alphaDen - 1).toLong) * f, alphaDen)
      val b2 = tdiv((l2 - l) + lit((betaDen - 1).toLong) * b, betaDen)
      when(i === 0L, struct(lit(1L).as("i"), x.as("l"), lit(0L).as("b"),
          x.as("prev"), lit(0L).as("sae_h"), lit(0L).as("sae_n")))
        .when(i === 1L, struct(lit(2L).as("i"), x.as("l"),
          (x - l).as("b"), x.as("prev"), lit(0L).as("sae_h"),
          lit(0L).as("sae_n")))
        .otherwise(struct((i + 1L).as("i"), l2.as("l"), b2.as("b"),
          x.as("prev"),
          (a.getField("sae_h") + abs(x - f)).as("sae_h"),
          (a.getField("sae_n") + abs(x - prev)).as("sae_n")))
    }
    series
      .agg(collect_list(struct(col(tCol).as("t"), col(xCol).as("x")))
        .as("ps"))
      .select(array_sort(col("ps")).as("ps"))
      .select(aggregate(transform(col("ps"), _.getField("x")), z, step)
        .as("a"))
      .select((col("a.i") - 2L).as("n_scored"),
        col("a.sae_h").as("sae_holt"), col("a.sae_n").as("sae_naive"),
        expr("a.sae_h div (a.i - 2)").as("mae_holt"),
        expr("a.sae_n div (a.i - 2)").as("mae_naive"),
        expr("a.sae_h * 1000000 div a.sae_n").as("skill_micros"),
        col("a.l").as("level_end"), col("a.b").as("trend_end"))
  }

  /** Per-group [[holtLinearSummary]]: one Holt fold per group key —
    * the forecast sibling of [[groupedOlsSlope]] ("how will each
    * segment move" beside "how fast has it moved"). Scale shape: the
    * fact folds map-side to (group, period) sums; each group's series
    * then collects into ONE row via collect_list and the recursion
    * runs inside the per-group aggregate — group series are
    * periods-sized metadata, and groups parallelize across the
    * cluster (no driver collect, unlike a naive per-group loop).
    */
  def groupedHoltSummary(
      series: DataFrame, // (group, t, x long)
      group: String,
      tCol: String,
      xCol: String,
      alphaDen: Int = 5,
      betaDen: Int = 10): DataFrame = {
    def tdiv(a: Column, n: Int): Column =
      ((a - a % lit(n.toLong)) / lit(n.toLong)).cast("long")
    val z = struct(lit(0L).as("i"), lit(0L).as("l"), lit(0L).as("b"),
      lit(0L).as("prev"), lit(0L).as("sae_h"), lit(0L).as("sae_n"))
    def step(a: Column, x: Column): Column = {
      val i = a.getField("i"); val l = a.getField("l")
      val b = a.getField("b"); val prev = a.getField("prev")
      val f = l + b
      val l2 = tdiv(x + lit((alphaDen - 1).toLong) * f, alphaDen)
      val b2 = tdiv((l2 - l) + lit((betaDen - 1).toLong) * b, betaDen)
      when(i === 0L, struct(lit(1L).as("i"), x.as("l"), lit(0L).as("b"),
          x.as("prev"), lit(0L).as("sae_h"), lit(0L).as("sae_n")))
        .when(i === 1L, struct(lit(2L).as("i"), x.as("l"),
          (x - l).as("b"), x.as("prev"), lit(0L).as("sae_h"),
          lit(0L).as("sae_n")))
        .otherwise(struct((i + 1L).as("i"), l2.as("l"), b2.as("b"),
          x.as("prev"),
          (a.getField("sae_h") + abs(x - f)).as("sae_h"),
          (a.getField("sae_n") + abs(x - prev)).as("sae_n")))
    }
    series
      .groupBy(group)
      .agg(collect_list(struct(col(tCol).as("t"), col(xCol).as("x")))
        .as("ps"))
      .select(col(group), array_sort(col("ps")).as("ps"))
      .select(col(group),
        aggregate(transform(col("ps"), _.getField("x")), z, step).as("a"))
      .select(col(group),
        (col("a.i") - 2L).as("n_scored"),
        col("a.sae_h").as("sae_holt"), col("a.sae_n").as("sae_naive"),
        expr("a.sae_h * 1000000 div a.sae_n").as("skill_micros"),
        col("a.l").as("level_end"), col("a.b").as("trend_end"),
        (col("a.l") + col("a.b")).as("forecast_next"))
  }

  /** DuckDB rendering of [[groupedHoltSummary]] over
    * `srcSql(g, t, x)`: the per-group recursion as ONE recursive CTE
    * keyed by (g, i) — every group advances in lockstep, each row
    * referencing only its own group's previous row.
    */
  def groupedHoltOracleSql(srcSql: String, alphaDen: Int = 5,
      betaDen: Int = 10): String = {
    val a1 = alphaDen - 1; val b1 = betaDen - 1
    s"""WITH RECURSIVE ser AS (
       |  SELECT g, ROW_NUMBER() OVER (PARTITION BY g ORDER BY t) AS rn, x
       |  FROM ($srcSql)),
       |n AS (SELECT g, MAX(rn) AS n FROM ser GROUP BY g),
       |st AS (
       |  SELECT s2.g, 2::BIGINT AS i, s2.x AS l, s2.x - s1.x AS b,
       |         s2.x AS prev, 0::BIGINT AS sh, 0::BIGINT AS sn
       |  FROM (SELECT g, x FROM ser WHERE rn = 1) s1
       |  JOIN (SELECT g, x FROM ser WHERE rn = 2) s2 USING (g)
       |  UNION ALL
       |  SELECT st.g, st.i + 1,
       |    (e.x + $a1 * (st.l + st.b)) // $alphaDen,
       |    (((e.x + $a1 * (st.l + st.b)) // $alphaDen) - st.l
       |      + $b1 * st.b) // $betaDen,
       |    e.x,
       |    st.sh + abs(e.x - (st.l + st.b)),
       |    st.sn + abs(e.x - st.prev)
       |  FROM st JOIN ser e ON e.g = st.g AND e.rn = st.i + 1)
       |SELECT st.g, st.i - 2 AS n_scored, sh AS sae_holt,
       |  sn AS sae_naive, sh * 1000000 // sn AS skill_micros,
       |  l AS level_end, b AS trend_end, l + b AS forecast_next
       |FROM st JOIN n ON n.g = st.g AND st.i = n.n""".stripMargin
  }

  /** DuckDB rendering of [[holtLinearSummary]] over `srcSql(t, x)` —
    * the identical recursion as a RECURSIVE CTE (one state row per
    * step, each referencing the PREVIOUS row's columns), so a drifted
    * init, smoothing weight, or division rounding hash-fails.
    *
    * Deliberately NOT a `list_reduce` struct fold: DuckDB evaluates a
    * struct-literal lambda's fields against the accumulator IN PLACE
    * — a later field expression can observe an earlier field's
    * already-written new value (read-after-write aliasing; probed:
    * `(a,e) -> {'x': a.x*10, 'y': a.x}` yields y = the NEW x). The
    * recursive CTE has unambiguous previous-row semantics in any
    * engine.
    */
  def holtOracleSql(srcSql: String, alphaDen: Int = 5,
      betaDen: Int = 10): String = {
    val a1 = alphaDen - 1; val b1 = betaDen - 1
    s"""WITH RECURSIVE ser AS (
       |  SELECT ROW_NUMBER() OVER (ORDER BY t) AS rn, x
       |  FROM ($srcSql)),
       |st AS (
       |  SELECT 2::BIGINT AS i, s2.x AS l, s2.x - s1.x AS b,
       |         s2.x AS prev, 0::BIGINT AS sh, 0::BIGINT AS sn
       |  FROM (SELECT x FROM ser WHERE rn = 1) s1,
       |       (SELECT x FROM ser WHERE rn = 2) s2
       |  UNION ALL
       |  SELECT st.i + 1,
       |    (e.x + $a1 * (st.l + st.b)) // $alphaDen,
       |    (((e.x + $a1 * (st.l + st.b)) // $alphaDen) - st.l
       |      + $b1 * st.b) // $betaDen,
       |    e.x,
       |    st.sh + abs(e.x - (st.l + st.b)),
       |    st.sn + abs(e.x - st.prev)
       |  FROM st JOIN ser e ON e.rn = st.i + 1)
       |SELECT i - 2 AS n_scored, sh AS sae_holt, sn AS sae_naive,
       |  sh // (i - 2) AS mae_holt, sn // (i - 2) AS mae_naive,
       |  sh * 1000000 // sn AS skill_micros,
       |  l AS level_end, b AS trend_end
       |FROM st WHERE i = (SELECT MAX(rn) FROM ser)""".stripMargin
  }
}
