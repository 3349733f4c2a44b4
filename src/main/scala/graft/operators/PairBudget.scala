package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pair budget of the materializing pair operators (the MinHash and
  * edit-distance near-dup chains, containment, cross-corpus, exact
  * all-pairs cosine, binary near-dups, interval overlap and the geo
  * radius join). At 100 TB an accidental 100× pair materialization is
  * an incident, so every such operator takes a `budget` and runs the
  * one policy here on its candidate-generating input(s):
  *
  *  - [[PairBudget.Unlimited]] (the default): the inputs pass through
  *    untouched and no estimate is computed — the plain plan.
  *  - [[PairBudget.Refuse]]: one job sums the operator's per-bucket
  *    candidate estimate; over budget it throws [[PairBudget.Exceeded]]
  *    naming the three hottest buckets (a second job, run only then),
  *    within budget the inputs pass through untouched.
  *  - [[PairBudget.Cap]]: whole buckets are kept cheapest-first
  *    (ascending by the operator's total sort order) while the running
  *    estimate fits, and each input is semi-joined to the kept
  *    buckets. The output is then the deterministic subset of pairs
  *    whose bucket survived, replayable as integer arithmetic over the
  *    bucket stats.
  *
  * Every operator's estimate is an upper bound on the rows its
  * candidate join emits per bucket (later filters and dedups only
  * remove), which is the safe direction for a gate.
  */
sealed trait PairBudget

object PairBudget {

  case object Unlimited extends PairBudget

  final case class Refuse(pairs: Long) extends PairBudget {
    require(pairs > 0, "pair budget must be positive")
  }

  final case class Cap(pairs: Long) extends PairBudget {
    require(pairs > 0, "pair budget must be positive")
  }

  /** Thrown under [[Refuse]]: carries the estimate, the budget and the
    * hottest buckets so the caller can fix the corpus (or raise the
    * budget) deliberately.
    */
  final case class Exceeded(
      estimated: Long, budget: Long, what: String, hottest: Seq[String])
    extends RuntimeException(
      s"$what: estimated candidate pairs $estimated exceed budget " +
        s"$budget; hottest buckets: ${hottest.mkString("; ")}")

  /** Applies `budget` to an operator's candidate inputs.
    *
    * `stats` holds one row per bucket: the `keys` columns plus a long
    * `cand` estimate; it is built only under [[Refuse]] and [[Cap]].
    * `order` must be a total order over the stats rows (`cand` plus
    * the bucket key), so the keep set is deterministic. Under [[Cap]]
    * every side must carry the `keys` columns; the sides come back in
    * the order given.
    */
  def restrict(budget: PairBudget, stats: => DataFrame, what: String,
      keys: Seq[String], order: Seq[Column])(
      sides: DataFrame*): Seq[DataFrame] = budget match {
    case Unlimited => sides
    case Refuse(pairs) =>
      val s = stats
      val est = Option(s.agg(sum("cand")).first().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      if (est > pairs) {
        val hot = s.orderBy(col("cand").desc).limit(3).collect()
          .map(r => (keys.map(k => s"$k=${r.getAs[Any](k)}") :+
            s"cand=${r.getAs[Long]("cand")}").mkString(" ")).toSeq
        throw Exceeded(est, pairs, what, hot)
      }
      sides
    case Cap(pairs) =>
      // no broadcast hint: the kept-bucket list scales with distinct
      // buckets (corpus-sized at 100 TB); the semi join shuffles on
      // the bucket key, so AQE broadcasts it exactly when it fits
      val keep = keepWithinBudget(stats, "cand", pairs, order)
        .select(keys.map(col): _*)
      sides.map(_.join(keep, keys, "left_semi"))
  }

  /** Rows of `stats` whose global running sum of `weightCol` — taken
    * in ascending `sortCols` order, inclusive of the row itself —
    * stays within `budget`. Equivalent to
    * `Window.orderBy(sortCols).rowsBetween(unboundedPreceding, 0)` +
    * `filter(cum <= budget)`, but the stats table is corpus-scale at
    * 100 TB (one row per distinct bucket), so a single-partition
    * window is ruled out. The same rows come from the classic
    * two-phase distributed scan:
    *
    *   1. range-repartition the stats by the sort key into P partitions
    *      (value-ordered, so partition i holds a contiguous rank range)
    *      and pin the result (`localCheckpoint`) so the per-partition
    *      offsets below describe the exact physical rows the final plan
    *      reads — never a recomputation with resampled boundaries;
    *   2. aggregate the per-partition weight totals and collect them —
    *      P rows ride to the driver, never data;
    *   3. prefix-sum the P totals on the driver into per-partition
    *      offsets, shipped back as a P-entry literal map;
    *   4. run the within-partition running sum as a Window PARTITIONED
    *      BY the range-partition id and add the offset — every window
    *      group is one range partition, sized by the range partitioner,
    *      never the whole table.
    *
    * Correctness does not depend on where the sampled range boundaries
    * fall: whatever partitioning step 1 produced, the offsets are
    * computed from that partitioning's actual totals, so
    * offset(pid) + within-partition running sum == the global running
    * sum in ascending `sortCols` order. `sortCols` must be a TOTAL
    * order (unique per row), so "global order" is well-defined and the
    * result is deterministic.
    */
  def keepWithinBudget(
      stats: DataFrame,
      weightCol: String,
      budget: Long,
      sortCols: Seq[Column]): DataFrame = {
    val p = math.max(1,
      stats.sparkSession.sessionState.conf.numShufflePartitions)
    val parts = stats
      .repartitionByRange(p, sortCols: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint()
    // P rows to the driver (partition totals), never data rows
    val totals = parts.groupBy("__pid")
      .agg(sum(col(weightCol)).as("__w"))
      .collect()
      .map(r => r.getInt(0) -> r.getLong(1))
      .sortBy(_._1)
    val offsets = totals.scanLeft(0L)(_ + _._2)
    val offPairs = totals.map(_._1).zip(offsets)
    val offExpr: Column =
      if (offPairs.isEmpty) lit(0L)
      else coalesce(
        element_at(
          map(offPairs.flatMap { case (pid, off) =>
            Seq(lit(pid), lit(off)) }.toSeq: _*),
          col("__pid")),
        lit(0L))
    val w = Window.partitionBy("__pid").orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    parts
      .withColumn("__cum", sum(col(weightCol)).over(w) + offExpr)
      .filter(col("__cum") <= budget)
      .drop("__pid", "__cum")
  }
}
