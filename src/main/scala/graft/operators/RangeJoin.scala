package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Range (interval-containment) join without an equi key — the join
  * shape Spark's planner renders as BroadcastNestedLoopJoin (or worse,
  * a cartesian product) if expressed directly as
  * `points.join(intervals, p >= s && p < e)`. Reference scope: the
  * reference's only temporal alignment is an exact (Date, Hour) equi
  * join; this is the training-data-pipeline extension for "events
  * within a window of X" alignment.
  *
  * Scale plan: overlap bucketing. Pick a bucket width W; a point
  * belongs to exactly one bucket `p div W`; an interval [s, e) is
  * exploded to every bucket it covers. The join becomes an EQUI join
  * on the bucket id — hash-shuffled both sides, AQE-skew-splittable,
  * never nested-loop — followed by the exact containment filter.
  * Each (interval, point) pair meets in exactly one bucket (the
  * point's), so no post-join dedup is needed. Cost: |intervals| ×
  * (len/W + 1) exploded rows; pick W near the typical interval length
  * so the blowup is ~2×. A cartesian rendering is O(|P|·|I|);
  * this is O(|P| + |I|·len/W + pairs) — the difference between
  * impossible and routine at 100 TB.
  */
object RangeJoin {

  /** Join `points` (long column `pointCol`) to `intervals` (long
    * columns `startCol`, `endCol`, half-open [start, end)) on
    * containment. Output: every (interval row ++ point row) match.
    * `bucket` is the overlap-bucket width in the same units as the
    * point column (pick ≈ the typical interval length).
    *
    * Column names must be disjoint between the two sides apart from
    * the internal `__bkt` key.
    */
  def pointInInterval(
      points: DataFrame,
      intervals: DataFrame,
      pointCol: String,
      startCol: String,
      endCol: String,
      bucket: Long): DataFrame = {
    require(bucket > 0, "bucket width must be positive")
    val p = points.withColumn("__bkt", floorDiv(col(pointCol), bucket))
    val i = intervals.withColumn(
      "__bkt",
      explode(sequence(
        floorDiv(col(startCol), bucket),
        // end is exclusive: a bucket is covered iff it contains some
        // t with s <= t < e, so the last covered bucket is (e-1) div W
        floorDiv(col(endCol) - 1, bucket))))
    i.join(p, Seq("__bkt"))
      .filter(col(pointCol) >= col(startCol) && col(pointCol) < col(endCol))
      .drop("__bkt")
  }

  /** Interval×interval OVERLAP join — both sides are intervals and a
    * pair matches iff [s1,e1) ∩ [s2,e2) ≠ ∅ (s1 < e2 ∧ s2 < e1): the
    * session-overlap / attribution shape, and the batch face of
    * streaming/StreamJoin's interval join. Same overlap-bucketing
    * idea as [[pointInInterval]] with one twist: a pair now shares
    * EVERY bucket its overlap spans, so instead of a post-join
    * dedup (a shuffle over the matches) each pair is counted exactly
    * once at its canonical meeting bucket — the bucket containing
    * max(s1, s2), the overlap's start, which both sides provably
    * explode to. Equi join on the bucket id: hash-shuffled,
    * AQE-skew-splittable, never a nested loop.
    *
    * Column names must be disjoint between the two sides apart from
    * the internal `__bkt` key. Intervals must be non-empty (s < e):
    * an empty [x, x) satisfies the pairwise inequality s1<e2 ∧ s2<e1
    * vacuously against any interval strictly containing x — in BOTH
    * this rendering and the direct inequality join (they stay
    * value-identical either way), so filter empties out first if the
    * source can produce them.
    *
    * `budget` ([[PairBudget]]) buckets candidates by overlap bucket
    * (see [[intervalOverlapPairStats]]); under a cap a pair survives
    * iff its canonical meeting bucket was kept, replayable as plain
    * SQL (inequality join + canonical-bucket membership).
    */
  def intervalOverlap(
      left: DataFrame,
      right: DataFrame,
      s1: String, e1: String,
      s2: String, e2: String,
      bucket: Long,
      budget: PairBudget = PairBudget.Unlimited): DataFrame = {
    require(bucket > 0, "bucket width must be positive")
    val Seq(l, r) = PairBudget.restrict(budget,
      intervalOverlapPairStats(left, right, s1, e1, s2, e2, bucket),
      "intervalOverlap", Seq("__bkt"), Seq(col("cand"), col("__bkt")))(
      left.withColumn("__bkt", overlapBuckets(s1, e1, bucket)),
      right.withColumn("__bkt", overlapBuckets(s2, e2, bucket)))
    l.join(r, Seq("__bkt"))
      .filter(col(s1) < col(e2) && col(s2) < col(e1))
      .filter(col("__bkt") ===
        floorDiv(greatest(col(s1), col(s2)), bucket))
      .drop("__bkt")
  }

  /** Budget stats of [[intervalOverlap]]: per overlap bucket,
    * cand = |left rows exploding there| × |right rows exploding
    * there| — an upper bound on joined rows at that bucket (the
    * canonical-meeting filter only removes). One groupBy per side +
    * a bucket-keyed count join; NO pair materialization.
    */
  def intervalOverlapPairStats(
      left: DataFrame, right: DataFrame,
      s1: String, e1: String, s2: String, e2: String,
      bucket: Long): DataFrame = {
    require(bucket > 0, "bucket width must be positive")
    def counts(df: DataFrame, s: String, e: String, cn: String) =
      df.withColumn("__bkt", overlapBuckets(s, e, bucket))
        .groupBy("__bkt").agg(count(lit(1)).as(cn))
    counts(left, s1, e1, "nl")
      .join(counts(right, s2, e2, "nr"), Seq("__bkt"))
      .withColumn("cand", col("nl") * col("nr"))
  }

  /** One row per `bucket`-wide bucket the interval [s, e) touches. */
  private def overlapBuckets(s: String, e: String, bucket: Long): Column =
    explode(sequence(
      floorDiv(col(s), bucket), floorDiv(col(e) - 1, bucket)))

  private def floorDiv(c: Column, w: Long): Column =
    floor(c / lit(w)).cast("long")
}
