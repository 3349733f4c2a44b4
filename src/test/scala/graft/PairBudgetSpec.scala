package graft

import graft.operators.{Dedup, Geo, Multimodal, PairBudget, RangeJoin}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The pair budget of the materializing pair operators, one table row
  * per operator: `Refuse` must DECLINE a run whose estimated candidate
  * mass exceeds the budget (naming the operator and its hottest
  * buckets), a budget nothing exceeds must leave the output exactly as
  * the unbudgeted operator computes it, and `Cap` must emit a
  * deterministic strict subset — never a silent truncation.
  */
class PairBudgetSpec extends SparkSpec {

  import spark.implicits._

  private lazy val docs = Tables.documents(spark, Sf0001)

  /** One operator under test. `run` yields its output with the pair
    * ids in the first two columns. `pairs`/`hash` fingerprint the
    * unbudgeted output (pair count and MurmurHash3 of the sorted pair
    * list) as computed before the budget became a parameter of the
    * operator; `cap` is a budget that drops some but not all pairs.
    */
  private final case class Case(name: String, cap: Long, pairs: Int,
      hash: Int)(val run: PairBudget => DataFrame)

  private lazy val intervals = (
    Seq((1L, 0L, 100L), (2L, 50L, 150L), (3L, 1000L, 1100L))
      .toDF("lid", "s1", "e1"),
    Seq((10L, 10L, 20L), (11L, 60L, 70L), (12L, 1050L, 1060L))
      .toDF("rid", "s2", "e2"))

  private lazy val points = Tables.customer(spark, Sf0001)
    .select(col("c_custkey").as("id"),
      (col("c_custkey") % 1000 * 50).as("lat"),
      (col("c_custkey") % 900 * 50).as("lon"))

  private lazy val payloads = Multimodal.withBinaryPayload(
    docs.filter(col("doc_id") < 200), "text")

  private val cases = Seq(
    Case("allPairsCosine", 100L, 31919, -759854174)(b =>
      Dedup.allPairsCosine(docs.filter(col("doc_id") < 300), "doc_id",
        "text", budget = b)),
    Case("containmentPairs", 24L, 28, -2138043815)(b =>
      Dedup.containmentPairs(docs, "doc_id", "text", budget = b)),
    Case("minhashNearDupsPoly", 50L, 28, -1207115130)(b =>
      Dedup.minhashNearDupsPoly(docs, "doc_id", "text", budget = b)),
    Case("editDistanceNearDups", 50L, 28, -1207115130)(b =>
      Dedup.editDistanceNearDups(docs, "doc_id", "text", budget = b)),
    Case("crossCorpusNearDups", 50L, 12, 2024596822)(b =>
      Dedup.crossCorpusNearDups(docs.filter(col("doc_id") < 250),
        docs.filter(col("doc_id") >= 250), "doc_id", "text", budget = b)),
    Case("intervalOverlap", 2L, 4, -59683904)(b =>
      RangeJoin.intervalOverlap(intervals._1, intervals._2,
        "s1", "e1", "s2", "e2", bucket = 100L, budget = b)
        .select("lid", "rid")),
    Case("radiusJoin", 5000L, 3794, 1538523260)(b =>
      Geo.radiusJoin(points, "id", "lat", "lon", 2000L, budget = b)),
    Case("binaryNearDups", 50000L, 11, -91651207)(b =>
      Multimodal.binaryNearDups(payloads, "doc_id", "payload",
        budget = b)))

  private def pairsOf(df: DataFrame): Seq[(Long, Long)] =
    df.select(df.columns(0), df.columns(1)).as[(Long, Long)]
      .collect().toSeq.sorted

  for (c <- cases) {
    lazy val full = pairsOf(c.run(PairBudget.Unlimited))

    test(s"${c.name}: Refuse(1) throws naming the operator and its " +
        "hottest buckets") {
      val e = intercept[PairBudget.Exceeded](c.run(PairBudget.Refuse(1L)))
      assert(e.what == c.name && e.getMessage.contains(c.name))
      assert(e.estimated > 1L && e.budget == 1L)
      assert(e.hottest.nonEmpty)
    }

    test(s"${c.name}: Refuse(Long.MaxValue) ≡ Unlimited ≡ the " +
        "unbudgeted operator's recorded output") {
      assert(full.size == c.pairs &&
        scala.util.hashing.MurmurHash3.seqHash(full) == c.hash,
        s"got ${full.size} pairs, hash " +
          scala.util.hashing.MurmurHash3.seqHash(full))
      assert(pairsOf(c.run(PairBudget.Refuse(Long.MaxValue))) == full)
    }

    test(s"${c.name}: Cap(${c.cap}) is a deterministic strict subset") {
      val capped = pairsOf(c.run(PairBudget.Cap(c.cap)))
      assert(capped.toSet.subsetOf(full.toSet))
      assert(capped.size < full.size, s"cap ${c.cap} dropped nothing")
      assert(capped.nonEmpty, s"cap ${c.cap} dropped everything")
      assert(pairsOf(c.run(PairBudget.Cap(c.cap))) == capped)
    }
  }

  test("Unlimited never builds the stats; a budget must be positive") {
    val df = Seq(1L, 2L).toDF("k")
    val Seq(out) = PairBudget.restrict(PairBudget.Unlimited,
      sys.error("stats built"), "op", Seq("k"), Seq(col("k")))(df)
    assert(out eq df)
    intercept[IllegalArgumentException](PairBudget.Cap(0L))
    intercept[IllegalArgumentException](PairBudget.Refuse(-1L))
  }

  test("keepWithinBudget ≡ the single-partition running-sum window") {
    val stats = spark.range(0, 2000, 1, 7)
      .select(col("id").as("k"),
        (pmod(col("id") * 7919L, lit(97L)) + 1L).as("cand"))
    val order = Seq(col("cand"), col("k"))
    for (budget <- Seq(1L, 500L, 40000L, Long.MaxValue)) {
      val got = PairBudget.keepWithinBudget(stats, "cand", budget, order)
        .select("k").as[Long].collect().sorted.toSeq
      val want = stats
        .withColumn("cum", sum("cand").over(Window.orderBy(order: _*)
          .rowsBetween(Window.unboundedPreceding, 0)))
        .filter(col("cum") <= budget)
        .select("k").as[Long].collect().sorted.toSeq
      assert(got == want, s"budget $budget")
    }
  }

  test("calibration probe: print sf0.01 pair-mass estimates") {
    // informational — the catalog budget constants must keep the
    // capped entries genuinely dropping buckets at the Verify scale
    // (sf0.01)
    val d01 = Tables.documents(spark, Sf001)
    import graft.expressions.{MinHashSig, TextShingleHashes}
    val sh = d01.select(col("doc_id").as("id"),
      array_distinct(TextShingleHashes(col("text"), 3)).as("hs"))
      .withColumn("sig", MinHashSig.ofHashes(col("hs"), 64))
    val banded = sh.select(col("id"),
      explode(Dedup.lshBandKeysPoly(col("sig"), 16, 4)).as("bk"))
    val stats = banded.groupBy("bk").agg(count(lit(1)).as("cnt"))
      .withColumn("cand", when(col("cnt") <= 2000,
        expr("cnt * (cnt - 1) div 2")).otherwise(col("cnt") - 1))
    val total = stats.agg(sum("cand")).as[Long].first()
    val nBuckets = stats.count()
    info(s"sf0.01 minhash: est=$total buckets=$nBuckets")
    val ev = Tables.events(spark, Sf001)
      .withColumn("sec", unix_timestamp(col("ts")))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("sec").as("s1"),
        (col("sec") + 300).as("e1"))
    val er = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("e_id"), col("sec").as("s2"),
        (col("sec") + 300).as("e2"))
    val ist = RangeJoin.intervalOverlapPairStats(
      p, er, "s1", "e1", "s2", "e2", 300L)
    info(s"sf0.01 interval: est=${ist.agg(sum("cand")).as[Long].first()} " +
      s"buckets=${ist.count()}")
    assert(total > 0L)
  }
}
