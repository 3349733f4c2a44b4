package graft

import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan audits: these assert the *shape* Catalyst produces —
  * filters reaching the parquet scan, dims broadcast, partial
  * aggregation — because at 100 TB the plan shape IS the performance.
  */
class PlanSpec extends SparkSpec {

  private def planOf(name: String): String = {
    val df = Queries.specs.find(_.name == name).get.fn(spark, Sf001)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("q_s1: quantity filter is pushed into the parquet scan") {
    val p = planOf("q_s1_scan_filter_project")
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("LessThan(l_quantity,10"), p)
  }

  test("q_s1: scan reads only the 3 projected columns") {
    val p = planOf("q_s1_scan_filter_project")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("l_orderkey") &&
      readSchema.contains("l_linenumber") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_extendedprice"), readSchema)
  }

  test("q_j1: no broadcast hint on fact-scale customer; fact pre-aggs below the join") {
    // customer grows with SF — a *hint* would force a broadcast at
    // 100 TB and OOM. The analyzed plan must carry no hint at all;
    // whatever broadcast appears physically is AQE's measured-size
    // choice, which flips to shuffle-hash at scale on its own.
    val df = Queries.specs.find(_.name == "q_j1_join_agg").get.fn(spark, Sf001)
    val analyzed = df.queryExecution.analyzed.toString
    assert(!analyzed.contains("ResolvedHint"), analyzed)
    // and the orders fact collapses to per-custkey partials BEFORE
    // joining customer (the q_j8 shape): a hash agg keyed on
    // o_custkey exists, so the join runs at |customer| rows per side
    val p = planOf("q_j1_join_agg")
    assert(p.linesIterator.exists(l =>
      l.contains("Keys") && l.contains("o_custkey")), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_j3: anti join is broadcast, not sort-merge") {
    val p = planOf("q_j3_anti_join")
    assert(p.contains("LeftAnti"), p)
  }

  test("q1_agg: two-phase hash aggregation (partial then final)") {
    val p = planOf("q1_agg")
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial_sum") || p.contains("Partial"), p)
  }

  test("q_a2: min-max normalize broadcasts the grand aggregate (no global window)") {
    val p = planOf("q_a2_minmax_normalize")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("Window"), "should not single-partition via Window: " + p)
  }

  test("scan-heavy queries stay inside WholeStageCodegen") {
    // AQE's formatted plan hides codegen pre-execution; codegen mode
    // compiles the stages and reports the subtree count
    val df = Queries.specs.find(_.name == "q_f3_trunc_cast").get
      .fn(spark, Sf001)
    df.collect() // finalize THIS plan's AQE (a write would clone it)
    val p = df.queryExecution.executedPlan.toString
    // codegen stages carry the "*(n)" marker in the finalized plan
    assert(p.contains("*("), p.take(800))
  }

  test("entry: flagship joins without cartesian products") {
    val p = SparkEntry.entry(spark).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_j5: only constant-size nation is hint-broadcast; fact pre-aggs first") {
    val df = Queries.specs.find(_.name == "q_j5_star_join").get.fn(spark, Sf001)
    val lines = df.queryExecution.analyzed.toString.linesIterator.toSeq
    // exactly ONE broadcast hint, and its child subtree is the nation
    // relation (the hint is printed directly above its deepest child)
    val hintIdx = lines.zipWithIndex.filter(_._1.contains("ResolvedHint")).map(_._2)
    assert(hintIdx.size == 1, lines.mkString("\n"))
    val below = lines.drop(hintIdx.head + 1).take(3).mkString
    assert(below.contains("n_nationkey"), lines.mkString("\n"))
    assert(!below.contains("c_custkey"), lines.mkString("\n"))
    val p = planOf("q_j5_star_join")
    // lineitem collapses to per-orderkey partials below every join
    assert(p.linesIterator.exists(l =>
      l.contains("Keys") && l.contains("l_orderkey")), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p)
    // fact scan reads only the 3 needed lineitem columns
    assert(!p.contains("l_quantity"), "fact scan over-reads: " + p)
  }

  test("q_a7: exactly one Window pass (count via pre-agg join, not a 2nd window)") {
    val p = planOf("q_a7_quantiles")
    assert("Window".r.findAllIn(p).size <= 2, p) // node + its detail section
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_a5: HLL registers aggregate partially map-side (two-phase)") {
    val p = planOf("q_a5_hll_sketch")
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial_max") || p.contains("Partial"), p)
  }

  test("q_o3: boundary-filter split == global-window rendering, no global window") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val orders = Tables.orders(spark, Sf001)
    // parity reference: the single-partition rendering the oracle replays
    val w = Window.orderBy(col("o_orderdate"), col("o_orderkey"))
    val ref = orders
      .select(col("o_orderkey"), row_number().over(w).as("rn"))
      .filter(col("rn") <= 1000).orderBy("rn").collect()
    val got = Queries.specs.find(_.name == "q_o3_temporal_split").get
      .fn(spark, Sf001).collect()
    assert(got.map(r => (r.getLong(0), r.getInt(1))).toSeq
      === ref.map(r => (r.getLong(0), r.getInt(1))).toSeq)
    // and the catalog plan never single-partitions: its only window is
    // partitioned by o_orderdate
    val p = planOf("q_o3_temporal_split")
    val winLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty && winLines.forall(_.contains("o_orderdate")), p)
  }

  test("PositionalSplit: fine-grained boundary key trips the " +
      "cardinality guard, falls back to the parity-exact global window") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import graft.operators.PositionalSplit
    // o_orderkey as k1: ~1500 distinct values at sf0.001 — over a
    // tiny maxBoundaryKeys the driver prefix-scan must NOT run
    val orders = Tables.orders(spark, Sf001)
    val w = Window.orderBy(col("o_orderkey"), col("o_custkey"))
    val ref = orders
      .select(col("o_orderkey"), col("o_custkey"),
        row_number().over(w).cast("long").as("rn"))
      .filter(col("rn") <= 700).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = PositionalSplit.firstNWithRank(
        orders.select("o_orderkey", "o_custkey"),
        "o_orderkey", "o_custkey", 700, maxBoundaryKeys = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == ref)
    val (tr, te) = PositionalSplit.splitAt(
      orders.select("o_orderkey", "o_custkey"),
      "o_orderkey", "o_custkey", 700, maxBoundaryKeys = 50)
    assert(tr.count() == 700L && te.count() == orders.count() - 700L)
    // fallback rows == coarse-path rows (the two renderings agree)
    val coarse = PositionalSplit.splitAt(
      orders.select("o_orderkey", "o_custkey"),
      "o_orderkey", "o_custkey", 700)._1
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tr.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == coarse)
  }

  test("snowflake chain: three broadcast joins, fact never hash-shuffled") {
    val p = planOf("q_j8_snowflake")
    val bhj = p.linesIterator.count(_.matches("""^\(\d+\) BroadcastHashJoin.*"""))
    assert(bhj == 3, p.take(2000))
    // the only hash exchange is the 5-group aggregate's (plus the
    // presentation sort's range exchange); none feeds a join
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("q_a11: quantile windows run over the sketch, never the fact table") {
    val p = planOf("q_a11_quantile_sketch")
    // two-phase bucket aggregation first (map-side partial)...
    assert(p.contains("partial_count"), p.take(2000))
    // ...and every window operates on sketch columns (cnt over e/sub
    // buckets), none on the raw value/price column
    val winLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty)
    assert(winLines.forall(l => l.contains("cnt")), winLines.mkString("\n"))
    assert(!winLines.exists(_.contains("l_extendedprice")), winLines.mkString("\n"))
  }

  test("q_t_tfidf: heap top-k (no window sort), broadcast corpus count") {
    val p = planOf("q_t_tfidf")
    assert(p.contains("TopKPerGroup"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
    // the grand-agg N rides in as a broadcast, never a cartesian
    assert(p.contains("Broadcast"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("EXISTS/NOT EXISTS decorrelate to semi/anti hash joins") {
    val p = planOf("q_j7_exists_semi")
    assert(p.contains("LeftSemi"), p.take(1500))
    assert(p.contains("LeftAnti"), p.take(1500))
  }

  test("pretrain shard pipeline is map-only: no Exchange before the final sort") {
    val p = planOf("q_pipe_pretrain_shard")
    // exactly one exchange node — the rangepartitioning for the
    // presentation ORDER BY; the gate + split themselves never shuffle.
    // (formatted explain prints each node twice: tree line + "(N) Node"
    // detail header — count the headers.)
    val exchanges = p.linesIterator
      .filter(_.matches("""^\(\d+\) Exchange.*""")).toSeq
    assert(exchanges.size == 1, p)
    val args = p.linesIterator.filter(_.contains("rangepartitioning")).toSeq
    assert(args.nonEmpty, p)
  }

  test("temporalSplit: train/test boundary filter matches row_number split") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val df = Tables.orders(spark, Sf001)
      .select(col("o_orderdate").cast("string").as("Date"),
        col("o_orderkey").as("Hour"), col("o_totalprice"))
    val (train, test) = graft.pipelines.HistoricalTraining.temporalSplit(df, 700)
    val w = Window.orderBy(col("Date"), col("Hour"))
    val rn = df.withColumn("rn", row_number().over(w))
    val refTrain = rn.filter(col("rn") <= 700).drop("rn")
    assert(train.count() === 700)
    assert(train.exceptAll(refTrain).isEmpty && refTrain.exceptAll(train).isEmpty)
    assert(test.count() === df.count() - 700)
    assert(train.intersect(test).isEmpty)
  }

  test("q_a12: stats broadcast back; the fact never hash-shuffles " +
      "(2 exchanges: stats agg + output sort)") {
    val p = planOf("q_a12_outliers")
    assert(p.contains("BroadcastHashJoin"), p)
    val nEx = p.linesIterator.count(l =>
      l.contains(") Exchange") && !l.contains("Reused"))
    assert(nEx == 2, s"$nEx exchanges\n$p")
  }

  test("q_e_cluster_reps: map-side assignment, heap top-k — 2 " +
      "exchanges (heap partial/final + output sort), no Window") {
    val p = planOf("q_e_cluster_reps")
    assert(p.contains("TopKPerGroup"), p)
    assert(!p.contains("Window"), p)
    val nEx = p.linesIterator.count(l =>
      l.contains(") Exchange") && !l.contains("Reused"))
    assert(nEx == 2, s"$nEx exchanges\n$p")
  }

  test("q_t_bpe_merge: pairs explode over the VOCAB agg, not the " +
      "corpus — vocab shuffle + pair shuffle + TakeOrdered, no extra " +
      "exchange, no Window") {
    val p = planOf("q_t_bpe_merge_counts")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Window"), p)
    val nEx = p.linesIterator.count(l =>
      l.contains(") Exchange") && !l.contains("Reused"))
    assert(nEx == 2, s"$nEx exchanges\n$p")
    // the explode (Generate) must sit ABOVE the first HashAggregate
    // (vocab) in the plan: generating pairs from words-with-counts,
    // never from raw corpus tokens
    val lines = p.linesIterator.toSeq
    val gen = lines.indexWhere(_.contains("Generate"))
    val firstAgg = lines.indexWhere(_.contains("HashAggregate"))
    assert(gen >= 0 && firstAgg >= 0, p)
  }

  test("q_e_centroids: dim-explode partially aggregates map-side — " +
      "2 exchanges ((key,pos) partials + output sort), " +
      "no Window, no join") {
    val p = planOf("q_e_centroids")
    assert(!p.contains("Window"), p)
    assert(!p.contains("Join"), p)
    assert(p.contains("partial_sum") || p.contains("Partial"), p)
    val nEx = p.linesIterator.count(l =>
      l.contains(") Exchange") && !l.contains("Reused"))
    // (key,pos) agg + output sort. The r9 flat (label, pos,
    // centroid_micros) rendering DROPPED the per-key array-reassembly
    // aggregation the r8 shape needed — one less shuffle than before.
    assert(nEx == 2, s"$nEx exchanges\n$p")
  }

  test("q_d_semantic_dedup: candidate (window) shuffle partitions by " +
      "the cluster id and carries no vector column; no cartesian " +
      "product anywhere") {
    val p = planOf("q_d_semantic_dedup")
    assert(!p.contains("CartesianProduct"), p)
    // the bucket-window exchange is the candidate generator's only
    // corpus-wide shuffle: hashpartitioning on bk, (id, bk) columns
    // only — vectors join back per surviving pair side, never here
    val winEx = p.split("\n\n").filter(s =>
      s.contains("Exchange") && s.contains("hashpartitioning(bk"))
    assert(winEx.nonEmpty, p.take(2000))
    assert(!winEx.exists(_.contains("cvec")), winEx.mkString("\n---\n"))
  }

  test("q_e_ann_rp: both stages run the heap plan (two TopKPerGroup), " +
      "no Window, no cartesian product") {
    val p = planOf("q_e_ann_rp")
    // each stage's heap runs partial + final = 2 physical nodes
    val nHeap = p.linesIterator.count(_.contains(") TopKPerGroup"))
    assert(nHeap == 4, s"$nHeap TopKPerGroup nodes\n${p.take(1500)}")
    assert(!p.contains("Window"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("q_t_corpus_diversity: distinct aggs run two-phase as separate " +
      "plans joined — no Expand multiplying the corpus") {
    val p = planOf("q_t_corpus_diversity")
    assert(!p.contains("Expand"), p.take(2000))
    assert(p.contains("partial_count"), p.take(2000))
  }

  test("q_t_diversity_sketch: HLL registers aggregate partially " +
      "map-side; no Expand, no Window") {
    val p = planOf("q_t_diversity_sketch")
    assert(!p.contains("Expand"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
    assert(p.contains("partial_max") || p.contains("Partial"), p.take(2000))
  }

  test("q_t_bm25: heap top-k, corpus stats ride a broadcast — " +
      "no window sort over the posting table") {
    val p = planOf("q_t_bm25")
    assert(p.contains("TopKPerGroup"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p) // 1-row stats agg
    assert(!p.contains("Window"), p)
  }

  test("q_l_fuzzy_linkage: all pairwise work on the vocab table — " +
      "no fact-side self-join, no cartesian product") {
    val p = planOf("q_l_fuzzy_linkage")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the distinct-name collapse (HashAggregate keyed on name) sits
    // below the pair joins, so the joins never see the part fact
    assert(p.linesIterator.exists(l =>
      l.contains("Keys") && l.contains("name")), p.take(2000))
  }

  test("q_t_oov_rate: vocab joins the token stream as a broadcast") {
    val p = planOf("q_t_oov_rate")
    assert(p.contains("BroadcastExchange"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("q_t_char_entropy: map-only on Spark (no explode/shuffle of " +
      "the char stream; the one Exchange is the output sort)") {
    val p = planOf("q_t_char_entropy")
    assert(!p.contains("Generate"), p.take(2000)) // no explode
    assert(!p.contains("HashAggregate"), p.take(2000))
  }

  test("q_x_join_cardinality: prediction runs on the two count " +
      "tables — no orders x lineitem fact join anywhere") {
    val p = planOf("q_x_join_cardinality")
    // both sides collapse to per-key counts (partial agg) before the
    // only key join in the plan
    assert(p.contains("partial_count") || p.contains("Partial"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("q_x_cdc_apply: one two-phase aggregation — no window, no " +
      "join; the argmax rides max(struct), partial-agg'd map-side " +
      "(struct max plans as SortAggregate — sorts are WITHIN tasks, " +
      "the log still crosses the wire as one combined row per key)") {
    val p = planOf("q_x_cdc_apply")
    assert(!p.contains("Window"), p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
    // partial aggregate BELOW the exchange: the Exchange's child
    // chain must contain an aggregate (map-side combine proof)
    val nAggs = p.linesIterator.count(l =>
      l.contains("SortAggregate") || l.contains("HashAggregate"))
    assert(nAggs >= 2, s"two-phase agg expected:\n${p.take(2000)}")
  }

  test("q_x_expectations: the four row rules share ONE lineitem scan " +
      "(conditional aggregation, not a union of scans)") {
    val p = planOf("q_x_expectations")
    // formatted mode prints one `(N) Scan parquet` detail header per
    // scan node; expected: row rules 1 + pk-unique 1 + fk fact count
    // 1 + fk orphan anti-join 1 (all lineitem) + orders 1 = 5. The
    // naive per-rule rendering would be 8+.
    val scans = p.linesIterator.count(l =>
      l.startsWith("(") && l.contains("Scan parquet"))
    assert(scans <= 5, s"$scans parquet scans:\n${p.take(3000)}")
  }

  test("q_x_psi_drift: the fact folds to bins-sized counts in a " +
      "two-phase hash agg; joins run on bin tables only (a full-outer " +
      "SMJ over <=10 rows is metadata, not a fact shuffle)") {
    val p = planOf("q_x_psi_drift")
    // the bins-sized intermediates are PINNED (localCheckpoint) at
    // operator construction, so the final plan reads only the pinned
    // RDDs — zero parquet scans here, and the construction itself
    // scanned the fact exactly once per slice. Before the pin this
    // audit counted 8 fact scans (every reuse replayed the agg).
    val scans = p.linesIterator.count(l =>
      l.startsWith("(") && l.contains("Scan parquet"))
    assert(scans == 0, s"$scans parquet scans:\n${p.take(3000)}")
    assert(p.contains("ExistingRDD"), p.take(2000))
  }

  test("q_e_abtt_correct: the correction itself is map-only over the " +
      "scan — the model rides as literals, no join on the data path") {
    import graft.operators.Pca
    val e = Tables.embeddings(spark, Sf001)
    val model = Pca.fitPC1(e, "embedding", 64, 4)
    val p = Pca.removeTopComponent(e, "vec_id", "embedding", model)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Join"), p.take(2000))
  }

  test("q_mm_binary_neardup: the posting shuffle key is an 8-byte " +
      "long (native kernel), never a shingle string") {
    val df = Queries.specs.find(_.name == "q_mm_binary_neardup").get
      .fn(spark, Sf001)
    val analyzed = df.queryExecution.analyzed.toString
    assert(analyzed.contains("binary_shingle_hashes"), analyzed.take(2000))
  }

  test("q_a20_quantile_normalize: fact never sorts; both histogram " +
      "tables broadcast back") {
    val p = planOf("q_a20_quantile_normalize")
    assert(p.contains("BroadcastExchange"), p.take(2000))
    // no sort-merge anywhere: every join is against a broadcast
    // bucket table (the fact's only Sort is the presentation orderBy)
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("q_w_attribution: one events scan, one user-keyed window " +
      "chain — both models ride a single explode+agg, never two " +
      "re-executions of the fact windows") {
    val p = planOf("q_w_attribution")
    val scans = p.linesIterator.count(l =>
      l.startsWith("(") && l.contains("Scan parquet"))
    assert(scans == 1, s"$scans scans:\n${p.take(2000)}")
  }

  test("q_a25_top_movers: both period slices come from ONE " +
      "conditional-agg lineitem scan") {
    val p = planOf("q_a25_top_movers")
    val scans = p.linesIterator.count(l =>
      l.startsWith("(") && l.contains("Scan parquet"))
    assert(scans == 1, s"$scans scans:\n${p.take(2000)}")
  }

  test("q_a24_abc / q_a26_gini: one fact scan folding to the part " +
      "table — the rank/cumsum window runs on dimension scale") {
    for (name <- Seq("q_a24_abc", "q_a26_gini")) {
      val p = planOf(name)
      val scans = p.linesIterator.count(l =>
        l.startsWith("(") && l.contains("Scan parquet"))
      // abc pins its part aggregate (localCheckpoint -> 0 parquet
      // scans in the final plan, 1 at construction); gini reads once
      assert(scans <= 1, s"$name: $scans scans\n${p.take(1500)}")
      assert(p.contains("HashAggregate"), name)
    }
  }

  test("q_o13: weighted sample is TakeOrdered straight over the scan " +
      "— no exchange, no sort of the fact") {
    val p = planOf("q_o13_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), p)
    // zero exchanges: the map-side priority feeds the heap directly;
    // the only Sort in the plan orders the k-row OUTPUT above the
    // TakeOrdered, never the fact below it
    assert(!p.linesIterator.exists(l => l.contains(") Exchange")), p)
    val sortId = raw"\((\d+)\) Sort".r.findFirstMatchIn(p).get.group(1).toInt
    val takeId = raw"\((\d+)\) TakeOrderedAndProject".r
      .findFirstMatchIn(p).get.group(1).toInt
    assert(sortId > takeId, p) // ids number bottom-up: Sort sits ABOVE
  }

  test("bottomKSample: GLOBAL TopK heap — two heap phases around the " +
      "single-partition exchange, and no Sort anywhere (the query's " +
      "checkpoint hides this subplan, so it is audited directly)") {
    val df = graft.operators.Sampling.bottomKSample(
      Tables.documents(spark, Sf001).select("doc_id"), "doc_id", 100)
    val p = df.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    // partial + final heap phases (the AllTuples exchange between them
    // carries <= k * partitions survivor rows)
    assert(raw"TopKPerGroup".r.findAllIn(p).length >= 2, p.take(2000))
    assert(!p.contains(") Sort"), p.take(2000))
  }

  test("allPairsCosine posting verify: the per-pair intersection " +
      "count is a two-phase hash agg (partial combines map-side) and " +
      "the plan carries no cartesian product") {
    import org.apache.spark.sql.functions.col
    val df = graft.operators.Dedup.allPairsCosine(
      Tables.documents(spark, Sf001).filter(col("doc_id") < 300),
      "doc_id", "text", minCos2Ppm = 902500L)
    val p = df.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("HashAggregate"), p.take(2000))
    assert(p.contains("partial_count") || p.contains("Partial"),
      p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("JdbcStarSink anti-join input: the existing-keys side reads " +
      "ONLY the natural-key projection (the wire carries keys, not " +
      "rows) and joins as a broadcast LeftAnti") {
    import org.apache.spark.sql.functions.col
    val url = s"jdbc:derby:${tmpDir("derby-plan")}/plandb;create=true"
    graft.sinks.JdbcStarSink.createTables(spark, url)
    // the anti-join subplan StarSchemaSink.antiJoinExisting builds:
    val batch = Tables.events(spark, Sf0001).limit(50)
      .select(col("ts").as("DateTime"),
        (col("user_id") % 10).cast("int").as("WindSpeed"),
        (col("user_id") % 5).cast("int").as("Temperature"),
        (col("user_id") % 2 === 0).as("Precipitation"))
    val existing = graft.sources.Jdbc.read(spark, url, "weather")
    val exKeys = org.apache.spark.sql.functions.broadcast(
      existing.select(col("DateTime").as("__ex_DateTime")))
    val fresh = batch.join(exKeys,
      batch("DateTime") <=> exKeys("__ex_DateTime"), "left_anti")
    val p = fresh.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastHashJoin LeftAnti") ||
      p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // the JDBC relation scan must be pruned to the key column: its
    // node's Output line (the line AFTER "(n) Scan JDBCRelation")
    // carries exactly the DateTime attribute, never the measures
    val lines = p.linesIterator.toVector
    // the node appears twice (tree, then details); the Output line
    // belongs to the DETAILS block, so anchor on the LAST occurrence
    val i = lines.lastIndexWhere(_.contains("Scan JDBCRelation"))
    assert(i >= 0, p.take(3000))
    val out = lines.drop(i + 1).find(_.contains("Output")).get
    assert(out.contains("DateTime") && out.contains("Output [1]"), out)
    assert(!out.contains("WindSpeed"), out)
  }

  test("q_u_cidr_lookup: per-length rule joins all broadcast; the event " +
      "stream never hash-shuffles before the final sort") {
    val p = planOf("q_u_cidr_lookup")
    // one BroadcastHashJoin per distinct prefix length (5 rules, 5
    // lengths) — count the detail-section headers, the tree repeats them
    assert("""\(\d+\) BroadcastHashJoin""".r.findAllIn(p).size == 5, p)
    assert(!p.contains("SortMergeJoin"), p)
    // the only Exchange may be the ORDER BY's range partitioning —
    // no hashpartitioning of the corpus anywhere
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("pair-budget CAP paths: the cumulative keep rule never " +
      "single-partitions — every window is partitioned by the range " +
      "partition id (the r14 distributed prefix scan), and no " +
      "Exchange SinglePartition exists anywhere in the plan") {
    for (name <- Seq("q_d_minhash_pairs_budget", "q_d_editdist_budget",
        "q_j9_interval_overlap_budget", "q_d_containment_budget")) {
      val p = planOf(name)
      assert(!p.contains("SinglePartition"),
        s"$name single-partitions:\n${p.take(3000)}")
      val winLines = p.linesIterator
        .filter(_.contains("windowspecdefinition")).toSeq
      assert(winLines.nonEmpty, s"$name: keep rule window missing\n$p")
      // the keep rule's running sum is partitioned by the range
      // partition id; every other window (band-bucket / gram
      // annotations) must be partitioned too — an UNPARTITIONED spec
      // puts an ordering expression in the first argument slot
      assert(winLines.exists(_.contains("__pid")),
        s"$name keep-rule window not partitioned by __pid:\n" +
          winLines.mkString("\n"))
      val unpartitioned = winLines.filter { l =>
        val spec = l.substring(
          l.indexOf("windowspecdefinition(") + "windowspecdefinition(".length)
        val firstArg = spec.takeWhile(_ != ',')
        firstArg.contains(" ASC") || firstArg.contains(" DESC")
      }
      assert(unpartitioned.isEmpty,
        s"$name carries an unpartitioned window:\n" +
          unpartitioned.mkString("\n"))
    }
  }

  test("geo radius join: cell-key hash join, replicated side exploded not crossed") {
    val p = planOf("q_geo_radius_join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert("""\(\d+\) Generate""".r.findFirstIn(p).nonEmpty, p)
  }
}
