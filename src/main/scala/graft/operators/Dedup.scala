package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, scale-first:
  * every variant is shuffle-by-key (never a cross join), so it
  * sharded across executors on the dedup key — the 100 TB path is the
  * same plan with more partitions.
  *
  *  - exact: hash-groupBy on a content digest;
  *  - n-gram Jaccard: shingle-inverted-index join, pairs generated
  *    only for co-occurring shingles;
  *  - MinHash+LSH: signature → band buckets → bucket join (candidate
  *    generation linear in docs, never all-pairs);
  *  - SimHash: 64-bit signature via explode + columnar bit sums.
  */
object Dedup {

  /** Exact-content duplicate groups: digest → (count, keeper=min id). */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("h"))
      .agg(count(lit(1)).as("n"), min(idCol).as("keeper"))

  /** De-duplicated view: one row (min id) per distinct content. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keepers = exactDupGroups(df, idCol, textCol)
      .select(col("keeper").as(idCol))
    df.join(keepers, Seq(idCol), "left_semi")
  }

  /** Line-level boilerplate removal (the CCNet / RefinedWeb corpus
    * stage): drop every line that appears verbatim in >= `maxDocFreq`
    * DISTINCT documents — nav bars, cookie banners, licence footers —
    * preserving line order inside each surviving document. Returns
    * (idCol, clean_text, n_kept); a document whose every line is
    * boilerplate drops out entirely (by design — it carried no signal).
    *
    * Scale: lines shuffle by a 128-bit content digest (never the line
    * text) to build the document-frequency table; only the boilerplate
    * slice joins back (size bounded by total_lines / maxDocFreq, and in
    * practice by the handful of truly shared lines), left UNHINTED so
    * AQE broadcasts it exactly when it fits. The per-doc reassembly
    * groupBy is the single corpus-text shuffle.
    *
    * Contract note: EMPTY lines (consecutive newlines) share one
    * digest, so blank separators common to ≥ maxDocFreq documents are
    * removed like any other shared line — by design (they carry no
    * signal), but reassembled texts lose blank-line structure.
    */
  def dropBoilerplateLines(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDocFreq: Int): DataFrame = {
    require(maxDocFreq >= 2, s"maxDocFreq must be >= 2, got $maxDocFreq")
    val lines = df.select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .withColumn("h", md5(col("line").cast("binary")))
    val boiler = lines.select(col(idCol), col("h")).distinct()
      .groupBy("h").agg(count(lit(1)).as("docfreq"))
      .filter(col("docfreq") >= maxDocFreq)
      .select("h")
    lines.join(boiler, Seq("h"), "left_anti")
      .groupBy(idCol)
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("pos"), col("line")))),
            x => x.getField("line")),
          "\n").as("clean_text"),
        count(lit(1)).as("n_kept"))
  }

  /** Pairwise n-gram Jaccard over an inverted index: explode distinct
    * shingles, self-join on shingle (pairs only where they co-occur),
    * count intersections, then |A∪B| = |A|+|B|−|A∩B|. Returns pairs
    * (id_a < id_b) with jaccard ≥ minJaccard.
    *
    * Scale: the shuffle key is the shingle; hot shingles (stopword
    * n-grams) are the skew risk — cap posting-list length via
    * `maxShingleFreq` (standard positional-filtering trick; a shingle
    * in >F docs contributes F² pairs and almost no Jaccard signal).
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      minJaccard: Double = 0.5,
      maxShingleFreq: Int = 1000): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
      TextOps.shingles(col(textCol), n).as("sh"))
      .withColumn("sz", size(col("sh")))
    val posts = sh.select(col("id"), col("sz"), explode(col("sh")).as("g"))
    val rare = posts
      .withColumn("freq", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("g")))
      .filter(col("freq") <= maxShingleFreq)
      .drop("freq")
    val a = rare.select(col("id").as("id_a"), col("sz").as("sz_a"), col("g"))
    val b = rare.select(col("id").as("id_b"), col("sz").as("sz_b"), col("g"))
    a.join(b, Seq("g"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "sz_a", "sz_b")
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /** TF-WEIGHTED Jaccard pairs — the multiset refinement of
    * [[ngramJaccardPairs]]: wJ(A,B) = sum_t min(tfA,tfB) / sum_t
    * max(tfA,tfB), so a doc that repeats a template 5x and one that
    * has it once stop looking identical (set Jaccard can't see
    * repetition; the repetition-aware variant is what dedups
    * boilerplate-heavy crawls correctly). Decided in PURE integers:
    * the identity sum max = S_A + S_B - sum min (min+max = a+b
    * pointwise, and non-shared tokens contribute min = 0) means only
    * SHARED tokens ever join — the numerator rides the SAME posting
    * self-join that generates candidates, with per-document token
    * totals joined back (id-keyed, AQE-broadcast when batch-sized).
    * Threshold test is the cross-multiplied rational
    * `inter_w * 1e6 >= minSimPpm * (s_a + s_b - inter_w)` — no
    * division until the reported ppm, itself a truncating div.
    *
    * Tokens with document frequency > maxTokenDocFreq are dropped from
    * BOTH numerator and totals (the similarity is over the df<=cap
    * token subspace — a verified part of the semantics, replayed by
    * the oracle, not silent truncation): mega-frequent tokens carry no
    * dedup signal and would otherwise both blow the posting join and
    * let boilerplate mass dominate the weights.
    *
    * Scale: posting lists shuffle by token; candidate volume is
    * occupancy-bounded by the df cap (never all-pairs); totals are one
    * map-side agg. Long bound: inter_w * 1e6 needs per-pair shared
    * mass < 9e12 tokens — unreachable.
    */
  def weightedJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minSimPpm: Long = 500000L,
      maxTokenDocFreq: Int = 1000): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
        explode(filter(split(col(textCol), "\\s+"),
          t => length(t) > 0)).as("g"))
      .groupBy("id", "g").agg(count(lit(1)).as("tf"))
    val capped = toks
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("g")))
      .filter(col("df") <= maxTokenDocFreq)
      .drop("df")
    val tot = capped.groupBy("id").agg(sum("tf").as("s"))
    val a = capped.select(col("id").as("id_a"), col("g"), col("tf").as("tf_a"))
    val b = capped.select(col("id").as("id_b"), col("g"), col("tf").as("tf_b"))
    a.join(b, Seq("g"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(sum(least(col("tf_a"), col("tf_b"))).as("inter_w"))
      .join(tot.select(col("id").as("id_a"), col("s").as("s_a")), Seq("id_a"))
      .join(tot.select(col("id").as("id_b"), col("s").as("s_b")), Seq("id_b"))
      .filter(col("inter_w") * lit(1000000L) >=
        lit(minSimPpm) * (col("s_a") + col("s_b") - col("inter_w")))
      .withColumn("wjac_ppm",
        expr("inter_w * 1000000 div (s_a + s_b - inter_w)"))
      .select("id_a", "id_b", "inter_w", "s_a", "s_b", "wjac_ppm")
  }

  /** EXACT all-pairs cosine similarity join with prefix filtering
    * (Bayardo–Ma–Srikant, "Scaling Up All Pairs Similarity Search",
    * WWW'07) — the exact counterpart of the MinHash cascade, for the
    * regimes where approximation is unacceptable (eval-set
    * decontamination audits, legal takedown sweeps). Binary
    * token-set cosine cos(A,B) = |A∩B|/√(|A|·|B|) ≥ t, decided in
    * PURE integers on cos² (inter²·10⁶ ≥ minCos2Ppm·|A|·|B|), so the
    * whole chain replays bit-for-bit cross-engine — no sqrt, no
    * float anywhere.
    *
    * Candidate generation indexes only each document's PREFIX under
    * the global (document-frequency asc, token asc) order: any valid
    * pair needs overlap ≥ ⌈t²·|d|⌉ for BOTH members (the size filter
    * |B| ≥ t²·|A| folds into the bound: i ≥ t·√(ab) ≥ t²·max(a,b)),
    * and the prefix-filtering lemma says records sharing no token in
    * their (|d|−minov+1)-prefixes cannot reach that overlap — tokens
    * past the prefix are skipped COMPLETELY with zero recall loss.
    * The df-ascending order is what makes this a 100 TB shape: the
    * surviving posting lists hold each document's corpus-RAREST
    * tokens, so the self-join key distribution is thin by
    * construction (a frequent token appears only deep in suffixes
    * and never enters the index). Verification joins candidates back
    * to the full posting table and counts the exact intersection.
    * Completeness holds for ANY consistent global order, so the
    * final output is independent of tie-breaking — only candidate
    * volume depends on it. Exact-duplicate documents share entire
    * prefixes; run [[exactDedup]] first (house cascade order) so
    * replicas collapse before the pairwise stage.
    *
    * Default threshold cos² ≥ 0.49 ppm-exact (t = 0.7). Output:
    * (id_a < id_b, sz_a, sz_b, inter, cos2_ppm) with
    * cos2_ppm = ⌊inter²·10⁶ / (sz_a·sz_b)⌋. Long bound: inter²·10⁶
    * needs inter ≲ 3·10⁶ distinct shared tokens per pair — lift the
    * decision products to DECIMAL(38) past that; the shape is
    * unchanged.
    *
    * `budget` ([[PairBudget]]) buckets candidates by prefix token.
    */
  def allPairsCosine(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minCos2Ppm: Long = 490000L,
      budget: PairBudget = PairBudget.Unlimited): DataFrame = {
    val (posts, pre) = prefixIndex(df, idCol, textCol, minCos2Ppm)
    // budget buckets are prefix TOKENS, cand_tk = C(prefix postings, 2):
    // an upper bound on the candidate self-join's rows at that token
    // (the size-ratio filter only removes). Under a cap a pair
    // survives iff at least one kept prefix token still links it.
    val kept = PairBudget.restrict(budget,
      pre.groupBy("tk").agg(count(lit(1)).as("pp"))
        .withColumn("cand", expr("pp * (pp - 1) div 2")),
      "allPairsCosine", Seq("tk"), Seq(col("cand"), col("tk")))(pre).head
    // size filter folded into candidate gen (standard companion to the
    // prefix filter, prunes no valid pair): cos ≥ t forces
    // t²·max(a,b) ≤ min(a,b).
    val cand = kept.select(col("id").as("id_a"), col("sz").as("sz_a"),
        col("tk"))
      .join(kept.select(col("id").as("id_b"), col("sz").as("sz_b"),
        col("tk")), Seq("tk"))
      .filter(col("id_a") < col("id_b") &&
        greatest(col("sz_a"), col("sz_b")) * lit(minCos2Ppm) <=
          least(col("sz_a"), col("sz_b")) * lit(1000000L))
      .select("id_a", "id_b", "sz_a", "sz_b").distinct()
    // verify: candidates join each side's narrow (id, tk) postings and
    // the group count combines map-side. Measured faster than
    // intersecting the two token arrays on the full sf0.1 corpus —
    // 29.5 vs 41.0 s at t=0.95 (544k pairs) and 114.5 vs 132.2 s at
    // t=0.7 (8.43M pairs; BASELINE §6) — and it is the only shape that
    // tolerates million-token documents (the array form would carry
    // such an array through the join per candidate).
    cand
      .join(posts.select(col("id").as("id_a"), col("tk")), Seq("id_a"))
      .join(posts.select(col("id").as("id_b"), col("tk")),
        Seq("id_b", "tk"))
      .groupBy("id_a", "id_b", "sz_a", "sz_b")
      .agg(count(lit(1)).as("inter"))
      .filter(col("inter") * col("inter") * lit(1000000L) >=
        lit(minCos2Ppm) * col("sz_a") * col("sz_b"))
      .withColumn("cos2_ppm",
        expr("inter * inter * 1000000 div (sz_a * sz_b)"))
      .select("id_a", "id_b", "sz_a", "sz_b", "inter", "cos2_ppm")
  }

  /** Shared prefix-index build for [[allPairsCosine]] and its
    * histogram: (posts = exploded per-doc distinct tokens, pre =
    * prefix-filtered postings under the global (df asc, tk asc) order).
    */
  private def prefixIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minCos2Ppm: Long): (DataFrame, DataFrame) = {
    val tok = df.select(col(idCol).as("id"),
        array_distinct(TextOps.tokens(col(textCol))).as("ts"))
      .withColumn("sz", size(col("ts")).cast("long"))
      .filter(col("sz") > 0)
    val posts = tok.select(col("id"), col("sz"), explode(col("ts")).as("tk"))
    val dfreq = posts.groupBy("tk").agg(count(lit(1)).as("df"))
    // per-doc prefix position under the global (df asc, tk asc) order:
    // a per-id window (doc-sized partitions), never a global one.
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("df"), col("tk"))
    val minov = // ⌈t²·sz⌉ in pure long arithmetic
      expr(s"($minCos2Ppm * sz + 999999) div 1000000")
    val pre = posts.join(dfreq, Seq("tk"))
      .withColumn("pos", row_number().over(byDoc).cast("long"))
      .filter(col("pos") <= col("sz") - minov + lit(1L))
      .select("id", "sz", "tk")
    (posts, pre)
  }

  /** Per-token candidate histogram for [[allPairsCosine]] — the
    * blowup early-warning the exact contract otherwise hides: the
    * prefix filter bounds each DOCUMENT's indexed postings, but a
    * token landing in MANY documents' prefixes still yields
    * n·(n−1)/2 candidate pairs for that token, and exactness forbids
    * capping it (any cap loses pairs). A production caller runs this
    * (one groupBy over the same prefix index — no pair
    * materialization) before the join and sees exactly which tokens
    * would go quadratic. Output per token, worst-first:
    * (tk, df = full corpus posting count, prefix_postings = entries
    * surviving the prefix filter, cand_pairs = prefix_postings
    * choose 2, the token's pre-size-filter candidate contribution).
    */
  def allPairsCosineTokenHistogram(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minCos2Ppm: Long = 490000L): DataFrame = {
    val (posts, pre) = prefixIndex(df, idCol, textCol, minCos2Ppm)
    val dfreq = posts.groupBy("tk").agg(count(lit(1)).as("df"))
    pre.groupBy("tk").agg(count(lit(1)).as("prefix_postings"))
      .join(dfreq, Seq("tk"))
      .withColumn("cand_pairs",
        expr("prefix_postings * (prefix_postings - 1) div 2"))
      .select("tk", "df", "prefix_postings", "cand_pairs")
      .orderBy(col("cand_pairs").desc, col("tk"))
  }

  /** MinHash signature column: k independent permutation approximations
    * h_i(x) = (a_i·x + b_i) mod P over base-hashed shingles. Seeds are
    * deterministic (fixed RNG seed) so signatures are reproducible
    * across runs/executors. Returns array<long> of length k.
    */
  val MinhashP = 1000000007L

  /** Substring-containment dedup: (inner, outer) pairs where doc
    * `inner`'s full text occurs verbatim inside doc `outer` — the
    * truncation/quote/mirror class of duplicate that Jaccard misses
    * once the size ratio grows (a 10% prefix of a long doc has tiny
    * Jaccard but is still a duplicate to drop).
    *
    * CONTRACT (what "containment" means here): WHITESPACE-TOKEN-ALIGNED
    * verbatim containment — inner's text must start and end on outer's
    * token boundaries for a candidate to be generated (a raw substring
    * that starts or ends mid-token can pass an `instr` check but shares
    * no token shingle with its container, so no candidate exists).
    * STRICTLY SHORTER inner only: equal-length exact duplicates are
    * excluded by design — that class is [[exactDedup]]'s job, and the
    * deployed composition runs this operator after it. Docs under `w`
    * tokens emit no shingle and are never reported (same strictness as
    * Decontaminate).
    *
    * Candidate generation is the rarest-anchor trick with a GLOBALLY
    * DF-RAREST anchor: every w-shingle of a token-aligned substring
    * also appears in its container, so ANY single shingle of inner
    * works as the anchor — each doc posts ONE anchor row against the
    * shingle index, making the candidate join |docs| ×
    * postings(anchor gram) instead of an all-shingles self-join. The
    * anchor is chosen by minimum global document frequency
    * (tie-break: lexicographic min gram) from a vocabulary-sized df
    * pass — the same shape TfIdf's df table builds. A
    * lexicographic-min anchor (the previous rendering) is NOT rare: a
    * common leading boilerplate gram lands every doc that shares it
    * in one posting list and candidates grow quadratically; df-argmin
    * picks each doc's least-shared gram, so a doc only competes with
    * the few docs that genuinely share its rarest content.
    *
    * Hot-postings cap: posting lists longer than `maxPostings` keep
    * only the `maxPostings` smallest doc ids (deterministic, oracle-
    * replayable — same philosophy as [[DefaultMaxBucket]] for MinHash
    * bands), selected on the TopKPerGroup heap plan — no per-gram
    * sort. The cap is part of the operator's definition. A true
    * containment is missed only when inner's GLOBALLY RAREST gram
    * still has > `maxPostings` postings and outer is unlucky in id
    * order — i.e. inner is made entirely of heavily-shared
    * boilerplate, exactly the class a dedup pipeline drops anyway.
    * Candidates then verify with one exact `instr` + length check, so
    * false positives are impossible. Deterministic end to end: grams
    * ride the base-31 poly hash (TextShingleHashes), which the oracle
    * recomputes with the identical integer fold — so df counts,
    * argmin anchors, and the cap replay exactly in any engine.
    *
    * Cost model: candidates = Σ_docs min(postings(rarest gram),
    * maxPostings) ≤ |docs| × maxPostings — LINEAR in the corpus by
    * construction, vs the old rendering's measured quadratic blow-up
    * on replica-heavy corpora (BASELINE §6: raw 5.8 s at sf1 vs 1.2 s
    * composed). Run after [[exactDedup]] in production regardless:
    * byte-identical replicas carry no containment information.
    *
    * `budget` ([[PairBudget]]) buckets candidates by anchor gram (see
    * [[containmentStats]]).
    */
  def containmentPairs(
      df: DataFrame, idCol: String, textCol: String,
      w: Int = 4,
      maxPostings: Int = DefaultMaxBucket,
      budget: PairBudget = PairBudget.Unlimited): DataFrame = {
    val docs = df.select(col(idCol).as("id"), col(textCol).as("text"))
    // The posting table carries POLY-HASHED grams (8-byte longs via
    // the native TextShingleHashes kernel — the same base-31 fold of
    // the concatenated shingle the oracle replays), not ~30-byte gram
    // strings: the posting table is the thing this operator shuffles
    // twice, so key width IS the cost at scale. A hash collision can
    // only merge two posting lists — extra candidates that the exact
    // instr verify then discards, never a missed pair (the anchor is
    // still one of inner's gram hashes, and outer carries the same
    // hash). The strict-shingle contract (< w tokens → no postings)
    // is enforced by the explicit size gate: the kernel itself
    // whole-text-hashes short docs for the MinHash family's benefit.
    val sh = docs.select(col("id"),
      explode(when(size(TextOps.tokens(col("text"))) >= w,
        array_distinct(graft.expressions.TextShingleHashes(col("text"), w)))
        .otherwise(array().cast("array<long>"))).as("g"))
    // Window rendering, measured fastest (plan audited): the anchors
    // branch shuffles the posting table ONCE (sort on 8-byte keys,
    // then df-count window + argmin agg ride the same sorted
    // exchange), and the postings branch gets the cap pushed MAP-SIDE
    // by Spark 4's WindowGroupLimit rewrite — `rn <= maxPostings`
    // becomes a per-partition group limit BEFORE its exchange, so hot
    // posting lists never cross the wire (the TopKPerGroup heap cap,
    // derived by the optimizer). The explicit join/heap rendering (df
    // via groupBy + join back, cap via TopK.perGroup) shuffles the
    // full posting table twice and measured 1.4-3.6× slower at
    // sf0.1/10× despite avoiding the window sorts.
    val wg = org.apache.spark.sql.expressions.Window.partitionBy("g")
    val ann = sh
      .withColumn("df", count(lit(1)).over(wg))
      .withColumn("rn", row_number().over(wg.orderBy("id")))
    val anchors = ann.groupBy("id")
      .agg(min(struct(col("df"), col("g"))).as("a"))
      .select(col("id").as("inner_id"), col("a.g").as("g"))
    val postings = ann.filter(col("rn") <= maxPostings)
      .select(col("id").as("outer_id"), col("g"))
    val kept = PairBudget.restrict(budget,
      containmentStats(anchors, postings), "containmentPairs",
      Seq("g"), Seq(col("cand"), col("g")))(anchors).head
    // candidate join + exact instr verify
    kept
      .join(postings, Seq("g"))
      .filter(col("inner_id") =!= col("outer_id"))
      .select("inner_id", "outer_id")
      .join(docs.select(col("id").as("inner_id"), col("text").as("t_in")),
        Seq("inner_id"))
      .join(docs.select(col("id").as("outer_id"), col("text").as("t_out")),
        Seq("outer_id"))
      .filter(length(col("t_in")) < length(col("t_out"))
        && instr(col("t_out"), col("t_in")) > 0)
      .select("inner_id", "outer_id")
  }

  /** Per-gram candidate mass of [[containmentPairs]] — the budget
    * buckets are anchor GRAMS: cand_g = (#docs anchored at g) ×
    * (#capped postings at g), an upper bound on the candidate join's
    * rows at that gram; one groupBy per branch over the posting
    * metadata, NO pair materialization. A gram with a single posting
    * is left out: its one candidate is the anchor paired with itself,
    * which the verify drops, so charging it would let self-pairs use
    * up a cap.
    */
  private def containmentStats(
      anchors: DataFrame, postings: DataFrame): DataFrame =
    anchors.groupBy("g").agg(count(lit(1)).as("na"))
      .join(postings.groupBy("g").agg(count(lit(1)).as("np"))
        .filter(col("np") > 1), Seq("g"))
      .withColumn("cand", col("na") * col("np"))

  /** Hot-bucket cap shared by the MinHash band join and the SimHash
    * pigeonhole blocker — AND interpolated into their oracle SQL
    * (Queries.scala), so Scala and oracle can never silently drift.
    */
  val DefaultMaxBucket = 200

  /** Native fused loop (graft.expressions.MinHashSig) — the hot path. */
  def minhashSignature(shingles: Column, k: Int = 64, seed: Long = 42L): Column =
    graft.expressions.MinHashSig.ofShingles(shingles, k, seed)

  /** Composable HOF rendering — semantic reference; identical values
    * (DedupSpec asserts equality against the native path).
    */
  def minhashSignatureHof(shingles: Column, k: Int = 64, seed: Long = 42L): Column = {
    val rnd = new scala.util.Random(seed)
    val coefs = Seq.fill(k)((1 + rnd.nextLong(MinhashP - 1), rnd.nextLong(MinhashP)))
    // bind the base hashes: without it each of the k array_min branches
    // would re-hash every shingle (k× work; trees, not DAGs)
    graft.functions.ColumnOps.bind(
      transform(shingles, s => pmod(xxhash64(s), lit(MinhashP)))) { base =>
      array(coefs.map { case (a, b) =>
        array_min(transform(base, x => (x * a + b) % MinhashP))
      }: _*)
    }
  }

  /** LSH band keys from a signature: `bands` hashes, each over
    * `sigLen/bands` consecutive signature slots. Two docs sharing any
    * band key are candidates (prob ≈ 1-(1-j^r)^b).
    */
  def lshBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { bnd =>
      struct(lit(bnd).as("band"),
        xxhash64(concat_ws("_",
          slice(sig, bnd * rowsPerBand + 1, rowsPerBand))).as("key"))
    }: _*)

  /** Deterministic-poly band keys: key = base-31 fold of the band's
    * signature slots mod P — same bucketing power as the xxhash64
    * variant but replayable in any engine (the DuckDB oracle runs the
    * identical list_reduce fold).
    */
  def lshBandKeysPoly(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { bnd =>
      struct(lit(bnd).as("band"),
        aggregate(slice(sig, bnd * rowsPerBand + 1, rowsPerBand),
          lit(0L), (acc, v) => (acc * 31L + v) % MinhashP).as("key"))
    }: _*)

  /** Per-bucket candidate-pair mass of [[bandCandidatePairs]] under
    * the star cap, the budget stats of the band chains — one groupBy
    * over the (id, bk) band table, NO pair materialization: cool
    * buckets contribute C(cnt,2), hot buckets their star size (cnt−1).
    * Σcand is an upper bound on emitted pairs (cross-band duplicates
    * collapse in dropDuplicates). Under a cap whole buckets are kept
    * in ascending (cand, band, key) order.
    */
  private def bandPairStats(
      banded: DataFrame, maxBucket: Int): DataFrame =
    banded.groupBy("bk").agg(count(lit(1)).as("cnt"))
      .withColumn("cand",
        when(col("cnt") <= maxBucket, expr("cnt * (cnt - 1) div 2"))
          .otherwise(col("cnt") - 1))

  /** `banded` under `budget`, bucketed by band key (see
    * [[bandPairStats]]).
    */
  private def budgetBands(banded: DataFrame, maxBucket: Int,
      budget: PairBudget, what: String): DataFrame =
    PairBudget.restrict(budget,
      bandPairStats(banded, maxBucket), what, Seq("bk"),
      Seq(col("cand"), col("bk.band"), col("bk.key")))(banded).head

  /** Candidate pairs from an exploded band table `(id, bk)` with a
    * hot-bucket cap. A duplicate-heavy corpus — the exact workload
    * dedup exists for — concentrates identical signatures into
    * identical band keys, and an F-doc bucket self-join is F² pairs
    * (one 10⁵-doc bucket alone is 10¹⁰). Buckets with ≤ `maxBucket`
    * members self-join all-pairs; hotter buckets degrade to STAR
    * pairing around the bucket's min-id representative — O(F)
    * candidates, and (unlike dropping the bucket, as the SimHash
    * pigeonhole blocker does) an exact-duplicate cluster stays one
    * connected component: every member still pairs with the
    * representative at Jaccard 1. The trade-off: non-representative
    * hot-hot pairs are lost, which is free for EXACT-duplicate hot
    * clusters (the star preserves the component) but can degrade
    * connected-component recall for hot clusters of near-identical
    * NON-equal docs whose pairs no other band bucket catches. The cap
    * is part of the operator's definition, so the oracle replays it
    * exactly.
    *
    * Only ids ride the candidate shuffle — callers join signature /
    * shingle arrays back AFTER `dropDuplicates`, so the wide arrays
    * cross the wire once per surviving pair side, not once per
    * band·bucket occupancy.
    */
  private[operators] def bandCandidatePairs(
      banded: DataFrame, // (id, bk)
      maxBucket: Int): DataFrame = {
    // One window pass annotates every band row with its bucket size and
    // min-id representative; the cool (all-pairs) and hot (star) cases
    // then collapse into a single self-join: a row EMITS pairs if its
    // bucket is cool OR it is the representative, and every row is a
    // pair TARGET. id_a < id_b yields exactly all-pairs for cool
    // buckets and rep-to-member stars for hot ones (rep = min id).
    // Both join sides share the one exchange under the window
    // (ReusedExchange), so the upstream signature computation — the
    // expensive part — runs once, and only (id, bk) rides the shuffle.
    val w = org.apache.spark.sql.expressions.Window.partitionBy("bk")
    val ann = banded
      .withColumn("cnt", count(lit(1)).over(w))
      .withColumn("rep", min("id").over(w))
    val emitters = ann
      .filter(col("cnt") <= maxBucket || col("id") === col("rep"))
      .select(col("bk"), col("id").as("id_a"))
    val members = ann.select(col("bk"), col("id").as("id_b"))
    emitters.join(members, Seq("bk"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
  }

  /** Exact-Jaccard verify on candidate id pairs: join the per-doc
    * element arrays back (post-dedup — see bandCandidatePairs) and
    * threshold |A∩B| / |A∪B|.
    */
  private def verifyJaccard(
      cands: DataFrame, // (id_a, id_b)
      elems: DataFrame, // (id, es)
      minJaccard: Double): DataFrame =
    cands
      .join(elems.select(col("id").as("id_a"), col("es").as("es_a")), Seq("id_a"))
      .join(elems.select(col("id").as("id_b"), col("es").as("es_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("es_a"), col("es_b"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("es_a")) + size(col("es_b")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")

  /** minhashNearDups over the deterministic poly sketch stack
    * (native TextShingleHashes → MinHashSig → poly band keys):
    * identical pipeline shape, but every stage replays in the DuckDB
    * oracle — including the `maxBucket` hot-bucket star cap (see
    * bandCandidatePairs). Jaccard is computed on the distinct
    * shingle-HASH sets (engine-replayable; equal to string-shingle
    * Jaccard modulo ~1e-9-probability hash collisions).
    *
    * `budget` ([[PairBudget]]) buckets candidates by band key (see
    * [[bandPairStats]]); the estimate is one groupBy over the band
    * table, never a pair.
    */
  def minhashNearDupsPoly(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      k: Int = 64,
      bands: Int = 16,
      minJaccard: Double = 0.5,
      maxBucket: Int = DefaultMaxBucket,
      budget: PairBudget = PairBudget.Unlimited): DataFrame = {
    import graft.expressions.{MinHashSig, TextShingleHashes}
    val rowsPerBand = k / bands
    val sh = df.select(col(idCol).as("id"),
      array_distinct(TextShingleHashes(col(textCol), n)).as("hs"))
      .withColumn("sig", MinHashSig.ofHashes(col("hs"), k))
    val banded = sh.select(col("id"),
      explode(lshBandKeysPoly(col("sig"), bands, rowsPerBand)).as("bk"))
    verifyJaccard(
      bandCandidatePairs(
        budgetBands(banded, maxBucket, budget, "minhashNearDupsPoly"),
        maxBucket),
      sh.select(col("id"), col("hs").as("es")), minJaccard)
  }

  /** [[minhashNearDupsPoly]] with the signature built by ONE-
    * permutation MinHash + rotation densification
    * (expressions.OnePermMinHash) instead of the k-permutation loop:
    * identical banding / hot-bucket cap / exact-Jaccard verify, but
    * the signature-build scan does one multiply-add per shingle
    * instead of k — the published ~k-fold build-cost cut (Li-Owen-
    * Zhang NIPS'12). At corpus scale the signature scan IS the dedup
    * bill, so this is the default to reach for when k ≥ 32; the
    * classic kernel stays as the variance-reference. Candidate sets
    * differ slightly from the k-perm variant (different signature
    * randomness, same S-curve), but the exact-Jaccard verify gate
    * makes the OUTPUT quality identical: only recall at the band
    * threshold can move, precision cannot.
    */
  def minhashNearDupsOph(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      k: Int = 64,
      bands: Int = 16,
      minJaccard: Double = 0.5,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    import graft.expressions.{OnePermMinHash, TextShingleHashes}
    val rowsPerBand = k / bands
    val sh = df.select(col(idCol).as("id"),
      array_distinct(TextShingleHashes(col(textCol), n)).as("hs"))
      .withColumn("sig", OnePermMinHash.ofHashes(col("hs"), k))
    val banded = sh.select(col("id"),
      explode(lshBandKeysPoly(col("sig"), bands, rowsPerBand)).as("bk"))
    verifyJaccard(
      bandCandidatePairs(banded, maxBucket),
      sh.select(col("id"), col("hs").as("es")), minJaccard)
  }

  /** Cross-corpus near-duplicate pairs — "dedup the arrival batch
    * against the training corpus": candidate pairs are generated ONLY
    * between side A and side B (two docs sharing any LSH band key),
    * never within a side. At 100 TB this is the recurring ingest
    * operation: the training corpus is already internally deduped, so
    * within-side pairs — the quadratic bulk of a naive union+self-join
    * — are pure waste; generating cross-side only makes the candidate
    * volume |A∩B-similar| instead of |A∪B|².
    *
    * Same deterministic poly sketch stack as [[minhashNearDupsPoly]]
    * (identical signatures ⇒ a doc pair lands in the same buckets
    * whether it arrives within one corpus or across two). Hot-bucket
    * cap: a bucket holding F_a × F_b cross pairs is capped by total
    * occupancy — buckets with cnt_a + cnt_b ≤ `maxBucket` emit full
    * A×B; hotter buckets degrade to the two STARS around each side's
    * min-id representative (rep_a × all B, all A × rep_b), preserving
    * A↔B connectivity for exact-duplicate clusters at O(F) — the
    * cross-corpus analog of [[bandCandidatePairs]]' star cap, equally
    * part of the operator's definition and replayed by the oracle.
    * Exact-Jaccard verify on the shingle-hash sets, as everywhere.
    *
    * `budget` ([[PairBudget]]) buckets candidates by band key (see
    * [[crossBandPairStats]]).
    */
  def crossCorpusNearDups(
      dfA: DataFrame,
      dfB: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      k: Int = 64,
      bands: Int = 16,
      minJaccard: Double = 0.5,
      maxBucket: Int = DefaultMaxBucket,
      budget: PairBudget = PairBudget.Unlimited): DataFrame = {
    import graft.expressions.{MinHashSig, TextShingleHashes}
    val rowsPerBand = k / bands
    def sketch(df: DataFrame) = df.select(
      col(idCol).cast("long").as("id"),
      array_distinct(TextShingleHashes(col(textCol), n)).as("hs"))
      .withColumn("sig", MinHashSig.ofHashes(col("hs"), k))
    val sa = sketch(dfA)
    val sb = sketch(dfB)
    def banded(s: DataFrame) = s.select(col("id"),
      explode(lshBandKeysPoly(col("sig"), bands, rowsPerBand)).as("bk"))
    val (ba, bb) = (banded(sa), banded(sb))
    val Seq(ka, kb) = PairBudget.restrict(budget,
      crossBandPairStats(ba, bb, maxBucket), "crossCorpusNearDups",
      Seq("bk"), Seq(col("cand"), col("bk.band"), col("bk.key")))(ba, bb)
    crossBandCandidatePairs(ka, kb, maxBucket)
      .join(sa.select(col("id").as("id_a"), col("hs").as("hs_a")), Seq("id_a"))
      .join(sb.select(col("id").as("id_b"), col("hs").as("hs_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("hs_a"), col("hs_b"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("hs_a")) + size(col("hs_b")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /** Per-bucket CROSS candidate mass under the total-occupancy cap,
    * the budget stats of [[crossCorpusNearDups]]: cool buckets
    * (cnt_a + cnt_b ≤ maxBucket) contribute cnt_a·cnt_b, hot buckets
    * their two stars (cnt_a + cnt_b − 1). Upper bound (cross-band
    * duplicates collapse later); one groupBy per side, NO pair
    * materialization. Under a cap both sides keep the same buckets.
    */
  private def crossBandPairStats(
      bandedA: DataFrame, bandedB: DataFrame, maxBucket: Int): DataFrame =
    bandedA.groupBy("bk").agg(count(lit(1)).as("cnt_a"))
      .join(bandedB.groupBy("bk").agg(count(lit(1)).as("cnt_b")), Seq("bk"))
      .withColumn("cand",
        when(col("cnt_a") + col("cnt_b") <= maxBucket,
          col("cnt_a") * col("cnt_b"))
          .otherwise(col("cnt_a") + col("cnt_b") - 1))

  /** Cross-side band candidates: rows of `bandedA` (id, bk) pair with
    * rows of `bandedB` sharing a band key — never within a side. The
    * total-occupancy cool/two-star cap of [[crossCorpusNearDups]],
    * shared with the embedding-space analog
    * (Similarity.crossCorpusCosineNearDups) so text and vector
    * cross-corpus dedup cap identically.
    */
  private[operators] def crossBandCandidatePairs(
      bandedA: DataFrame, // (id, bk)
      bandedB: DataFrame, // (id, bk)
      maxBucket: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("bk")
    def ann(df: DataFrame, idOut: String, cnt: String, rep: String) =
      df.withColumn(cnt, count(lit(1)).over(w))
        .withColumn(rep, min("id").over(w))
        .select(col("bk"), col("id").as(idOut), col(cnt), col(rep))
    ann(bandedA, "id_a", "cnt_a", "rep_a")
      .join(ann(bandedB, "id_b", "cnt_b", "rep_b"), Seq("bk"))
      .filter(col("cnt_a") + col("cnt_b") <= maxBucket
        || col("id_a") === col("rep_a") || col("id_b") === col("rep_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
  }

  /** Edit-distance near-dup — the full production cascade, each stage
    * cutting the next stage's input by orders of magnitude:
    * MinHash+LSH candidates (the same banded/capped poly chain as
    * [[minhashNearDupsPoly]]) → cheap shingle-set Jaccard gate
    * (`jaccardFloor`, part of the operator's contract and replayed by
    * the oracle) → exact bounded-Levenshtein verify. The O(|a|·|b|)
    * DP runs only on pairs that are already set-similar, and
    * exact-equal texts short-circuit to dist 0 without a DP — on a
    * duplicate-heavy corpus (the near-dup workload) that skips the
    * DP for the dominant pair class entirely: measured at 10× data,
    * the cascade cut this operator 65 s → ~11 s. The thresholded
    * `levenshtein(a, b, maxDist)` also abandons any DP whose distance
    * provably exceeds the bound.
    *
    * `budget` ([[PairBudget]]) gates the candidate stage exactly as in
    * [[minhashNearDupsPoly]]; the Jaccard gate and the Levenshtein
    * verify run only on the pairs it lets through.
    */
  def editDistanceNearDups(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int = 64,
      jaccardFloor: Double = 0.4,
      n: Int = 3,
      k: Int = 64,
      bands: Int = 16,
      maxBucket: Int = DefaultMaxBucket,
      budget: PairBudget = PairBudget.Unlimited): DataFrame = {
    import graft.expressions.{MinHashSig, TextShingleHashes}
    val rowsPerBand = k / bands
    val sh = df.select(col(idCol).as("id"),
      array_distinct(TextShingleHashes(col(textCol), n)).as("hs"))
      .withColumn("sig", MinHashSig.ofHashes(col("hs"), k))
    val banded = sh.select(col("id"),
      explode(lshBandKeysPoly(col("sig"), bands, rowsPerBand)).as("bk"))
    val texts = df.select(col(idCol).as("id"), col(textCol).as("txt"))
    val inter = size(array_intersect(col("hs_a"), col("hs_b")))
    val union = size(col("hs_a")) + size(col("hs_b")) - inter
    // stage order is the cost model: the CANDIDATE join carries only
    // the shingle-hash arrays (needed for the Jaccard gate); the wide
    // text columns join in afterwards, for gate SURVIVORS only — on a
    // duplicate-heavy corpus that is orders of magnitude fewer rows
    val gated = bandCandidatePairs(
        budgetBands(banded, maxBucket, budget, "editDistanceNearDups"),
        maxBucket)
      .join(sh.select(col("id").as("id_a"), col("hs").as("hs_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("hs").as("hs_b")), Seq("id_b"))
      .filter(inter.cast("double") / union.cast("double") >= jaccardFloor)
      .select("id_a", "id_b")
    gated
      .join(texts.select(col("id").as("id_a"), col("txt").as("t_a")), Seq("id_a"))
      .join(texts.select(col("id").as("id_b"), col("txt").as("t_b")), Seq("id_b"))
      .withColumn("dist", when(col("t_a") === col("t_b"), 0)
        .otherwise(levenshtein(col("t_a"), col("t_b"), maxDist)))
      // thresholded levenshtein returns -1 above the bound and can't
      // go negative otherwise, so ONE predicate reference suffices —
      // the filter inlines the alias, so each extra reference is a
      // whole extra DP per row (measured: the 2-predicate spelling
      // cost ~1.3x on the DP-heavy sf1 corpus)
      .filter(col("dist") =!= -1)
      .select("id_a", "id_b", "dist")
  }

  /** MinHash+LSH candidate pairs with exact-Jaccard verification:
    * shingle → signature → band explode → capped bucket self-join
    * (bandCandidatePairs) → verify true Jaccard on the candidate set
    * only.
    */
  def minhashNearDups(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      k: Int = 64,
      bands: Int = 16,
      minJaccard: Double = 0.5,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val rowsPerBand = k / bands
    val sh = df.select(col(idCol).as("id"),
      TextOps.shingles(col(textCol), n).as("sh"))
      .withColumn("sig", minhashSignature(col("sh"), k))
    val banded = sh.select(col("id"),
      explode(lshBandKeys(col("sig"), bands, rowsPerBand)).as("bk"))
    verifyJaccard(
      bandCandidatePairs(banded, maxBucket),
      sh.select(col("id"), col("sh").as("es")), minJaccard)
  }

  /** 64-bit SimHash per document: explode tokens, hash once, then 64
    * columnar bit-sums (map-side partial agg; one shuffle on the id).
    * Weighted variant would pass a weight column instead of ±1.
    */
  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol).as("id"),
      explode(TextOps.tokens(col(textCol))).as("t"))
      .withColumn("h", xxhash64(col("t")))
    val bitSums = (0 until 64).map { b =>
      sum(shiftright(col("h"), b).bitwiseAND(1) * 2 - 1).as(s"b$b")
    }
    val agg = tok.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until 64).map { b =>
      when(col(s"b$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }.reduce(_ + _)
    agg.select(col("id"), sig.as("simhash"))
  }

  /** SimHash near-dup candidates at Hamming distance ≤ maxHamming,
    * blocked on 16-bit chunks (pigeonhole: distance ≤3 over 4 chunks
    * guarantees one identical chunk — no all-pairs comparison).
    *
    * Buckets larger than `maxBucket` are dropped from candidate
    * generation (same hot-key cap as the n-gram Jaccard join):
    * correlated corpora concentrate chunk values, and one 1000-doc
    * bucket alone is 500k candidate pairs. A true pair is lost only
    * if ALL of its ≥1 shared chunks are hot — near-identical docs
    * share all four. The cap is part of the operator's definition,
    * so the oracle replays it exactly.
    */
  def simhashNearDups(
      sigs: DataFrame, // (id, simhash)
      maxHamming: Int = 3,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val chunked = sigs.select(col("id"), col("simhash"),
      explode(array((0 until 4).map { c =>
        struct(lit(c).as("chunk"),
          shiftright(col("simhash"), c * 16).bitwiseAND(0xFFFFL).as("key"))
      }: _*)).as("ck"))
    // bucket-size annotation via one window over ck (not a groupBy +
    // join): both sides of the pair self-join then share the single
    // exchange (ReusedExchange), so the upstream signature computation
    // runs once
    val w = org.apache.spark.sql.expressions.Window.partitionBy("ck")
    val pruned = chunked
      .withColumn("cnt", count(lit(1)).over(w))
      .filter(col("cnt") <= maxBucket)
    val l = pruned.select(col("ck"), col("id").as("id_a"),
      col("simhash").as("sig_a"))
    val r = pruned.select(col("ck"), col("id").as("id_b"),
      col("simhash").as("sig_b"))
    l.join(r, Seq("ck"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Corpus-wide repeated token spans — the distributed rendering of
    * exact-substring dedup (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", ACL'22, which builds a suffix
    * array; a suffix array is inherently sequential, so the Spark
    * shape is fixed-length span hashing): every `spanLen`-token
    * window (stride 1) is hashed, windows whose hash occurs at least
    * `minCount` times ANYWHERE in the corpus (across documents or
    * repeated inside one) are marked, and per document the marked
    * windows merge into maximal half-open token intervals
    * `[span_start, span_end)` — the ranges a masking/clipping pass
    * would cut. Documents shorter than `spanLen` tokens contribute
    * nothing (strict — no whole-doc fallback).
    *
    * Hashes are the 60-bit double polynomial fold (combined60): at
    * 1e9 distinct spans the collision expectation is ~0.4 pairs, and
    * a collision only ever over-marks a span, never drops one.
    * Both folds replay exactly in SQL.
    *
    * Scale shape: span hashing is ONE native codegen pass (no span
    * strings materialized) + a posexplode, linear in corpus tokens;
    * the occurrence count is a window count over partitionBy(h) — the
    * simhashNearDups annotation trick, which reads the hashing stage
    * ONCE (the groupBy + join-back rendering scans it twice and
    * shuffles three times). Hot hashes are counted, never paired, so
    * there is NO quadratic candidate path anywhere (the containment
    * lesson); the trade-off is that one ultra-hot span's rows buffer
    * in a single spillable window partition — acceptable because the
    * buffered row is 24 bytes, not the text. The island merge windows
    * over each document's OWN marked spans only. Output: (id,
    * span_start, span_end, span_tokens, n_spans, max_occ).
    */
  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String,
      spanLen: Int = 8, minCount: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // native one-pass span hashing (no span strings materialized),
    // then ONE shuffle by hash with a window count — the groupBy +
    // join-back rendering reads the span table twice and shuffles
    // three times; the window reads it once (the simhashNearDups
    // bucket-annotation trick)
    val sp = docs
      .select(col(idCol).as("id"),
        posexplode(graft.expressions.TextSpanHashes60(col(textCol), spanLen))
          .as(Seq("pos", "h")))
      .select(col("id"), col("pos").cast("long").as("pos"), col("h"))
    val hits = sp
      .withColumn("occ", count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("occ") >= minCount)
      .select(col("id"), col("pos"), (col("pos") + lit(spanLen.toLong)).as("e"),
        col("occ"))
    val w = Window.partitionBy("id").orderBy("pos")
    val isl = hits
      .withColumn("prev_end",
        max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("ni",
        when(col("prev_end").isNull || col("pos") > col("prev_end"), 1L)
          .otherwise(0L))
      .withColumn("isl",
        sum(col("ni")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    isl.groupBy(col("id"), col("isl"))
      .agg(min("pos").as("span_start"), max("e").as("span_end"),
        count(lit(1)).as("n_spans"), max("occ").as("max_occ"))
      .select(col("id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_tokens"),
        col("n_spans"), col("max_occ"))
  }

  /** Cut the [[repeatedSpans]] intervals out of each document — the
    * masking pass exact-substring dedup actually applies to the
    * corpus. Output: (id, n_tokens, n_masked, masked_fp) where
    * `masked_fp` is the polynomial fingerprint of the surviving
    * tokens joined by single spaces (narrow row — the text never
    * leaves the executor; original whitespace normalizes to one
    * space by construction). Documents with no repeats pass through
    * with n_masked = 0.
    *
    * Scale shape: the only shuffled data is the interval METADATA
    * (one (start,end) pair per island, collected per doc — bounded
    * by doc token count, in practice a handful); the text itself is
    * touched map-side only, and the token filter is a codegen-free
    * HOF over (token, index) against the broadcast-joined interval
    * list. No token explode, no text shuffle.
    */
  def maskRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
      spanLen: Int = 8, minCount: Int = 2): DataFrame = {
    val cuts = repeatedSpans(docs, idCol, textCol, spanLen, minCount)
      .groupBy("id")
      .agg(collect_list(struct(col("span_start").as("s"),
        col("span_end").as("e"))).as("cuts"))
    docs.select(col(idCol).as("id"), col(textCol).as("text"))
      .join(cuts, Seq("id"), "left")
      .select(col("id"), TextOps.tokens(col("text")).as("toks"),
        coalesce(col("cuts"),
          array().cast("array<struct<s:bigint,e:bigint>>")).as("cuts"))
      .select(col("id"), size(col("toks")).cast("long").as("n_tokens"),
        filter(col("toks"), (t, i) =>
          !exists(col("cuts"),
            c => i.cast("long") >= c("s") && i.cast("long") < c("e")))
          .as("kept"))
      .select(col("id"), col("n_tokens"),
        (col("n_tokens") - size(col("kept")).cast("long")).as("n_masked"),
        graft.expressions.TextFingerprint(concat_ws(" ", col("kept")))
          .as("masked_fp"))
  }

  /** LSH S-curve planner — the (bands, rowsPerBand) knob-tuning table
    * for the MinHash family, computed BEFORE burning a corpus-scale
    * run: for every (b, r) factorization of the signature length and
    * every probed Jaccard level s, the candidate-catch probability
    * p = 1 − (1 − sʳ)ᵇ. Read it as the banding S-curve: pick the
    * config whose p is ≈1 just above your dedup threshold and ≈0
    * just below (e.g. at n=64, the shipped b=16/r=4 catches s=0.8
    * with p≈0.999 while s=0.3 stays under p≈0.13).
    *
    * Pure configuration metadata — no corpus scan, |divisors(n)|·|s|
    * rows. Determinism: s enters as exact micros; every power is an
    * explicit left-to-right multiply fold (NEVER libm pow, whose ulps
    * differ across engines) — the oracle replays the identical folds
    * and the 6-dp rounded probabilities hash-match.
    */
  def lshPlan(spark: org.apache.spark.sql.SparkSession, sigLen: Int,
      sMicros: Seq[Long]): DataFrame = {
    require(sigLen >= 2, s"sigLen must be >= 2, got $sigLen")
    import spark.implicits._
    val rows = for {
      b <- (1 to sigLen) if sigLen % b == 0
      r = sigLen / b
      s <- sMicros
    } yield {
      val sd = s.toDouble / 1e6
      val sr = (1 to r).foldLeft(1.0)((acc, _) => acc * sd)
      val q = 1.0 - sr
      val qb = (1 to b).foldLeft(1.0)((acc, _) => acc * q)
      (b, r, s, 1.0 - qb)
    }
    rows.toDF("bands", "rows_per_band", "s_micros", "p_raw")
      .select(col("bands"), col("rows_per_band"), col("s_micros"),
        round(col("p_raw"), 6).as("p_candidate"))
  }
}
