package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextOps}

/** Dedup operators against planted duplicates: exact copies, token
  * perturbations, and unrelated docs.
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  // 0/1: exact dups; 2: near-dup of 0 (one token changed);
  // 3: unrelated; 4: near-dup of 3 (two tokens appended)
  lazy val corpus = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again today"),
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy cat again and again today"),
    (3L, "completely different content about spark catalyst optimizer rules engine"),
    (4L, "completely different content about spark catalyst optimizer rules engine here now"))
    .toDF("doc_id", "text")

  test("exact dedup keeps one of the identical pair") {
    val groups = Dedup.exactDupGroups(corpus, "doc_id", "text")
    assert(groups.filter(col("n") === 2).count() == 1L)
    val kept = Dedup.exactDedup(corpus, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 2L, 3L, 4L))
  }

  test("line-level boilerplate dedup drops shared lines, keeps order, " +
      "drops all-boilerplate docs") {
    // 30 pages share a nav header and a footer (df = 30); each has a
    // unique body; two also share a rare promo line (df = 2 < cap);
    // one extra page is NOTHING BUT boilerplate and must vanish.
    val pages = ((0L until 30L).map { i =>
      val promo = if (i < 2) "\npromo line" else ""
      (i, s"nav header line\nunique body $i$promo\nfooter line")
    } :+ (99L, "nav header line\nfooter line")).toDF("doc_id", "text")
    val out = Dedup.dropBoilerplateLines(pages, "doc_id", "text",
      maxDocFreq = 10)
    val rows = out.collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(!rows.contains(99L), "all-boilerplate doc must drop out")
    assert(rows(0L) == ("unique body 0\npromo line", 2L))
    assert(rows(1L) == ("unique body 1\npromo line", 2L))
    (2L until 30L).foreach { i =>
      assert(rows(i) == (s"unique body $i", 1L))
    }
  }

  test("ngram jaccard finds planted near-dups, not unrelated pairs") {
    val pairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
      n = 3, minJaccard = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L))) // exact
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L))) // near
    assert(pairs.contains((3L, 4L)))
    assert(!pairs.exists { case (a, b) => Set(0L, 1L, 2L)(a) && Set(3L, 4L)(b) })
  }

  test("minhash LSH surfaces the same near-dup pairs with exact verify") {
    val pairs = Dedup.minhashNearDups(corpus, "doc_id", "text",
      n = 3, k = 64, bands = 16, minJaccard = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((3L, 4L)))
    assert(!pairs.exists { case (a, b) => Set(0L, 1L, 2L)(a) && Set(3L, 4L)(b) })
  }

  test("minhash LSH hot-bucket cap: 500 identical docs degrade to a " +
      "star, not 124,750 pairs, and planted pairs elsewhere survive") {
    // every band bucket of the identical cluster has 500 members —
    // far over maxBucket=200 — so the cluster must yield exactly the
    // 499 star pairs around its min id, all at jaccard 1.0, while the
    // small (cool-bucket) corpus pairs are still found all-pairs.
    val hotCluster = (100L until 600L).map(
      (_, "duplicated boilerplate license header text repeated across the entire crawl corpus"))
    val all = (corpus.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      ++ hotCluster).toDF("doc_id", "text")
    for (pairsDf <- Seq(
        Dedup.minhashNearDupsPoly(all, "doc_id", "text", minJaccard = 0.3),
        Dedup.minhashNearDups(all, "doc_id", "text", minJaccard = 0.3))) {
      val pairs = pairsDf.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val hot = pairs.filter { case (a, _, _) => a >= 100L }
      assert(hot.length == 499)
      assert(hot.forall { case (a, b, j) => a == 100L && b > 100L && j == 1.0 })
      val cool = pairs.collect { case (a, b, _) if a < 100L => (a, b) }.toSet
      assert(cool.contains((0L, 1L)) && cool.contains((3L, 4L)))
      assert(pairs.forall { case (a, b, _) => (a < 100L) == (b < 100L) })
    }
  }

  test("OPH minhash: planted pairs found, unrelated absent, hot-bucket " +
      "star cap holds, empty-bin densification fills every slot") {
    // same planted corpus + hot cluster as the classic kernel's test:
    // exact dups collide in EVERY band (identical signatures), so the
    // pair (0,1) and the 499-star are structural, not luck.
    val hotCluster = (100L until 600L).map(
      (_, "duplicated boilerplate license header text repeated across the entire crawl corpus"))
    val all = (corpus.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      ++ hotCluster).toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDupsOph(all, "doc_id", "text", minJaccard = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val hot = pairs.filter { case (a, _, _) => a >= 100L }
    assert(hot.length == 499)
    assert(hot.forall { case (a, b, j) => a == 100L && b > 100L && j == 1.0 })
    val cool = pairs.collect { case (a, b, _) if a < 100L => (a, b) }.toSet
    assert(cool.contains((0L, 1L)))
    assert(pairs.forall { case (a, b, _) => (a < 100L) == (b < 100L) })

    // densification contract: a short doc (few shingles ⇒ most of the
    // 64 bins empty) still yields 64 finite slots, each < 64·P — i.e.
    // every empty bin borrowed from a real bin at distance < k.
    import graft.expressions.{OnePermMinHash, TextShingleHashes}
    val sig = corpus.limit(1)
      .select(OnePermMinHash.ofHashes(
        array_distinct(TextShingleHashes(col("text"), 3)), 64).as("sig"))
      .collect()(0).getSeq[Long](0)
    assert(sig.length == 64)
    assert(sig.forall(v => v >= 0L && v < 64L * 1000000007L))
    // and a zero-shingle doc yields the empty convention, not a crash
    val empty = Seq((9L, "")).toDF("doc_id", "text")
      .select(OnePermMinHash.ofHashes(
        array_distinct(TextShingleHashes(col("text"), 3)), 64).as("sig"))
      .collect()(0).getSeq[Long](0)
    assert(empty.length == 64)
  }

  test("edit-distance near-dup: LSH candidates verified by bounded " +
      "Levenshtein — exact dists, unrelated pairs absent") {
    val pairs = Dedup.editDistanceNearDups(corpus, "doc_id", "text",
      maxDist = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    // 0/1 identical → dist 0; 2 is 0 with "dog"→"cat" → dist 3;
    // 4 is 3 plus " here now" appended → dist 9
    assert(pairs((0L, 1L)) == 0)
    assert(pairs((0L, 2L)) == 3)
    assert(pairs((3L, 4L)) == 9)
    assert(!pairs.keySet.exists { case (a, b) =>
      Set(0L, 1L, 2L)(a) && Set(3L, 4L)(b) })
    // the bound is part of the operator: with maxDist=2 only the
    // identical pair survives (thresholded DP returns -1 above it)
    val tight = Dedup.editDistanceNearDups(corpus, "doc_id", "text",
      maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tight == Set((0L, 1L)))
  }

  test("minhash signature approximates jaccard") {
    val sh = corpus.select(col("doc_id"),
      TextOps.shingles(col("text"), 3).as("sh"))
      .withColumn("sig", Dedup.minhashSignature(col("sh"), 128))
    val sigs = sh.select("doc_id", "sig").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def est(a: Long, b: Long) =
      sigs(a).zip(sigs(b)).count { case (x, y) => x == y } / 128.0
    assert(est(0L, 1L) == 1.0) // identical docs -> identical signatures
    assert(est(0L, 2L) > 0.4)  // near-dup high
    assert(est(0L, 3L) < 0.2)  // unrelated low
  }

  test("native minhash signature == HOF signature on real documents") {
    val sh = Tables.documents(spark, Sf0001)
      .select(TextOps.shingles(col("text"), 3).as("sh"))
    val diff = sh.select(
      Dedup.minhashSignature(col("sh"), 64).as("native"),
      Dedup.minhashSignatureHof(col("sh"), 64).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(diff == 0L)
  }

  test("simhash: identical docs equal, near-dups close, unrelated far") {
    val sigs = Dedup.simhash64(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(sigs(a) ^ sigs(b))
    assert(ham(0L, 1L) == 0)
    assert(ham(0L, 2L) < ham(0L, 3L))
    val nd = Dedup.simhashNearDups(
      Dedup.simhash64(corpus, "doc_id", "text"), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(nd.contains((0L, 1L)))
  }

  test("winnowing fingerprints overlap strongly for near-dups only") {
    val fps = corpus.select(col("doc_id"),
      TextOps.winnowingFingerprints(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    def overlap(a: Long, b: Long) =
      fps(a).intersect(fps(b)).size.toDouble / fps(a).union(fps(b)).size
    assert(overlap(0L, 1L) == 1.0)
    assert(overlap(0L, 2L) > overlap(0L, 3L))
  }

  test("containmentPairs: planted substrings found (both containers), " +
      "reordered high-overlap excluded, short docs never reported") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "gamma delta epsilon zeta"), // substring of 1 AND 3
      (3L, "beta alpha gamma delta epsilon zeta eta theta"), // reordered head
      (4L, "tiny doc"), // < 4 tokens: no anchor by contract
      (5L, "completely different words entirely here okay")
    ).toDF("id", "text")
    val got = Dedup.containmentPairs(docs, "id", "text", w = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((2L, 1L), (2L, 3L)), got)
    // docs 1 and 3 share every token but neither contains the other —
    // the instr verify kills what shingle overlap alone would pass
    assert(!got.contains((1L, 3L)) && !got.contains((3L, 1L)))
  }

  test("containmentPairs: df-rarest anchor dodges a hot boilerplate " +
      "gram — planted containment found under a cap far below the " +
      "boilerplate's posting-list length") {
    import spark.implicits._
    // 250 docs share a 5-token boilerplate head (its grams have
    // df=250, and lexicographically sort BELOW the unique z-tails —
    // a lexicographic-min anchor would send every doc to that one
    // posting list and the cap would hide outer ids > 10); each doc's
    // df-rarest gram is its unique tail, so candidates stay tiny
    val bases = (0 until 250).map { i =>
      (i.toLong, s"lorem ipsum dolor sit amet zz$i zy$i zx$i zw$i")
    }
    val inner = (1000L, "zz200 zy200 zx200 zw200") // tail slice of doc 200
    val df = (bases :+ inner).toDF("id", "text")
    val got = Dedup.containmentPairs(df, "id", "text", w = 4, maxPostings = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1000L, 200L)), got)
    // and nothing spurious: the only true containment in the corpus
    assert(got == Set((1000L, 200L)), got)
  }

  test("containmentPairs: hot-postings cap observed — all-boilerplate " +
      "docs degrade deterministically to the cap's smallest outer ids") {
    import spark.implicits._
    // every gram of every doc is hot (df=15): doc i = the same 4-token
    // phrase repeated i+1 times, so doc i ⊂ doc j for all i < j
    val docs = (0 until 15).map { i =>
      (i.toLong, Seq.fill(i + 1)("aa bb cc dd").mkString(" "))
    }.toDF("id", "text")
    val uncapped = Dedup.containmentPairs(docs, "id", "text", w = 4,
        maxPostings = 15)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val all = (for (i <- 0 until 15; j <- 0 until 15 if i < j)
      yield (i.toLong, j.toLong)).toSet
    assert(uncapped == all, s"uncapped should find all ${all.size}")
    val capped = Dedup.containmentPairs(docs, "id", "text", w = 4,
        maxPostings = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // deterministic cap model: doc 0's only gram is "aabbccdd"
    // (df=15, capped postings {0..4}); docs 1-14 all anchor at
    // "bbccddaa" (df=14, tie-break min of the df-14 grams; capped
    // postings {1..5}) — so outer ids come only from those two capped
    // lists, never beyond
    val expected =
      (1 to 4).map(j => (0L, j.toLong)).toSet ++
        (for (i <- 1 to 5; j <- 1 to 5 if i < j)
          yield (i.toLong, j.toLong)).toSet
    assert(capped == expected, capped)
    assert(capped.subsetOf(all) && capped.size < all.size)
  }

  test("crossCorpusNearDups: planted cross-side dups found, " +
      "within-side pairs never emitted, exact cross dup survives a " +
      "hot bucket via the two-star cap") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again today"
    // corpus A: 0/1 near-identical (a within-A pair that must NOT
    // appear), 2 unrelated; batch B: 10 = near-dup of A's 0, 11 =
    // unrelated, 12/13 near-identical within B (must NOT appear)
    val a = Seq(
      (0L, base), (1L, base + " extra"),
      (2L, "completely different content about catalyst optimizer rules"))
      .toDF("id", "text")
    val b = Seq(
      (10L, base + " now"), (11L, "nothing in common with anything here at all"),
      (12L, "shared boilerplate text repeated across the batch side x"),
      (13L, "shared boilerplate text repeated across the batch side y"))
      .toDF("id", "text")
    val got = Dedup.crossCorpusNearDups(a, b, "id", "text",
        minJaccard = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((0L, 10L)) && got.contains((1L, 10L)), got)
    assert(!got.exists { case (x, y) => x >= 10 || y < 10 }, got) // cross only
    assert(!got.contains((2L, 11L)))
    // hot-bucket star: replicate one doc 30× per side under cap 20 —
    // every bucket is hot, yet each side's min-id rep keeps the
    // cross-side exact-dup connectivity alive
    val hotA = (0 until 30).map(i => (i.toLong, base)).toDF("id", "text")
    val hotB = (0 until 30).map(i => (100L + i, base)).toDF("id", "text")
    val hot = Dedup.crossCorpusNearDups(hotA, hotB, "id", "text",
        maxBucket = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // stars around rep_a=0 and rep_b=100: 0×allB ∪ allA×100
    val expected = (0 until 30).map(i => (0L, 100L + i)).toSet ++
      (0 until 30).map(i => (i.toLong, 100L)).toSet
    assert(hot == expected, hot.size)
  }

  test("leakage-safe split: NO near-dup pair straddles splits; all " +
      "three splits populated; doc-level hash split DOES leak (the " +
      "problem being solved)") {
    val split = Queries.specs.find(_.name == "q_o17_leakage_safe_split")
      .get.fn(spark, Sf001)
      .select("doc_id", "split").cache()
    val docs = Tables.documents(spark, Sf001).filter(col("doc_id") < 500)
    val pairs = Dedup.ngramJaccardPairs(
      docs, "doc_id", "text", n = 3, minJaccard = 0.02)
    val straddling = pairs
      .join(split.withColumnRenamed("doc_id", "id_a")
        .withColumnRenamed("split", "sa"), Seq("id_a"))
      .join(split.withColumnRenamed("doc_id", "id_b")
        .withColumnRenamed("split", "sb"), Seq("id_b"))
    assert(straddling.filter(col("sa") =!= col("sb")).count() == 0L)
    assert(split.select("split").distinct().count() == 3L)
    // the contrast: hashing the DOC id splits near-dup pairs apart
    val naive = docs.select(col("doc_id"),
      graft.operators.Sampling.hashBucket(col("doc_id"), 10).as("b"))
    val naiveLeaks = pairs
      .join(naive.withColumnRenamed("doc_id", "id_a")
        .withColumnRenamed("b", "ba"), Seq("id_a"))
      .join(naive.withColumnRenamed("doc_id", "id_b")
        .withColumnRenamed("b", "bb"), Seq("id_b"))
      .filter(col("ba") =!= col("bb")).count()
    assert(naiveLeaks > 0L, "expected the naive split to leak")
    split.unpersist()
  }

  test("negative sampling: no negative shares its anchor's near-dup " +
      "cluster; same-cluster rejections actually occurred; draws stable") {
    val negs = Queries.specs.find(_.name == "q_o18_negative_samples")
      .get.fn(spark, Sf001).cache()
    val docs = Tables.documents(spark, Sf001).filter(col("doc_id") < 500)
    val comp = graft.operators.ConnectedComponents.run(
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.02),
        "id_a", "id_b")
      .select(col("id").as("doc_id"), col("component"))
    val full = docs.select("doc_id").join(comp, Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
    val joined = negs
      .join(full.withColumnRenamed("component", "ca"), Seq("doc_id"))
      .join(full.select(col("doc_id").as("neg_id"),
        col("component").as("cn")), Seq("neg_id"))
    assert(joined.filter(col("ca") === col("cn")).count() == 0L)
    // the exclusion rejected some raw draws (4 per anchor max)
    val n = negs.count()
    assert(n < 500L * 4 && n > 500L * 2, s"n=$n")
    // deterministic: a second evaluation returns the identical set
    val again = Queries.specs.find(_.name == "q_o18_negative_samples")
      .get.fn(spark, Sf001)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(again == negs.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet)
    negs.unpersist()
  }

  test("corpus curation: stages compose — survivors clean, gated, nonempty") {
    val docs = Tables.documents(spark, Sf001)
    val cur = graft.pipelines.CorpusCuration.curate(docs).cache()
    assert(cur.count() > 0)
    // gates hold for every survivor
    assert(cur.filter(col("lang_pred") =!= "en").count() == 0L)
    assert(cur.filter(col("n_tokens") < 10).count() == 0L)
    // survivors are exact-dup free
    val surv = docs.join(cur.select("doc_id"), Seq("doc_id"), "left_semi")
    assert(surv.count() == surv.select("text").distinct().count())
    // the greedy survivor rule removed every larger-id near-dup: no
    // survivor appears as id_b of a ≥θ pair over the deduped input
    val deduped = Dedup.exactDedup(docs, "doc_id", "text")
    val dropB = Dedup.minhashNearDupsPoly(deduped, "doc_id", "text")
      .select(col("id_b").as("doc_id")).distinct()
    assert(cur.join(dropB, Seq("doc_id"), "left_semi").count() == 0L)
    cur.unpersist()
  }

  test("repeatedSpans: cross-doc shared runs merge into one maximal " +
      "island per doc; within-doc repeats split; short docs drop") {
    val docs = Seq(
      // 0 and 1 share the verbatim 10-token run s0..s9 at different
      // offsets (4 and 1); everything else is unique
      (0L, "u0 u1 u2 u3 s0 s1 s2 s3 s4 s5 s6 s7 s8 s9 u4 u5"),
      (1L, "w0 s0 s1 s2 s3 s4 s5 s6 s7 s8 s9 w1 w2"),
      (2L, "a b c"), // < spanLen tokens: contributes nothing
      // internal repeat: r0..r7 occurs twice inside ONE doc
      (3L, "r0 r1 r2 r3 r4 r5 r6 r7 z0 r0 r1 r2 r3 r4 r5 r6 r7"))
      .toDF("doc_id", "text")
    val out = Dedup.repeatedSpans(docs, "doc_id", "text",
        spanLen = 8, minCount = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(out == Set(
      (0L, 4L, 14L, 10L), // windows at 4,5,6 merge to [4,14)
      (1L, 1L, 11L, 10L),
      (3L, 0L, 8L, 8L), (3L, 9L, 17L, 8L))) // two disjoint islands
  }

  test("repeatedSpans: a corpus with no repeats returns nothing") {
    val docs = Seq(
      (0L, "one two three four five six seven eight nine"),
      (1L, "ten eleven twelve thirteen fourteen fifteen sixteen seventeen"))
      .toDF("doc_id", "text")
    assert(Dedup.repeatedSpans(docs, "doc_id", "text").count() == 0L)
  }

  test("maskRepeatedSpans cuts exactly the islands; untouched docs " +
      "keep their fingerprint") {
    val docs = Seq(
      (0L, "u0 u1 u2 u3 s0 s1 s2 s3 s4 s5 s6 s7 s8 s9 u4 u5"),
      (1L, "w0 s0 s1 s2 s3 s4 s5 s6 s7 s8 s9 w1 w2"),
      (2L, "a b c"),
      (3L, "r0 r1 r2 r3 r4 r5 r6 r7 z0 r0 r1 r2 r3 r4 r5 r6 r7"))
      .toDF("doc_id", "text")
    val got = Dedup.maskRepeatedSpans(docs, "doc_id", "text",
        spanLen = 8, minCount = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    def fp(s: String): Long = docs.sparkSession.range(1)
      .select(graft.expressions.TextFingerprint(lit(s))).first().getLong(0)
    assert(got(0L) == ((16L, 10L, fp("u0 u1 u2 u3 u4 u5"))))
    assert(got(1L) == ((13L, 10L, fp("w0 w1 w2"))))
    assert(got(2L) == ((3L, 0L, fp("a b c")))) // untouched
    assert(got(3L) == ((17L, 16L, fp("z0")))) // both islands cut
  }

  test("allPairsCosine ≡ brute force (prefix filtering loses nothing) " +
      "and the cos² decision is exact") {
    // 60 docs over a 40-token vocab: planted near-identical pairs
    // (one-token substitutions), template families sharing half their
    // tokens, and singletons — exercises prefix boundaries at many
    // sizes. Real sf0.001 docs join the fixture for corpus shapes.
    val synth = (0L until 60L).map { i =>
      val fam = i % 6
      val base = (0 until (8 + (i % 5).toInt))
        .map(j => s"t${(fam * 7 + j * (1 + i % 3)) % 40}")
      (i, (base :+ s"x${i % 11}").mkString(" "))
    }.toDF("doc_id", "text")
    val real = spark.read.parquet(s"$Sf0001/documents.parquet")
      .select(col("doc_id") + 1000L as "doc_id", col("text"))
    val docs = synth.unionByName(real)

    val t2 = 902500L
    val got = Dedup.allPairsCosine(docs, "doc_id", "text",
        minCos2Ppm = t2)
      .select("id_a", "id_b", "inter", "cos2_ppm")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap

    // brute force: every pair, exact integer intersection
    val tok = docs.select(col("doc_id").as("id"),
        array_distinct(TextOps.tokens(col("text"))).as("ts"))
      .withColumn("sz", size(col("ts")).cast("long"))
      .filter(col("sz") > 0)
    val brute = tok.select(col("id").as("id_a"), col("ts").as("ta"),
        col("sz").as("sz_a"))
      .crossJoin(tok.select(col("id").as("id_b"), col("ts").as("tb"),
        col("sz").as("sz_b")))
      .filter(col("id_a") < col("id_b"))
      .withColumn("inter",
        size(array_intersect(col("ta"), col("tb"))).cast("long"))
      .filter(col("inter") * col("inter") * lit(1000000L) >=
        lit(t2) * col("sz_a") * col("sz_b"))
      .select(col("id_a"), col("id_b"), col("inter"),
        expr("inter * inter * 1000000 div (sz_a * sz_b)").as("cos2_ppm"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap

    assert(got == brute) // complete AND sound, values bit-identical
    assert(brute.nonEmpty) // the fixture actually plants qualifying pairs
    // boundary exactness: a pair at exactly cos² = t² must be kept
    val pair = Seq((100L, "a b c d"), (101L, "a b c e")).toDF("doc_id", "text")
    // inter=3, sz=4,4: cos² = 9/16 = 562500 ppm exactly
    assert(Dedup.allPairsCosine(pair, "doc_id", "text",
      minCos2Ppm = 562500L).count() == 1L)
    assert(Dedup.allPairsCosine(pair, "doc_id", "text",
      minCos2Ppm = 562501L).count() == 0L)
  }

  test("allPairsCosine posting verify on a fixture of short, medium " +
      "and long documents; histogram counts C(prefix_postings, 2)") {
    def doc(id: Long, toks: Seq[String]) = (id, toks.mkString(" "))
    val docs = (
      // 4 short near-dups: 10 shared + 1 unique token each
      (0L to 3L).map(i => doc(i, (0 until 10).map(j => s"s$j") :+ s"u$i")) ++
      Seq(
        // medium near-dup pair (~100 tokens)
        doc(10L, (0 until 100).map(j => s"m$j")),
        doc(11L, (0 until 99).map(j => s"m$j") :+ "mx"),
        // 150-token doc that is a SUBSET of the 240-token docs: pairs
        // of unequal sizes (150 vs 240)
        doc(12L, (0 until 150).map(j => s"L$j")),
        doc(20L, (0 until 240).map(j => s"L$j")),
        doc(21L, (0 until 239).map(j => s"L$j") :+ "Ly"))
    ).toDF("doc_id", "text")
    val t2 = 490000L // t = 0.7
    val got = Dedup.allPairsCosine(docs, "doc_id", "text", t2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // expected: C(4,2)=6 short + 1 medium + C(3,2)=3 long-family
    assert(got.size == 10, s"got ${got.keySet.toSeq.sorted}")
    // the unequal-size pair is present with the exact intersection
    assert(got((12L, 20L))._3 == 150L)

    // histogram: every row's cand_pairs == C(prefix_postings, 2), and
    // every emitted near-dup pair is covered by at least one prefix
    // token's pair budget (completeness of the early warning)
    val hist = Dedup.allPairsCosineTokenHistogram(
      docs, "doc_id", "text", t2).collect()
    assert(hist.nonEmpty)
    hist.foreach { r =>
      val pp = r.getLong(2); val cp = r.getLong(3)
      assert(cp == pp * (pp - 1) / 2, s"row $r")
      assert(r.getLong(1) >= pp, "df must bound prefix_postings")
    }
    val budget = hist.map(_.getLong(3)).sum
    assert(budget >= got.size,
      s"token pair budget $budget < ${got.size} emitted pairs")
  }
}
