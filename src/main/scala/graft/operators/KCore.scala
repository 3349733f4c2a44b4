package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition by iterative peeling (Seidman '83; the
  * distributed rendering is the synchronous peel of Montresor et
  * al. '13): repeatedly delete every node whose degree in the
  * CURRENT subgraph is < k until none remains. The survivors are the
  * k-core — the densely-linked kernel of a near-dup candidate graph
  * (template/boilerplate families close into high-core cliques while
  * genuine-content chains peel away at k=2), and the graph-shape
  * complement to Triangles' closure measure: gcc says edges close,
  * coreness says how deep the dense kernel goes.
  *
  * Determinism contract: the peel is a pure set fixpoint — no
  * arithmetic beyond integer degree counts — so round state is a
  * pure function of the edge set in any engine and under any
  * partitioning. A synchronous round removes ALL sub-k nodes at
  * once; each round runs on the edge set the previous round left.
  * `peel(k, iters)` runs a FIXED `iters` rounds (the oracle replays
  * them as unrolled CTEs, like PageRank's); the peel is monotone —
  * edge sets only shrink — so once a round removes nothing the state
  * is the true k-core, and KCoreSpec proves the catalog graph
  * reaches that fixpoint within the replayed rounds.
  *
  * Scale shape: per round ONE map-side-combining degree agg over the
  * live edge list plus two semi-join-shaped filters of edges against
  * the |V|-sized alive table — the same per-round cost envelope as
  * ConnectedComponents' star rounds, AQE-skew-splittable on hubs.
  * Rounds needed = peel depth, typically ≤ a few dozen even on
  * web-scale graphs (hubs survive; chains peel in parallel, not one
  * node at a time). `localCheckpoint` every `checkpointEvery` rounds
  * truncates lineage exactly as CC/PageRank do.
  *
  * RECOMPUTE-CADENCE CONTRACT (the incremental-maintenance stance,
  * cf. ConnectedComponents.incremental / PageRank.ranksConverged):
  * k-core is not DELTA-maintained here — one edge change can cascade
  * peels arbitrarily far (coreness is a global fixpoint, unlike CC's
  * purely-growing merge structure), and a true delta algorithm needs
  * the traversal machinery of Sarıyüce et al.'s incremental core
  * maintenance. What IS offered are the two monotone
  * search-space restrictions, both exact: [[peelWarm]] pins the
  * prior core under append-only batches (core only grows), and
  * [[peelAfterDeletions]] peels cold but only inside the prior core
  * minus the deleted ids (core only shrinks); mixed batches compose
  * deletions-first. The fallback remains the cold [[peel]] per
  * curation run — O(peel-depth) rounds over edges that only shrink,
  * deterministic, so replays are free to schedule.
  */
object KCore {

  /** localCheckpoint + stats severance for every table a peel loop
    * materializes. `Dataset.localCheckpoint` carries the PRE-checkpoint
    * sizeInBytes estimate, whose BigInt digit count grows ~3× per round
    * through the degree-agg × two-semi-join size walk; left in place,
    * Catalyst's SizeInBytesOnlyStatsPlanVisitor burns seconds to
    * minutes of driver CPU per checkpoint past ~10 rounds. `severSized`
    * replaces it with the ACTUAL materialized size as a flat leaf stat,
    * so the per-round membership joins broadcast the alive set when it
    * genuinely fits and keep the shuffle plan when it does not.
    */
  private def ckptReset(df: DataFrame): DataFrame =
    org.apache.spark.sql.GraftStatsSever.severSized(df.localCheckpoint())

  /** Nodes of the k-core approximation after `iters` synchronous peel
    * rounds over the undirected simple graph induced by
    * (srcCol, dstCol): self-loops dropped, parallel/reverse edges
    * collapsed. Output (node, degree) — degree measured INSIDE the
    * surviving subgraph, filtered to ≥ k (at fixpoint: the k-core
    * and its core degrees).
    */
  def peel(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, iters: Int, checkpointEvery: Int = 1): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(iters >= 1, "iters must be >= 1")
    // The peel's eager rounds run under the raised AQE coalescing
    // floor (GraftSession.withLoopFloor) — the ~100-300 KB per-round
    // states are round-latency-bound and split into many tiny tasks
    // under the session's lowered verify-stage floor (measured:
    // kcore_delete 4.3 s → 14.0 s at 8 KB, 6.3 s at 64 KB, back at
    // par with the loop pin).
    var e: DataFrame = null
    graft.GraftSession.withLoopFloor(edges.sparkSession) {
      e = ckptReset(edges
        .select(least(col(srcCol), col(dstCol)).cast("long").as("u"),
          greatest(col(srcCol), col(dstCol)).cast("long").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct())
      for (i <- 1 to iters) {
        // alive is |V|-sized and referenced by BOTH semi-filters; left
        // lazy it would re-run the degree agg twice per round, and an
        // unmaterialized e compounds ~5x re-execution per round (the
        // r8 bench measured 18.4s at checkpointEvery=4 vs 3.9s here)
        val alive = ckptReset(degrees(e).filter(col("degree") >= k))
        e = e
          .join(alive.select(col("node").as("u")), Seq("u"))
          .join(alive.select(col("node").as("v")), Seq("v"))
          .select("u", "v")
        if (i % checkpointEvery == 0 && i < iters) e = ckptReset(e)
      }
    }
    degrees(e).filter(col("degree") >= k)
  }

  /** Warm-started peel for APPEND-ONLY batches (r10 — the
    * incremental/warm face CC and PageRank already have): under edge
    * ADDITIONS the k-core is monotone non-decreasing — every degree
    * in every subgraph only grew, so the prior core is still a
    * subgraph of min degree ≥ k and its nodes can be PINNED alive;
    * the peel only adjudicates the rest of the graph.
    *
    * SOUNDNESS (exactly the true new k-core, not an approximation):
    * iterated deletion of deg<k nodes never deletes a true-core node,
    * and pinning only REDUCES deletions, so the fixpoint survivor set
    * S ⊇ new core. Conversely every unpinned node of S has deg_S ≥ k
    * by the stopping rule, and every pinned node has deg_S ≥
    * deg_core ≥ k because pinned ⊆ prior core ⊆ new core ⊆ S — so S
    * has min degree ≥ k and S ⊆ core by maximality. S = core,
    * KCoreSpec proves warm ≡ cold on planted additions.
    *
    * What the warm start buys: the pinned mass (typically the bulk
    * of a near-dup candidate graph's dense kernel) drops out of the
    * per-round alive adjudication — alive is pinned ∪ {deg ≥ k},
    * and rounds converge in the peel depth of the NEW material
    * rather than flapping the settled kernel. Cost shape per round
    * is unchanged (one degree agg + two semi-filters).
    *
    * DELETION CAVEAT (the contract's hard edge): edge REMOVALS can
    * demote prior-core nodes, and pinning a demoted node wrongly
    * keeps it AND its neighbors (KCoreSpec demonstrates the
    * counterexample: a triangle minus one edge warm-reports the apex
    * where the cold peel reports nothing). A batch containing any
    * deletion must run the cold [[peel]]; the house cadence is
    * append-only ingest between curation-cadence cold recomputes,
    * mirroring ConnectedComponents.incremental's stance.
    *
    * `priorCore`: one column `node` — [[peel]]'s output (or any
    * SUBSET of the true prior core; pinning fewer nodes is always
    * sound, pinning non-core nodes never is).
    */
  def peelWarm(edges: DataFrame, srcCol: String, dstCol: String,
      priorCore: DataFrame, k: Int, iters: Int,
      checkpointEvery: Int = 1): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(iters >= 1, "iters must be >= 1")
    // loop floor pin, same rationale as [[peel]].
    var e: DataFrame = null
    graft.GraftSession.withLoopFloor(edges.sparkSession) {
      e = ckptReset(edges
        .select(least(col(srcCol), col(dstCol)).cast("long").as("u"),
          greatest(col(srcCol), col(dstCol)).cast("long").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct())
      val pinned = ckptReset(
        priorCore.select(col("node").cast("long")).distinct())
      for (i <- 1 to iters) {
        val alive = ckptReset(degrees(e).filter(col("degree") >= k)
          .select("node").unionAll(pinned).distinct())
        e = e
          .join(alive.select(col("node").as("u")), Seq("u"))
          .join(alive.select(col("node").as("v")), Seq("v"))
          .select("u", "v")
        if (i % checkpointEvery == 0 && i < iters) e = ckptReset(e)
      }
    }
    degrees(e).filter(col("degree") >= k)
  }

  /** Deletion-aware recompute (r11 — the decremental face closing
    * [[peelWarm]]'s append-only contract, the same pairing as
    * ConnectedComponents.incremental / afterDeletions): under
    * DELETIONS of nodes (equivalently: all their incident edges) the
    * k-core is monotone NON-INCREASING — every degree in every
    * subgraph only shrank — so core(G′) ⊆ core(G) = the prior core
    * and contains no deleted node. The peel therefore runs COLD (a
    * demoted node must be allowed to fall — no pinning), but only on
    * H = the surviving edges with BOTH endpoints in
    * (prior core ∖ deleted): the rest of the graph cannot re-enter.
    *
    * SOUNDNESS (exactly the true post-deletion core): core(G′) ⊆
    * nodes(H) by the two monotonicity facts above, and every G′-edge
    * between two nodes of core(G′) is an H-edge by construction of
    * H — so core(G′) is a min-degree-≥k subgraph OF H, hence
    * core(G′) ⊆ core(H); conversely H ⊆ G′ makes any min-degree-≥k
    * subgraph of H one of G′, so core(H) ⊆ core(G′) by maximality.
    * core(H) = core(G′); the cold peel of H is exact. KCoreSpec
    * proves delete ≡ cold recompute including the demoted-apex case
    * that peelWarm's counterexample documents.
    *
    * What the restriction buys: the peel never touches edges outside
    * the prior core — on a curation graph where the core is the
    * dense kernel, the deletion check runs on kernel-sized edges
    * instead of the corpus-sized candidate graph, and the two
    * membership joins that build H are semi-joins against a
    * core-sized (usually broadcastable) side.
    *
    * MIXED batches compose exactly, deletions first:
    * `peelAfterDeletions` on G∖D gives core(G∖D); then [[peelWarm]]
    * over (G∖D)∪A with that core as the pin — additions only, so
    * the warm contract holds. Both steps are exact, so the
    * composition is.
    */
  def peelAfterDeletions(edges: DataFrame, srcCol: String, dstCol: String,
      priorCore: DataFrame, deletedIds: DataFrame,
      k: Int, iters: Int, checkpointEvery: Int = 1): DataFrame = {
    val del = deletedIds
      .select(col(deletedIds.columns.head).cast("long").as("node"))
      .distinct()
    // a checkpoint-carried size estimate on the prior core would
    // compound through the peel's per-round checkpoints
    val keep = ckptReset(
      priorCore.select(col("node").cast("long"))
        .distinct()
        .join(del, Seq("node"), "left_anti"))
    val h = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .join(keep.select(col("node").as("src")), Seq("src"), "left_semi")
      .join(keep.select(col("node").as("dst")), Seq("dst"), "left_semi")
    peel(h, "src", "dst", k, iters, checkpointEvery)
  }

  private def degrees(e: DataFrame): DataFrame =
    e.select(col("u").as("node"))
      .unionAll(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))

  /** DuckDB oracle replaying `peel` round-for-round (unrolled CTEs)
    * over an edge subquery producing (src, dst). Ends with
    * `SELECT node, degree FROM core` — append ORDER BY.
    *
    * Round CTEs are `AS MATERIALIZED`: each e_i/a_i is referenced
    * 2-3× by the next round, and DuckDB inlines plain CTEs — the
    * unrolled chain would otherwise expand ~5^iters scans of the
    * base parquet (observed as an fd-exhaustion error at 8 rounds).
    * PageRank's chain is strictly linear so its oracle never hit
    * this; any multiply-referenced unrolled round must materialize.
    */
  def oracleSql(edgesSql: String, k: Int, iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""a$i AS MATERIALIZED (SELECT node FROM (
         |    SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
         |    FROM (SELECT u AS node FROM e${i - 1}
         |          UNION ALL SELECT v AS node FROM e${i - 1})
         |    GROUP BY 1) WHERE degree >= $k),
         |e$i AS MATERIALIZED (SELECT u, v FROM e${i - 1}
         |  WHERE u IN (SELECT node FROM a$i)
         |    AND v IN (SELECT node FROM a$i))""".stripMargin
    }.mkString(",\n")
    s"""WITH ein AS ($edgesSql),
       |e0 AS MATERIALIZED (
       |       SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |       FROM ein WHERE src <> dst),
       |$rounds,
       |core AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
       |  FROM (SELECT u AS node FROM e$iters
       |        UNION ALL SELECT v AS node FROM e$iters)
       |  GROUP BY 1 HAVING COUNT(*) >= $k)
       |SELECT node, degree FROM core""".stripMargin
  }
}
