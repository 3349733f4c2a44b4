package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over a pair list — the step that
  * turns near-duplicate PAIRS (ngram-Jaccard / MinHash-LSH / SimHash,
  * see [[Dedup]]) into duplicate CLUSTERS with one canonical keeper
  * per cluster. Reference scope: the reference dedups only exactly
  * (pandas `drop_duplicates` has no transitive notion); this is the
  * training-data-pipeline extension where A~B, B~C must collapse to
  * one cluster {A,B,C} even when A~C was never emitted as a pair.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) — the
  * standard O(log² n)-round formulation. Each half-round is one
  * shuffle on node id (groupBy-min + join back); no per-node
  * neighbor arrays are materialized, so hub nodes skew a groupBy
  * (AQE-handled) rather than building a giant collect_list. Naive
  * min-label propagation needs O(graph diameter) rounds — a 1M-long
  * chain of near-dup shards would need 1M shuffles; star contraction
  * collapses it in ~log² rounds, which is the property that matters
  * at 100 TB.
  *
  * Driver-side footprint per round: one (count, hashsum) action for
  * the convergence test — O(1) rows to the driver, never the edge
  * set. `localCheckpoint` truncates lineage each round so plan depth
  * stays constant across iterations.
  */
object ConnectedComponents {

  /** Components of the undirected graph given by `edges(srcCol, dstCol)`
    * (Long-compatible ids). Returns one row per distinct endpoint of a
    * non-self-loop edge: `(id, component)` where `component` is the
    * minimum node id in the component (deterministic, partitioning-
    * invariant). Nodes appearing only in self-loops are dropped with
    * the loops (trivial singleton components carry no dedup signal).
    */
  def run(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      maxIter: Int = 25): DataFrame = {
    // Canonical undirected edge set: (src < dst), self-loops dropped.
    // Checkpointed once so the (possibly expensive) upstream pair
    // generation runs exactly once; `nodes` derives from this set.
    // sever: localCheckpoint carries the pre-checkpoint sizeInBytes
    // estimate, which compounds per contraction round (the KCore
    // stats-walk hazard, r12 house rule: EVERY fixed-point loop
    // severs stats at its checkpoints — GraftStatsSever rewraps the
    // checkpointed InternalRow RDD at zero conversion cost).
    // r14 A/B note: severSized (actual-size stats, letting the star
    // rounds broadcast the groupBy-min side) was measured here and
    // LOST — the CC family read consistently ~0.6-1.1 s slower per
    // entry (cc_clusters 3.14 → 3.8-4.2 s build at sf0.1): two
    // driver-side broadcast constructions per round cost more than
    // the AQE-coalesced tiny shuffles they replace, at every scale
    // where the mins table is broadcastable at all (it is |V|-sized,
    // so at 100 TB the shuffle plan is the right one anyway). The
    // unknown-size sever stays.
    def sever(df: DataFrame): DataFrame =
      org.apache.spark.sql.GraftStatsSever.sever(df)
    // r14 (guide §1.2, fewer passes): the convergence fingerprint is
    // OBSERVED as a side effect of each round's eager localCheckpoint
    // (CollectMetrics rides the materialization) instead of running a
    // separate scan+agg job over the checkpointed edges per round —
    // same expressions over the same rows, so the per-round signatures,
    // convergence decisions and output are bit-identical; one fewer
    // Spark job (and one fewer full edge scan) per contraction round.
    def observedCheckpoint(df: DataFrame, label: String)
        : (DataFrame, (Long, Long)) = {
      val obs = org.apache.spark.sql.Observation(label)
      val ckpt = sever(df
        .observe(obs, fingerprintExprs.head, fingerprintExprs.tail: _*)
        .localCheckpoint())
      val m = obs.get
      (ckpt,
        (m("n").asInstanceOf[Long],
          m("lo").asInstanceOf[Long] + 31L * m("hi").asInstanceOf[Long]))
    }
    val (canonical, fp0) = observedCheckpoint(
      edges
        .select(
          least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("src"),
          greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct(),
      "cc_fp_init")

    val nodes = canonical.select(col("src").as("id"))
      .union(canonical.select(col("dst").as("id")))
      .distinct()

    var e = canonical

    var prev = fp0
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val (next, sig) =
        observedCheckpoint(smallStar(largeStar(e)), s"cc_fp_r$it")
      converged = sig == prev
      prev = sig
      e = next
      it += 1
    }

    // Fixpoint edges form stars child→min-root. Roots (and isolated
    // canonical nodes, if any) map to themselves.
    nodes
      .join(e.select(col("dst").as("id"), col("src").as("component")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** Components plus per-cluster stats: size and keeper (= component
    * id, the minimum member — the same keeper convention as
    * [[Dedup.exactDedup]]).
    */
  def clusters(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame =
    run(edges, srcCol, dstCol)
      .groupBy("component")
      .agg(count(lit(1)).as("n_members"))

  /** Incremental maintenance: fold a batch of NEW edges into an
    * existing labeling without re-clustering the corpus — the 100 TB
    * ingest path (a continuously-ingesting corpus cannot re-run
    * global CC per arrival batch; VERDICT r7 #4).
    *
    * `oldLabels` is a prior [[run]] output `(id, component)` with the
    * min-member-id component convention. Exactly equivalent to a full
    * recompute over (old graph ∪ newEdges) — proven by
    * IncrementalCcSpec and the q_d_cc_incremental oracle — because a
    * labeling is connectivity-equivalent to its graph: each new edge
    * lifts its endpoints to their current component id (unseen nodes
    * lift to themselves), edges internal to one component drop out,
    * and the surviving COMPONENT-GRAPH — proportional to the arrival
    * batch, not the corpus — contracts with the same star algorithm.
    * The merged component id is min(member component ids, new node
    * ids) = the true min member id, so the canonical labeling
    * convention is preserved and increments compose: incremental ∘
    * incremental = incremental over the unioned batches.
    *
    * Scale shape: the two corpus-sized ops are the endpoint-lift join
    * and the final relabel join, both against a batch-sized side
    * (AQE broadcasts it); the iterative contraction itself never
    * touches untouched components. Nodes of `newEdges` appearing only
    * in self-loops are dropped, as in [[run]].
    */
  def incremental(
      newEdges: DataFrame,
      oldLabels: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val lab = oldLabels.select(
      col("id").cast("long").as("id"),
      col("component").cast("long").as("component"))
    // lift endpoints into component space; internal edges vanish
    val lifted = newEdges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .join(lab.select(col("id").as("a"), col("component").as("ca")),
        Seq("a"), "left")
      .join(lab.select(col("id").as("b"), col("component").as("cb")),
        Seq("b"), "left")
      .select(coalesce(col("ca"), col("a")).as("src"),
        coalesce(col("cb"), col("b")).as("dst"))
      .filter(col("src") =!= col("dst"))
    // contract the batch-sized component graph (nodes: old component
    // ids + brand-new node ids)
    val merged = run(lifted, "src", "dst").localCheckpoint()
    // relabel: only components present in `merged` can change (their
    // id IS a node id — the min member — so the anti-join below is
    // sound); new nodes are merged's ids that old labels never saw
    val updatedOld = lab
      .join(merged.select(col("id").as("component"), col("component").as("c2")),
        Seq("component"), "left")
      .select(col("id"), coalesce(col("c2"), col("component")).as("component"))
    val newNodes = merged.join(lab.select("id"), Seq("id"), "left_anti")
    updatedOld.unionByName(newNodes.select("id", "component"))
  }

  /** Deletion-aware maintenance (r11 — the compliance-takedown path):
    * remove `deletedIds` (and every edge incident to one) from an
    * existing labeling WITHOUT re-clustering the corpus. The dual of
    * [[incremental]]: additions only MERGE components (batch-sized
    * component-graph contraction suffices), but deletions can SPLIT
    * one, and a split is only decidable from the surviving edges of
    * the component itself — so the unit of recomputation is the
    * affected component, not the corpus.
    *
    * Exactly equivalent to a full [[run]] over the surviving graph
    * (edges minus those incident to a deleted id) — proven by
    * IncrementalCcSpec's delete gates and the q_d_cc_delete oracle —
    * because components are maximal: no edge crosses a component
    * boundary, so unaffected components keep their labels verbatim
    * (their edge sets are untouched), and the affected subgraph
    * recomputes independently with the same min-member-id
    * convention (a component that loses its min relabels to the new
    * min; members isolated by the deletion become singletons).
    * Composes with [[incremental]]: delete ∘ incremental ≡ full
    * rebuild over the final graph (the q_d_cc_delete gate runs
    * exactly that composition).
    *
    * Scale shape: `affected` (component ids containing a deleted id)
    * is deletion-batch-bounded and broadcast; the corpus-sized label
    * and edge sets are touched only by semi/anti joins against
    * broadcast-or-batch-sized sides; the iterative contraction runs
    * on the affected components' surviving edges ONLY. Worst case is
    * a deleted id inside a giant component — the split check must
    * scan that component's edges; that cost is inherent to the
    * question, not the plan.
    *
    * `edges` must be the CURRENT graph's edge set (the same one the
    * labeling summarizes) — labels alone cannot answer a split.
    */
  def afterDeletions(
      edges: DataFrame,
      oldLabels: DataFrame,
      deletedIds: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val del = deletedIds
      .select(col(deletedIds.columns.head).cast("long").as("id"))
      .distinct().localCheckpoint()
    val lab = oldLabels.select(
      col("id").cast("long").as("id"),
      col("component").cast("long").as("component"))
    // component ids that contain a deleted member — batch-bounded
    val affected = lab.join(del, Seq("id"), "left_semi")
      .select("component").distinct().localCheckpoint()
    // labels of untouched components pass through verbatim
    val unaffected = lab
      .join(broadcast(affected), Seq("component"), "left_anti")
      .select("id", "component")
    // members of affected components (affected-size-bounded; used
    // by three branches, so materialize once)
    val members = lab
      .join(broadcast(affected), Seq("component"), "left_semi")
      .select("id").localCheckpoint()
    val survivors = members.join(del, Seq("id"), "left_anti")
    // surviving edges of affected components: an edge lies entirely
    // inside one component, so a semi-join on src membership selects
    // exactly the affected components' edges; then drop edges
    // incident to a deleted id
    val e = edges.select(
      col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val affEdges = e
      .join(members.select(col("id").as("src")), Seq("src"), "left_semi")
      .join(del.select(col("id").as("src")), Seq("src"), "left_anti")
      .join(del.select(col("id").as("dst")), Seq("dst"), "left_anti")
    val relabeled = run(affEdges, "src", "dst")
    // survivors the deletion isolated (no surviving edge) — singletons
    val isolated = survivors
      .join(relabeled.select("id"), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("component"))
    unaffected.unionByName(relabeled).unionByName(isolated)
  }

  /** Large-star: every node u links each strictly-larger neighbor to
    * m(u) = min(N(u) ∪ {u}). Directed edges both ways → per-node min
    * via groupBy (one shuffle) → join back (same key, AQE-coalesced).
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val dir = e.select(col("src").as("u"), col("dst").as("v"))
      .union(e.select(col("dst").as("u"), col("src").as("v")))
    val mins = dir.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
    // No distinct here: smallStar's groupBy-min is duplicate-insensitive
    // and its final distinct dedups the round's output, so the cross-node
    // duplicate edges this emits (bounded by 2|e|) ride one extra shuffle
    // instead of paying a whole extra dedup shuffle per round.
    dir.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(
        least(col("m"), col("v")).as("src"),
        greatest(col("m"), col("v")).as("dst"))
      .filter(col("src") =!= col("dst"))
  }

  /** Small-star: every node u links its smaller-or-equal neighborhood
    * (plus itself) to m(u) = min(N≤(u) ∪ {u}).
    */
  private def smallStar(e: DataFrame): DataFrame = {
    // canonical edges already have src < dst: N≤(dst) ∋ src
    val dir = e.select(col("dst").as("u"), col("src").as("v"))
    val mins = dir.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
    val nbr = dir.join(mins, "u")
      .filter(col("v") =!= col("m"))
      .select(col("m").as("src"), col("v").as("dst"))
    val self = mins
      .filter(col("u") =!= col("m"))
      .select(col("m").as("src"), col("u").as("dst"))
    nbr.union(self)
      .select(
        least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** O(1)-to-driver convergence fingerprint: (edge count, hash sum).
    * A collision would need two distinct edge sets with equal count
    * AND equal 64-bit recombined hash sum mid-contraction — negligible,
    * and `maxIter` bounds the loop regardless.
    *
    * ANSI-safe for fewer than 2^31 edges: a plain sum(xxhash64) wraps
    * mod 2^64, which ANSI mode throws on, so the two 32-bit halves of
    * each hash are summed separately. Each half-sum is at most
    * edges·(2^32−1), under 2^63 while edges < 2^31; past that bound an
    * ANSI-on run can still overflow a half-sum. The driver recombines
    * the halves as lo + 31*hi in plain JVM arithmetic, which ANSI does
    * not govern; that collapses the pair back to 64 bits, about the
    * discriminating power of the old wrapped sum. Convergence
    * detection needs only "changed vs unchanged between rounds",
    * which this serves. Evaluated via `observe` on the round
    * checkpoints (see [[run]]) rather than a standalone agg job.
    */
  private def fingerprintExprs: Seq[org.apache.spark.sql.Column] = {
    val h = xxhash64(col("src"), col("dst"))
    Seq(
      count(lit(1)).as("n"),
      coalesce(sum(h.bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)).as("lo"),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)).as("hi"))
  }
}
