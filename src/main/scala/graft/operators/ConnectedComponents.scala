package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** Distributed connected components over a pair list — the step that
  * turns near-duplicate PAIRS (ngram-Jaccard / MinHash-LSH / SimHash,
  * see [[Dedup]]) into duplicate CLUSTERS with one canonical keeper
  * per cluster. Reference scope: the reference dedups only exactly
  * (pandas `drop_duplicates` has no transitive notion); this is the
  * training-data-pipeline extension where A~B, B~C must collapse to
  * one cluster {A,B,C} even when A~C was never emitted as a pair.
  *
  * [[run]] has four steps:
  *  1. Local contraction. Each input partition's canonical edges are
  *     replaced by the star edges `(local min, v)` of a partition-local
  *     union-find over the same node set. Connectivity, and so the
  *     min-id labeling, is unchanged; the step rides the stage that
  *     canonicalizes the edges (no extra job or exchange). Edges that
  *     the upstream plan already co-locates collapse here instead of
  *     costing contraction rounds.
  *  2. Star rounds. Alternating large-star / small-star (Kiveris et
  *     al., "Connected Components in MapReduce and Beyond", SoCC'14),
  *     O(log² n) rounds. Each half-round is one shuffle on node id
  *     (groupBy-min + join back); no per-node neighbor arrays are
  *     materialized, so hub nodes skew a groupBy (AQE-handled) rather
  *     than building a giant collect_list. Naive min-label propagation
  *     needs O(diameter) rounds.
  *  3. Read-off. At the fixpoint the edge set is exactly
  *     `{(min C, v) : v ∈ C, v ≠ min C}`, so the labels are the stars'
  *     `(dst → src)` rows plus each root mapped to itself.
  *  4. Raise. A loop that has not reached its fixpoint after `maxIter`
  *     rounds throws instead of returning labels that are not one.
  *
  * Driver-side footprint per round: one (count, hashsum) observation
  * riding the round's checkpoint — O(1) rows to the driver, never the
  * edge set. `localCheckpoint` truncates lineage each round so plan
  * depth stays constant across iterations.
  */
object ConnectedComponents {

  /** Node-table bound of the local contraction: a partition's sorted
    * edges are contracted in runs that touch at most this many nodes,
    * so a task holds O(bound) state at any partition size. The table
    * (a `LongMap` with boxed indices plus the id and parent arrays)
    * costs up to about 80 bytes a node, outside Spark's memory manager:
    * at most about 20 MB per task at this bound.
    */
  private[graft] val LocalNodeCap: Int = 1 << 18

  /** Components of the undirected graph given by `edges(srcCol, dstCol)`
    * (Long-compatible ids). Returns one row per distinct endpoint of a
    * non-self-loop edge: `(id, component)` where `component` is the
    * minimum node id in the component (deterministic, partitioning-
    * invariant). Nodes appearing only in self-loops are dropped with
    * the loops (trivial singleton components carry no dedup signal).
    * Throws `IllegalStateException` when `maxIter` star rounds pass
    * without a fixpoint.
    */
  def run(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      maxIter: Int = 25): DataFrame =
    runCapped(edges, srcCol, dstCol, maxIter, LocalNodeCap)

  /** [[run]] with the local contraction's node bound as a parameter. */
  private[graft] def runCapped(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIter: Int,
      nodeCap: Int): DataFrame = {
    // sever: localCheckpoint carries the pre-checkpoint sizeInBytes
    // estimate, which would compound per contraction round (the
    // stats-walk hazard every checkpointing loop must cut).
    // GraftStatsSever rewraps the checkpointed InternalRow RDD with
    // unknown-size stats at zero conversion cost.
    def sever(df: DataFrame): DataFrame =
      org.apache.spark.sql.GraftStatsSever.sever(df)
    // The convergence fingerprint is observed as a side effect of each
    // round's eager localCheckpoint (CollectMetrics rides the
    // materialization), not by a separate scan+agg job per round.
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
    // Canonical undirected edges (src < dst, self-loops dropped),
    // locally contracted, deduplicated and checkpointed once, so the
    // (possibly expensive) upstream pair generation runs exactly once.
    val canonical = edges
      .select(
        least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("src"),
        greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("dst"))
      .filter(col("src") =!= col("dst"))
    var (e, prev) = observedCheckpoint(
      localStars(canonical, nodeCap).distinct(), "cc_fp_init")

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
    if (!converged)
      throw new IllegalStateException(
        s"ConnectedComponents: no fixpoint within maxIter = $maxIter " +
          s"star rounds (rounds run: $it)")

    // Converged edges are stars (root = component min) → child.
    e.select(col("dst").as("id"), col("src").as("component"))
      .union(e.select(col("src").as("id"), col("src").as("component"))
        .distinct())
  }

  /** Step 1 of [[run]]: each partition of the canonical `(src, dst)`
    * edges, sorted on `(src, dst)`, becomes the star edges
    * `(local min, v)`, one per non-root node of a partition-local
    * union-find. The node table is flushed when it reaches `nodeCap`
    * nodes; the sort fixes the flush points, so the output is a
    * function of the partition's edge multiset, not of its row order
    * (a retried task after a shuffle emits the same rows).
    */
  private[graft] def localStars(canonical: DataFrame, nodeCap: Int): DataFrame = {
    require(nodeCap >= 2, s"nodeCap must be at least 2, got $nodeCap")
    val pair = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    canonical
      .sortWithinPartitions("src", "dst")
      .as(pair)
      .mapPartitions(it => new LocalStars(it, nodeCap))(pair)
      .toDF("src", "dst")
  }

  /** Union-find over a stream of edges in runs of at most `nodeCap`
    * nodes; after each run, emits `(min, v)` for every non-root node `v`
    * of the run, in first-seen order. Union keeps the smaller id as the
    * root, so each root is its set's minimum. A run ends before an edge
    * that could take it past `nodeCap` nodes, so the id and parent
    * arrays never outgrow `nodeCap`.
    */
  private final class LocalStars(in: Iterator[(Long, Long)], nodeCap: Int)
      extends Iterator[(Long, Long)] {
    private val index = new mutable.LongMap[Int]
    private var ids = new Array[Long](math.min(64, nodeCap))
    private var parent = new Array[Int](ids.length)
    private var n = 0
    private var draining = false
    private var emitAt = 0
    private var pending: (Long, Long) = null

    private def indexOf(v: Long): Int =
      index.getOrElseUpdate(v, {
        if (n == ids.length) {
          ids = java.util.Arrays.copyOf(ids, math.min(2 * n, nodeCap))
          parent = java.util.Arrays.copyOf(parent, ids.length)
        }
        ids(n) = v
        parent(n) = n
        n += 1
        n - 1
      })

    private def find(i0: Int): Int = {
      var i = i0
      while (parent(i) != i) {
        parent(i) = parent(parent(i)) // path halving
        i = parent(i)
      }
      i
    }

    private def union(a: Int, b: Int): Unit = {
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) {
        if (ids(ra) < ids(rb)) parent(rb) = ra else parent(ra) = rb
      }
    }

    override def hasNext: Boolean = {
      while (pending == null) {
        if (draining) {
          while (pending == null && emitAt < n) {
            val r = find(emitAt)
            if (r != emitAt) pending = (ids(r), ids(emitAt))
            emitAt += 1
          }
          if (pending == null) {
            draining = false
            n = 0
            index.clear()
            if (!in.hasNext) return false
          }
        } else {
          while (n + 2 <= nodeCap && in.hasNext) {
            val (a, b) = in.next()
            union(indexOf(a), indexOf(b))
          }
          if (n == 0) return false
          draining = true
          emitAt = 0
        }
      }
      true
    }

    override def next(): (Long, Long) = {
      if (!hasNext) throw new NoSuchElementException
      val r = pending
      pending = null
      r
    }
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
    * global CC per arrival batch).
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

  /** Deletion-aware maintenance (the compliance-takedown path):
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
