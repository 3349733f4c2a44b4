package graft

import java.util.concurrent.atomic.AtomicLong

import scala.util.Random

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.ConnectedComponents

/** Large-star/small-star connected components vs a driver-side
  * union-find ground truth.
  */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  /** Driver-side union-find with path compression, min-id labeling. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    // min-id relabel: the union order above keeps the min as root, but
    // re-derive from scratch to be safe.
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val groups = nodes.groupBy(find)
    groups.flatMap { case (_, ms) =>
      val m = ms.min; ms.map(_ -> m)
    }
  }

  private def runCC(edges: Seq[(Long, Long)]): Map[Long, Long] =
    labelsOf(ConnectedComponents.run(edges.toDF("src", "dst")))

  /** `(id, component)` rows as a map; fails on a repeated id. */
  private def labelsOf(df: DataFrame): Map[Long, Long] = {
    val rows = df.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.map(_._1).distinct.length == rows.length, "repeated id")
    rows.toMap
  }

  /** `edges`, in this row order, sliced into `parts` input partitions. */
  private def spread(edges: Seq[(Long, Long)], parts: Int): DataFrame =
    spark.sparkContext.parallelize(edges, parts).toDF("src", "dst")

  private def randomEdges(rnd: Random, m: Int, n: Int): Seq[(Long, Long)] =
    Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))

  private object Jobs extends SparkListener {
    val started = new AtomicLong
    override def onJobStart(e: SparkListenerJobStart): Unit =
      started.incrementAndGet()
  }

  /** `body`'s result and the Spark jobs it started. */
  private def countingJobs[T](body: => T): (T, Long) = {
    spark.sparkContext.addSparkListener(Jobs)
    try {
      org.apache.spark.GraftSparkAccess.drainListenerBus(spark.sparkContext)
      val before = Jobs.started.get
      val r = body
      org.apache.spark.GraftSparkAccess.drainListenerBus(spark.sparkContext)
      (r, Jobs.started.get - before)
    } finally spark.sparkContext.removeSparkListener(Jobs)
  }

  test("random graphs across seeds match union-find") {
    for (seed <- Seq(1, 7, 42)) {
      val rnd = new Random(seed)
      val n = 400
      val edges = Seq.fill(300)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      assert(runCC(edges) == unionFind(edges), s"seed=$seed")
    }
  }

  test("long chain collapses to one component (log-round contraction)") {
    val chain = (0L until 300L).sliding(2).map(s => (s(1), s(0))).toSeq
    val got = runCC(chain)
    assert(got.size == 300 && got.values.toSet == Set(0L))
  }

  test("star, duplicate and reversed edges, multiple components") {
    val edges = Seq[(Long, Long)](
      (10, 1), (1, 10), (10, 5), (5, 10), (10, 7), // star rooted at 1
      (20, 21), (21, 22),                          // path
      (30, 30),                                    // self-loop only: dropped
      (40, 41), (40, 41))                          // dup edge
    val got = runCC(edges)
    assert(got == Map(
      1L -> 1L, 5L -> 1L, 7L -> 1L, 10L -> 1L,
      20L -> 20L, 21L -> 20L, 22L -> 20L,
      40L -> 40L, 41L -> 40L))
  }

  test("random graphs over 1, 3 and 16 input partitions, in shuffled " +
      "row order, match union-find") {
    for (seed <- Seq(5, 13, 77); parts <- Seq(1, 3, 16)) {
      val rnd = new Random(seed)
      // self-loops, duplicates and both orientations included
      val edges = randomEdges(rnd, 600, 500)
      val rows = new Random(seed * 31 + parts).shuffle(edges)
      val got = labelsOf(ConnectedComponents.run(spread(rows, parts)))
      assert(got == unionFind(edges.filter { case (a, b) => a != b }),
        s"seed=$seed parts=$parts")
    }
  }

  test("local contraction emits the same rows for two row orders of " +
      "one partition, at most one edge per non-root node") {
    val rnd = new Random(3)
    val edges = randomEdges(rnd, 400, 300)
      .collect { case (a, b) if a != b => (a min b, a max b) }
    def contract(rows: Seq[(Long, Long)], cap: Int): Seq[(Long, Long)] =
      ConnectedComponents.localStars(spread(rows, 1), cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    for (cap <- Seq(5, ConnectedComponents.LocalNodeCap)) {
      val a = contract(edges, cap)
      val b = contract(rnd.shuffle(edges), cap)
      assert(a == b, s"cap=$cap")
      assert(a.forall { case (s, d) => s < d })
    }
    val stars = contract(edges, ConnectedComponents.LocalNodeCap)
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val roots = unionFind(edges).values.toSet
    assert(stars.map(_._2).distinct.length == stars.length)
    assert(stars.length == nodes.length - roots.size)
    assert(unionFind(stars) == unionFind(edges))
  }

  test("a run never outgrows the node cap: at a cap of 3 nodes every " +
      "run holds one edge, so the contraction passes the sorted edges " +
      "through") {
    val rnd = new Random(4)
    val edges = randomEdges(rnd, 200, 50)
      .collect { case (a, b) if a != b => (a min b, a max b) }
    val got = ConnectedComponents.localStars(spread(rnd.shuffle(edges), 1), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == edges.sorted)
  }

  test("flush path: a node cap of a few nodes matches union-find") {
    for (seed <- Seq(2, 9); cap <- Seq(2, 3, 7)) {
      val rnd = new Random(seed)
      val edges = randomEdges(rnd, 300, 200)
      val got = labelsOf(ConnectedComponents.runCapped(
        spread(edges, 3), "src", "dst", maxIter = 25, nodeCap = cap))
      assert(got == unionFind(edges.filter { case (a, b) => a != b }),
        s"seed=$seed cap=$cap")
    }
  }

  test("32 chains of 32 nodes in one input partition: within 14 Spark " +
      "jobs") {
    val edges = for (c <- 0L until 32L; i <- 0L until 31L)
      yield (c * 32 + i + 1, c * 32 + i)
    val (got, jobs) = countingJobs(
      labelsOf(ConnectedComponents.run(spread(edges, 1))))
    assert(got == unionFind(edges))
    assert(jobs <= 14, s"$jobs Spark jobs")
  }

  test("a path one edge per partition does not converge in one round: " +
      "raises, naming the rounds") {
    val path = (0L until 64L).map(i => (i, i + 1))
    val err = intercept[IllegalStateException](
      ConnectedComponents.run(spread(path, path.size), maxIter = 1))
    assert(err.getMessage.contains("rounds run: 1"), err.getMessage)
  }

  test("empty edge set yields empty result") {
    assert(runCC(Seq.empty).isEmpty)
  }

  test("clusters() sizes match run() groupBy") {
    val edges = Seq[(Long, Long)]((1, 2), (2, 3), (7, 8))
    val sizes = ConnectedComponents.clusters(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes == Map(1L -> 3L, 7L -> 2L))
  }

  private def runIncremental(
      newEdges: Seq[(Long, Long)],
      oldLabels: Map[Long, Long]): Map[Long, Long] =
    ConnectedComponents.incremental(
      newEdges.toDF("src", "dst"),
      oldLabels.toSeq.toDF("id", "component"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("incremental == full recompute on planted additions: internal " +
      "edge, component merge, fresh chain, and a new node whose id " +
      "undercuts an old component's label") {
    val old = Seq[(Long, Long)]((1, 2), (2, 3), (10, 11), (20, 21))
    val labels = runCC(old)
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
    val batch = Seq[(Long, Long)](
      (1, 3),   // internal to {1,2,3}: must be a no-op
      (2, 10),  // merges {1,2,3} with {10,11}
      (30, 31), (31, 32), // brand-new chain
      (0, 21))  // new node 0 joins {20,21} and STEALS the label (0<20)
    val got = runIncremental(batch, labels)
    assert(got == unionFind(old ++ batch), got)
    // spot-check the relabel cases explicitly
    assert(got(11L) == 1L)  // merged into min-id component 1
    assert(got(20L) == 0L && got(21L) == 0L && got(0L) == 0L)
    assert(got(30L) == 30L && got(32L) == 30L)
    assert(got(3L) == 1L)   // internal edge changed nothing
  }

  test("incremental matches full recompute on random old/new splits " +
      "across seeds (shared, fresh, and bridging nodes)") {
    for (seed <- Seq(3, 11, 29)) {
      val rnd = new Random(seed)
      val oldE = Seq.fill(200)(
        (rnd.nextInt(150).toLong, rnd.nextInt(150).toLong))
        .filter { case (a, b) => a != b }
      // new batch: half within the old node range (internal/merge
      // edges), half touching fresh ids ≥ 150 (arrivals + bridges)
      val newE = Seq.fill(60)(
        (rnd.nextInt(150).toLong, rnd.nextInt(150).toLong)) ++
        Seq.fill(60)(
          (rnd.nextInt(250).toLong, (150 + rnd.nextInt(100)).toLong))
      val batch = newE.filter { case (a, b) => a != b }
      val got = runIncremental(batch, runCC(oldE))
      assert(got == unionFind(oldE ++ batch), s"seed=$seed")
    }
  }

  test("increments compose: two successive batches == one full run") {
    val old = Seq[(Long, Long)]((1, 2), (5, 6), (9, 10))
    val b1 = Seq[(Long, Long)]((2, 5), (20, 21))
    val b2 = Seq[(Long, Long)]((21, 9), (3, 1))
    val l1 = runIncremental(b1, runCC(old))
    val l2 = ConnectedComponents.incremental(
      b2.toDF("src", "dst"), l1.toSeq.toDF("id", "component"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l2 == unionFind(old ++ b1 ++ b2), l2)
  }

  // ---- afterDeletions: delete == full rebuild on survivors ----

  /** Ground truth for a deletion: full union-find over the surviving
    * edges; previously-labeled survivors with no surviving edge are
    * singletons.
    */
  private def deleteTruth(
      edges: Seq[(Long, Long)],
      deleted: Set[Long]): Map[Long, Long] = {
    val surviving = edges.filter { case (a, b) =>
      !deleted(a) && !deleted(b) && a != b }
    val uf = unionFind(surviving)
    val prior = unionFind(edges.filter { case (a, b) => a != b })
    prior.keySet.diff(deleted)
      .map(id => id -> uf.getOrElse(id, id)).toMap
  }

  private def runDelete(
      edges: Seq[(Long, Long)],
      oldLabels: Map[Long, Long],
      deleted: Seq[Long]): Map[Long, Long] =
    ConnectedComponents.afterDeletions(
      edges.toDF("src", "dst"),
      oldLabels.toSeq.toDF("id", "component"),
      deleted.toDF("id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("afterDeletions: bridge delete SPLITS a chain; min-member " +
      "delete RELABELS; only-neighbor delete leaves a singleton; " +
      "untouched components keep labels verbatim") {
    val edges = Seq[(Long, Long)](
      (1, 2), (2, 3), (3, 4), (4, 5), // chain: 3 is a bridge
      (10, 11), (11, 12),             // 10 is the min member
      (20, 21),                       // 20 is 21's only neighbor
      (30, 31), (31, 32))             // untouched
    val labels = runCC(edges)
    val got = runDelete(edges, labels, Seq(3L, 10L, 20L))
    assert(got == deleteTruth(edges, Set(3L, 10L, 20L)), got)
    assert(got(1L) == 1L && got(2L) == 1L)   // left half of the split
    assert(got(4L) == 4L && got(5L) == 4L)   // right half: new min 4
    assert(got(11L) == 11L && got(12L) == 11L) // relabeled to new min
    assert(got(21L) == 21L)                  // isolated singleton
    assert(got(30L) == 30L && got(31L) == 30L && got(32L) == 30L)
    assert(!got.contains(3L) && !got.contains(10L) && !got.contains(20L))
  }

  test("afterDeletions: deleting an entire component removes it; " +
      "deleting unknown ids is a no-op") {
    val edges = Seq[(Long, Long)]((1, 2), (10, 11))
    val labels = runCC(edges)
    val got = runDelete(edges, labels, Seq(1L, 2L, 999L))
    assert(got == Map(10L -> 10L, 11L -> 10L), got)
  }

  test("afterDeletions matches full recompute on random graphs and " +
      "deletion sets across seeds") {
    for (seed <- Seq(7, 19, 41)) {
      val rnd = new Random(seed)
      val edges = Seq.fill(250)(
        (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
        .filter { case (a, b) => a != b }
      val deleted = Seq.fill(25)(rnd.nextInt(120).toLong).distinct
      val got = runDelete(edges, runCC(edges), deleted)
      assert(got == deleteTruth(edges, deleted.toSet), s"seed=$seed")
    }
  }

  test("delete composes with incremental: incremental batch then " +
      "takedown == full rebuild over the final graph") {
    val old = Seq[(Long, Long)]((1, 2), (2, 3), (10, 11), (20, 21))
    val batch = Seq[(Long, Long)]((3, 10), (30, 31), (21, 30))
    val all = old ++ batch
    val l1 = runIncremental(batch, runCC(old))
    val got = runDelete(all, l1, Seq(3L, 30L))
    assert(got == deleteTruth(all, Set(3L, 30L)), got)
    // the {1,2,3,10,11} merge splits back apart at deleted bridge 3
    assert(got(1L) == 1L && got(2L) == 1L && got(10L) == 10L &&
      got(11L) == 10L)
    // {20,21,30,31} loses bridge 30: {20,21} survives, 31 isolated
    assert(got(20L) == 20L && got(21L) == 20L && got(31L) == 31L)
  }
}
