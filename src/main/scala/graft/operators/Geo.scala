package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Spatial operators over integer micro-degree coordinates, scale-first.
  *
  * Contract: points carry PLANAR integer coordinates (micro-degrees at
  * city scale, or any consistent integer unit) and every distance is
  * the EXACT integer squared Euclidean `dx*dx + dy*dy` compared against
  * `radius*radius` — no sqrt, no floats, so results replay bit-for-bit
  * cross-engine and across cluster widths (house rule). Geodesic
  * correction (lon compression by cos(lat)) is a pre-scaling concern:
  * callers at continental scale pre-multiply lon by a fixed-point
  * cos(lat-band) factor before handing coordinates in; the operators
  * themselves stay exact-integer.
  *
  * Scale shape (the Sedona/Magellan grid pattern): each point maps to a
  * square grid cell of side = radius; one side is replicated into its
  * 3x3 cell neighborhood and hash-joined against the other side's HOME
  * cell. Any two points within `radius` differ by at most one cell
  * index per axis, so the 9-cell neighborhood is a COMPLETE candidate
  * set — zero recall loss — while candidate volume stays
  * occupancy-bounded (never all-pairs). The join is a plain shuffle
  * hash join on the cell key: at 100 TB it shards by cell across
  * executors, and AQE's skew split handles hot cells (urban cores).
  *
  * Long bound (ADVICE r11 — the previously documented +-2^31 was
  * wrong: per-axis diffs reach 2^32 there and dx*dx alone overflows):
  * the ENFORCED contract is |coordinate| <= 2^30 - 1, which keeps
  * each diff <= 2^31 - 2, each square < 2^62, and dx*dx + dy*dy
  * < 2^63 — exact in Long with no silent negative-dist2 wraparound.
  * The distance-computing operators ([[radiusJoin]], [[nearestWithin]]
  * / [[knnWithin]], [[dbscan]]) raise per-row on a violating
  * coordinate (two codegen'd integer compares — negligible beside the
  * grid join) and require radius <= 3037000499 (isqrt(Long.Max), so
  * radius*radius cannot overflow). [[cellDensity]] computes no
  * distance; its only bound is floorDiv's |coord| < 2^53 exactness.
  */
object Geo {

  /** Enforced coordinate bound for exact-integer dist2 (object doc). */
  val MaxCoord: Long = (1L << 30) - 1

  /** Largest radius whose square fits in a Long. */
  val MaxRadius: Long = 3037000499L

  /** Per-row coordinate guard: pass `c` through, raising with a
    * descriptive message when |c| exceeds [[MaxCoord]] — the cost of
    * a silent overflow here is dropped AND phantom pairs, the worst
    * failure mode for an exactness-contract operator.
    *
    * Two-sided compare, NOT abs(): with ANSI off (GraftSession.tune)
    * abs(Long.MinValue) wraps to Long.MinValue (negative) and would
    * sail past an `abs(c) > MaxCoord` check — and Long.MinValue is
    * reachable because non-ANSI casts clamp any double <= -2^63 to
    * it (ADVICE r12).
    */
  private def checkedCoord(c: Column, what: String): Column =
    when(c > MaxCoord || c < -MaxCoord,
      raise_error(concat(
        lit(s"Geo: |$what| exceeds the 2^30-1 exact-dist2 coordinate bound: "),
        c.cast("string"))))
      .otherwise(c)

  private def requireRadius(radius: Long): Unit = {
    require(radius > 0, s"radius must be positive, got $radius")
    require(radius <= MaxRadius,
      s"radius*radius overflows Long past $MaxRadius, got $radius")
  }

  /** Exact floor division (toward -inf), safe for negative
    * coordinates: pmod's non-negative remainder makes the numerator
    * exactly divisible, so the double division is exact for
    * |numerator| < 2^53 — far past the +-2^31 coordinate contract.
    */
  private def floorDiv(c: Column, s: Long): Column =
    ((c - pmod(c, lit(s))) / lit(s)).cast("long")

  private def withCell(df: DataFrame, latCol: String, lonCol: String,
      cell: Long): DataFrame =
    df.withColumn("cx", floorDiv(col(latCol).cast("long"), cell))
      .withColumn("cy", floorDiv(col(lonCol).cast("long"), cell))

  /** The 3x3 cell-offset neighborhood, one struct (dx, dy) per cell. */
  private def neighborhood: Seq[Column] =
    for { dx <- -1 to 1; dy <- -1 to 1 }
      yield struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))

  /** (id, lat, lon, cx, cy) with coordinates range-checked and the
    * home cell of side `radius`.
    */
  private def gridPoints(points: DataFrame, idCol: String, latCol: String,
      lonCol: String, radius: Long): DataFrame =
    withCell(
      points.select(col(idCol).as("id"),
        checkedCoord(col(latCol).cast("long"), latCol).as("lat"),
        checkedCoord(col(lonCol).cast("long"), lonCol).as("lon")),
      "lat", "lon", radius)

  /** All point pairs (id_a < id_b) within `radius`, with exact squared
    * distance. Each qualifying unordered pair is emitted EXACTLY once:
    * the lower-id member is found via its replicated 3x3 neighborhood
    * landing on the higher-id member's home cell (a point's home cell
    * is unique, so no post-join distinct is needed — the dedup-free
    * variant of the grid join).
    *
    * `budget` ([[PairBudget]]) buckets candidates by join cell (see
    * [[radiusJoinCellStats]]): since every pair meets at exactly one
    * join key, a capped output is the exact pair subset whose meeting
    * cell survived.
    *
    * Output: (id_a, id_b, dist2) with dist2 = dx*dx + dy*dy <= radius*radius.
    */
  def radiusJoin(points: DataFrame, idCol: String, latCol: String,
      lonCol: String, radius: Long,
      budget: PairBudget = PairBudget.Unlimited): DataFrame = {
    requireRadius(radius)
    val p = gridPoints(points, idCol, latCol, lonCol, radius)
    val repl = p
      .withColumn("o", explode(array(neighborhood: _*)))
      .select(col("id").as("id_a"), col("lat").as("lat_a"),
        col("lon").as("lon_a"),
        (col("cx") + col("o.dx")).as("jx"),
        (col("cy") + col("o.dy")).as("jy"))
    val home = p.select(col("id").as("id_b"), col("lat").as("lat_b"),
      col("lon").as("lon_b"), col("cx").as("jx"), col("cy").as("jy"))
    val Seq(r, h) = PairBudget.restrict(budget, radiusJoinCellStats(p),
      "radiusJoin", Seq("jx", "jy"),
      Seq(col("cand"), col("jx"), col("jy")))(repl, home)
    val d2 = (col("lat_a") - col("lat_b")) * (col("lat_a") - col("lat_b")) +
      (col("lon_a") - col("lon_b")) * (col("lon_a") - col("lon_b"))
    r.join(h, Seq("jx", "jy"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist2", d2)
      .filter(col("dist2") <= lit(radius * radius))
      .select("id_a", "id_b", "dist2")
  }

  /** Per-join-cell candidate mass of [[radiusJoin]] over its
    * [[gridPoints]]: each unordered pair meets at exactly ONE join key
    * (the higher id's home cell), so cand(jx, jy) = (Σ 3×3-neighborhood
    * cell counts) × (home cell count) bounds the join rows there.
    * Cell-count metadata only — NO pair materialization.
    */
  private def radiusJoinCellStats(p: DataFrame): DataFrame = {
    val cnt = p.groupBy("cx", "cy").agg(count(lit(1)).as("n"))
    val nbh = cnt
      .withColumn("o", explode(array(neighborhood: _*)))
      .select((col("cx") + col("o.dx")).as("jx"),
        (col("cy") + col("o.dy")).as("jy"), col("n"))
      .groupBy("jx", "jy").agg(sum("n").as("n_nbh"))
    nbh.join(cnt.select(col("cx").as("jx"), col("cy").as("jy"),
        col("n").as("n_home")), Seq("jx", "jy"))
      .withColumn("cand", col("n_nbh") * col("n_home"))
  }

  /** Nearest-site assignment within `radius`: for each query point, the
    * single closest site (exact integer argmin; ties broken to the
    * smaller site id via lexicographic struct-min). Queries with no
    * site within `radius` are OMITTED (inner semantics — the caller's
    * radius is the service-area contract). Candidates come from the
    * same complete 3x3 grid join, so the argmin is over ALL sites
    * within radius — the cell structure costs no recall.
    *
    * Output: (qid, site_id, dist2), one row per covered query point.
    */
  def nearestWithin(queries: DataFrame, qIdCol: String, sites: DataFrame,
      sIdCol: String, latCol: String, lonCol: String,
      radius: Long): DataFrame =
    candidatesWithin(queries, qIdCol, sites, sIdCol, latCol, lonCol, radius)
      .groupBy("qid")
      .agg(min(struct(col("dist2"), col("site_id"))).as("best"))
      .select(col("qid"), col("best.site_id").as("site_id"),
        col("best.dist2").as("dist2"))

  /** k-nearest-sites join within `radius` — the feature-engineering
    * face of [[nearestWithin]] ("distances to the 3 closest stations"
    * as model inputs): per query point, the k closest sites by exact
    * integer squared distance, ranked 1..k, ties to the smaller site
    * id; queries with fewer than k sites in radius return what exists
    * (the radius is the candidate-completeness contract). The top-k
    * itself runs on the catalog's TopKPerGroup HEAP plan (partial/
    * final two-phase, one exchange) rather than a window sort — per-
    * query candidate lists are radius-bounded but the query COUNT is
    * corpus-scale, exactly the regime the heap operator exists for.
    */
  def knnWithin(queries: DataFrame, qIdCol: String, sites: DataFrame,
      sIdCol: String, latCol: String, lonCol: String,
      radius: Long, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val cand = candidatesWithin(queries, qIdCol, sites, sIdCol,
      latCol, lonCol, radius)
    TopK.perGroup(cand, Seq("qid"),
      Seq(col("dist2").asc, col("site_id").asc), k)
      .select("qid", "site_id", "dist2", "rn")
  }

  /** Shared complete candidate generator for [[nearestWithin]] /
    * [[knnWithin]]: queries replicated into the 3x3 cell
    * neighborhood, joined against site home cells, exact-distance
    * filtered. Output: (qid, site_id, dist2).
    */
  private def candidatesWithin(queries: DataFrame, qIdCol: String,
      sites: DataFrame, sIdCol: String, latCol: String, lonCol: String,
      radius: Long): DataFrame = {
    requireRadius(radius)
    val q0 = withCell(
      queries.select(col(qIdCol).as("qid"),
        checkedCoord(col(latCol).cast("long"), latCol).as("qlat"),
        checkedCoord(col(lonCol).cast("long"), lonCol).as("qlon")),
      "qlat", "qlon", radius)
    val repl = q0
      .withColumn("o", explode(array(neighborhood: _*)))
      .select(col("qid"), col("qlat"), col("qlon"),
        (col("cx") + col("o.dx")).as("jx"),
        (col("cy") + col("o.dy")).as("jy"))
    val home = withCell(
      sites.select(col(sIdCol).as("site_id"),
        checkedCoord(col(latCol).cast("long"), latCol).as("slat"),
        checkedCoord(col(lonCol).cast("long"), lonCol).as("slon")),
      "slat", "slon", radius)
      .withColumnRenamed("cx", "jx").withColumnRenamed("cy", "jy")
    val d2 = (col("qlat") - col("slat")) * (col("qlat") - col("slat")) +
      (col("qlon") - col("slon")) * (col("qlon") - col("slon"))
    repl.join(home, Seq("jx", "jy"))
      .withColumn("dist2", d2)
      .filter(col("dist2") <= lit(radius * radius))
      .select("qid", "site_id", "dist2")
  }

  /** Grid DBSCAN (Ester et al. KDD'96) with DETERMINISTIC border
    * assignment — density clustering composed from the verified grid
    * pieces: eps-neighbor pairs via [[radiusJoin]] (complete, so
    * density counts are exact), core points = those with
    * minPts-or-more points in their eps-ball INCLUDING themselves
    * (the scikit-learn convention), clusters = connected components
    * over core-core edges (label = min core id, the house CC
    * convention; an isolated core is its own singleton cluster), and
    * each BORDER point (non-core within eps of a core) joins the
    * MINIMUM cluster label among its core neighbors. Classic DBSCAN
    * assigns borders to whichever core claims them first in scan
    * order — nondeterministic under parallelism; the min-label rule
    * is the order-free refinement, a documented divergence that makes
    * the result replay bit-for-bit across engines and cluster widths.
    * Noise points (neither core nor border) are omitted.
    *
    * Output: (id, cluster, is_core). Scale: one grid radius join +
    * one degree agg + CC's O(log² n) contraction rounds on the
    * core-core subgraph + one border groupBy — never all-pairs.
    */
  def dbscan(points: DataFrame, idCol: String, latCol: String,
      lonCol: String, eps: Long, minPts: Int): DataFrame = {
    require(minPts >= 2, s"minPts must be >= 2, got $minPts")
    // r14 (guide §1.2: don't recompute what you already paid for):
    // the eps-pair table feeds the degree count, the core-core edge
    // build (twice), the border groupBy (twice via `und`), and CC's
    // canonicalization — the final lazy plan referenced the grid
    // join SIX times and re-executed it per reference (measured
    // 12.9 s at sf0.1; the join itself is ~2 s). Materialize it once;
    // severSized keeps the planner seeing its true size.
    val pairs = org.apache.spark.sql.GraftStatsSever.severSized(
      radiusJoin(points, idCol, latCol, lonCol, eps)
        .select("id_a", "id_b").localCheckpoint())
    val und = pairs.union(
      pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
    // neighbor count excludes self; +1 below matches the
    // |N_eps(p)| >= minPts (self included) contract
    val deg = und.groupBy(col("id_a").as("id"))
      .agg(count(lit(1)).as("nbrs"))
    val core = deg.filter(col("nbrs") + 1 >= minPts).select("id")
    // Fine-cell contraction before CC: cores sharing a cell of side
    // <= eps/sqrt(2) are mutually within eps (diagonal <= eps), hence
    // provably one cluster — contract each such clump to its min core
    // id and run CC on the REPRESENTATIVE graph only. In dense
    // regions (the urban-core cells that dominate at 100 TB) this
    // collapses thousands of nodes per cell into one before any
    // iteration; locally it cuts CC's input from |cores| to
    // |occupied cells|.
    val fine = (eps.toDouble / math.sqrt(2.0)).toLong.max(1L)
    val coreRep = withCell(
        core.join(points.select(col(idCol).as("id"),
          col(latCol).cast("long").as("lat"),
          col(lonCol).cast("long").as("lon")), Seq("id")),
        "lat", "lon", fine)
      .withColumn("rep", min("id").over(
        org.apache.spark.sql.expressions.Window.partitionBy("cx", "cy")))
      .select("id", "rep")
    val coreEdges = pairs
      .join(coreRep.select(col("id").as("id_a"), col("rep").as("rep_a")),
        Seq("id_a"))
      .join(coreRep.select(col("id").as("id_b"), col("rep").as("rep_b")),
        Seq("id_b"))
      .select(col("rep_a"), col("rep_b"))
      .filter(col("rep_a") =!= col("rep_b"))
      .distinct()
    val cc = ConnectedComponents.run(coreEdges, "rep_a", "rep_b")
    // isolated representatives (no inter-cell core edge) label as
    // themselves; every core takes its representative's component
    val coreLabels = coreRep
      .join(cc.withColumnRenamed("id", "rep"), Seq("rep"), "left_outer")
      .select(col("id"), coalesce(col("component"), col("rep")).as("cluster"))
    val border = und
      .join(core.select(col("id").as("id_a")), Seq("id_a"), "left_anti")
      .join(coreLabels.select(col("id").as("id_b"),
        col("cluster")), Seq("id_b"))
      .groupBy(col("id_a").as("id"))
      .agg(min("cluster").as("cluster"))
    coreLabels.withColumn("is_core", lit(true))
      .unionByName(border.withColumn("is_core", lit(false)))
  }

  /** Points per grid cell of side `cell` — the hotspot / density
    * histogram (one map-side-combinable groupBy; the monitoring face
    * of the same grid the joins shard on).
    */
  def cellDensity(points: DataFrame, latCol: String, lonCol: String,
      cell: Long): DataFrame = {
    require(cell > 0, s"cell must be positive, got $cell")
    withCell(points, latCol, lonCol, cell)
      .groupBy("cx", "cy")
      .agg(count(lit(1)).as("n"))
  }
}
