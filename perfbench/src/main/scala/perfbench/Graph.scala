package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.operators.{ConnectedComponents, KCore, LabelPropagation, PageRank}

/** graph_fixpoint: one op is a pass of the four fixed-point graph
  * operators over one generated graph; passes walk through graphs of
  * the same generator and shape. Each operator's collected output is
  * checked against [[Reference]].
  */
object Graph {
  val PageRankIters = 5
  val LabelPropIters = 3

  private val schema = StructType(Seq(
    StructField("src", LongType), StructField("dst", LongType)))

  final case class Expected(edges: Seq[(Long, Long)], cc: Map[Long, Long],
      core: Map[Long, Long], prIters: Int, pr: Map[Long, Long],
      lpIters: Int, lp: Map[Long, Long])

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val k = ctx.manifest.get("kcore_k").asInt
    val kIters = ctx.manifest.get("kcore_iters").asInt
    val graphs = ctx.manifest.get("graphs").elements.asScala.map(_.asText).toVector

    /** The edge list read apart from Spark, for the expectations. */
    def edgeList(path: String): Seq[(Long, Long)] = {
      val lines = scala.io.Source.fromFile(path)
      try lines.getLines().drop(1).map { l =>
        val Array(a, b) = l.split(','); (a.toLong, b.toLong)
      }.toVector finally lines.close()
    }

    def expected(edges: Seq[(Long, Long)], prIters: Int, lpIters: Int): Expected = {
      val (core, rounds) = Reference.kcore(edges, k)
      require(rounds < kIters, s"graph peels in $rounds rounds, more than the fixed $kIters")
      Expected(edges, Reference.components(edges), core,
        prIters, Reference.pagerank(edges, prIters),
        lpIters, Reference.labelprop(edges, lpIters))
    }

    def collect(df: DataFrame, a: String, b: String): Map[Long, Long] =
      df.select(a, b).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    def pass(g: String, exp: Expected): Boolean = ctx.op("graph_pass", Map("graph" -> g)) {
      val (prIters, lpIters) = (exp.prIters, exp.lpIters)
      val edges = spark.read.schema(schema).option("header", "true").csv(g)
      val cc = ctx.call("graph.cc", "operators")(
        collect(ConnectedComponents.run(edges, "src", "dst"), "id", "component"))
      val core = ctx.call("graph.kcore", "operators")(
        collect(KCore.peel(edges, "src", "dst", k, kIters), "node", "degree"))
      val pr = ctx.call("graph.pagerank", "operators")(
        collect(PageRank.ranks(edges, "src", "dst", prIters), "node", "rank"))
      val lp = ctx.call("graph.labelprop", "operators")(
        collect(LabelPropagation.communities(edges, "src", "dst", lpIters),
          "node", "community"))
      (cc, core, pr, lp)
    } { case (cc, core, pr, lp) =>
      val bad = Seq(
        "components differ from union-find" -> (cc != exp.cc),
        "k-core differs from the plain peel" -> (core != exp.core),
        "k-core is not a fixpoint" -> !isFixpoint(core, exp, k),
        "pagerank differs from the integer rule" -> (pr != exp.pr),
        "label propagation differs from the vote rule" -> (lp != exp.lp))
        .collect { case (msg, true) => msg }
      if (bad.isEmpty) None else Some(bad.mkString("; "))
    }

    // set-up: one warm-up pass over a small graph of the same make-up
    // (two rounds per fixed-round loop), so JIT and codegen stay out of
    // the timed passes
    val warm = ctx.manifest.get("warmup").asText
    ctx.check("the warm-up graph pass matched its reference",
      pass(warm, expected(edgeList(warm), 2, 2)))
    ctx.endSetup()
    var (i, matched) = (0, 0)
    do {
      // the expectation is computed in plain Scala before the pass, untimed
      val g = graphs(i % graphs.size)
      if (pass(g, expected(edgeList(g), PageRankIters, LabelPropIters))) matched += 1
      i += 1
    } while (ctx.timeLeft)
    ctx.endTimed()
    ctx.check("every graph pass matched its reference", matched == i, s"$matched of $i")
    if (ctx.trace.enabled)
      Dedup.run(ctx, ctx.manifest.get("dedup_dir").asText, ctx.manifest.get("dedup_warm_dir").asText)
  }

  /** One more synchronous round over the reported core removes nothing:
    * every reported degree equals the node's degree inside the core's
    * own induced subgraph, and is at least k. */
  private def isFixpoint(core: Map[Long, Long], exp: Expected, k: Int): Boolean = {
    val induced = exp.edges
      .collect { case (a, b) if a != b && core.contains(a) && core.contains(b) =>
        (a min b, a max b) }
      .distinct.flatMap { case (u, v) => Seq(u, v) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    core.forall { case (n, d) => d >= k && induced.get(n).contains(d) }
  }
}
