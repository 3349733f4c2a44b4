package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.functions._

import graft.Queries
import graft.expressions.{MinHashSig, TextFingerprint, TextShingleHashes, TextSimHash, VecExpressions}

/** The dedup catalog slice and the native kernels, measured in the
  * graph workload's traced run after its timed passes: a fixed list of
  * catalog entries (`Queries.specs`, their `fn`) on the generated
  * sf0.1-shaped corpus — pair generation under budgets and text
  * kernels. A warm-up pass over a small corpus of the same make-up,
  * then one measured pass whose collected output is written out for
  * DuckDB to replay each entry's oracle SQL (perfbench/run.py).
  */
object Dedup {
  val Entries: Seq[String] = Seq(
    "q_d_allpairs_cosine",
    "q_d_containment_budget",
    "q_d_editdist_budget",
    "q_d_minhash_pairs_budget",
    "q_d_simhash_pairs",
    "q_d_weighted_jaccard",
    "q_d_winnow_fingerprints",
    "q_t_fingerprint")

  def run(ctx: Ctx, dir: String, warmDir: String): Unit = {
    val spark = ctx.spark
    val specs = Entries.map(n => Queries.specs.find(_.name == n)
      .getOrElse(throw new NoSuchElementException(s"no catalog entry $n")))

    /** One pass: each entry's plan, collected with its schema. */
    def pass(d: String): Seq[(Array[Row], StructType, Double)] = specs.map { sp =>
      val t0 = System.nanoTime()
      val df = sp.fn(spark, d)
      val rows = ctx.trace.span("dedup." + sp.name, "Queries")(df.collect())
      (rows, df.schema, (System.nanoTime() - t0) / 1e9)
    }

    pass(warmDir)
    val c0 = ctx.counters.snapshot()
    val measured = pass(dir)
    val c = ctx.counters.snapshot() - c0
    for ((sp, (rows, _, secs)) <- specs.zip(measured)) {
      ctx.extra(s"dedup.${sp.name}_s") = secs
      ctx.extra(s"dedup.${sp.name}_rows") = rows.length
    }
    ctx.extra("dedup.jobs") = c.jobs
    ctx.extra("dedup.shuffle_mb") = c.shuffleMb
    ctx.extra("dedup.cpu_s") = c.cpuS

    val dumps = s"${ctx.work}/dumps"
    for ((sp, (rows, schema, _)) <- specs.zip(measured))
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dumps/${sp.name}")
    val oracles = specs.map(sp => sp.name -> sp.oracle.getOrElse(
      throw new IllegalStateException(s"${sp.name} has no oracle SQL"))).toMap
    Files.writeString(Paths.get(s"$dumps/oracle_sql.json"),
      ctx.mapper.writeValueAsString(Ctx.toJava(oracles)))
    ctx.extra("dumps") = dumps
    ctx.extra("dedup_dir") = dir
    kernels(ctx, dir)
  }

  /** The native `expressions` kernels in rows/s, each over a cached,
    * replicated copy of its input so only the kernel is timed; the
    * median of five timings. */
  private def kernels(ctx: Ctx, dir: String): Unit = {
    val spark = ctx.spark
    def replicate(df: DataFrame, reps: Int): DataFrame =
      df.crossJoin(spark.range(reps).toDF("rep")).drop("rep").repartition(4).cache()
    val docs = replicate(graft.Tables.documents(spark, dir)
      .select(col("text"), TextShingleHashes(col("text"), 5).as("sh")), 16)
    val nDocs = docs.count()
    val emb = graft.Tables.embeddings(spark, dir)
    val pairs = replicate(emb.as("a")
      .join(emb.as("b"), col("a.vec_id") + 1 === col("b.vec_id"))
      .select(col("a.embedding").as("x"), col("b.embedding").as("y")), 64)
    val nPairs = pairs.count()
    def rate(name: String, df: DataFrame, rows: Long, c: Column): Unit = {
      val secs = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        ctx.trace.span(s"kernels.$name", "expressions")(df.agg(c).collect())
        (System.nanoTime() - t0) / 1e9
      }.sorted
      ctx.extra(s"kernels.${name}_rows_per_s") = rows / secs(2)
    }
    rate("shingle_hashes", docs, nDocs, sum(size(TextShingleHashes(col("text"), 5))))
    rate("minhash_sig", docs, nDocs, sum(element_at(MinHashSig.ofHashes(col("sh"), 64), 1)))
    rate("simhash", docs, nDocs, sum(TextSimHash(col("text")) % 1000))
    rate("text_fingerprint", docs, nDocs, sum(TextFingerprint(col("text"))))
    rate("vec_cosine", pairs, nPairs, sum(VecExpressions.vec_cosine(col("x"), col("y"))))
    docs.unpersist(); pairs.unpersist()
  }
}
