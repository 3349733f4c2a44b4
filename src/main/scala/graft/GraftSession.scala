package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Session tuning + table access shared by every entry point.
  *
  * The reference pipeline (pandas/psycopg2) has lenient coercion
  * semantics: casts truncate toward zero, failed date parses yield
  * NaT, arithmetic never raises. Spark 4 defaults to ANSI mode which
  * raises instead; we pin the legacy behavior at runtime so operator
  * semantics match the reference (SURVEY.md §2 F3/F5/F7) and the
  * DuckDB oracle queries can express the same thing with TRUNC/
  * try_strptime.
  */
object GraftSession {

  /** ANSI override hook for the r13 forward-compat profile
    * (AnsiProfileSpec): tune() pins ansi=false — the catalog
    * contract — unless this JVM property asks for ANSI-on, letting
    * the identical catalog entries run under Spark's drifting
    * default so the entries that LEGITIMATELY require non-ANSI
    * semantics stay pinned by a test instead of discovered in an
    * upgrade.
    */
  val AnsiOverrideProp = "graft.ansi.override"

  /** Apply runtime confs we rely on. Safe to call repeatedly. */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.ansi.enabled",
      sys.props.getOrElse(AnsiOverrideProp, "false"))
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // events.parquet stores TIMESTAMP(NANOS); Spark's TimestampType is
    // micros. Read nanos as raw Long and convert explicitly (Tables.events).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // r14 optimization round (guide §2.5 post-shuffle parallelism):
    // AQE's partition coalescing is byte-based with a 1 MB floor
    // (coalescePartitions.minPartitionSize) — correct for I/O-bound
    // shuffles, but this engine's verify/rerank stages carry seconds
    // of per-row compute in sub-MB shuffles (token arrays, exact
    // intersections, PQ distance sums), and the floor collapsed them
    // to ONE task (measured on the all-pairs cosine join's former
    // array-intersect verify: two verify stages 2.3 s + 2.1 s
    // single-task at the default; at a lower floor they spread and
    // the query read 5.4 → 2.2 s).
    // parallelismFirst (default on) already targets the session's
    // core count; lowering the floor just lets it. Scale-invariant:
    // at production shuffle sizes (total ≫ cores × floor) the floor
    // never binds, so cluster plans are untouched. 64 KB is the
    // measured sweet spot: 8 KB maximized the pair-family win but
    // regressed the round-latency-bound iteratives 2-3× (each tiny
    // round state split into many ~10 ms tasks × rounds × joins);
    // 64 KB keeps the pair wins with the iteratives at par — except
    // k-core, whose ~100-300 KB round states still split: its loops
    // pin the floor back up via [[withLoopFloor]]. Parameterised per
    // the bench contract.
    spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize",
      sys.env.getOrElse("SPARK_GRAFT_AQE_MIN_PARTITION", "64kb"))
    spark
  }

  /** Scoped raise of the AQE coalescing floor for ITERATIVE LOOP
    * rounds (see the tune() note): a fixed-point loop's per-round
    * state is small and its cost is round latency — stages × task
    * launches — so splitting a few-hundred-KB state across tasks
    * taxes every round for no compute win. Raising the floor for the
    * loop's eager checkpoint actions restores one-partition rounds;
    * the conf is restored afterwards so the operator's lazily
    * executed OUTPUT (and everything else in the session) keeps the
    * session floor. No-op at production scale (round states ≫ 1 MB
    * coalesce by bytes either way).
    */
  def withLoopFloor[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val prior = spark.conf.get(key)
    spark.conf.set(key,
      sys.env.getOrElse("SPARK_GRAFT_AQE_LOOP_FLOOR", "1mb"))
    try body finally spark.conf.set(key, prior)
  }

  /** Unsplittable-input fan-out (r14 optimization round, guide §2.5
    * "input skew: one huge unsplittable file … repartition immediately
    * after the read"): the driver's testdata tables are single-file,
    * SINGLE-ROW-GROUP parquet — a parquet reader cannot split below a
    * row group, so every scan arrives as ONE task and all map-side
    * compute (shingling, minhash signatures, regex, byte decoding,
    * vector arithmetic) runs on one core regardless of cluster width
    * (measured: 77 catalog entries spend 88.5 s in exec with ~1 task
    * per stage at sf0.1 on 32 cores).
    *
    * Scale-adaptive by construction, NOT a local-mode constant: the
    * helper is the IDENTITY whenever the scan already carries at
    * least half the session's parallelism (any production table —
    * many files / many row groups — lands there), and only
    * redistributes genuinely under-parallel inputs to
    * `defaultParallelism` partitions, which itself follows the core
    * count the driver sets. Round-robin repartition keeps Spark's
    * sort-before-repartition retry determinism; callers are the
    * exact-arithmetic operator families, whose results are
    * partitioning-invariant by the house determinism contract.
    */
  def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < math.max(2, target / 2))
      df.repartition(target)
    else df
  }

  /** Builder for standalone mains/tests (local mode, 32 threads). */
  def local(app: String, cores: Int = 32): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    tune(s)
  }
}

/** Readers for the driver-generated testdata tables (TESTDATA.md). */
object Tables {
  def read(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  def lineitem(s: SparkSession, dir: String): DataFrame = read(s, dir, "lineitem")
  def orders(s: SparkSession, dir: String): DataFrame   = read(s, dir, "orders")
  def customer(s: SparkSession, dir: String): DataFrame = read(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame = read(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame     = read(s, dir, "part")
  def nation(s: SparkSession, dir: String): DataFrame   = read(s, dir, "nation")
  def region(s: SparkSession, dir: String): DataFrame   = read(s, dir, "region")
  // r14 A/B note: a reader-level fanOut of documents/embeddings/
  // events was measured across 32 compute-heavy consumers and came
  // out MIXED (set 0.96x, but e.g. q_pipe_dsir_mask 1.67x,
  // q_e_abtt_correct 1.73x WORSE): the added exchange and the wider
  // task fan-in tax every light multi-stage consumer, while only
  // single-dominant-map consumers win. fanOut is therefore applied
  // PER QUERY at the measured winners (luhn 0.19x, redact_pii 0.42x,
  // diversity_sketch 0.52x, cidr 0.61x, o14 0.83x), not at readers.
  def documents(s: SparkSession, dir: String): DataFrame = read(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = read(s, dir, "embeddings")

  /** events.ts is parquet TIMESTAMP(NANOS). With nanosAsLong=true Spark
    * surfaces it as LongType (ns since epoch); normalize to an epoch-
    * seconds Long `ts_sec` plus a micros TimestampType `ts` so downstream
    * operators are precision-stable vs the DuckDB oracle (which keeps ns).
    * Query outputs must never emit raw timestamps — always DATE or epoch
    * seconds (see Queries.scala).
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    GraftSession.tune(s)
    val df = read(s, dir, "events")
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts_ns", col("ts"))
          .withColumn("ts", timestamp_micros((col("ts_ns") / 1000L).cast("long")))
      case _ =>
        df.withColumn("ts_ns", (unix_timestamp(col("ts")) * 1000000000L))
    }
  }
}
