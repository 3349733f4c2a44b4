package graft.tools

import graft.GraftSession
import graft.functions.ScalarOps
import graft.operators.{AsOfJoin, Conformal, Dedup, Geo, IpOps,
  PositionalSplit, RangeJoin, Stats, TopK}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.Random

/** Randomized differential fuzzing of the oracle-backed catalog
  * (VERDICT r12 top ask): every green correctness gate replays ONE
  * pinned fixture, and the last three real bugs (Conformal signed
  * floor-div, Geo coordinate overflow, CIDR mask aliasing) were
  * input-regime holes no fixture exercised. This harness generates
  * seeded adversarial inputs per operator family — signed values,
  * extreme magnitudes at documented domain bounds, empty/singleton
  * groups, all-equal groups (zero variance), unicode and empty-string
  * keys, null keys, adversarial duplicates — runs the SHIPPED graft
  * operator on them, and emits a DuckDB SQL mirror per cell for
  * tools/fuzz_check.py to replay and compare value-exactly (same
  * canon as the driver gate).
  *
  * Usage:   runMain graft.tools.Fuzz <outDir> [nSeeds=20] [familiesCsv]
  * Output:  <outDir>/data/<family>/s<seed>/<table>/   input parquet
  *          <outDir>/out/<family>_s<seed>/            spark result
  *          <outDir>/manifest.json                    cells + SQL
  * Checker: python3 tools/fuzz_check.py <outDir>   -> FUZZ_r{N}.json
  *
  * Determinism: cell seed = murmur(family) ^ seed; every generator
  * draws only from its own Random instance, so a diverging cell is
  * replayable byte-identically and can be pinned as a permanent
  * fixture (FuzzRegressionSpec).
  */
object Fuzz {

  /** One generated fuzz cell: input tables (written to parquet and
    * re-read so Spark sees exactly what DuckDB sees), the shipped
    * operator under test, and the DuckDB mirror over views named by
    * the table keys.
    */
  final case class Built(
      tables: Map[String, DataFrame],
      run: Map[String, DataFrame] => DataFrame,
      sql: String)

  final case class Family(name: String, build: (SparkSession, Random) => Built)

  // ----------------------------------------------------------------
  // generator helpers
  // ----------------------------------------------------------------

  private[tools] def mkDf(spark: SparkSession, schema: StructType,
      rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private[tools] def sLong(n: String) = StructField(n, LongType, nullable = true)
  private[tools] def sInt(n: String) = StructField(n, IntegerType, nullable = true)
  private[tools] def sStr(n: String) = StructField(n, StringType, nullable = true)
  private[tools] def sDbl(n: String) = StructField(n, DoubleType, nullable = true)
  private[tools] def sDate(n: String) = StructField(n, DateType, nullable = true)

  /** Row count regimes: empty, singleton, tiny, medium. */
  private[tools] def nRows(rng: Random, allowEmpty: Boolean = true): Int =
    rng.nextInt(6) match {
      case 0 => if (allowEmpty) 0 else 1
      case 1 => 1
      case 2 => 2 + rng.nextInt(4)
      case 3 => 7 + rng.nextInt(20)
      case _ => 40 + rng.nextInt(160)
    }

  /** Adversarial signed long within ±bound: zeros, exact bounds,
    * bound-adjacent, tiny, uniform. */
  private[tools] def advLong(rng: Random, bound: Long): Long = rng.nextInt(12) match {
    case 0 => 0L
    case 1 => bound
    case 2 => -bound
    case 3 => bound - rng.nextInt(3)
    case 4 => -bound + rng.nextInt(3)
    case 5 | 6 => rng.nextInt(7).toLong - 3
    case _ =>
      val v = math.rint((rng.nextDouble() * 2 - 1) * bound).toLong
      math.max(-bound, math.min(bound, v))
  }

  /** Adversarial group key: empty string, whitespace, unicode, a small
    * hot domain (forces duplicates), or null (~8%). */
  private[tools] def advKey(rng: Random): String = rng.nextInt(12) match {
    case 0 => ""
    case 1 => " "
    case 2 => "κλειδί" + rng.nextInt(2)
    case 3 => null
    case _ => "k" + rng.nextInt(5)
  }

  /** Exactly-representable double: integer + {0, .25, .5, .75}. */
  private[tools] def advQuarter(rng: Random, intBound: Int): Double =
    advLong(rng, intBound).toDouble + Seq(0.0, 0.25, 0.5, 0.75)(rng.nextInt(4))

  private[tools] def lit4sql(s: String): String =
    if (s == null) "NULL" else "'" + s.replace("'", "''") + "'"

  // ----------------------------------------------------------------
  // families
  // ----------------------------------------------------------------

  /** t(k,v): nullable unicode/empty/null keys, signed longs to ±2^40. */
  private val aggGroupSum = Family("agg_group_sum", (spark, rng) => {
    val rows = (0 until nRows(rng)).map(_ =>
      Row(advKey(rng), Long.box(advLong(rng, 1L << 40))))
    Built(
      Map("t" -> mkDf(spark, StructType(Seq(sStr("k"), sLong("v"))), rows)),
      m => m("t").groupBy("k")
        .agg(sum("v").cast("long").as("sum_v"), count(lit(1)).as("n")),
      "SELECT k, CAST(SUM(v) AS BIGINT) AS sum_v, COUNT(*) AS n FROM t GROUP BY k")
  })

  /** avg over integer-valued longs |v|<=2^20: partial double sums stay
    * exact (< 2^53), so avg is bitwise cross-engine. */
  private val aggAvg = Family("agg_avg_count", (spark, rng) => {
    val rows = (0 until nRows(rng)).map(_ =>
      Row(advKey(rng), Long.box(advLong(rng, 1L << 20))))
    Built(
      Map("t" -> mkDf(spark, StructType(Seq(sStr("k"), sLong("v"))), rows)),
      m => m("t").groupBy("k").agg(avg("v").as("avg_v"), count("v").as("nv")),
      "SELECT k, AVG(v) AS avg_v, COUNT(v) AS nv FROM t GROUP BY k")
  })

  /** min_by/max_by with a unique order column (deterministic pick). */
  private val aggMinMaxBy = Family("agg_minby_maxby", (spark, rng) => {
    val rows = (0 until nRows(rng)).zipWithIndex.map { case (_, i) =>
      Row(advKey(rng), Long.box(i.toLong), Long.box(advLong(rng, 1L << 30)))
    }
    Built(
      Map("t" -> mkDf(spark,
        StructType(Seq(sStr("k"), sLong("id"), sLong("v"))), rows)),
      m => m("t").groupBy("k").agg(
        min_by(col("v"), col("id")).as("v_first"),
        max_by(col("v"), col("id")).as("v_last"),
        min("v").as("v_min"), max("v").as("v_max")),
      """SELECT k, arg_min(v, id) AS v_first, arg_max(v, id) AS v_last,
        |       MIN(v) AS v_min, MAX(v) AS v_max FROM t GROUP BY k""".stripMargin)
  })

  /** count(distinct) over a dup-heavy domain with nulls. */
  private val aggDistinct = Family("agg_distinct", (spark, rng) => {
    val rows = (0 until nRows(rng)).map { _ =>
      val v: java.lang.Long =
        if (rng.nextInt(8) == 0) null else Long.box(rng.nextInt(6).toLong - 2)
      Row(advKey(rng), v)
    }
    Built(
      Map("t" -> mkDf(spark, StructType(Seq(sStr("k"), sLong("v"))), rows)),
      m => m("t").groupBy("k").agg(
        countDistinct(col("v")).as("nd"), count("v").as("nv"),
        count(lit(1)).as("n")),
      "SELECT k, COUNT(DISTINCT v) AS nd, COUNT(v) AS nv, COUNT(*) AS n " +
        "FROM t GROUP BY k")
  })

  /** Inner join with duplicate and null keys; |a|,|b|<=2^15 keeps the
    * grouped sum of products exact in BIGINT. */
  private val joinInnerDup = Family("join_inner_dup", (spark, rng) => {
    def side() = (0 until nRows(rng)).map { _ =>
      val k: java.lang.Long =
        if (rng.nextInt(10) == 0) null else Long.box(rng.nextInt(6).toLong)
      Row(k, Long.box(advLong(rng, 1L << 15)))
    }
    val st = StructType(Seq(sLong("k"), sLong("a")))
    val su = StructType(Seq(sLong("k"), sLong("b")))
    // `side` is a def: t and u are two independent draws, not mirrors
    // of each other; the hot 6-key domain still gives dense duplicate
    // matches
    Built(
      Map("t" -> mkDf(spark, st, side()),
        "u" -> mkDf(spark, su, side())),
      m => m("t").join(m("u"), Seq("k"))
        .groupBy("k")
        .agg(sum(col("a") * col("b")).cast("long").as("s"),
          count(lit(1)).as("n")),
      """SELECT t.k, CAST(SUM(a*b) AS BIGINT) AS s, COUNT(*) AS n
        |FROM t JOIN u USING (k) GROUP BY t.k""".stripMargin)
  })

  /** Left join against a grouped right side, null-key left rows kept. */
  private val joinLeft = Family("join_left_coalesce", (spark, rng) => {
    def keyOf(r: Random): java.lang.Long =
      if (r.nextInt(10) == 0) null else Long.box(r.nextInt(8).toLong)
    val t = (0 until nRows(rng)).zipWithIndex.map { case (_, i) =>
      Row(Long.box(i.toLong), keyOf(rng)) }
    val u = (0 until nRows(rng)).map(_ =>
      Row(keyOf(rng), Long.box(advLong(rng, 1L << 20))))
    Built(
      Map("t" -> mkDf(spark, StructType(Seq(sLong("id"), sLong("k"))), t),
        "u" -> mkDf(spark, StructType(Seq(sLong("k"), sLong("b"))), u)),
      m => {
        val agg = m("u").groupBy("k").agg(sum("b").cast("long").as("sb"))
        m("t").join(agg, Seq("k"), "left")
          .select(col("id"), col("k"), coalesce(col("sb"), lit(-1L)).as("sb"))
      },
      """SELECT id, t.k, COALESCE(sb, -1) AS sb
        |FROM t LEFT JOIN (SELECT k, CAST(SUM(b) AS BIGINT) AS sb
        |                  FROM u GROUP BY k) g ON t.k = g.k""".stripMargin)
  })

  /** Semi + anti in one result (tagged union); null keys land in anti
    * on both engines (null-unsafe equality == NOT EXISTS). */
  private val joinAntiSemi = Family("join_anti_semi", (spark, rng) => {
    def keyOf(): java.lang.Long =
      if (rng.nextInt(10) == 0) null else Long.box(rng.nextInt(8).toLong)
    val t = (0 until nRows(rng)).zipWithIndex.map { case (_, i) =>
      Row(Long.box(i.toLong), keyOf()) }
    val u = (0 until nRows(rng)).map(_ => Row(keyOf()))
    Built(
      Map("t" -> mkDf(spark, StructType(Seq(sLong("id"), sLong("k"))), t),
        "u" -> mkDf(spark, StructType(Seq(sLong("k"))), u)),
      m => m("t").join(m("u"), Seq("k"), "left_semi")
        .withColumn("tag", lit("semi"))
        .unionByName(m("t").join(m("u"), Seq("k"), "left_anti")
          .withColumn("tag", lit("anti"))),
      """SELECT t.k, id, 'semi' AS tag FROM t
        |WHERE EXISTS (SELECT 1 FROM u WHERE u.k = t.k)
        |UNION ALL
        |SELECT t.k, id, 'anti' AS tag FROM t
        |WHERE NOT EXISTS (SELECT 1 FROM u WHERE u.k = t.k)""".stripMargin)
  })

  /** union + distinct with null rows (set semantics: null == null). */
  private val unionDistinct = Family("union_distinct", (spark, rng) => {
    def side = (0 until nRows(rng)).map(_ =>
      Row(advKey(rng), Long.box(rng.nextInt(5).toLong - 2)))
    val sch = StructType(Seq(sStr("k"), sLong("v")))
    Built(
      Map("t" -> mkDf(spark, sch, side), "u" -> mkDf(spark, sch, side)),
      m => m("t").union(m("u")).distinct(),
      "SELECT k, v FROM t UNION SELECT k, v FROM u")
  })

  /** TopK.perGroup — the custom SparkStrategy operator — against the
    * row_number rendering, total order (v DESC, id). */
  private val topkPerGroup = Family("topk_pergroup", (spark, rng) => {
    val k = 1 + rng.nextInt(5)
    val rows = (0 until nRows(rng)).zipWithIndex.map { case (_, i) =>
      Row(advKey(rng), Long.box(i.toLong), Long.box(advLong(rng, 1000)))
    }
    Built(
      Map("t" -> mkDf(spark,
        StructType(Seq(sStr("k"), sLong("id"), sLong("v"))), rows)),
      m => TopK.perGroup(m("t"), Seq("k"),
        Seq(col("v").desc, col("id").asc), k)
        .select("k", "id", "v", "rn"),
      s"""SELECT k, id, v, rn FROM (
         |  SELECT k, id, v,
         |         ROW_NUMBER() OVER (PARTITION BY k ORDER BY v DESC, id) AS rn
         |  FROM t) WHERE rn <= $k""".stripMargin)
  })

  /** lag delta per key over a unique ts. */
  private val windowLag = Family("window_lag_delta", (spark, rng) => {
    val rows = (0 until nRows(rng)).zipWithIndex.map { case (_, i) =>
      Row(advKey(rng), Long.box(i.toLong), Long.box(advLong(rng, 1L << 30)))
    }
    Built(
      Map("t" -> mkDf(spark,
        StructType(Seq(sStr("k"), sLong("ts"), sLong("v"))), rows)),
      m => m("t").select(col("k"), col("ts"),
        (col("v") - lag("v", 1).over(
          Window.partitionBy("k").orderBy("ts"))).as("dv")),
      """SELECT k, ts, v - LAG(v) OVER (PARTITION BY k ORDER BY ts) AS dv
        |FROM t""".stripMargin)
  })

  /** rolling 4-row sum per key. */
  private val windowRolling = Family("window_rolling_sum", (spark, rng) => {
    val rows = (0 until nRows(rng)).zipWithIndex.map { case (_, i) =>
      Row(advKey(rng), Long.box(i.toLong), Long.box(advLong(rng, 1L << 30)))
    }
    Built(
      Map("t" -> mkDf(spark,
        StructType(Seq(sStr("k"), sLong("ts"), sLong("v"))), rows)),
      m => m("t").select(col("k"), col("ts"),
        sum("v").over(Window.partitionBy("k").orderBy("ts")
          .rowsBetween(-3, 0)).cast("long").as("rs")),
      """SELECT k, ts, CAST(SUM(v) OVER (PARTITION BY k ORDER BY ts
        |  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS BIGINT) AS rs
        |FROM t""".stripMargin)
  })

  /** gap sessionization (lag + running sum of session starts). */
  private val windowSession = Family("window_session", (spark, rng) => {
    val gap = Seq(10L, 100L, 1000L)(rng.nextInt(3))
    val rows = (0 until nRows(rng)).map(_ =>
      Row("u" + rng.nextInt(4), Long.box(advLong(rng, 100000L))))
      .distinct // unique (uid, ts): ties would make LAG nondeterministic
    Built(
      Map("t" -> mkDf(spark, StructType(Seq(sStr("uid"), sLong("ts"))), rows)),
      m => {
        val w = Window.partitionBy("uid").orderBy("ts")
        m("t")
          .withColumn("prev", lag("ts", 1).over(w))
          .withColumn("isNew",
            when(col("prev").isNull || col("ts") - col("prev") > gap, 1L)
              .otherwise(0L))
          .withColumn("sess", sum("isNew").over(w))
          .groupBy("uid", "sess")
          .agg(count(lit(1)).as("n"), min("ts").as("s"), max("ts").as("e"))
      },
      s"""SELECT uid, sess, COUNT(*) AS n, MIN(ts) AS s, MAX(ts) AS e
         |FROM (
         |  SELECT uid, ts,
         |         CAST(SUM(CASE WHEN prev IS NULL OR ts - prev > $gap
         |                       THEN 1 ELSE 0 END)
         |              OVER (PARTITION BY uid ORDER BY ts) AS BIGINT) AS sess
         |  FROM (SELECT uid, ts,
         |               LAG(ts) OVER (PARTITION BY uid ORDER BY ts) AS prev
         |        FROM t))
         |GROUP BY uid, sess""".stripMargin)
  })

  /** F1/F4/F5/F6/F11/F13 batch parity on adversarial domains: valid
    * 8-digit dates (including nonsense months/days — the op is string
    * slicing), signed locale decimals, negative quarter-valued temps
    * (trunc-toward-zero on both engines), signed booleans. */
  private val scalarParity = Family("scalar_parity", (spark, rng) => {
    val rows = (0 until nRows(rng)).zipWithIndex.map { case (_, i) =>
      val intDate = 10000101 + rng.nextInt(89999999) // any 8-digit int
      val cents = advLong(rng, 9999999L)
      val whole = cents / 100; val frac = math.abs(cents % 100)
      val locale = (if (cents < 0 && whole == 0) "-0" else whole.toString) +
        "," + f"$frac%02d"
      Row(Long.box(i.toLong), Int.box(intDate), locale,
        Double.box(advQuarter(rng, 300)),
        if (rng.nextBoolean()) "F" else "C",
        Long.box(advLong(rng, 3)),
        Double.box(advQuarter(rng, 1000000)))
    }
    Built(
      Map("t" -> mkDf(spark, StructType(Seq(sLong("id"), sInt("int_date"),
        sStr("locale_str"), sDbl("tval"), sStr("unit"), sLong("flg"),
        sDbl("pred"))), rows)),
      m => m("t").select(
        col("id"),
        ScalarOps.yyyymmddToIsoString(col("int_date")).as("iso_date"),
        ScalarOps.localeDouble(col("locale_str")).as("parsed_val"),
        ScalarOps.normalizeTemp(col("tval"), col("unit")).as("norm_temp"),
        ScalarOps.toBool(col("flg")).as("flag"),
        ScalarOps.rescalePrediction(col("pred")).as("intensity")),
      """SELECT id,
        |  substr(CAST(int_date AS VARCHAR), 1, 4) || '-' ||
        |  substr(CAST(int_date AS VARCHAR), 5, 2) || '-' ||
        |  substr(CAST(int_date AS VARCHAR), 7, 2) AS iso_date,
        |  CAST(replace(locale_str, ',', '.') AS DOUBLE) AS parsed_val,
        |  CASE WHEN unit = 'F' THEN CAST(TRUNC((tval - 32) * 5 / 9) AS INT)
        |       ELSE CAST(TRUNC(tval) AS INT) END AS norm_temp,
        |  CAST(flg AS BOOLEAN) AS flag,
        |  CAST(TRUNC(pred * 10) AS INT) AS intensity
        |FROM t""".stripMargin)
  })

  /** F3 ×0.1 truncating cast on signed longs (result bounded to INT). */
  private val scalarTrunc = Family("scalar_trunc_tenths", (spark, rng) => {
    val rows = (0 until nRows(rng)).zipWithIndex.map { case (_, i) =>
      Row(Long.box(i.toLong), Long.box(advLong(rng, 1000000000L)))
    }
    Built(
      Map("t" -> mkDf(spark, StructType(Seq(sLong("id"), sLong("v"))), rows)),
      m => m("t").select(col("id"),
        ScalarOps.tenthsToUnit(col("v")).as("u")),
      "SELECT id, CAST(TRUNC(v * 0.1) AS INT) AS u FROM t")
  })

  /** F7 multi-format date parse incl. garbage, invalid leap days,
    * ambiguous rows where both formats could fire. */
  private val scalarMultiDate = Family("scalar_multidate", (spark, rng) => {
    def randDate(): java.time.LocalDate =
      java.time.LocalDate.ofEpochDay(rng.nextInt(200000).toLong - 25000)
    val garbage = Seq("", "foo", "2020-13-45", "99-99-9999", "29-02-2021",
      "1-1-1", "0-0-0000", "31-04-2021", null)
    val rows = (0 until nRows(rng)).zipWithIndex.map { case (_, i) =>
      val d = randDate()
      val s = rng.nextInt(5) match {
        case 0 => garbage(rng.nextInt(garbage.size))
        case 1 => f"${d.getDayOfMonth}-${d.getMonthValue}-${d.getYear}%04d"
        case 2 => f"${d.getDayOfMonth}%02d-${d.getMonthValue}%02d-${d.getYear}%04d"
        case 3 => f"${d.getYear}%04d-${d.getMonthValue}-${d.getDayOfMonth}"
        case _ => f"${d.getYear}%04d-${d.getMonthValue}%02d-${d.getDayOfMonth}%02d"
      }
      Row(Long.box(i.toLong), s)
    }
    Built(
      Map("t" -> mkDf(spark, StructType(Seq(sLong("id"), sStr("dstr"))), rows)),
      m => m("t").select(col("id"),
        date_format(ScalarOps.parseDateMulti(col("dstr")), "yyyy-MM-dd")
          .as("parsed")),
      // 4-digit-year dispatch (fuzz r13 finding): strptime's %Y
      // happily parses 1-3-digit years ('1-1-1' -> 0001-01-01) that
      // Spark's strict yyyy field rejects — the operator's domain is
      // 4-digit years, so the mirror must gate on it explicitly.
      """SELECT id,
        |  CASE
        |    WHEN regexp_matches(dstr, '^\d{1,2}-\d{1,2}-\d{4}$')
        |      THEN strftime(try_strptime(dstr, '%d-%m-%Y'), '%Y-%m-%d')
        |    WHEN regexp_matches(dstr, '^\d{4}-\d{1,2}-\d{1,2}$')
        |      THEN strftime(try_strptime(dstr, '%Y-%m-%d'), '%Y-%m-%d')
        |  END AS parsed
        |FROM t""".stripMargin)
  })

  /** F9/F10 calendar extraction across years 1..9999 (proleptic
    * Gregorian on both engines) with a fuzzed holiday list. */
  private val scalarCalendar = Family("scalar_calendar", (spark, rng) => {
    def randDay(): Long = rng.nextInt(8) match {
      case 0 => -719100L + rng.nextInt(400)  // near year 1
      case 1 => 2932000L - rng.nextInt(400)  // near year 9999
      case _ => rng.nextInt(60000).toLong - 10000
    }
    val days = (0 until nRows(rng, allowEmpty = false)).map(_ => randDay())
    val holidays = rng.shuffle(days).take(1 + rng.nextInt(4))
      .map(d => java.time.LocalDate.ofEpochDay(d).toString)
    val rows = days.zipWithIndex.map { case (d, i) =>
      Row(Long.box(i.toLong), java.sql.Date.valueOf(
        java.time.LocalDate.ofEpochDay(d))) }
    Built(
      Map("t" -> mkDf(spark, StructType(Seq(sLong("id"), sDate("d"))), rows)),
      m => m("t").select(col("id"),
        month(col("d")).as("m"), dayofmonth(col("d")).as("dom"),
        ScalarOps.weekdayMon0(col("d")).cast("int").as("dow_mon0"),
        ScalarOps.inDateList(col("d"), holidays).as("hol")),
      s"""SELECT id, CAST(month(d) AS INT) AS m, CAST(day(d) AS INT) AS dom,
         |       CAST(isodow(d) - 1 AS INT) AS dow_mon0,
         |       d IN (${holidays.map(h => s"DATE '$h'").mkString(", ")}) AS hol
         |FROM t""".stripMargin)
  })

  /** Exact floor division + positive-mod on signed numerators — the
    * Conformal r11/r13 bug class. den > 0 per the fdivExact contract;
    * the first smoke run of this very family established that DuckDB's
    * bare `//` TRUNCATES (the r11 note said it floors), so the mirror
    * must pre-adjust the numerator exactly like the Spark side. A
    * truncating twin (`div` vs bare `//`) rides along. */
  private val statsFdiv = Family("stats_fdiv", (spark, rng) => {
    val rows = (0 until nRows(rng)).zipWithIndex.map { case (_, i) =>
      Row(Long.box(i.toLong), Long.box(advLong(rng, 1L << 45)),
        Long.box(1L + rng.nextInt(1000)))
    }
    Built(
      Map("t" -> mkDf(spark,
        StructType(Seq(sLong("id"), sLong("a"), sLong("b"))), rows)),
      m => m("t").select(col("id"),
        Stats.fdivExact(col("a"), col("b")).as("fd"),
        expr("a div b").as("td"),
        pmod(col("a"), col("b")).as("pm")),
      """SELECT id, (a - (((a % b) + b) % b)) // b AS fd,
        |       a // b AS td, ((a % b) + b) % b AS pm FROM t""".stripMargin)
  })

  private val QuantPs = Seq(0.25, 0.5, 0.9, 0.99)

  /** Exact grouped discrete quantiles: singleton groups, all-equal
    * groups, signed extremes. */
  private val statsQuantiles = Family("stats_quantiles", (spark, rng) => {
    val rows = (0 until nRows(rng)).map { _ =>
      val g = "g" + rng.nextInt(5)
      val v = if (rng.nextInt(4) == 0) 42L else advLong(rng, 1L << 40)
      Row(g, Long.box(v))
    }
    Built(
      Map("t" -> mkDf(spark, StructType(Seq(sStr("g"), sLong("v"))), rows)),
      m => Stats.groupedQuantilesDisc(m("t"), "g", "v", QuantPs),
      Stats.quantilesOracleSql("t", "g", "v", QuantPs))
  })

  /** winsorize clamp on the same order statistics. */
  private val statsWinsorize = Family("stats_winsorize", (spark, rng) => {
    val rows = (0 until nRows(rng)).zipWithIndex.map { case (_, i) =>
      Row("g" + rng.nextInt(4), Long.box(i.toLong),
        Long.box(advLong(rng, 1L << 40)))
    }
    Built(
      Map("t" -> mkDf(spark,
        StructType(Seq(sStr("g"), sLong("id"), sLong("v"))), rows)),
      m => Stats.winsorize(m("t"), "g", col("v"), 0.05, 0.95, Seq("g", "id")),
      Stats.winsorizeOracleSql("t", "g", "v", 0.05, 0.95, Seq("g", "id")))
  })

  /** equi-depth bin assignment, fuzzed bin count. */
  private val statsEquiDepth = Family("stats_equidepth", (spark, rng) => {
    val bins = Seq(2, 3, 4, 8)(rng.nextInt(4))
    val rows = (0 until nRows(rng)).zipWithIndex.map { case (_, i) =>
      Row("g" + rng.nextInt(3), Long.box(i.toLong),
        Long.box(advLong(rng, 1L << 30)))
    }
    Built(
      Map("t" -> mkDf(spark,
        StructType(Seq(sStr("g"), sLong("id"), sLong("v"))), rows)),
      m => Stats.equiDepthBins(m("t"), "g", col("v"), bins, Seq("g", "id")),
      Stats.equiDepthOracleSql("t", "g", "v", bins, Seq("g", "id")))
  })

  /** z-score outliers including all-equal (sd=0) and singleton (n=1)
    * groups — the zero-variance regime no fixture exercises. */
  private val statsZscore = Family("stats_zscore", (spark, rng) => {
    val zMax = Seq(0.5, 1.0, 2.0)(rng.nextInt(3))
    val rows = (0 until nRows(rng)).zipWithIndex.map { case (_, i) =>
      val g = "g" + rng.nextInt(5)
      val v = if (g == "g0") 7L else advLong(rng, 1L << 30)
      Row(g, Long.box(i.toLong), Long.box(v))
    }
    Built(
      Map("t" -> mkDf(spark,
        StructType(Seq(sStr("g"), sLong("id"), sLong("v"))), rows)),
      m => Stats.zscoreOutliers(m("t"), "g", col("v"), zMax, Seq("g", "id")),
      Stats.zscoreOracleSql("t", "g", "v", zMax, Seq("g", "id")))
  })

  /** MAD outliers, same regimes (mad=0 guard already in contract). */
  private val statsMad = Family("stats_mad", (spark, rng) => {
    val zMax = Seq(0.5, 1.0, 2.0)(rng.nextInt(3))
    val rows = (0 until nRows(rng)).zipWithIndex.map { case (_, i) =>
      val g = "g" + rng.nextInt(5)
      val v = if (g == "g0") -3L else advLong(rng, 1L << 30)
      Row(g, Long.box(i.toLong), Long.box(v))
    }
    Built(
      Map("t" -> mkDf(spark,
        StructType(Seq(sStr("g"), sLong("id"), sLong("v"))), rows)),
      m => Stats.madOutliers(m("t"), "g", col("v"), zMax, Seq("g", "id")),
      Stats.madOracleSql("t", "g", "v", zMax, Seq("g", "id")))
  })

  /** Pearson on 2-decimal doubles incl. constant-x and constant-y
    * groups (zero-denominator regime). */
  private val statsPearson = Family("stats_pearson", (spark, rng) => {
    val rows = (0 until nRows(rng)).map { _ =>
      val g = "g" + rng.nextInt(4)
      val x = if (g == "g0") 5.25 else advLong(rng, 100000L) / 100.0
      val y = if (g == "g1") -2.5 else advLong(rng, 100000L) / 100.0
      Row(g, Double.box(x), Double.box(y))
    }
    Built(
      Map("t" -> mkDf(spark,
        StructType(Seq(sStr("g"), sDbl("x"), sDbl("y"))), rows)),
      m => Stats.pearsonExact(m("t"), "g", "x", "y"),
      Stats.pearsonOracleSql("t", "g", "x", "y"))
  })

  /** approximate percentile rank (histogram path), fuzzed buckets. */
  private val statsPctRank = Family("stats_pctrank", (spark, rng) => {
    val buckets = Seq(16, 64, 256)(rng.nextInt(3))
    val rows = (0 until nRows(rng)).zipWithIndex.map { case (_, i) =>
      val g = "g" + rng.nextInt(3)
      val v = if (g == "g0") 11L else advLong(rng, 1L << 40)
      Row(g, Long.box(i.toLong), Long.box(v))
    }
    Built(
      Map("t" -> mkDf(spark,
        StructType(Seq(sStr("g"), sLong("id"), sLong("v"))), rows)),
      m => Stats.approxPercentileRankMilli(m("t"), "g", col("v"),
        Seq("g", "id"), buckets),
      Stats.approxPctRankOracleSql("t", "g", "v", Seq("g", "id"), buckets))
  })

  /** split-conformal on signed integer values, fuzzed alpha — the
    * r11 signed floor-div bug's home turf. */
  private val conformal = Family("conformal", (spark, rng) => {
    val alpha = Seq(50000L, 100000L, 250000L)(rng.nextInt(3))
    val rows = (0 until nRows(rng)).zipWithIndex.map { case (_, i) =>
      Row(Long.box(i.toLong), "g" + rng.nextInt(3),
        Long.box(rng.nextInt(4).toLong), // small hour domain -> fits fill
        Long.box(advLong(rng, 10000000L)))
    }
    Built(
      Map("t" -> mkDf(spark, StructType(Seq(sLong("id"), sStr("grp"),
        sLong("hr"), sLong("v"))), rows)),
      m => Conformal.splitConformal(m("t"), "id", "grp", "hr", "v", alpha),
      s"""WITH e AS (SELECT id, grp, hr, CAST(v AS BIGINT) AS cents,
         |                  id % 3 AS split FROM t),
         |fit AS (SELECT grp, hr,
         |          CAST((CAST(SUM(cents) AS HUGEINT)
         |                - ((CAST(SUM(cents) AS HUGEINT) % COUNT(*))
         |                   + COUNT(*)) % COUNT(*)) // COUNT(*) AS BIGINT)
         |            AS yhat
         |        FROM e WHERE split = 0 GROUP BY 1, 2),
         |cal AS (SELECT e.grp AS g, ABS(cents - yhat) AS r, e.id
         |        FROM e JOIN fit ON e.grp = fit.grp AND e.hr = fit.hr
         |        WHERE split = 1),
         |kn AS (SELECT g, COUNT(*) AS n_cal,
         |         ((COUNT(*) + 1) * ${1000000L - alpha} + 999999) // 1000000
         |           AS k
         |       FROM cal GROUP BY 1),
         |qh AS (SELECT c.g, r AS qhat FROM (
         |         SELECT g, r, ROW_NUMBER() OVER (PARTITION BY g
         |                                         ORDER BY r, id) AS rn
         |         FROM cal) c JOIN kn ON c.g = kn.g AND c.rn = kn.k),
         |ev AS (SELECT e.grp AS g, COUNT(*) AS n_eval,
         |         CAST(SUM(CASE WHEN ABS(cents - yhat) <= qhat
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
         |       FROM e JOIN fit ON e.grp = fit.grp AND e.hr = fit.hr
         |              JOIN qh ON e.grp = qh.g
         |       WHERE split = 2 GROUP BY 1)
         |SELECT kn.g AS grp, n_cal, qhat, n_eval, n_covered,
         |       n_covered * 1000000 // n_eval AS coverage_ppm
         |FROM kn JOIN qh ON kn.g = qh.g JOIN ev ON kn.g = ev.g""".stripMargin)
  })

  /** Geo radius join with coordinates AT the enforced ±(2^30−1) bound
    * (max-diff squares probe the exact-Long overflow contract) and
    * radius up to MaxRadius. */
  private val geoRadius = Family("geo_radius", (spark, rng) => {
    val radius = Seq(1L, 1000L, 1000000L, Geo.MaxRadius)(rng.nextInt(4))
    val b = Geo.MaxCoord
    def coord(): Long = rng.nextInt(6) match {
      case 0 => b - rng.nextInt(3)
      case 1 => -b + rng.nextInt(3)
      case 2 => advLong(rng, 1000L)
      case _ => advLong(rng, b)
    }
    val n = math.min(nRows(rng), 80)
    val rows = (0 until n).zipWithIndex.map { case (_, i) =>
      Row(Long.box(i.toLong), Long.box(coord()), Long.box(coord()))
    }
    Built(
      Map("t" -> mkDf(spark,
        StructType(Seq(sLong("id"), sLong("lat"), sLong("lon"))), rows)),
      m => Geo.radiusJoin(m("t"), "id", "lat", "lon", radius),
      s"""SELECT a.id AS id_a, b.id AS id_b,
         |  CAST(CAST(a.lat - b.lat AS HUGEINT) * (a.lat - b.lat)
         |     + CAST(a.lon - b.lon AS HUGEINT) * (a.lon - b.lon) AS BIGINT)
         |    AS dist2
         |FROM t a JOIN t b ON a.id < b.id
         |WHERE CAST(a.lat - b.lat AS HUGEINT) * (a.lat - b.lat)
         |    + CAST(a.lon - b.lon AS HUGEINT) * (a.lon - b.lon)
         |    <= CAST($radius AS HUGEINT) * $radius""".stripMargin)
  })

  /** CIDR longest-prefix lookup with fuzzed rule sets (lens 4..32,
    * masked bases, near-prefix ips) — the r11 mask-aliasing class. */
  private val cidrLookup = Family("cidr_lookup", (spark, rng) => {
    val raw = (0 until 3 + rng.nextInt(6)).map { i =>
      val len = 4 + rng.nextInt(29) // 4..32
      val base0 = (rng.nextLong() & 0xFFFFFFFFL)
      val hostBits = 32 - len
      val base = (base0 >> hostBits) << hostBits
      IpOps.CidrRule(base, len, "v" + i)
    }
    val rules = raw.groupBy(r => (r.len, r.base >> (32 - r.len)))
      .map(_._2.head).toSeq.sortBy(r => (r.len, r.base))
    val ips = (0 until nRows(rng)).zipWithIndex.map { case (_, i) =>
      val ip = rng.nextInt(4) match {
        case 0 => // inside a random rule's range
          val r = rules(rng.nextInt(rules.size))
          r.base + (rng.nextLong() & ((1L << (32 - r.len)) - 1))
        case 1 => // just past a random rule's range
          val r = rules(rng.nextInt(rules.size))
          (r.base + (1L << (32 - r.len))) & 0xFFFFFFFFL
        case _ => rng.nextLong() & 0xFFFFFFFFL
      }
      Row(Long.box(i.toLong), Long.box(ip))
    }
    val valuesSql = rules.map(r =>
      s"(${r.base}, ${r.len}, ${lit4sql(r.verdict)})").mkString(", ")
    Built(
      Map("t" -> mkDf(spark,
        StructType(Seq(sLong("id"), sLong("ip"))), ips)),
      m => IpOps.cidrLookupJoin(m("t"), "ip", rules)
        .select("id", "ip", "cidr_verdict", "cidr_prefix_len"),
      s"""WITH rules(base, len, verdict) AS (VALUES $valuesSql),
         |cand AS (
         |  SELECT t.id, r.len, r.verdict,
         |         ROW_NUMBER() OVER (PARTITION BY t.id
         |                            ORDER BY r.len DESC) AS rn
         |  FROM t JOIN rules r
         |    ON t.ip // (1::BIGINT << (32 - r.len))
         |       = r.base // (1::BIGINT << (32 - r.len)))
         |SELECT t.id, t.ip, c.verdict AS cidr_verdict,
         |       c.len AS cidr_prefix_len
         |FROM t LEFT JOIN (SELECT id, verdict, len FROM cand WHERE rn = 1) c
         |       ON t.id = c.id""".stripMargin)
  })

  /** exact dedup: survivor = min id per content group; empty-string
    * vs null distinct; heavy planted duplicates. */
  private val dedupExact = Family("dedup_exact", (spark, rng) => {
    val texts = Seq("", " ", "a", "A", "dup dup", "κ", null, "x\ny", "0")
    val rows = (0 until nRows(rng)).zipWithIndex.map { case (_, i) =>
      val t = if (rng.nextInt(3) == 0)
        "u" + rng.nextInt(1000000) else texts(rng.nextInt(texts.size))
      Row(Long.box(i.toLong), t)
    }
    Built(
      Map("t" -> mkDf(spark, StructType(Seq(sLong("id"), sStr("text"))), rows)),
      m => Dedup.exactDedup(m("t"), "id", "text").select("id", "text"),
      """SELECT id, text FROM t
        |WHERE id IN (SELECT MIN(id) FROM t GROUP BY text)""".stripMargin)
  })

  /** interval×interval overlap join, half-open [s,e), touching ends
    * must NOT match; fuzzed bucket width vs interval lengths. */
  private val intervalOverlap = Family("interval_overlap", (spark, rng) => {
    val bucket = Seq(1L, 7L, 100L)(rng.nextInt(3))
    def intervals(idName: String, sN: String, eN: String) = {
      val rows = (0 until math.min(nRows(rng), 60)).zipWithIndex.map {
        case (_, i) =>
          val s = advLong(rng, 100000L)
          val len = 1L + rng.nextInt(200)
          Row(Long.box(i.toLong), Long.box(s), Long.box(s + len))
      }
      mkDf(spark, StructType(Seq(sLong(idName), sLong(sN), sLong(eN))), rows)
    }
    Built(
      Map("l" -> intervals("lid", "s1", "e1"),
        "r" -> intervals("rid", "s2", "e2")),
      m => RangeJoin.intervalOverlap(m("l"), m("r"),
        "s1", "e1", "s2", "e2", bucket)
        .select(col("lid"), col("rid"),
          (least(col("e1"), col("e2")) -
            greatest(col("s1"), col("s2"))).as("ov")),
      """SELECT lid, rid, least(e1, e2) - greatest(s1, s2) AS ov
        |FROM l JOIN r ON s1 < e2 AND s2 < e1""".stripMargin)
  })

  /** point-in-interval containment (end exclusive). */
  private val pointInInterval = Family("point_in_interval", (spark, rng) => {
    val bucket = Seq(1L, 10L, 1000L)(rng.nextInt(3))
    val pts = (0 until math.min(nRows(rng), 150)).zipWithIndex.map {
      case (_, i) => Row(Long.box(i.toLong), Long.box(advLong(rng, 50000L)))
    }
    val ivs = (0 until math.min(nRows(rng), 60)).zipWithIndex.map {
      case (_, i) =>
        val s = advLong(rng, 50000L)
        Row(Long.box(i.toLong), Long.box(s), Long.box(s + 1 + rng.nextInt(500)))
    }
    Built(
      Map("p" -> mkDf(spark,
        StructType(Seq(sLong("pid"), sLong("pt"))), pts),
        "i" -> mkDf(spark,
          StructType(Seq(sLong("iid"), sLong("s"), sLong("e"))), ivs)),
      m => RangeJoin.pointInInterval(m("p"), m("i"), "pt", "s", "e", bucket)
        .select("iid", "pid", "pt"),
      "SELECT iid, pid, pt FROM i JOIN p ON pt >= s AND pt < e")
  })

  /** as-of left join vs DuckDB ASOF (right (k,ts) unique by
    * construction; equal timestamps DO match — both engines <=). */
  private val asofJoin = Family("asof_join", (spark, rng) => {
    val l = (0 until nRows(rng)).zipWithIndex.map { case (_, i) =>
      Row(Long.box(i.toLong), "k" + rng.nextInt(4),
        Long.box(advLong(rng, 100000L)))
    }
    val seen = scala.collection.mutable.Set[(String, Long)]()
    val r = (0 until nRows(rng)).flatMap { _ =>
      val k = "k" + rng.nextInt(4); val ts = advLong(rng, 100000L)
      if (seen.add((k, ts)))
        Some(Row(k, Long.box(ts), Long.box(advLong(rng, 1000L))))
      else None
    }
    Built(
      Map("l" -> mkDf(spark,
        StructType(Seq(sLong("id"), sStr("k"), sLong("ts"))), l),
        "r" -> mkDf(spark,
          StructType(Seq(sStr("k"), sLong("ts"), sLong("v"))), r)),
      m => AsOfJoin.asOf(m("l"), m("r"), Seq("k"), "ts", "ts", Seq("v"))
        .select(col("id"), col("k"), col("ts"),
          col("matched_ts"), col("matched_v")),
      """SELECT l.id, l.k, l.ts, r.ts AS matched_ts, r.v AS matched_v
        |FROM l ASOF LEFT JOIN r ON l.k = r.k AND l.ts >= r.ts""".stripMargin)
  })

  /** positional split at a fuzzed boundary (including 0 and past-end). */
  private val positionalSplit = Family("positional_split", (spark, rng) => {
    val rows = (0 until nRows(rng)).zipWithIndex.map { case (_, i) =>
      Row(Long.box(rng.nextInt(5).toLong), Long.box(i.toLong))
    }
    val n = rng.nextInt(rows.size + 5).toLong
    Built(
      Map("t" -> mkDf(spark,
        StructType(Seq(sLong("k1"), sLong("k2"))), rows)),
      m => {
        val (tr, te) = PositionalSplit.splitAt(m("t"), "k1", "k2", n)
        tr.select("k1", "k2").withColumn("part", lit("train"))
          .unionByName(te.select("k1", "k2").withColumn("part", lit("test")))
      },
      s"""SELECT k1, k2,
         |       CASE WHEN rn <= $n THEN 'train' ELSE 'test' END AS part
         |FROM (SELECT k1, k2,
         |             ROW_NUMBER() OVER (ORDER BY k1, k2) AS rn FROM t)""".stripMargin)
  })

  /** whitespace token count — Java \s vs RE2 \s agree on the ASCII
    * set used here (space, \t, \n, \f, \r); \x0B deliberately
    * excluded (the one char where the two regex dialects differ). */
  private val tokenCount = Family("token_count", (spark, rng) => {
    val seps = Seq(" ", "\t", "\n", "\f", "\r", "  ", " \t ", "\r\n")
    def word(): String =
      (0 until 1 + rng.nextInt(6)).map(_ =>
        "abcXYZ019κλ".charAt(rng.nextInt(11))).mkString
    val rows = (0 until nRows(rng)).zipWithIndex.map { case (_, i) =>
      val t = rng.nextInt(8) match {
        case 0 => ""
        case 1 => null
        case 2 => seps(rng.nextInt(seps.size)) // only whitespace
        case _ =>
          val body = (0 until rng.nextInt(12)).map(_ =>
            word() + seps(rng.nextInt(seps.size))).mkString
          (if (rng.nextBoolean()) " " else "") + body
      }
      Row(Long.box(i.toLong), t)
    }
    Built(
      Map("t" -> mkDf(spark, StructType(Seq(sLong("id"), sStr("text"))), rows)),
      // null-safe wrapper, same as the catalog's q_t_token_count
      // (fuzz r13: bare size() reads -1 on NULL input under legacy
      // sizeOfNull while the oracle's len() propagates NULL)
      m => m("t").select(col("id"),
        when(col("text").isNull, lit(null).cast("int"))
          .otherwise(size(filter(split(col("text"), "\\s+"),
            t => length(t) > 0)))
          .as("n_tokens")),
      """SELECT id, len(list_filter(regexp_split_to_array(text, '\s+'),
        |                           t -> len(t) > 0)) AS n_tokens
        |FROM t""".stripMargin)
  })

  /** ROLLUP multiset with real nulls in the grouping keys. Non-empty
    * input by contract: over an EMPTY relation SQL-standard ROLLUP
    * (DuckDB) still emits the grand-total grouping-set row
    * (NULL, NULL, NULL, 0) while Spark's rollup emits nothing —
    * fuzz r13 smoke finding, documented rather than papered over. */
  private val rollup = Family("rollup_sum", (spark, rng) => {
    val rows = (0 until nRows(rng, allowEmpty = false)).map(_ =>
      Row(advKey(rng), advKey(rng), Long.box(advLong(rng, 1L << 30))))
    Built(
      Map("t" -> mkDf(spark,
        StructType(Seq(sStr("a"), sStr("b"), sLong("v"))), rows)),
      m => m("t").rollup("a", "b")
        .agg(sum("v").cast("long").as("sv"), count(lit(1)).as("n")),
      """SELECT a, b, CAST(SUM(v) AS BIGINT) AS sv, COUNT(*) AS n
        |FROM t GROUP BY ROLLUP (a, b)""".stripMargin)
  })

  /** pivot to fixed value columns == conditional aggregation. */
  private val pivot = Family("pivot_sum", (spark, rng) => {
    val cats = Seq("x", "y", "z")
    val rows = (0 until nRows(rng)).map(_ =>
      Row("k" + rng.nextInt(4), cats(rng.nextInt(3)),
        Long.box(advLong(rng, 1L << 30))))
    Built(
      Map("t" -> mkDf(spark,
        StructType(Seq(sStr("k"), sStr("c"), sLong("v"))), rows)),
      m => m("t").groupBy("k").pivot("c", cats).agg(sum("v")),
      """SELECT k,
        |  CAST(SUM(CASE WHEN c = 'x' THEN v END) AS BIGINT) AS x,
        |  CAST(SUM(CASE WHEN c = 'y' THEN v END) AS BIGINT) AS y,
        |  CAST(SUM(CASE WHEN c = 'z' THEN v END) AS BIGINT) AS z
        |FROM t GROUP BY k""".stripMargin)
  })

  /** grouped OLS slope on signed integer (t, y) incl. constant-t
    * groups (zero denominator) and singletons. */
  private val statsOls = Family("stats_ols_slope", (spark, rng) => {
    val rows = (0 until nRows(rng)).map { _ =>
      val g = "g" + rng.nextInt(4)
      val t = if (g == "g0") 5L else advLong(rng, 100000L)
      Row(g, Long.box(t), Long.box(advLong(rng, 1000000L)))
    }
    Built(
      Map("tt" -> mkDf(spark,
        StructType(Seq(sStr("g"), sLong("t"), sLong("y"))), rows)),
      m => Stats.groupedOlsSlope(m("tt"), "g", col("t"), col("y"))
        .select(col("g"), col("n"), round(col("slope"), 6).as("slope")),
      Stats.olsSlopeOracleSql("SELECT g, t, y FROM tt"))
  })

  /** Theil–Sen slope (pairwise median) on small signed series. */
  private val statsTheilSen = Family("stats_theilsen", (spark, rng) => {
    val n = 2 + rng.nextInt(25)
    val ts = rng.shuffle((0 until 200).toList).take(n)
    val rows = ts.map(t =>
      Row(Long.box(t.toLong), Long.box(advLong(rng, 100000L))))
    Built(
      Map("tt" -> mkDf(spark,
        StructType(Seq(sLong("t"), sLong("y"))), rows)),
      m => Stats.theilSenSlope(m("tt"), col("t"), col("y")),
      Stats.theilSenOracleSql("SELECT t, y FROM tt"))
  })

  /** isotonic calibration (PAV) with adversarial monotonicity
    * violations and empty bins. */
  private val statsIsotonic = Family("stats_isotonic", (spark, rng) => {
    val nBins = Seq(5, 10, 25)(rng.nextInt(3))
    val rows = (0 until nRows(rng, allowEmpty = false)).map { _ =>
      Row(Double.box(advQuarter(rng, 499).max(0.0).min(999.0)),
        Int.box(rng.nextInt(2)))
    }
    Built(
      Map("t" -> mkDf(spark, StructType(Seq(sDbl("x"),
        StructField("y", IntegerType, nullable = true))), rows)),
      m => graft.operators.Stats.isotonicCalibrate(
        m("t"), col("x"), col("y"), lo = 0.0, hi = 1000.0, nBins = nBins),
      s"""WITH ${Stats.isotonicOracleSql(
        "SELECT x, y FROM t", 0.0, 1000.0, nBins)}
         |SELECT p.bin, p.n, p.sy, p.sy * 1000000 // p.n AS p_raw_micros,
         |       iso.p_cal_micros
         |FROM p JOIN iso ON p.bin = iso.ib""".stripMargin)
  })

  /** quantile normalization (histogram percentile path), fuzzed
    * buckets, all-equal groups. */
  private val statsQNorm = Family("stats_qnorm", (spark, rng) => {
    val buckets = Seq(16, 64)(rng.nextInt(2))
    val rows = (0 until nRows(rng)).zipWithIndex.map { case (_, i) =>
      val g = "g" + rng.nextInt(3)
      val v = if (g == "g0") -9L else advLong(rng, 1L << 40)
      Row(g, Long.box(i.toLong), Long.box(v))
    }
    Built(
      Map("t" -> mkDf(spark,
        StructType(Seq(sStr("g"), sLong("id"), sLong("v"))), rows)),
      m => Stats.quantileNormalize(m("t"), "g", col("v"),
        Seq("g", "id"), buckets),
      Stats.quantileNormalizeOracleSql("t", "g", "v",
        Seq("g", "id"), buckets))
  })

  /** Kaplan–Meier survival on fuzzed signed user extents, fuzzed
    * censor gap — incl. single-user and all-simultaneous regimes. */
  private val survivalKm = Family("survival_km", (spark, rng) => {
    val gap = Seq(1, 7, 30)(rng.nextInt(3))
    val rows = (0 until nRows(rng, allowEmpty = false)).map { _ =>
      Row("u" + rng.nextInt(6),
        Long.box(advLong(rng, 1000000000L).max(-1000000000L)))
    }
    Built(
      Map("t" -> mkDf(spark, StructType(Seq(sStr("u"), sLong("sec"))), rows)),
      m => graft.operators.Survival.kaplanMeier(
        m("t"), "u", col("sec"), gap),
      graft.operators.Survival.kaplanMeierOracleSql(
        "SELECT u, sec FROM t", gap))
  })

  val families: Seq[Family] = Seq(
    statsOls, statsTheilSen, statsIsotonic, statsQNorm, survivalKm,
    aggGroupSum, aggAvg, aggMinMaxBy, aggDistinct,
    joinInnerDup, joinLeft, joinAntiSemi, unionDistinct,
    topkPerGroup, windowLag, windowRolling, windowSession,
    scalarParity, scalarTrunc, scalarMultiDate, scalarCalendar,
    statsFdiv, statsQuantiles, statsWinsorize, statsEquiDepth,
    statsZscore, statsMad, statsPearson, statsPctRank,
    conformal, geoRadius, cidrLookup, dedupExact,
    intervalOverlap, pointInInterval, asofJoin, positionalSplit,
    tokenCount, rollup, pivot) ++ Fuzz2.families

  /** Stable per-cell seed (String.hashCode is spec-fixed). */
  def cellSeed(family: String, seed: Int): Long =
    family.hashCode.toLong * 1000003L + seed

  // ----------------------------------------------------------------
  // main
  // ----------------------------------------------------------------

  private def jq(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("target/fuzz")
    val nSeeds = if (args.length > 1) args(1).toInt else 20
    val famFilter = if (args.length > 2)
      Some(args(2).split(',').map(_.trim).toSet) else None
    // ANSI sweep (r14, VERDICT ask #2): SPARK_GRAFT_FUZZ_ANSI=true
    // runs the whole generation pass with spark.sql.ansi.enabled on —
    // the same values must come out (the catalog's AnsiProfileSpec
    // covers the catalog; this covers the fuzz cells). DuckDB replay
    // is unchanged: ANSI only turns silent wraps into errors.
    if (sys.env.get("SPARK_GRAFT_FUZZ_ANSI").contains("true"))
      sys.props(GraftSession.AnsiOverrideProp) = "true"
    val spark = GraftSession.local("graft-fuzz")
    val selected = families.filter(f => famFilter.forall(_.contains(f.name)))
    require(selected.nonEmpty, "no families selected")
    new java.io.File(outDir).mkdirs()

    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val cells = for (f <- selected; s <- 0 until nSeeds) yield (f, s)
    val t0 = System.nanoTime()
    val futures = cells.map { case (f, s) =>
      Future {
        val rng = new Random(cellSeed(f.name, s))
        val built = f.build(spark, rng)
        val dataDir = s"$outDir/data/${f.name}/s$s"
        val tablePaths = built.tables.map { case (tn, df) =>
          val p = s"$dataDir/$tn"
          df.coalesce(1).write.mode("overwrite").parquet(p)
          tn -> p
        }
        val reread = tablePaths.map { case (tn, p) =>
          tn -> spark.read.parquet(p) }
        val res = built.run(reread)
        res.coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/out/${f.name}_s$s")
        val tablesJson = tablePaths.toSeq.sortBy(_._1)
          .map { case (tn, p) => s"${jq(tn)}: ${jq(p)}" }
          .mkString("{", ",", "}")
        Right(s"""{"family": ${jq(f.name)}, "seed": $s, """ +
          s""""tables": $tablesJson, "sql": ${jq(built.sql)}}""")
      }.recover { case e: Throwable =>
        Left(s"${f.name}/s$s: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(300))
      }
    }
    val results = Await.result(Future.sequence(futures), Duration.Inf)
    pool.shutdown()
    val errors = results.collect { case Left(e) => e }
    val entries = results.collect { case Right(j) => j }
    Files.writeString(Paths.get(s"$outDir/manifest.json"),
      s"""{"n_families": ${selected.size}, "n_seeds": $nSeeds,
         |"gen_errors": ${errors.size},
         |"gen_error_detail": [${errors.map(jq).mkString(",")}],
         |"cells": [${entries.mkString(",\n")}]}""".stripMargin)
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"[fuzz] ${entries.size} cells generated, ${errors.size} " +
      f"generation errors in $secs%.1f s -> $outDir/manifest.json")
    errors.foreach(e => println(s"[fuzz] GEN-ERROR $e"))
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
