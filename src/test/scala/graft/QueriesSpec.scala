package graft

/** Cheap structural sanity for the registered catalog at sf0.001 —
  * the real value gate is the driver's DuckDB compare (mirrored by
  * tools/oracle_check.py at sf0.01).
  */
class QueriesSpec extends SparkSpec {

  test("every registered query runs and returns rows at sf0.001") {
    // the one entry that trains on the reference 2015 CSVs
    val refDataEntry = "q_pipe_serve_latency"
    val missing = missingRefCsvs
    val toRun = Queries.specs
      .filterNot(sp => sp.name == refDataEntry && missing.nonEmpty)
    val failures = toRun.flatMap { sp =>
      try {
        val n = sp.fn(spark, Sf0001).count()
        if (n > 0) None else Some(s"${sp.name}: 0 rows")
      } catch {
        case e: Throwable => Some(s"${sp.name}: ${e.getMessage}")
      }
    }
    assert(failures.isEmpty, failures.mkString("; "))
    if (missing.nonEmpty)
      cancel(s"$refDataEntry not run, reference data absent: " +
        missing.mkString(", "))
  }

  test("oracle map only references registered queries") {
    val names = Queries.specs.map(_.name).toSet
    assert(SparkEntry.oracleSql.keySet.subsetOf(names))
  }

  test("flagship entry returns rows with normalized revenue in [0,1]") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.entry(spark).cache()
    assert(df.count() > 0)
    val r = df.agg(min("norm_revenue"), max("norm_revenue")).first()
    assert(r.getDouble(0) >= 0.0 && r.getDouble(1) <= 1.0)
    df.unpersist()
    ()
  }

  test("raw-extract pipeline over synthetic dual-dialect fixtures") {
    val dir = tmpDir("rawflow")
    // dialect B: ';'-separated with comma-decimal coords
    val fileB = new java.io.PrintWriter(s"$dir/ind_b.csv")
    fileB.write(
      """Datum;Uur;Detector;Waarde;Long;Lat
        |25-01-2015;10;1.2;100.0;5,14429327107389;52,0955725429849
        |25-01-2015;10;1.2;200.0;5,14429327107389;52,0955725429849
        |25-01-2015;10;3.4;999.0;5,14429327107389;52,0955725429849
        |25-01-2015;11;1.2;50.0;5,14429327107389;52,0955725429849
        |""".stripMargin)
    fileB.close()
    val got = graft.pipelines.RawExtract.extract(spark, s"$dir/ind*")
      .collect()
    assert(got.length == 2)
    val r0 = got(0)
    assert(r0.getAs[String]("Date") == "2015-01-25")
    assert(r0.getAs[Int]("Hour") == 10)
    assert(r0.getAs[Double]("Count") == 150.0) // mean of 100,200; 999 filtered
    assert(math.abs(r0.getAs[Double]("longitude") - 5.14429327107389) < 1e-12)
  }
}
