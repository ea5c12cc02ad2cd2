package graft

/** Driver-contract smoke: entry() yields rows; every registered query runs at
  * sf0.001 and its oracle SQL (when present) is non-empty. Full value-level
  * verification is the driver's DuckDB gate (tools/check.py locally).
  */
class EntrySmokeSpec extends SparkSpec {

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query runs at sf0.001") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try { fn(spark, sf()).count(); None }
      catch { case e: Throwable => Some(s"$name: ${e.getMessage.take(120)}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("the staging queries read only roots this run created under java.io.tmpdir") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir")).getCanonicalPath
    Seq("q71_csv_roundtrip", "q77_json_roundtrip", "q78_orc_roundtrip").foreach { q =>
      val files = SparkEntry.queries(q)(spark, sf()).inputFiles
      assert(files.nonEmpty, q)
      files.foreach { f =>
        val p = new java.io.File(new java.net.URI(f)).getCanonicalPath
        assert(p.startsWith(tmp + "/"), s"$q reads $p")
      }
    }
  }

  test("oracle keys are a subset of query keys") {
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"oracle without query: $extra")
  }
}
