package graft.gates

import graft.{Scratch, SparkEntry, SparkTestBase, Verify}

/** The three forecast-fold oracles (`q_holt_forecast`, `q_hw_seasonal`,
  * `q_holt_gridsearch`) fold each series with one index-ordered
  * `list_reduce`, so they run in well under a second where a recursive
  * CTE pays one DuckDB iteration per bucket. Their rows must equal the
  * Spark gates' rows value for value, in one real DuckDB session.
  *
  * The DuckDB run shells out to the same python3+duckdb the driver's
  * oracle gate uses; if that interpreter is unavailable the test is
  * CANCELED (not passed) so the pin never silently evaporates. */
class ForecastOracleSpec extends SparkTestBase {
  private val folded = Seq("q_holt_forecast", "q_hw_seasonal", "q_holt_gridsearch")

  private def duckdbAvailable: Boolean =
    try {
      new ProcessBuilder("python3", "-c", "import duckdb").start().waitFor() == 0
    } catch { case _: Throwable => false }

  test("no forecast-fold oracle recurses") {
    folded.foreach { q =>
      assert(!SparkEntry.oracleSql(q).contains("RECURSIVE"), s"$q still has a recursive CTE")
    }
  }

  test("q_holt_forecast defines kept before its fold CTE rec") {
    // perfbench/oracle.py runs the SQL before the first `rec AS (` and reads `kept`
    val sql = SparkEntry.oracleSql("q_holt_forecast")
    val rec = sql.indexOf("rec AS (")
    assert(rec >= 0, "no rec CTE")
    assert(sql.take(rec).contains("\nkept AS ("), "no kept CTE before rec")
  }

  test("the forecast-fold oracles equal the Spark gates' rows at sf0.001") {
    assume(duckdbAvailable, "python3+duckdb not on this box")
    val out = Scratch.dir("forecast_oracles")
    folded.foreach { q =>
      Verify.writeOrdered(SparkEntry.queries(q)(spark, sf), s"$out/$q")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/$q.sql"), SparkEntry.oracleSql(q))
    }
    // per gate: Spark rows, oracle rows, rows in one multiset but not
    // the other (columns by name, doubles compared by repr)
    val py =
      """import duckdb, sys
        |sf, out = sys.argv[1], sys.argv[2]
        |con = duckdb.connect()
        |con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet')")
        |def rows(rel):
        |    cols = sorted(rel.columns)
        |    return cols, sorted(repr(r) for r in rel.project(", ".join(f'"{c}"' for c in cols)).fetchall())
        |for q in sys.argv[3:]:
        |    sc, s = rows(con.sql(f"SELECT * FROM read_parquet('{out}/{q}/*.parquet')"))
        |    oc, o = rows(con.sql(open(f"{out}/{q}.sql").read()))
        |    diff = len(set(s).symmetric_difference(o))
        |    print(q, len(s), len(o), int(sc == oc and s == o), diff)
        |""".stripMargin
    val pyFile = java.nio.file.Files.createTempFile("forecast_oracles_", ".py")
    Scratch.register(pyFile.toString)
    java.nio.file.Files.writeString(pyFile, py)
    val proc = new ProcessBuilder(Seq("python3", pyFile.toString, sf, out) ++ folded: _*).start()
    val stdout = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    val err = new String(proc.getErrorStream.readAllBytes(), "UTF-8")
    assert(proc.waitFor() == 0, s"duckdb run failed:\n$err")
    val got = stdout.linesIterator.map(_.split(" ")).map(a => a(0) -> a.tail.map(_.toLong).toSeq).toMap
    assert(got.keySet == folded.toSet, stdout)
    val bad = folded.filter { q => val Seq(nSpark, _, same, _) = got(q); nSpark == 0 || same != 1 }
    assert(bad.isEmpty, s"gate, spark rows, oracle rows, equal, distinct rows differing:\n$stdout")
  }
}
