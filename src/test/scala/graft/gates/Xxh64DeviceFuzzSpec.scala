package graft.gates

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Fuzzes the xxh64-in-SQL oracle device ITSELF (r13 verdict #5): until
  * now the replay was pinned only through the fixture vocabulary (31
  * tokens of ≤ 8 ASCII bytes, SimhashRecallSpec). Here seeded-random
  * strings covering every in-domain length (0-8 bytes) and the whole
  * printable-ASCII alphabet are hashed by Spark's `xxhash64` and by the
  * DuckDB CTE chain (`OracleCtes.xxh64Ctes`) in one real DuckDB session,
  * and every pair must agree bit-exactly as unsigned 64-bit values.
  * Out-of-domain lengths (9+ bytes) must come back NULL — the device's
  * loud-failure guard — never a silently wrong hash.
  *
  * The DuckDB run shells out to the same python3+duckdb the driver's
  * oracle gate uses; if that interpreter is unavailable the test is
  * CANCELED (not passed) so the pin never silently evaporates. */
class Xxh64DeviceFuzzSpec extends SparkTestBase {
  import spark.implicits._

  private def duckdbAvailable: Boolean =
    try {
      new ProcessBuilder("python3", "-c", "import duckdb").start().waitFor() == 0
    } catch { case _: Throwable => false }

  test("device fuzz: Spark xxhash64 == DuckDB CTE chain on random 0-8-byte ASCII strings; NULL beyond") {
    assume(duckdbAvailable, "python3+duckdb not on this box")
    val rnd = new scala.util.Random(20260815L)
    val alphabet = (0x20 to 0x7e).map(_.toChar) // full printable ASCII
    def randStr(len: Int): String =
      Array.fill(len)(alphabet(rnd.nextInt(alphabet.length))).mkString
    // every in-domain length represented, incl. the boundary cases the
    // finalizer branches on (0, 1-3 singles-only, 4 exact, 4-7, 8 exact)
    val inDomain = (for { len <- 0 to 8; _ <- 1 to 40 } yield randStr(len))
      .distinct
    val outDomain = (for { len <- 9 to 12; _ <- 1 to 3 } yield randStr(len))
      .distinct.filter(_.length > 8)
    val all = inDomain ++ outDomain

    // Spark side: unsigned view of the signed long
    val mask = (BigInt(1) << 64) - 1
    val sparkHash: Map[String, BigInt] = all.toDF("t")
      .select(col("t"), xxhash64(col("t")).as("h"))
      .as[(String, Long)].collect()
      .map { case (t, h) => t -> (BigInt(h) & mask) }.toMap

    // DuckDB side: one session over the whole VALUES grid
    val values = all.map(s => s"('${s.replace("'", "''")}')").mkString(", ")
    val sql =
      s"""WITH src(t) AS (SELECT * FROM (VALUES $values) v(t)),
         |${OracleCtes.xxh64Ctes("src")}
         |SELECT t, h FROM xx_h""".stripMargin
    val sqlFile = java.nio.file.Files.createTempFile("xxh64_fuzz_", ".sql")
    graft.Scratch.register(sqlFile.toString)
    java.nio.file.Files.writeString(sqlFile, sql)
    val py =
      """import duckdb, base64, sys
        |sql = open(sys.argv[1]).read()
        |for t, h in duckdb.sql(sql).fetchall():
        |    b = base64.b64encode(t.encode()).decode()
        |    print(b + "\t" + ("NULL" if h is None else str(h)))
        |""".stripMargin
    val pyFile = java.nio.file.Files.createTempFile("xxh64_fuzz_", ".py")
    graft.Scratch.register(pyFile.toString)
    java.nio.file.Files.writeString(pyFile, py)
    val proc = new ProcessBuilder("python3", pyFile.toString, sqlFile.toString)
      .redirectErrorStream(false).start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    val err = new String(proc.getErrorStream.readAllBytes(), "UTF-8")
    assert(proc.waitFor() == 0, s"duckdb run failed:\n$err")
    val duckHash: Map[String, Option[BigInt]] = out.linesIterator.map { l =>
      val Array(b64, h) = l.split("\t", 2)
      val t = new String(java.util.Base64.getDecoder.decode(b64), "UTF-8")
      t -> (if (h == "NULL") None else Some(BigInt(h)))
    }.toMap
    assert(duckHash.size == all.size,
      s"duckdb returned ${duckHash.size} of ${all.size} rows")

    inDomain.foreach { t =>
      assert(duckHash(t) == Some(sparkHash(t)),
        s"device mismatch on ${t.length}-byte ${t.take(16)}: " +
          s"duck=${duckHash(t)} spark=${sparkHash(t)}")
    }
    outDomain.foreach { t =>
      assert(duckHash(t).isEmpty,
        s"out-of-domain ${t.length}-byte input must hash to NULL, " +
          s"got ${duckHash(t)}")
    }
  }
}
