package graft

/** `Session.withConf` is the one scoped conf change in graft: these pin
  * its restore contract, and that no gate which scopes confs leaves the
  * shared session different from how it found it. */
class SessionConfSpec extends SparkTestBase {

  private val key = "spark.graft.test.scoped"

  test("withConf leaves a previously unset key unset") {
    assert(spark.conf.getOption(key).isEmpty)
    val seen = Session.withConf(spark, key -> "on")(spark.conf.get(key))
    assert(seen == "on")
    assert(spark.conf.getOption(key).isEmpty)
    // a registered key reads its default through getOption while unset;
    // it must come back unset, not set to that default
    val registered = "spark.sql.autoBroadcastJoinThreshold"
    assert(!spark.conf.getAll.contains(registered))
    Session.withConf(spark, registered -> "-1") {
      assert(spark.conf.get(registered) == "-1")
    }
    assert(!spark.conf.getAll.contains(registered))
  }

  test("withConf restores the previous value when the body throws") {
    spark.conf.set(key, "before")
    try {
      intercept[IllegalStateException] {
        Session.withConf(spark, key -> "during") {
          assert(spark.conf.get(key) == "during")
          throw new IllegalStateException("body failed")
        }
      }
      assert(spark.conf.get(key) == "before")
    } finally spark.conf.unset(key)
  }

  test("nested withConf calls restore in order") {
    val other = s"$key.other"
    Session.withConf(spark, key -> "outer", other -> "x") {
      Session.withConf(spark, key -> "inner") {
        assert(spark.conf.get(key) == "inner")
        assert(spark.conf.get(other) == "x")
      }
      assert(spark.conf.get(key) == "outer")
      assert(spark.conf.get(other) == "x")
    }
    assert(spark.conf.getOption(key).isEmpty)
    assert(spark.conf.getOption(other).isEmpty)
  }

  test("streaming, bloom-join and AQE-skew gates leave the session conf unchanged") {
    // Tables.events sets this one session-wide by design
    val exempt = "spark.sql.legacy.parquet.nanosAsLong"
    def snapshot(): Map[String, String] = spark.conf.getAll - exempt
    val gates = SparkEntry.queries.keys.filter(_.startsWith("q_stream_")).toSeq.sorted ++
      Seq("q_bloom_join", "q_aqe_skew")
    assert(gates.size == 15, gates.mkString(", "))
    for (name <- gates) {
      val before = snapshot()
      SparkEntry.queries(name)(spark, sf).collect()
      val after = snapshot()
      val changed = (before.keySet ++ after.keySet)
        .filter(k => before.get(k) != after.get(k))
        .map(k => s"$k: ${before.get(k)} -> ${after.get(k)}")
      assert(changed.isEmpty, s"$name changed the session conf: ${changed.mkString("; ")}")
    }
  }
}
