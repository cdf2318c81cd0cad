package graft

/** The shared builder's settings, read back from the live test session.
  * UTC is load-bearing: `Tables.load`'s NTZ→TZ cast and every
  * day-bucket derivation follow the session time zone. */
class LocalSessionSpec extends SparkSpec {

  test("the shared session is UTC, UI-less, with one shuffle partition per cpu") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") ==
      SparkSpec.Cpus.toString)
    assert(spark.sparkContext.master == s"local[${SparkSpec.Cpus}]")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }

  test("the builder sets UTC itself, not only through JVM properties") {
    val confs = LocalSession.confs(3).toMap
    assert(confs("spark.sql.session.timeZone") == "UTC")
    assert(confs("spark.sql.shuffle.partitions") == "3")
    assert(confs("spark.ui.enabled") == "false")
  }

  test("cpus default to the JVM's available processors when unset") {
    assert(LocalSession.cpusFrom(None) ==
      Runtime.getRuntime.availableProcessors)
    assert(LocalSession.cpusFrom(Some(" 6 ")) == 6)
  }
}
