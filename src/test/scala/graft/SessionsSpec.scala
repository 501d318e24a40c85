package graft

import org.scalatest.funsuite.AnyFunSuite

/** The local-session factory: its one core-count input and what it sets. */
class SessionsSpec extends AnyFunSuite with LocalSpark {

  test("SPARK_GRAFT_CPUS: 4 when unset; a non-integer or non-positive value names the variable") {
    assert(Sessions.parseCores(None) == 4)
    assert(Sessions.parseCores(Some("8")) == 8)
    for (bad <- Seq("abc", "0", "-2", "4.5", "")) {
      val e = intercept[IllegalArgumentException](Sessions.parseCores(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS") && e.getMessage.contains(s"'$bad'"))
    }
  }

  test("spec sessions come from the factory: local[4], 4 shuffle partitions, UTC, no UI") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
  }

  test("sessions share the executor's classloader: a query on a second fresh scoped session compiles no class") {
    import org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val isolation = Sessions.sharedClassloader._1
    assert(spark.conf.get(isolation) == "false")
    def compiled(): Long = {
      val s2 = operators.scoped(spark)
      assert(s2.conf.get(isolation) == "false")
      val c0 = METRIC_COMPILATION_TIME.getCount
      val rows = s2.range(0, 2000, 1, 4).selectExpr("id % 7 AS k", "id * 3 AS v")
        .groupBy("k").sum("v").collect()
      assert(rows.length == 7)
      METRIC_COMPILATION_TIME.getCount - c0
    }
    compiled()
    assert(compiled() == 0)
  }
}
