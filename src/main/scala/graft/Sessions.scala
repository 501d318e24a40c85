package graft

import org.apache.spark.sql.SparkSession

/** The one place a `SparkSession` is built: `local[n]` with n shuffle
  * partitions, UTC session time, no UI and WARN logs. `Main`, `Bench`,
  * `Verify`, `Explain` and the test specs pass only their extra conf. */
object Sessions {

  /** `SPARK_GRAFT_CPUS`, read once; 4 when unset. */
  lazy val cores: Int = parseCores(sys.env.get("SPARK_GRAFT_CPUS"))

  private[graft] def parseCores(v: Option[String]): Int = v match {
    case None => 4
    case Some(s) => s.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS must be a positive integer, got '$s'"))
  }

  def local(n: Int, conf: (String, String)*): SparkSession = {
    val spark = SparkSession.builder().master(s"local[$n]").appName("graft")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(conf.toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
