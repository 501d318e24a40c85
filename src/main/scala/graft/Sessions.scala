package graft

import org.apache.spark.sql.SparkSession

/** The one place a `SparkSession` is built: `local[n]` with n shuffle
  * partitions, UTC session time, no UI, one shared executor classloader
  * and WARN logs. `Main`, `Bench`, `Verify`, `Explain` and the test specs
  * pass only their extra conf. */
object Sessions {

  /** Artifact isolation off. Spark 4.1 turns it on by default, and then
    * every session (each `newSession()`, and the clone a stream makes at
    * `start()`) gets its own session UUID and, on the executor, its own
    * classloader. The codegen cache is keyed by classloader, so each such
    * session recompiles every task class it runs. The engine adds no
    * artifacts (`SessionGuardSpec`), so isolation protects nothing here.
    * The setting is read once, lazily, at a session's first job: set it
    * on a session before that, or when building it. */
  val sharedClassloader: (String, String) = "spark.sql.artifact.isolation.enabled" -> "false"

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
      .config((sharedClassloader +: conf).toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
