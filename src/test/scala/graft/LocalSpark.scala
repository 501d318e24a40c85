package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** A spec's session: built through [[Sessions.local]] at 4 cores, whatever
  * `SPARK_GRAFT_CPUS` says, with `sessionConf` added; stopped after the
  * suite. */
trait LocalSpark extends BeforeAndAfterAll { this: Suite =>
  protected def sessionConf: Seq[(String, String)] = Nil

  lazy val spark: SparkSession = Sessions.local(4, sessionConf: _*)

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()
}
