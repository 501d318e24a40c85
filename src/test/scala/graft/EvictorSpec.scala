package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.scalatest.funsuite.AnyFunSuite

/** Pins Bench's flagged-artifact re-measure machinery (VERDICT r13 item
  * 1a): [[SparkEntry.evictArtifact]] must drop exactly the memo its
  * builder checks, or the "min-of-3 on flags" re-measure silently times a
  * memo hit (~0ms) and WRONGLY silences a real regression. Every
  * registered artifact is built at sf0.001 and evicted. A spooled artifact
  * must leave its spool under the memo's own path (name drift fails here)
  * and lose it on evict; a trained model (x_ann_*_train) must be memoized
  * under its own name and come back as a FRESH instance after evict, so
  * an evictor that does nothing fails. */
class EvictorSpec extends AnyFunSuite with LocalSpark {

  private val dir = "/root/testdata/sf0.001"

  private def spool(name: String) =
    java.nio.file.Paths.get(operators.spoolDir(operators.memoKey(name, dir)))

  private def spoolBuilt(name: String): Boolean =
    Files.exists(spool(name).resolve("_SUCCESS"))

  /** The model memoized under `name`; fails when there is none. */
  private def model(name: String): AnyRef =
    operators.memoized[AnyRef](name, dir)(fail(s"no model memoized as $name"))

  for ((name, build) <- SparkEntry.artifacts)
    if (name.endsWith("_train"))
      test(s"$name: evict-then-rebuild cycles cleanly") {
        build(spark, dir)
        val before = model(name)
        SparkEntry.evictArtifact(name, dir)
        assertThrows[org.scalatest.exceptions.TestFailedException](model(name))
        build(spark, dir) // re-trains from the (separately charged) unit spool
        assert(model(name) ne before, s"evicting $name did not force a rebuild")
      }
    else
      test(s"$name: build creates the spool the evictor deletes") {
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        build(spark, dir)
        assert(spoolBuilt(name), s"builder did not write the $name spool — name drift?")
        SparkEntry.evictArtifact(name, dir)
        assert(!Files.exists(spool(name)), s"evictor left the $name spool behind")
        build(spark, dir) // first-build semantics restored, rebuild succeeds
        assert(spoolBuilt(name))
      }

  test("x_spool_events5dup: two concurrent cold builds write the spool once") {
    val name = "x_spool_events5dup"
    SparkEntry.evictArtifact(name, dir)
    val expected = 2 * operators.events(spark, dir).count()
    val writes = new AtomicInteger(0)
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val builders = (1 to 2).map(_ => Future {
        go.await()
        val path = operators.spooled(name, dir) { p =>
          writes.incrementAndGet()
          operators.StreamingOps.writeBatchSpool(spark, "events5dup", dir)(p)
        }
        spark.read.parquet(path).count()
      })
      go.countDown()
      builders.foreach(b => assert(Await.result(b, 5.minutes) == expected))
    } finally pool.shutdown()
    assert(writes.get == 1, "both builders wrote the spool")
  }
}
