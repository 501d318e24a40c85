package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Counts the OS processes the JVM starts while `body` runs, from JFR
  * `jdk.ProcessStart` events recorded in-process. Without the native Hadoop
  * library, Hadoop's local file system forks one per permission read or
  * set, so a local-disk path that is meant to fork nothing pins 0 here.
  *
  * One kind of fork is left out: Spark's cleanup of a session's artifact
  * directory (`ArtifactManager`'s cleaner), which forks `rm -rf` once per
  * session, on the JDK cleaner thread, whenever GC collects the session. A
  * session built long before `body` can be collected while it runs, so
  * that fork's timing is the collector's, not `body`'s. */
object Forks {
  private val sessionCleanup = "org.apache.spark.sql.artifact.ArtifactManager$StateCleanupRunner"

  private def isSessionCleanup(e: jdk.jfr.consumer.RecordedEvent): Boolean =
    Option(e.getStackTrace).exists(_.getFrames.asScala.exists(_.getMethod.getType.getName == sessionCleanup))

  def counted[T](body: => T): (T, Int) = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    val out = try body finally rec.stop()
    val dump = Files.createTempFile("graft_forks", ".jfr")
    try {
      rec.dump(dump)
      (out, jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
        .count(e => e.getEventType.getName == "jdk.ProcessStart" && !isSessionCleanup(e)))
    } finally { rec.close(); Files.deleteIfExists(dump) }
  }
}
