package graft
import java.nio.file.{Files, Paths}

/** Plan-capture helper for the optimization rounds: dumps
  * `.explain("formatted")` for the named queries to <outDir>/<name>.txt.
  * Usage: runMain graft.Explain <sfDir> <outDir> <name> [<name> ...]
  * Plans depend on the core count: set `SPARK_GRAFT_CPUS` alike on both
  * sides of a comparison.
  * Measurement-only tooling — never on a query path. */
object Explain {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val names = args.drop(2).toSet
    val sel: String => Boolean = if (names.isEmpty) _ => true else names
    val spark = Sessions.local(Sessions.cores)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter { case (n, _) => sel(n) }.toSeq.sortBy(_._1).foreach {
      case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/$name.txt"), plan)
          println(s"[explain] wrote $outDir/$name.txt")
        } catch {
          case e: Throwable =>
            System.err.println(s"[explain] $name failed: $e")
        }
        spark.catalog.clearCache()
    }
    spark.stop()
  }
}
