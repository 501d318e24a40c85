package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** Plan-capture helper for the optimization rounds: dumps
  * `.explain("formatted")` for the named queries to <outDir>/<name>.txt,
  * and the canonicalized optimized logical plan to
  * <outDir>/<name>.canonical.txt. The formatted dump carries AQE stage,
  * codegen and RDD ids that differ between runs; the canonical one holds
  * no expression ids, so two runs of the same code can be `diff`ed.
  * Usage: runMain graft.Explain <sfDir> <outDir> <name> [<name> ...]
  * Plans depend on the core count: set `SPARK_GRAFT_CPUS` alike on both
  * sides of a comparison.
  * Measurement-only tooling — never on a query path. */
object Explain {
  /** The optimized logical plan, canonicalized: stable across runs. A
    * cached frame's relation would print its physical plan, ids and all,
    * so each one is replaced by the logical plan it caches, projected
    * onto the relation's own output attributes. */
  def canonical(df: DataFrame): String =
    uncached(df.queryExecution.optimizedPlan).canonicalized.treeString

  private def uncached(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case m: InMemoryRelation =>
      val cached = uncached(m.cacheBuilder.logicalPlan)
      Project(cached.output.zip(m.output).map { case (c, o) =>
        Alias(c, o.name)(exprId = o.exprId) }, cached)
  }

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
          Files.writeString(Paths.get(s"$outDir/$name.canonical.txt"), canonical(df))
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
