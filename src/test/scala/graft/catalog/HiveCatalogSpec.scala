package graft.catalog

import java.nio.file.{Files, Path}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException
import org.scalatest.funsuite.AnyFunSuite
import graft.{LocalSpark, TableNotFound}
import graft.cli.{Commands, GraftEngine}

/** The partition commands on a Hive metastore over embedded Derby in a
  * temp dir: the durable catalog `Main` uses under `GRAFT_WAREHOUSE`. Each
  * command costs the metastore calls it needs and, on a local warehouse,
  * starts no OS process (Hadoop's local file system forks one per
  * permission read or set when the native library is missing). */
class HiveCatalogSpec extends AnyFunSuite with LocalSpark {

  private val tmp = Files.createTempDirectory("graft_hive")
  System.setProperty("derby.stream.error.file", tmp.resolve("derby.log").toString)

  override protected def sessionConf = Seq(
    "spark.sql.catalogImplementation" -> "hive",
    "spark.sql.warehouse.dir" -> s"$tmp/warehouse",
    "javax.jdo.option.ConnectionURL" -> s"jdbc:derby:;databaseName=$tmp/metastore_db;create=true",
    "spark.hadoop.hive.exec.scratchdir" -> s"$tmp/hive-scratch",
    "spark.hadoop.hive.exec.local.scratchdir" -> s"$tmp/hive-local",
    "spark.hadoop.hive.downloaded.resources.dir" -> s"$tmp/hive-res")

  lazy val engine = new GraftEngine(spark)

  override def beforeAll(): Unit = {
    super.beforeAll()
    assert(spark.conf.get("spark.sql.catalogImplementation") == "hive")
    spark.sql("CREATE DATABASE bench")
  }

  override def afterAll(): Unit = try super.afterAll() finally graft.operators.deleteRecursively(tmp)

  private def run(args: String*): (Int, Seq[String]) = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val code = Commands.main(engine, args, out += _)
    (code, out.toSeq)
  }

  /** A partitioned parquet table over `dir`, with no partition stored. */
  private def createTable(name: String): Path = {
    val dir = Files.createDirectories(tmp.resolve(name))
    spark.sql(s"CREATE TABLE bench.$name (v BIGINT, year STRING, month STRING) " +
      s"USING parquet PARTITIONED BY (year, month) LOCATION '$dir'")
    dir
  }

  /** `body`'s result, the metastore client calls it made and the OS
    * processes the JVM started meanwhile ([[graft.Forks]]). */
  private def measured[T](body: => T): (T, Long, Int) = {
    val calls0 = HiveCatalogMetrics.METRIC_HIVE_CLIENT_CALLS.getCount
    val (out, forks) = graft.Forks.counted(body)
    (out, HiveCatalogMetrics.METRIC_HIVE_CLIENT_CALLS.getCount - calls0, forks)
  }

  test("partition commands: metastore calls per command, no forked process") {
    val dir = createTable("calls_t")
    val layout = tmp.resolve("calls_layout")
    Seq("year=2020/month=1", "year=2020/month=2", "year=2021/month=1", "_staging").foreach { d =>
      Files.createDirectories(layout.resolve(d))
      Files.write(layout.resolve(d).resolve("part-0"), Array.emptyByteArray)
    }
    // one warm-up round, so each count is the command's own steady cost
    run("add_partition", "bench", "calls_t", "--year=1999", "--month=1")
    run("list_partitions", "bench", "calls_t")
    run("del_partition", "bench", "calls_t", "--year=1999", "--month=1")
    val counts = Seq(
      Seq("add_partitions", "bench", "calls_t", layout.toString),
      Seq("list_partitions", "bench", "calls_t"),
      Seq("add_partition", "bench", "calls_t", "--year=2022", "--month=3"),
      Seq("del_partition", "bench", "calls_t", "--year=2020", "--month=2")).map { argv =>
      val ((code, out), calls, forks) = measured(run(argv: _*))
      assert(code == 0, out)
      (argv.head, calls, forks)
    }
    assert(counts == Seq(("add_partitions", 7, 0), ("list_partitions", 4, 0),
      ("add_partition", 4, 0), ("del_partition", 5, 0)))
    assert(Files.isDirectory(dir.resolve("year=2022/month=3")))
    assert(engine.catalog.listPartitions("bench", "calls_t").data.map(_.take(2)) ==
      Seq(Seq("2020", "1"), Seq("2021", "1"), Seq("2022", "3")))
  }

  test("a scheme-less or relative --location is stored qualified") {
    val dir = createTable("loc_t")
    val abs = tmp.resolve("elsewhere/year=2020")
    assert(run("add_partition", "bench", "loc_t", "--year=2020", "--month=1", s"--location=$abs")._1 == 0)
    assert(run("add_partition", "bench", "loc_t", "--year=2021", "--month=1", "--location=rel/y21")._1 == 0)
    assert(engine.catalog.listPartitions("bench", "loc_t").data.map(_.last).sorted ==
      Seq(s"file:$abs", s"file:$dir/rel/y21"))
    assert(Files.isDirectory(abs) && Files.isDirectory(dir.resolve("rel/y21")))
  }

  test("an add that fails as already existing leaves no new directory") {
    createTable("dup_t")
    assert(run("add_partition", "bench", "dup_t", "--year=2020", "--month=1")._1 == 0)
    val fresh = tmp.resolve("dup_fresh")
    val (code, out) = run("add_partition", "bench", "dup_t", "--year=2020", "--month=1",
      s"--location=$fresh/a/b")
    assert((code, out) == ((0, Seq("Partition [2020, 1] already exists"))))
    assert(Files.notExists(fresh))
  }

  test("new partition directories take their parent's permissions") {
    val dir = createTable("perm_t")
    val perms = PosixFilePermissions.fromString("rwxr-x---")
    Files.setPosixFilePermissions(dir, perms)
    assert(run("add_partition", "bench", "perm_t", "--year=2020", "--month=1")._1 == 0)
    Seq("year=2020", "year=2020/month=1").foreach { d =>
      assert(Files.getPosixFilePermissions(dir.resolve(d)) == perms, d)
    }
  }

  test("an empty partition value fails as the session catalog failed it") {
    val dir = createTable("empty_t")
    val msg = "The spec ([year=, month=1]) contains an empty partition column value"
    assert(intercept[AnalysisException](engine.catalog.addPartition("bench", "empty_t",
      Map("year" -> "", "month" -> "1"))).getMessage.contains(msg))
    assert(intercept[AnalysisException](engine.catalog.deletePartition("bench", "empty_t",
      Map("year" -> "", "month" -> "1"))).getMessage.contains(msg))
    assert(Files.notExists(dir.resolve("year=")))
  }

  test("a missing database or table keeps its error") {
    val missingDb = intercept[NoSuchNamespaceException](engine.catalog.listPartitions("nodb", "t"))
    assert(missingDb.getCondition == "SCHEMA_NOT_FOUND", missingDb.getMessage)
    assert(missingDb.getMessage.contains("`spark_catalog`.`nodb`"), missingDb.getMessage)
    assert(intercept[TableNotFound](engine.catalog.listPartitions("bench", "nope"))
      .getMessage == "Table nope not found")
    Seq(Seq("list_partitions", "bench", "nope"),
      Seq("add_partition", "bench", "nope", "--year=1"),
      Seq("del_partition", "bench", "nope", "--year=1"),
      Seq("add_partitions", "bench", "nope", tmp.toString)).foreach { argv =>
      assert(run(argv: _*) == ((1, Seq("Table nope not found"))), argv)
    }
    val (code, out) = run("add_partition", "nodb", "t", "--year=1")
    assert(code == 1 && out.head.startsWith("[SCHEMA_NOT_FOUND]"), out)
  }
}
