package graft.sources

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark
import graft.operators.{graftCatalog, runTag, scoped}

/** Contract pins for the round-12 catalog surfaces that Spark delegates
  * to the connector:
  *
  *  - CHECK constraints (`SUPPORT_TABLE_CONSTRAINT`): create-time
  *    declaration, write-side enforcement via the analyzer's
  *    CheckInvariant guard, ALTER ADD validation of existing rows
  *    (Spark-side scan), ALTER DROP lifting the guard, and the
  *    refusal of never-enforced constraint kinds (PRIMARY KEY et al);
  *  - GENERATED ALWAYS AS (expr) (`SUPPORTS_CREATE_TABLE_WITH_GENERATED_
  *    COLUMNS`): commit-time synthesis for omitted values, validation of
  *    explicit values against the expression (mismatch rejects the
  *    commit), CREATE-time type-mismatch refusal;
  *  - stored procedures (`ProcedureCatalog` + `CALL`): restore
  *    republishes a retained snapshot version-continuously,
  *    expire_history prunes retention (and VERSION AS OF an expired
  *    version then refuses), SHOW PROCEDURES / DESCRIBE PROCEDURE ride
  *    the same catalog methods.
  */
class LakehouseDdlSpec extends AnyFunSuite with LocalSpark {

  private def catSession(): SparkSession = scoped(spark, graftCatalog("graft_ddl"): _*)

  test("CHECK constraint declared at CREATE rejects violating inserts and admits valid ones") {
    val s2 = catSession()
    val t = s"graft_ddl.ns.chk_${runTag()}"
    s2.sql(s"""CREATE TABLE $t (k BIGINT, status STRING, cents BIGINT,
               CONSTRAINT non_negative CHECK (cents >= 0))
               PARTITIONED BY (status)""")
    s2.sql(s"INSERT INTO $t VALUES (1, 'A', 100), (2, 'B', 0)")
    assert(s2.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 2L)
    val e = intercept[Exception] {
      s2.sql(s"INSERT INTO $t VALUES (3, 'A', -5)")
    }
    assert(e.getMessage.contains("non_negative") ||
      Option(e.getCause).exists(_.getMessage.contains("non_negative")),
      s"expected a CHECK violation naming the constraint, got: ${e.getMessage}")
    // the failed write job must not have committed anything
    assert(s2.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 2L)
  }

  test("ALTER TABLE ADD CONSTRAINT validates existing rows; DROP CONSTRAINT lifts the guard") {
    val s2 = catSession()
    val t = s"graft_ddl.ns.chkalt_${runTag()}"
    s2.sql(s"CREATE TABLE $t (k BIGINT, status STRING, cents BIGINT) PARTITIONED BY (status)")
    s2.sql(s"INSERT INTO $t VALUES (1, 'A', 100), (2, 'B', 250)")
    // a constraint the existing rows violate must refuse at ALTER time
    val bad = intercept[Exception] {
      s2.sql(s"ALTER TABLE $t ADD CONSTRAINT too_strict CHECK (cents > 1000)")
    }
    assert(bad.getMessage.toLowerCase.contains("check") ||
      bad.getMessage.contains("too_strict"))
    // a satisfiable one lands and guards future writes
    s2.sql(s"ALTER TABLE $t ADD CONSTRAINT positive CHECK (cents > 0)")
    intercept[Exception] { s2.sql(s"INSERT INTO $t VALUES (3, 'A', 0)") }
    assert(s2.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 2L)
    // DROP CONSTRAINT lifts the guard: the same insert now lands
    s2.sql(s"ALTER TABLE $t DROP CONSTRAINT positive")
    s2.sql(s"INSERT INTO $t VALUES (3, 'A', 0)")
    assert(s2.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 3L)
  }

  test("never-enforced constraint kinds refuse at CREATE") {
    val s2 = catSession()
    val t = s"graft_ddl.ns.chkpk_${runTag()}"
    val e = intercept[Exception] {
      s2.sql(s"""CREATE TABLE $t (k BIGINT, status STRING,
                 CONSTRAINT pk PRIMARY KEY (k)) PARTITIONED BY (status)""")
    }
    assert(e.getMessage.contains("only CHECK constraints"),
      s"expected the catalog's refusal, got: ${e.getMessage}")
  }

  test("GENERATED ALWAYS AS: omitted values synthesized at commit from the row") {
    val s2 = catSession()
    val t = s"graft_ddl.ns.gen_${runTag()}"
    s2.sql(s"""CREATE TABLE $t (k BIGINT, status STRING, cents BIGINT,
               bucket BIGINT GENERATED ALWAYS AS (cents DIV 100),
               tag STRING GENERATED ALWAYS AS (CONCAT(status, '-', CAST(cents DIV 100 AS STRING))))
               PARTITIONED BY (status)""")
    s2.sql(s"INSERT INTO $t (k, status, cents) VALUES (1, 'A', 250), (2, 'B', 99)")
    val rows = s2.sql(s"SELECT k, bucket, tag FROM $t ORDER BY k").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq ==
      Seq((1L, 2L, "A-2"), (2L, 0L, "B-0")))
  }

  test("GENERATED ALWAYS AS: explicit value contradicting the expression rejects the commit") {
    val s2 = catSession()
    val t = s"graft_ddl.ns.genx_${runTag()}"
    s2.sql(s"""CREATE TABLE $t (k BIGINT, status STRING, cents BIGINT,
               bucket BIGINT GENERATED ALWAYS AS (cents DIV 100))
               PARTITIONED BY (status)""")
    // a CONSISTENT explicit value passes (Delta's contract)
    s2.sql(s"INSERT INTO $t VALUES (1, 'A', 250, 2)")
    val e = intercept[Exception] {
      s2.sql(s"INSERT INTO $t VALUES (2, 'A', 250, 99)")
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("GENERATED ALWAYS AS")),
      s"expected the commit-side mismatch rejection, got: ${chain(e)}")
    assert(s2.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 1L)
  }

  test("GENERATED ALWAYS AS: type mismatch between expression and column refuses at CREATE") {
    val s2 = catSession()
    val t = s"graft_ddl.ns.gent_${runTag()}"
    val e = intercept[Exception] {
      s2.sql(s"""CREATE TABLE $t (k BIGINT, status STRING,
                 bad BIGINT GENERATED ALWAYS AS (CONCAT(status, '!')))
                 PARTITIONED BY (status)""")
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(m => m.contains("has type") || m.contains("GENERATED")),
      s"expected a type-mismatch refusal, got: ${chain(e)}")
  }

  test("CALL system.restore republishes a retained version as a new commit") {
    val s2 = catSession()
    val name = s"rst_${runTag()}"
    val t = s"graft_ddl.ns.$name"
    s2.sql(s"CREATE TABLE $t (k BIGINT, status STRING, cents BIGINT) PARTITIONED BY (status)")
    s2.sql(s"INSERT INTO $t VALUES (1, 'A', 100)")                 // v1
    s2.sql(s"INSERT INTO $t VALUES (2, 'B', 200), (3, 'A', 300)")  // v2
    val res = s2.sql(s"CALL graft_ddl.system.restore('ns.$name', 1)").collect()
    assert(res.length == 1)
    assert(res(0).getAs[Long]("restored_version") == 1L)
    assert(res(0).getAs[Long]("new_version") == 3L)
    assert(res(0).getAs[Long]("n_rows") == 1L)
    // head now serves v1's single row; the pre-restore head stays travelable
    assert(s2.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 1L)
    assert(s2.sql(s"SELECT count(*) FROM $t VERSION AS OF 2").head().getLong(0) == 3L)
  }

  test("CALL system.expire_history prunes retention and expired versions refuse") {
    val s2 = catSession()
    val name = s"exp_${runTag()}"
    val t = s"graft_ddl.ns.$name"
    s2.sql(s"CREATE TABLE $t (k BIGINT, status STRING, cents BIGINT) PARTITIONED BY (status)")
    (1 to 4).foreach(i => s2.sql(s"INSERT INTO $t VALUES ($i, 'A', ${i * 100})")) // v1..v4
    val res = s2.sql(s"CALL graft_ddl.system.expire_history('ns.$name', 2)").collect()
    assert(res(0).getAs[Long]("removed") == 3L) // v0 (create), v1, v2
    assert(res(0).getAs[Long]("earliest_retained") == 3L)
    val e = intercept[Exception] {
      s2.sql(s"SELECT count(*) FROM $t VERSION AS OF 1").collect()
    }
    assert(e.getMessage.contains("no snapshot version 1"))
    assert(s2.sql(s"SELECT count(*) FROM $t VERSION AS OF 3").head().getLong(0) == 3L)
    assert(s2.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 4L)
  }

  test("SHOW PROCEDURES and DESCRIBE PROCEDURE ride the catalog methods") {
    val s2 = catSession()
    val shownRows = s2.sql("SHOW PROCEDURES IN graft_ddl.system").collect()
    val shown = shownRows.map(_.toSeq.map(String.valueOf).mkString("|")).toSet
    assert(shown.exists(_.contains("restore")) &&
      shown.exists(_.contains("expire_history")),
      s"SHOW PROCEDURES returned: $shown")
    val desc = s2.sql("DESCRIBE PROCEDURE graft_ddl.system.restore").collect()
      .map(_.toString).mkString("\n")
    assert(desc.contains("restore"))
  }

  test("catalog functions: magic-method scalar and two-phase aggregate resolve and compute") {
    val s2 = catSession()
    import s2.implicits._
    Seq((1L, "one two  three"), (2L, "  "), (4L, "solo"), (8L, null: String))
      .toDF("id", "txt").createOrReplaceTempView("fn_probe")
    val rows = s2.sql(
      """SELECT sum(graft_ddl.system.token_count(txt)) AS toks,
                graft_ddl.system.bit_or_agg(id) AS mask
         FROM fn_probe""").collect()
    assert(rows(0).getLong(0) == 4L) // 3 + 0 + 1 + 0
    assert(rows(0).getLong(1) == 15L) // 1|2|4|8
  }

  test("catalog functions: wrong argument type refuses at bind; unknown function refuses") {
    val s2 = catSession()
    val e = intercept[Exception] {
      s2.sql("SELECT graft_ddl.system.token_count(42)").collect()
    }
    assert(e.getMessage.contains("token_count") || e.getMessage.contains("CANNOT_RESOLVE"),
      s"got: ${e.getMessage}")
    val missing = intercept[Exception] {
      s2.sql("SELECT graft_ddl.system.no_such_fn(1)").collect()
    }
    assert(missing.getMessage.toLowerCase.contains("no_such_fn"))
  }

  // EXPECTED-FAILURE PIN (upstream limitation, same discipline as the
  // q284 inliner pin): Spark 4.1's ResolveSessionCatalog implements
  // DESCRIBE FUNCTION / SHOW FUNCTIONS only for the SESSION catalog — a
  // V2 FunctionCatalog gets MISSING_CATALOG_ABILITY even though
  // expression resolution against the same catalog works (the test
  // above). When a Spark upgrade adds V2 support, this pin flips loudly
  // and the metadata surface should be asserted positively.
  test("pin: DESCRIBE FUNCTION on a V2 FunctionCatalog is unsupported in this Spark") {
    val s2 = catSession()
    val e = intercept[Exception] {
      s2.sql("DESCRIBE FUNCTION graft_ddl.system.bit_or_agg").collect()
    }
    assert(e.getMessage.contains("MISSING_CATALOG_ABILITY"),
      "DESCRIBE FUNCTION now resolves V2 catalogs — flip this pin to a " +
        s"positive assertion (got: ${e.getMessage})")
  }

  test("MERGE WITH SCHEMA EVOLUTION adds the source column; pre-evolution versions keep the old schema") {
    val s2 = catSession()
    import s2.implicits._
    val name = s"mse_${runTag()}"
    val t = s"graft_ddl.ns.$name"
    s2.sql(s"CREATE TABLE $t (k BIGINT, status STRING, cents BIGINT) PARTITIONED BY (status)")
    s2.sql(s"INSERT INTO $t VALUES (1, 'A', 100), (2, 'B', 200)")
    Seq((1L, "A", 150L, 7L), (3L, "B", 300L, 9L)).toDF("k", "status", "cents", "extra")
      .createOrReplaceTempView("mse_probe_src")
    s2.sql(s"""MERGE WITH SCHEMA EVOLUTION INTO $t t USING mse_probe_src s ON t.k = s.k
               WHEN MATCHED THEN UPDATE SET *
               WHEN NOT MATCHED THEN INSERT *""")
    val rows = s2.sql(s"SELECT k, cents, extra FROM $t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
    // matched row updated incl. the new column; untouched row NULL-padded;
    // unmatched row inserted with it
    assert(rows.toSeq == Seq((1L, 150L, 7L), (2L, 200L, -1L), (3L, 300L, 9L)))
    // the evolution was its own schema-per-snapshot commit: the pre-merge
    // version still serves three columns
    assert(s2.sql(s"SELECT * FROM $t VERSION AS OF 1").schema.fieldNames.toSeq ==
      Seq("k", "status", "cents"))
  }

  test("DSv2 join pushdown: inner equi-join collapses to one scan; LEFT JOIN falls back") {
    val s2 = catSession()
    s2.conf.set("spark.sql.optimizer.datasourceV2JoinPushdown", "true")
    val (na, nb) = (s"jpl_${runTag()}", s"jpr_${runTag()}")
    s2.sql(s"""CREATE TABLE graft_ddl.ns.$na (k BIGINT, status STRING, cents BIGINT)
               PARTITIONED BY (status) TBLPROPERTIES ('extendedPushdown'='true')""")
    s2.sql(s"""CREATE TABLE graft_ddl.ns.$nb (k BIGINT, status STRING, bonus BIGINT)
               PARTITIONED BY (status) TBLPROPERTIES ('extendedPushdown'='true')""")
    s2.sql(s"INSERT INTO graft_ddl.ns.$na VALUES (1,'A',100), (2,'B',200)")
    s2.sql(s"INSERT INTO graft_ddl.ns.$nb VALUES (1,'A',10), (3,'B',30), (1,'B',40)")
    val inner = s2.sql(s"""SELECT a.cents, b.bonus FROM graft_ddl.ns.$na a
                           JOIN graft_ddl.ns.$nb b ON a.k = b.k""")
    val innerRows = inner.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(innerRows == Set((100L, 10L), (100L, 40L)))
    val innerPlan = inner.queryExecution.executedPlan.toString
    assert(innerPlan.linesIterator.count(_.contains("BatchScan")) == 1,
      s"inner equi-join should be served by ONE pushed-down scan\n$innerPlan")
    // non-inner joins refuse the pushdown and Spark joins normally
    val left = s2.sql(s"""SELECT a.k, b.bonus FROM graft_ddl.ns.$na a
                          LEFT JOIN graft_ddl.ns.$nb b ON a.k = b.k""")
    assert(left.count() == 3) // k=1 matches twice, k=2 null-extends
    assert(left.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("BatchScan")) > 1,
      "LEFT JOIN must fall back to a Spark-side join")
  }

  test("differential: extended filter pushdown matches engine-side filtering on 24 random predicates") {
    val s2 = catSession()
    val (np, ne) = (s"dfp_${runTag()}", s"dfe_${runTag()}")
    // same data, one table filters source-side (extendedPushdown), the
    // other engine-side — every WHERE must agree, NULLs included
    for ((n, props) <- Seq((np, ""), (ne, "TBLPROPERTIES ('extendedPushdown'='true')"))) {
      s2.sql(s"CREATE TABLE graft_ddl.ns.$n (k BIGINT, status STRING, cents BIGINT) PARTITIONED BY (status) $props")
      s2.sql(s"""INSERT INTO graft_ddl.ns.$n VALUES
        (1,'A',100),(2,'A',NULL),(3,'B',300),(4,'B',-50),(5,'C',0),
        (6,'C',NULL),(7,'A',300),(8,'B',100),(9,'C',250),(10,'A',-1)""")
    }
    val rnd = new scala.util.Random(7)
    val cols = Seq("k", "cents")
    def atom(): String = rnd.nextInt(6) match {
      case 0 => s"${cols(rnd.nextInt(2))} > ${rnd.nextInt(300) - 50}"
      case 1 => s"${cols(rnd.nextInt(2))} <= ${rnd.nextInt(300)}"
      case 2 => s"${cols(rnd.nextInt(2))} = ${rnd.nextInt(10) * 50}"
      case 3 => s"${cols(rnd.nextInt(2))} IS NULL"
      case 4 => s"${cols(rnd.nextInt(2))} IS NOT NULL"
      case 5 => s"status = '${('A' + rnd.nextInt(3)).toChar}'"
    }
    def pred(depth: Int): String =
      if (depth == 0 || rnd.nextInt(3) == 0) atom()
      else rnd.nextInt(3) match {
        case 0 => s"(${pred(depth - 1)} AND ${pred(depth - 1)})"
        case 1 => s"(${pred(depth - 1)} OR ${pred(depth - 1)})"
        case 2 => s"(NOT ${pred(depth - 1)})"
      }
    (1 to 24).foreach { i =>
      val w = pred(2)
      val a = s2.sql(s"SELECT k FROM graft_ddl.ns.$np WHERE $w").collect()
        .map(_.getLong(0)).sorted.toSeq
      val b = s2.sql(s"SELECT k FROM graft_ddl.ns.$ne WHERE $w").collect()
        .map(_.getLong(0)).sorted.toSeq
      assert(a == b, s"predicate #$i '$w': engine-side $a vs pushed $b")
    }
  }

  test("differential: generated-column values always equal their expression recomputed over the stored rows") {
    val s2 = catSession()
    for ((expr, i) <- Seq(
        "cents DIV 100", "cents % 7 + k", "greatest(cents - k, 0)",
        "CAST(least(cents, 250) AS BIGINT)").zipWithIndex) {
      val n = s"dgen${i}_${runTag()}"
      val t = s"graft_ddl.ns.$n"
      s2.sql(s"""CREATE TABLE $t (k BIGINT, status STRING, cents BIGINT,
                 g BIGINT GENERATED ALWAYS AS ($expr)) PARTITIONED BY (status)""")
      s2.sql(s"""INSERT INTO $t (k, status, cents) VALUES
        (1,'A',100),(2,'B',333),(3,'A',7),(4,'C',0),(5,'B',999)""")
      val bad = s2.sql(s"SELECT count(*) FROM $t WHERE g <> ($expr)").head().getLong(0)
      assert(bad == 0L, s"expression '$expr': $bad rows disagree with their generated value")
    }
  }

  test("three-valued pushed filters: NOT/OR over NULL cells match engine-side semantics") {
    val s2 = catSession()
    val (np, ne) = (s"tvlp_${runTag()}", s"tvle_${runTag()}")
    for ((n, props) <- Seq((np, ""), (ne, "TBLPROPERTIES ('extendedPushdown'='true')"))) {
      s2.sql(s"CREATE TABLE graft_ddl.ns.$n (k BIGINT, status STRING, cents BIGINT) PARTITIONED BY (status) $props")
      s2.sql(s"""INSERT INTO graft_ddl.ns.$n VALUES
        (1,'A',100),(2,'A',NULL),(3,'B',300),(4,'B',NULL),(5,'C',0)""")
    }
    // shapes where the optimizer does NOT infer a rescuing IsNotNull
    // (disjunctions keep every branch null-tolerant) — a two-valued
    // source evaluator wrongly INCLUDES the NULL rows for each of these
    val preds = Seq(
      "cents != 100 OR k > 9",
      "(NOT cents = 100) OR k > 9",
      "NOT (cents = 100 OR k > 3)",
      "cents NOT IN (100, 300) OR k > 9",
      "NOT (cents = 100 AND k < 3) OR k > 9")
    preds.foreach { w =>
      val a = s2.sql(s"SELECT k FROM graft_ddl.ns.$np WHERE $w").collect()
        .map(_.getLong(0)).sorted.toSeq
      val b = s2.sql(s"SELECT k FROM graft_ddl.ns.$ne WHERE $w").collect()
        .map(_.getLong(0)).sorted.toSeq
      assert(a == b, s"predicate '$w': engine-side $a vs pushed $b")
      assert(!b.contains(2L) || a.contains(2L),
        s"predicate '$w': pushed side admitted a NULL row the engine excluded")
    }
  }

  test("pushed string comparisons follow Spark's UTF-8 binary order, not UTF-16 (non-BMP differential)") {
    val s2 = catSession()
    import s2.implicits._
    val (np, ne) = (s"u8p_${runTag()}", s"u8e_${runTag()}")
    // U+FFFF vs U+10000: UTF-16 code-unit order puts U+FFFF ABOVE the
    // surrogate pair; UTF-8 byte order (= code-point order, what Spark
    // compares) puts it BELOW — a Java String.compareTo in the pushed
    // filter silently drops/keeps the wrong rows
    val supp = new String(Character.toChars(0x10000))
    for ((n, props) <- Seq((np, ""), (ne, "TBLPROPERTIES ('extendedPushdown'='true')"))) {
      s2.sql(s"CREATE TABLE graft_ddl.ns.$n (k BIGINT, status STRING, w STRING) PARTITIONED BY (status) $props")
      Seq((1L, "A", "\uFFFF"), (2L, "A", supp), (3L, "B", "z"))
        .toDF("k", "status", "w").createOrReplaceTempView(s"u8src_$n")
      s2.sql(s"INSERT INTO graft_ddl.ns.$n SELECT * FROM u8src_$n")
    }
    for (op <- Seq("<", ">", "<=", ">=")) {
      def ks(n: String): Seq[Long] =
        s2.table(s"graft_ddl.ns.$n")
          .where(org.apache.spark.sql.functions
            .expr(s"w $op '$supp'")).select("k")
          .collect().map(_.getLong(0)).sorted.toSeq
      assert(ks(np) == ks(ne), s"op $op: engine ${ks(np)} vs pushed ${ks(ne)}")
    }
  }

  test("DELETE/overwrite predicates are three-valued: NOT/NOT-IN over NULL cells keep the rows") {
    val s2 = catSession()
    val t = s"graft_ddl.ns.del3vl_${runTag()}"
    s2.sql(s"CREATE TABLE $t (k BIGINT, status STRING, cents BIGINT) PARTITIONED BY (status)")
    s2.sql(s"INSERT INTO $t VALUES (1,'A',100),(2,'A',NULL),(3,'B',300),(4,'B',NULL)")
    // NULL <> 100 is UNKNOWN: the engine keeps rows 2 and 4; a
    // two-valued source-side NOT would silently delete them
    s2.sql(s"DELETE FROM $t WHERE NOT (cents = 100)")
    assert(s2.sql(s"SELECT k FROM $t ORDER BY k").collect().map(_.getLong(0)).toSeq
      == Seq(1L, 2L, 4L))
    s2.sql(s"DELETE FROM $t WHERE cents NOT IN (100, 300)")
    assert(s2.sql(s"SELECT k FROM $t ORDER BY k").collect().map(_.getLong(0)).toSeq
      == Seq(1L, 2L, 4L)) // NULLs survive NOT IN too
    // and a predicate OVERWRITE with a NOT shape replaces only TRUE rows
    s2.sql(s"INSERT INTO $t VALUES (5,'B',500)")
    s2.sql(s"""INSERT INTO $t REPLACE WHERE NOT (cents <=> 100) AND status = 'B'
               VALUES (9,'B',900)""")
    assert(s2.sql(s"SELECT k FROM $t ORDER BY k").collect().map(_.getLong(0)).toSeq
      == Seq(1L, 2L, 9L)) // k=4 (NULL, B): <=> is two-valued, so it IS replaced
  }

  test("pushed aggregates skip NULL cells and serve NULL for all-NULL groups") {
    val s2 = catSession()
    val t = s"graft_ddl.ns.aggnull_${runTag()}"
    s2.sql(s"CREATE TABLE $t (k BIGINT, status STRING, cents BIGINT) PARTITIONED BY (status)")
    s2.sql(s"""INSERT INTO $t VALUES
      (1,'A',100),(2,'A',NULL),(3,'A',-5),(4,'B',NULL),(5,'B',NULL)""")
    val df = s2.sql(
      s"""SELECT status, count(*) AS n, min(cents) AS mn, max(cents) AS mx,
                 sum(cents) AS sm
          FROM $t GROUP BY status ORDER BY status""")
    assert(df.queryExecution.executedPlan.toString.contains("pushedAggregates="),
      df.queryExecution.executedPlan.toString)
    val rows = df.collect().map(r => (r.getString(0), r.getLong(1),
      if (r.isNullAt(2)) None else Some(r.getLong(2)),
      if (r.isNullAt(3)) None else Some(r.getLong(3)),
      if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSeq
    // A: NULL skipped (min -5, not 0-coerced); B: all-NULL group → NULLs
    assert(rows == Seq(
      ("A", 3L, Some(-5L), Some(100L), Some(95L)),
      ("B", 2L, None, None, None)), rows.toString)
  }

  test("pushed top-N honors the pushed null ordering over nullable sort keys") {
    val s2 = catSession()
    val t = s"graft_ddl.ns.topnull_${runTag()}"
    s2.sql(s"CREATE TABLE $t (k BIGINT, status STRING, cents BIGINT) PARTITIONED BY (status)")
    s2.sql(s"INSERT INTO $t VALUES (1,'A',100),(2,'A',NULL),(3,'B',300),(4,'B',NULL),(5,'B',50)")
    def topK(order: String): Seq[Long] = {
      val df = s2.sql(s"SELECT k FROM $t ORDER BY $order LIMIT 3")
      assert(df.queryExecution.executedPlan.toString.contains("pushedTopN="),
        df.queryExecution.executedPlan.toString)
      df.collect().map(_.getLong(0)).toSeq
    }
    // Spark defaults: ASC = NULLS FIRST, DESC = NULLS LAST
    assert(topK("cents DESC") == Seq(3L, 1L, 5L))
    assert(topK("cents ASC NULLS LAST") == Seq(5L, 1L, 3L))
    assert(topK("cents ASC").toSet == Set(2L, 4L, 5L)) // two NULL rows tie ahead of 50
    assert(topK("cents DESC NULLS FIRST").toSet == Set(2L, 4L, 3L))
  }

  test("RENAME/DROP COLUMN refuse under CHECK-constraint and identity anchors; substring near-misses allowed") {
    val s2 = catSession()
    val t = s"graft_ddl.ns.colguard_${runTag()}"
    s2.sql(s"""CREATE TABLE $t (id BIGINT GENERATED ALWAYS AS IDENTITY,
               k BIGINT, okey BIGINT, status STRING, cents BIGINT,
               CONSTRAINT pos_cents CHECK (cents >= 0))
               PARTITIONED BY (status)""")
    // CHECK-referenced column: dropping would leave an unresolvable guard
    val e1 = intercept[Exception] { s2.sql(s"ALTER TABLE $t DROP COLUMN cents") }
    assert(e1.getMessage.contains("CHECK constraint"), e1.getMessage)
    val e2 = intercept[Exception] {
      s2.sql(s"ALTER TABLE $t RENAME COLUMN cents TO pennies") }
    assert(e2.getMessage.contains("CHECK constraint"), e2.getMessage)
    // identity column: renaming would silently no-op the sequence fill
    val e3 = intercept[Exception] {
      s2.sql(s"ALTER TABLE $t RENAME COLUMN id TO row_id") }
    assert(e3.getMessage.contains("identity"), e3.getMessage)
    // `k` is a SUBSTRING of `okey` in no stored expression sense: the
    // parsed-reference guard must allow touching it
    s2.sql(s"ALTER TABLE $t RENAME COLUMN k TO kk")
    s2.sql(s"ALTER TABLE $t DROP COLUMN kk")
    assert(!s2.table(t).schema.fieldNames.contains("kk"))
    // after DROP CONSTRAINT the column is free
    s2.sql(s"ALTER TABLE $t DROP CONSTRAINT pos_cents")
    s2.sql(s"ALTER TABLE $t DROP COLUMN cents")
    assert(!s2.table(t).schema.fieldNames.contains("cents"))
  }

  test("REPLACE TABLE purges the old incarnation's CHECK/generated contracts") {
    val s2 = catSession()
    val t = s"graft_ddl.ns.replmeta_${runTag()}"
    s2.sql(s"""CREATE TABLE $t (k BIGINT, status STRING, cents BIGINT,
               g BIGINT GENERATED ALWAYS AS (cents DIV 100),
               CONSTRAINT pos_cents CHECK (cents >= 0))
               PARTITIONED BY (status)""")
    s2.sql(s"INSERT INTO $t (k, status, cents) VALUES (1, 'A', 100)")
    // new incarnation: same column names, NO constraints, NO generation
    s2.sql(s"""REPLACE TABLE $t USING graft PARTITIONED BY (status)
               AS SELECT 1L AS k, 'A' AS status, 100L AS cents, 7L AS g""")
    // a write that violates the OLD check and contradicts the OLD
    // generation expression must now be admitted
    s2.sql(s"INSERT INTO $t VALUES (2, 'B', -500, 99)")
    val rows = s2.sql(s"SELECT k, cents, g FROM $t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows == Seq((1L, 100L, 7L), (2L, -500L, 99L)))
  }

  test("unknown procedure refuses with the available list") {
    val s2 = catSession()
    val e = intercept[Exception] {
      s2.sql("CALL graft_ddl.system.vacuum('ns.t')")
    }
    // Spark wraps the catalog's refusal in FAILED_TO_LOAD_ROUTINE; the
    // cause chain must still name the available procedures
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(m =>
      m.contains("not found") && m.contains("expire_history")),
      s"got: ${chain(e)}")
  }

  test("a staged create (CTAS) honors writeDistribution: served back, clustered commit, bad values refused") {
    val s2 = catSession()
    import s2.implicits._
    import org.apache.spark.sql.functions.col
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    val name = s"ctascw_${runTag()}"
    val t = s"graft_ddl.ns.$name"
    // four statuses mixed in every input task: only a clustered write
    // keeps each status inside one task
    val src = (1L to 40L).map(i => (i, "ABCD".substring((i % 4).toInt, (i % 4).toInt + 1), i))
      .toDF("k", "status", "cents").repartition(4)
    src.writeTo(t).partitionedBy(col("status"))
      .tableProperty("writeDistribution", "clustered").create()
    val props = s2.sql(s"SHOW TBLPROPERTIES $t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("writeDistribution").contains("clustered"), props)
    val (_, _, pairs, groups) = MemTable.lastCommitShape(s"cat!graft_ddl!ns!$name")
    assert(groups == 4 && pairs == groups,
      s"CTAS commit split partitions across tasks: $pairs group-task pairs, $groups groups")
    src.createOrReplaceTempView(s"${name}_src")
    for ((props, refusal) <- Seq(
        ("PARTITIONED BY (status) TBLPROPERTIES ('writeDistribution'='banana')",
          "unsupported writeDistribution 'banana'"),
        ("TBLPROPERTIES ('writeDistribution'='clustered')",
          "writeDistribution=clustered requires PARTITIONED BY"))) {
      val bad = s"graft_ddl.ns.ctasbad_${runTag()}"
      val e = intercept[Exception] {
        s2.sql(s"CREATE TABLE $bad USING graft $props AS SELECT * FROM ${name}_src")
      }
      assert(chain(e).exists(_.contains(refusal)), s"got: ${chain(e)}")
      assert(!s2.catalog.tableExists(bad), s"refused CTAS left $bad behind")
    }
  }

  test("connector custom metrics reach the execution's SQL metrics in the status store") {
    val s2 = catSession()
    import s2.implicits._
    val t = s"graft_ddl.ns.metrics_${runTag()}"
    s2.sql(s"CREATE TABLE $t (k BIGINT, status STRING, cents BIGINT) PARTITIONED BY (status)")
    (1L to 30L).map(i => (i, if (i % 3 == 0) "F" else "O", i))
      .toDF("k", "status", "cents").writeTo(t).append()
    val store = s2.sharedState.statusStore
    val before = store.executionsList().map(_.executionId).maxOption.getOrElse(-1L)
    // partition-pruned to 'F'; sum(k + cents) is not a pushable aggregate,
    // so the scan serves every F row
    s2.sql(s"SELECT sum(k + cents) FROM $t WHERE status = 'F'").collect()
    def metric(cls: Class[_]): Option[String] =
      store.executionsList().filter(_.executionId > before).flatMap { e =>
        val values = store.executionMetrics(e.executionId)
        e.metrics.filter(_.metricType.endsWith(cls.getName))
          .flatMap(m => values.get(m.accumulatorId))
      }.headOption
    // the status listener aggregates on its own thread, after the query
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    eventually(timeout(30.seconds), interval(100.millis)) {
      assert(metric(classOf[RowsServedMetric]).contains("10"))
      assert(metric(classOf[PlannedPartitionsMetric]).contains("1"))
    }
  }
}
