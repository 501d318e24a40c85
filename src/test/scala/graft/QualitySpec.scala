package graft

import org.scalatest.funsuite.AnyFunSuite

/** Quality contracts for the approximate operators — the properties the
  * DuckDB oracle cannot check (those queries are rows-only by design):
  * sketch error bounds and ANN recall against their exact twins. All
  * inputs and hash seeds are fixed, so these are deterministic assertions,
  * not flaky statistical tests.
  */
class QualitySpec extends AnyFunSuite with LocalSpark {

  private val sfDir = "/root/testdata/sf0.001"

  test("q14: HLL count-distinct within 5% of the exact answer per group") {
    // q14 folds the bound in-engine (est_ok); this pins that every group
    // row holds it and the exact side is positive
    val rows = operators.Relational.q14.build(spark, sfDir).collect()
    assert(rows.nonEmpty, "q14 returned no groups")
    rows.foreach { r =>
      assert(r.getLong(1) > 0, s"${r.getString(0)}: exact count must be positive")
      assert(r.getBoolean(2), s"${r.getString(0)}: HLL estimate drifted >5% from exact")
    }
  }

  test("s2: LSH ANN top-3 recalls >= 60% of the exact cosine top-3") {
    val exact = operators.Similarity.s1.build(spark, sfDir).collect()
      .filter(_.getLong(1) <= 3) // s1 is top-5; compare on top-3
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val ann = operators.Similarity.s2AnnTopK(spark, sfDir).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val recalls = exact.map { case (q, ex) =>
      ann.get(q).map(a => (a & ex).size.toDouble / ex.size).getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.6, s"mean ANN recall $mean over ${recalls.size} queries")
  }

  test("s25: portable LSH twin holds s2's recall floor AND a sub-corpus shortlist") {
    // s25 is hash-checked by the driver (the point of the harness); this
    // pins the two properties the hash can't state — the index still
    // RETRIEVES (recall vs s1's exact truth at s2's own floor) and still
    // PRUNES (every query's candidate set is a strict subset of the corpus)
    val exact = operators.Similarity.s1.build(spark, sfDir).collect()
      .filter(_.getLong(1) <= 3)
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val rows = operators.Similarity.s25.build(spark, sfDir).collect()
    val ann = rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(3)).toSet }
    val recalls = exact.map { case (q, ex) =>
      ann.get(q).map(a => (a & ex).size.toDouble / ex.size).getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.6, s"mean portable-LSH recall $mean over ${recalls.size} queries")
    val corpus = operators.table(spark, sfDir, "embeddings").count()
    rows.foreach { r =>
      assert(r.getLong(1) < corpus,
        s"query ${r.getLong(0)}: candidate set ${r.getLong(1)} is not sub-corpus ($corpus)")
    }
  }

  test("s5: IVF (nprobe=4 of 10 cells) recalls >= 40% of the exact cosine top-3") {
    // structural context (measured): the fixture's label column is NOT a
    // geometric clustering (within-label cosine ~ across-label ~ 0), so
    // label-cell IVF recall ~ nprobe/cells — this floor pins the plumbing
    // plus probe accounting, not quantizer quality (s2 carries the
    // high-recall ANN contract; a k-means quantizer is the production fix)
    val exact = operators.Similarity.s1.build(spark, sfDir).collect()
      .filter(_.getLong(1) <= 3)
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val ivf = operators.Similarity.s5.build(spark, sfDir).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val recalls = exact.map { case (q, ex) =>
      ivf.get(q).map(a => (a & ex).size.toDouble / ex.size).getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.4, s"mean IVF recall $mean")
  }

  test("s7: k-means-trained IVF recalls >= 60% (beats the untrained label quantizer)") {
    // same nprobe as s5 (4 of 10 cells); the trained quantizer lifts
    // measured recall 0.52 -> 0.82 because learned cells follow the data's
    // geometry and near-dup pairs co-locate — the point of IVF training
    val exact = operators.Similarity.s1.build(spark, sfDir).collect()
      .filter(_.getLong(1) <= 3)
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val got = operators.Similarity.s7AnnTopK(spark, sfDir).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val recalls = exact.map { case (q, ex) =>
      got.get(q).map(a => (a & ex).size.toDouble / ex.size).getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.6, s"mean k-means IVF recall $mean")
  }

  test("d4: the 16-bit banding guarantee — no pair with SimHash Hamming <= 3 is missed") {
    // pigeonhole: <= 3 differing bits across 4 bands leave >= 1 band
    // identical, so banding MUST surface the pair as a candidate
    import org.apache.spark.sql.functions.col
    import graft.functions.Functions.simhash64
    val sigs = operators.table(spark, sfDir, "documents")
      .select(col("doc_id"), simhash64(col("text")).as("h")).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val close = (for {
      (i, hi) <- sigs; (j, hj) <- sigs
      if i < j && java.lang.Long.bitCount(hi ^ hj) <= 3
    } yield (i, j)).toSet
    assert(close.nonEmpty, "fixture should contain hamming<=3 pairs")
    val found = operators.Dedup.d4Pairs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = close -- found
    assert(missed.isEmpty, s"banding missed guaranteed pairs: $missed")
  }

  test("d4: banding recall >= 0.9 on the full exact Hamming <= 8 truth set") {
    // beyond the <= 3 guarantee, banding is probabilistic: a pair at
    // Hamming h survives with P ~= sum over bands of (band unscathed).
    // Pin measured recall against the EXACT truth set (all-pairs over the
    // same signatures, the in-engine analogue of d7's oracle-checked twin).
    import org.apache.spark.sql.functions.col
    import graft.functions.Functions.simhash64
    val sigs = operators.table(spark, sfDir, "documents")
      .select(col("doc_id"), simhash64(col("text")).as("h")).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val truth = (for {
      (i, hi) <- sigs; (j, hj) <- sigs
      if i < j && java.lang.Long.bitCount(hi ^ hj) <= 8
    } yield (i, j)).toSet
    assert(truth.nonEmpty, "fixture should contain hamming<=8 pairs")
    val found = operators.Dedup.d4Pairs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (truth & found).size.toDouble / truth.size
    info(f"d4 recall on hamming<=8 truth: $recall%.3f (${truth.size} truth pairs)")
    assert(recall >= 0.9, f"banding recall $recall%.3f below 0.9 floor")
  }

  test("d2: MinHash-LSH finds every ground-truth pair with Jaccard >= 0.6") {
    // banding theory: 16 bands x 4 rows catches J=0.6 pairs w.p. ~0.9997;
    // with the fixed seed the fixture's high-J pairs are all caught
    val truth = operators.Dedup.d3.build(spark, sfDir).collect()
      .filter(_.getDouble(4) >= 0.6)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "fixture should contain high-Jaccard pairs")
    val found = operators.Dedup.d2Confirmed(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = truth -- found
    assert(missed.isEmpty, s"LSH missed ground-truth pairs: $missed")
    // the registry entry folds this same floor — its booleans must agree
    val fold = operators.Dedup.d2.build(spark, sfDir).collect()(0)
    assert(fold.getBoolean(2) && fold.getBoolean(3),
      s"d2 fold row disagrees with the measured recall: $fold")
  }

  test("s8: PQ/ADC (8 bytes per vector, 32x compression) recalls >= 60% of exact top-3") {
    val exact = operators.Similarity.s1.build(spark, sfDir).collect()
      .filter(_.getLong(1) <= 3)
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val pq = operators.Similarity.s8AnnTopK(spark, sfDir).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val recalls = exact.map { case (q, ex) =>
      pq.get(q).map(a => (a & ex).size.toDouble / ex.size).getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.6, s"mean PQ/ADC recall $mean over ${recalls.size} queries")
  }

  test("s9: IVF-PQ recalls >= 60% of exact top-3 while scoring < 50% of the corpus") {
    val exact = operators.Similarity.s1.build(spark, sfDir).collect()
      .filter(_.getLong(1) <= 3)
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val (scored, result) = operators.Similarity.ivfPqParts(spark, sfDir)
    val got = result.collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val recalls = exact.map { case (q, ex) =>
      got.get(q).map(a => (a & ex).size.toDouble / ex.size).getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    // the point of composing IVF with PQ: the ADC scan is restricted to the
    // probed cells, so the per-query candidate set must be a strict
    // fraction of the corpus (s8's ADC scans 100% of it)
    val corpus = operators.table(spark, sfDir, "embeddings").count()
    val nQueries = got.size
    val frac = scored.count().toDouble / (nQueries.toDouble * (corpus - 1))
    info(f"s9 recall@3=$mean%.3f, scored fraction=$frac%.3f over $nQueries queries")
    assert(mean >= 0.6, s"mean IVF-PQ recall $mean over ${recalls.size} queries")
    assert(frac < 0.5, f"IVF-PQ scored $frac%.3f of the corpus — probing is not pruning")
  }

  test("q53: approx_percentile within 5% of the exact per-group percentiles") {
    // q53 is rows-only for the driver (sketch merge order is partitioning-
    // dependent, no portable oracle) — this floor is its independent check:
    // every per-group estimate must land within 5% of q42's exact
    // percentile on the same column. The accuracy parameter (1000) bounds
    // the RANK error at n/1000 per group, which for the fixture's price
    // distribution translates to well under 5% value error.
    // q53 folds the rank-window bounds in-engine (med_ok/p90_ok); this
    // pins that every group row holds both
    val rows = operators.Relational.q53.build(spark, sfDir).collect()
    assert(rows.nonEmpty, "q53 returned no groups")
    rows.foreach { r =>
      val key = r.getString(0)
      assert(r.getBoolean(2), s"$key: approx median outside the exact rank window")
      assert(r.getBoolean(3), s"$key: approx p90 outside the exact rank window")
    }
  }

  test("q62: DataSketches HLL estimates within 5% per group AND for the merged rollup") {
    // est_ok folds |est−exact|/exact ≤ 5% into the hash-gated output (the
    // raw estimate is sketch-version-specific); every row must hold it,
    // including the 'ALL' union-merge rollup row.
    val rows = operators.Sampling.q62.build(spark, sfDir).collect()
    assert(rows.length >= 2, "q62 must emit per-type rows plus the ALL rollup")
    assert(rows.exists(_.getString(0) == "ALL"), "missing the union-merge rollup row")
    rows.foreach { r =>
      val (key, exact, ok) = (r.getString(0), r.getLong(1), r.getBoolean(2))
      assert(exact > 0, s"$key: exact distinct count must be positive")
      assert(ok, s"$key: HLL estimate drifted >5% from exact=$exact")
    }
  }

  test("s37: PCA bounds hold and the projection matches its eigendecomposition") {
    val r = operators.Similarity.s37.build(spark, sfDir).collect()(0)
    assert(r.getLong(0) > 0 && r.getLong(1) == 8L, r.toString)
    assert(r.getBoolean(2), "top-8 eigenvalue mass under the 15% floor")
    assert(r.getBoolean(3), "measured reconstruction identity under the 15% floor")
    assert(r.getBoolean(4),
      "projection disagrees >1% with the eigendecomposition it claims")
  }

  test("jacobiEigen: recovers a known spectrum") {
    // diag(5, 2, 1) rotated by a fixed 3D rotation — eigenvalues must
    // come back (5, 2, 1) in descending order within 1e-9
    val d = Array(5.0, 2.0, 1.0)
    val theta = 0.7
    val (c, s) = (math.cos(theta), math.sin(theta))
    // rotate in the (0,1) plane: A = R diag Rᵀ
    val r = Array(Array(c, -s, 0.0), Array(s, c, 0.0), Array(0.0, 0.0, 1.0))
    val a = Array.tabulate(3, 3)((i, j) =>
      (0 until 3).map(k => r(i)(k) * d(k) * r(j)(k)).sum)
    val (eig, vecs) = operators.Similarity.jacobiEigen(a)
    (0 until 3).foreach(i => assert(math.abs(eig(i) - d(i)) < 1e-9, eig.mkString(",")))
    // eigenvector for the 5-eigenvalue must align with the rotated e0
    val dot = math.abs(vecs(0)(0) * c + vecs(0)(1) * s)
    assert(math.abs(dot - 1.0) < 1e-9, s"top eigenvector misaligned: $dot")
  }
}
