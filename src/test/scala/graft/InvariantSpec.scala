package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Structural invariants of the deterministic pipeline operators — the
  * properties the row-hash oracle implies but does not STATE. The oracle
  * proves "same answer as DuckDB"; these prove the answer has the shape the
  * operator's contract promises (packing fills chunks, mixtures hit exact
  * counts, every cluster keeps exactly one doc, envelopes tile). A future
  * edit that breaks a contract while staying cross-engine-consistent (e.g.
  * both sides drifting to a wrong threshold) fails here, not in CI's diff.
  */
class InvariantSpec extends AnyFunSuite with LocalSpark {

  private val sfDir = "/root/testdata/sf0.001"

  test("q10/q24/q43: the rows DuckDB returns at a scale where they are non-empty") {
    // all three are empty at sf0.01, where the oracle compares two empty sets
    val q24 = operators.Relational.q24.build(spark, sfDir).collect().map(_.getInt(0)).toSeq
    assert(q24 == Seq(0, 1, 2, 4, 5, 6, 7, 9, 10, 11, 14, 16, 17, 22, 23))
    val q43 = operators.Relational.q43.build(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(q43 == Seq((605L, "O", 499695.63), (988L, "O", 499705.05)))
    val q10 = operators.Relational.q10.build(spark, s"${new java.io.File(sfDir).getParent}/sf0.1").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(q10 == Seq((5000L, "Customer#000005000", "BUILDING")))
  }

  test("t12: every chunk except a source's last holds exactly 512 tokens, and fills partition the stream") {
    val rows = operators.TextAnalysis.t12.build(spark, sfDir).collect()
    val bySource = rows.groupBy(_.getString(0))
    bySource.foreach { case (src, chunks) =>
      val sorted = chunks.sortBy(_.getLong(1))
      sorted.init.foreach { r =>
        assert(r.getLong(5) == 512L,
          s"$src chunk ${r.getLong(1)}: ${r.getLong(5)} tokens (not 512)")
      }
      assert(sorted.last.getLong(5) <= 512L)
      // chunk ids are dense from 0 — no gaps in the packed stream
      assert(sorted.map(_.getLong(1)).toSeq == sorted.indices.map(_.toLong),
        s"$src chunk ids not dense")
    }
  }

  test("t13: per-language kept counts equal min(target, available) exactly") {
    val docs = operators.table(spark, sfDir, "documents")
    val avail = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val budget = 400
    val weights = Map("en" -> 0.30, "zh" -> 0.175, "es" -> 0.175,
      "de" -> 0.175, "fr" -> 0.175)
    val kept = operators.TextAnalysis.t13.build(spark, sfDir)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    weights.foreach { case (lang, w) =>
      val target = math.round(w * budget)
      val expected = math.min(target, avail.getOrElse(lang, 0L))
      assert(kept.getOrElse(lang, 0L) == expected,
        s"$lang: kept ${kept.getOrElse(lang, 0L)} != min($target, ${avail.getOrElse(lang, 0L)})")
    }
  }

  test("d8: every cluster keeps exactly one representative, and it maximizes n_chars") {
    val rows = operators.Dedup.d8.build(spark, sfDir).collect()
    val nchars = operators.table(spark, sfDir, "documents")
      .filter(col("doc_id") < 300)
      .select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.groupBy(_.getLong(1)).foreach { case (cluster, members) =>
      val keepers = members.filter(_.getBoolean(2))
      assert(keepers.length == 1, s"cluster $cluster keeps ${keepers.length}")
      val kept = keepers.head.getLong(0)
      assert(members.forall(m => nchars(kept) >= nchars(m.getLong(0))),
        s"cluster $cluster kept $kept but a longer member exists")
    }
  }

  test("t14: a document with no shared lines reassembles to its original text") {
    val out = operators.TextAnalysis.t14.build(spark, sfDir)
    val docs = operators.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val untouched = out.filter(col("n_lines") === col("kept_lines"))
      .join(docs, "doc_id")
    assert(untouched.count() > 0, "fixture has no fully-unique doc — test is vacuous")
    val broken = untouched.filter(col("text_clean") =!= col("text")).count()
    assert(broken == 0, s"$broken unaffected docs did not reassemble to their original text")
  }

  test("t16: redacted text contains no residual PII pattern; counts follow the plant rule") {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "\\+1-[0-9]{3}-[0-9]{4}"
    val out = operators.TextAnalysis.t16.build(spark, sfDir)
    val residual = out.filter(
      regexp_count(col("text_redacted"), lit(email)) > 0 ||
        regexp_count(col("text_redacted"), lit(phone)) > 0).count()
    assert(residual == 0, s"$residual docs still contain PII after redaction")
    val wrong = out.filter(
      (col("doc_id") % 7 === 0 && col("n_redacted") =!= 2) ||
        (col("doc_id") % 7 =!= 0 && col("n_redacted") =!= 0)).count()
    assert(wrong == 0, s"$wrong docs have counts inconsistent with the plant rule")
  }

  test("q76: every z-order bucket envelope tiles to <= 64 in BOTH dimensions") {
    // 16 buckets over a 256x256 key space = 64x64 Morton tiles; a sort by
    // one key would leave the other dimension spanning ~the full domain
    val rows = operators.Warehouse.q76.build(spark, sfDir).collect()
    rows.foreach { r =>
      val (b, xSpan) = (r.getLong(0), r.getLong(3) - r.getLong(2))
      val ySpan = r.getLong(5) - r.getLong(4)
      assert(xSpan <= 63 && ySpan <= 63,
        s"bucket $b envelope spans x=$xSpan y=$ySpan (not a 64x64 tile)")
    }
  }

  test("m7: alignment scores are valid cosines in [-1, 1]") {
    val bad = operators.Multimodal.m7.build(spark, sfDir)
      .filter(col("align") < -1.0 || col("align") > 1.0).count()
    assert(bad == 0, s"$bad out-of-range cosine scores")
  }

  test("t18: stage attribution is consistent with keep, and dup stage matches d1's survivor set") {
    val rows = operators.TextAnalysis.t18.build(spark, sfDir).collect()
    rows.foreach { r =>
      assert(r.getBoolean(2) == (r.getString(1) == "keep"))
    }
    // d1 keeps the smallest doc_id per canonical key; t18's 'dup' stage
    // must be exactly the complement of that survivor set
    val survivors = operators.Dedup.d1.build(spark, sfDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val dupDocs = rows.filter(_.getString(1) == "dup").map(_.getLong(0)).toSet
    val allDocs = rows.map(_.getLong(0)).toSet
    assert(dupDocs == allDocs -- survivors,
      s"dup stage (${dupDocs.size}) != non-survivors (${(allDocs -- survivors).size})")
  }

  test("d11: no duplicate cluster straddles the train/test boundary") {
    val rows = operators.Dedup.d11.build(spark, sfDir).collect()
    val byCluster = rows.groupBy(_.getLong(1))
    byCluster.foreach { case (cluster, members) =>
      assert(members.map(_.getString(2)).distinct.length == 1,
        s"cluster $cluster straddles splits — evaluation leakage")
    }
    // both splits are non-empty (a degenerate all-train split would
    // trivially satisfy no-straddle)
    val splits = rows.map(_.getString(2)).distinct.toSet
    assert(splits == Set("train", "test"), s"splits: $splits")
  }

  test("q86: engagement monotonicity — dau ≤ wau ≤ mau every day, windows only widen") {
    val rows = operators.EventWindows.q86.build(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (dau, wau, mau) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(dau >= 1 && dau <= wau && wau <= mau,
        s"day ${r.get(0)}: dau=$dau wau=$wau mau=$mau — a wider window lost users")
    }
  }

  test("q88: skew report percentile ordering — p50 ≤ p90 ≤ p99 ≤ max ≤ total") {
    val m = operators.Warehouse.q88.build(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("p50_rows") <= m("p90_rows"), m.toString)
    assert(m("p90_rows") <= m("p99_rows"), m.toString)
    assert(m("p99_rows") <= m("max_rows"), m.toString)
    assert(m("max_rows") == m("top1_rows"), "max must equal the top heavy hitter")
    assert(m("top1_rows") >= m("top2_rows") && m("top2_rows") >= m("top3_rows"), m.toString)
    assert(m("n_keys") <= m("total_rows"), m.toString)
  }

  test("d13: closure accounting — every triangle contributes exactly 3 closed wedges") {
    val r = operators.Dedup.d13.build(spark, sfDir).head()
    val (tri, wedges, closure) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(tri * 3 <= wedges || wedges == 0,
      s"$tri triangles need ${tri * 3} wedges, only $wedges exist")
    if (wedges > 0)
      assert(closure == tri * 3 * 10000 / wedges, s"closure=$closure tri=$tri wedges=$wedges")
  }

  test("q91: both attribution models conserve total purchase revenue exactly") {
    val rows = operators.EventWindows.q91.build(spark, sfDir).collect()
    val byModel = rows.groupBy(_.getString(0))
    assert(byModel.keySet == Set("first_touch", "last_touch"))
    // revenue is DECIMAL-exact in cents, so the per-model totals must be
    // IDENTICAL — attribution reassigns revenue, it never creates or
    // destroys it
    val totals = byModel.view.mapValues(_.map(r =>
      math.round(r.getDouble(3) * 100)).sum).toMap
    assert(totals("first_touch") == totals("last_touch"),
      s"models disagree on total revenue: $totals")
    val counts = byModel.view.mapValues(_.map(_.getLong(2)).sum).toMap
    assert(counts("first_touch") == counts("last_touch"),
      s"models disagree on purchase count: $counts")
  }

  test("q92: every flagged event has the contract's baseline support") {
    val rows = operators.EventWindows.q92.build(spark, sfDir).collect()
    assert(rows.nonEmpty, "z-score screen returned no outliers at sf0.001")
    rows.foreach { r =>
      assert(r.getLong(3) >= 5L, s"event ${r.getLong(0)}: n_prior ${r.getLong(3)} < 5")
      assert(math.abs(r.getDouble(4)) > 2.0,
        s"event ${r.getLong(0)}: |z| ${r.getDouble(4)} not > 2")
    }
  }

  test("q93: bins are contiguous, ordered, and conserve the inventory") {
    val rows = operators.Warehouse.q93.build(spark, sfDir).collect()
    val nOrders = operators.table(spark, sfDir, "orders").count()
    assert(rows.map(_.getLong(4)).sum == nOrders, "bins must conserve total rows")
    // day ranges don't overlap and appear in bin order
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getLong(0) < b.getLong(0))
        assert(a.getDate(2).before(b.getDate(1)),
          s"bin ${a.getLong(0)} last_day not before bin ${b.getLong(0)} first_day")
      case _ =>
    }
    // fill_bp is the definitional floor(n_rows·10000/target) — not a
    // re-derived float
    rows.foreach(r => assert(r.getLong(5) == r.getLong(4) * 10000 / 1000,
      s"bin ${r.getLong(0)}: fill_bp ${r.getLong(5)} != ${r.getLong(4) * 10}"))
  }

  test("s15: mutual edges are symmetric-by-construction and ordered") {
    val edges = operators.Similarity.s15.build(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.forall { case (a, b) => a < b }, "edges must be emitted i<j")
    assert(edges.distinct.length == edges.length, "duplicate edges")
  }

  test("m10: hash fits 56 bits; near-dups are a subset of band mates") {
    val rows = operators.Multimodal.m10.build(spark, sfDir).collect()
    rows.foreach { r =>
      val h = r.getLong(1)
      assert(h >= 0L && h < (1L << 56), s"doc ${r.getLong(0)}: hash out of range")
      assert(r.getLong(3) <= r.getLong(2),
        s"doc ${r.getLong(0)}: near-dups exceed band mates")
    }
  }

  test("s16: recall and candidate volume are monotone non-decreasing in nprobe") {
    val rows = operators.Similarity.s16.build(spark, sfDir).collect()
      .sortBy(_.getLong(0)) // nprobe asc
    assert(rows.length == 4)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(2) <= b.getLong(2),
        s"recall fell ${a.getLong(0)}→${b.getLong(0)}: ${a.getLong(2)} > ${b.getLong(2)}")
      assert(a.getLong(3) <= b.getLong(3),
        s"candidate volume fell ${a.getLong(0)}→${b.getLong(0)}")
    }
    rows.foreach(r => assert(r.getLong(2) <= 10000L, s"recall_bp > 10000: $r"))
  }

  test("t24: duplicate grams never exceed total grams; fraction stays in [0, 10000]") {
    operators.TextAnalysis.t24.build(spark, sfDir).collect().foreach { r =>
      val (n, dup, bp) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(dup <= n, s"doc ${r.getLong(0)}: dup_grams $dup > n_grams $n")
      assert(bp >= 0 && bp <= 10000, s"doc ${r.getLong(0)}: dup_frac_bp $bp")
      assert(bp == dup * 10000 / n, s"doc ${r.getLong(0)}: bp arithmetic")
    }
  }

  test("q94: skipped + scanned accounting closes against the 16-file layout") {
    val o = operators.table(spark, sfDir, "orders").count()
    operators.Warehouse.q94.build(spark, sfDir).collect().foreach { r =>
      assert(r.getLong(2) == 16L, s"n_files: $r")
      assert(r.getLong(3) <= 16L, s"n_skipped > n_files: $r")
      assert(r.getLong(4) <= o, s"rows_scanned exceeds the table: $r")
      // zero skipped files must mean the full table scans
      if (r.getLong(3) == 0L) assert(r.getLong(4) == o, s"0 skipped but partial scan: $r")
    }
  }

  test("s17: new-batch assignment conserves the incoming count across cells") {
    val emb = operators.table(spark, sfDir, "embeddings")
    val incoming = emb.filter(col("vec_id") % 4 === 0).count()
    val rows = operators.Similarity.s17.build(spark, sfDir).collect()
    assert(rows.map(_.getLong(2)).sum == incoming,
      s"sum(n_new) != incoming batch size $incoming")
    rows.foreach { r =>
      assert(r.getLong(3) == r.getLong(2) * 10000 / r.getLong(1),
        s"cell ${r.getLong(0)}: growth_bp arithmetic")
      if (!r.isNullAt(4))
        assert(math.abs(r.getLong(4)) <= 10000L, s"cell ${r.getLong(0)}: cosine out of range")
    }
  }

  test("d15: every verdict names an existing-side doc for a new-side doc, estimate >= 0.5") {
    operators.Dedup.d15.build(spark, sfDir).collect().foreach { r =>
      assert(r.getLong(0) % 4 == 0, s"new_id ${r.getLong(0)} not in the incoming slice")
      assert(r.getLong(1) % 4 != 0, s"dup_of ${r.getLong(1)} not in the existing corpus")
      assert(r.getLong(2) >= 8 && r.getLong(2) <= 16, s"n_equal out of range: $r")
    }
  }

  test("t25: confusion matrix conserves the corpus and bounds per-cell agreement") {
    val docs = operators.table(spark, sfDir, "documents").count()
    val rows = operators.TextAnalysis.t25.build(spark, sfDir).collect()
    assert(rows.map(_.getLong(2)).sum == docs, "matrix cells don't sum to the corpus")
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2) && r.getLong(4) <= r.getLong(2),
        s"cell (${r.getString(0)}, ${r.getString(1)}): correct counts exceed n")
      // off-diagonal cells: at most one method can match the label per doc
      if (r.getString(0) != r.getString(1))
        assert(r.getLong(3) + r.getLong(4) <= r.getLong(2),
          s"off-diagonal cell (${r.getString(0)}, ${r.getString(1)}): both methods right?")
    }
  }

  test("q100: priority sample is weight-biased — sampled mean weight exceeds corpus mean") {
    val sample = operators.Sampling.q100.build(spark, sfDir).collect()
    assert(sample.length == 50)
    assert(sample.forall(_.getLong(2) > 0), "non-positive priority")
    val sampleMean = sample.map(_.getLong(1)).sum.toDouble / sample.length
    val corpusMean = operators.table(spark, sfDir, "documents")
      .agg(avg(col("n_chars"))).head().getDouble(0)
    // inclusion ∝ weight: the length-weighted sample must skew long
    assert(sampleMean > corpusMean,
      s"sample mean $sampleMean not above corpus mean $corpusMean — not weight-proportional")
  }

  test("q102: the filled series has exactly days×types rows and zero-count days survive") {
    val rows = operators.EventWindows.q102.build(spark, sfDir).collect()
    val days = rows.map(_.getDate(0).toLocalDate).distinct.sorted
    val types = rows.map(_.getString(1)).distinct
    assert(rows.length == days.length * types.length,
      s"${rows.length} rows != ${days.length} days × ${types.length} types — scaffold leaked")
    // the scaffold is gap-free: every calendar day between min and max present
    val span = java.time.temporal.ChronoUnit.DAYS.between(days.head, days.last) + 1
    assert(days.length.toLong == span, s"${days.length} days over a $span-day span")
    // delta is defined everywhere except each type's first day
    assert(rows.count(_.isNullAt(3)) == types.length)
  }

  test("scd2Dim: intervals chain per entity — versions dense, valid_to equals next valid_from, one current row") {
    val rows = operators.Warehouse.scd2Dim(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (user, hist) =>
      val sorted = hist.sortBy(_.getLong(4))
      assert(sorted.map(_.getLong(4)).toSeq == (1L to sorted.length).toSeq,
        s"user $user: versions not dense")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          // timestamp_ntz surfaces as LocalDateTime — compare generically
          assert(a.get(3) == b.get(2),
            s"user $user v${a.getLong(4)}: valid_to != next valid_from")
          assert(a.getString(1) != b.getString(1),
            s"user $user v${a.getLong(4)}: consecutive rows share state (run not collapsed)")
        case _ => ()
      }
      assert(sorted.count(_.getBoolean(5)) == 1 && sorted.last.getBoolean(5),
        s"user $user: exactly the last row must be current")
    }
  }

  test("t28: vocabulary and token counts grow monotonically, vocab sublinear in tokens by decile 10") {
    val rows = operators.TextAnalysis.t28.build(spark, sfDir).collect().sortBy(_.getLong(0))
    assert(rows.length == 10)
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getLong(2) >= a.getLong(2) && b.getLong(3) >= a.getLong(3) &&
          b.getLong(4) >= a.getLong(4),
          s"decile ${b.getLong(0)}: growth not monotone")
      case _ => ()
    }
    // Heaps: vocabulary grows slower than tokens (β < 1) — by the last
    // decile the vocab/token ratio must have dropped from the first's
    val (first, last) = (rows.head, rows.last)
    assert(last.getLong(4).toDouble / last.getLong(3) <
      first.getLong(4).toDouble / first.getLong(3),
      "vocab/token ratio did not fall — no sublinear growth")
  }

  test("s18: every vector saturates at least its absmax component; errors bounded by scale/2") {
    val rows = operators.Similarity.s18.build(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // the component at ±absmax quantizes to exactly ±127 by construction
      assert(r.getLong(4) >= 1, s"vec ${r.getLong(0)}: no saturated component")
      // absmax rounding error ≤ scale/2 (+ rounding slack on both columns)
      assert(r.getDouble(2) <= r.getDouble(1) / 2 + 1e-6,
        s"vec ${r.getLong(0)}: max_err ${r.getDouble(2)} > scale/2")
    }
  }

  test("s19: PageRank mass is conserved — ranks sum to 1 over the mutual graph") {
    val rows = operators.Similarity.s19.build(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val mass = rows.map(_.getDouble(2)).sum
    // no dangling nodes ⇒ each iteration preserves total mass exactly;
    // tolerance covers the 8-decimal output rounding × node count
    assert(math.abs(mass - 1.0) < rows.length * 1e-8 + 1e-6,
      s"rank mass $mass != 1")
    assert(rows.forall(_.getDouble(2) > 0), "non-positive rank")
    assert(rows.forall(r => r.getLong(1) >= 1 && r.getLong(1) <= 3),
      "degree outside [1,3] in a mutual top-3 graph")
  }

  test("t29: Bloom pre-screen has no false negatives — exact hits ⊆ bloom hits per doc") {
    val rows = operators.TextAnalysis.t29.build(spark, sfDir).collect()
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2),
        s"doc ${r.getLong(0)}: exact ${r.getLong(3)} > bloom ${r.getLong(2)} — a false negative")
      assert(r.getLong(4) == r.getLong(2) - r.getLong(3), "FP arithmetic broken")
      assert(r.getLong(2) <= r.getLong(1), "more hits than grams")
    }
    // the filter must also CATCH every exactly-contaminated doc t10-style
    val exactDocs = rows.filter(_.getLong(3) > 0).map(_.getLong(0)).toSet
    val flagged = rows.map(_.getLong(0)).toSet
    assert(exactDocs.subsetOf(flagged))
  }

  test("s20: int8 recall@10 is bounded and high — compression must not wreck retrieval") {
    val rows = operators.Similarity.s20.build(spark, sfDir).collect()
    assert(rows.length == 20)
    rows.foreach(r => assert(r.getLong(1) >= 0 && r.getLong(1) <= 10))
    val mean = rows.map(_.getLong(1)).sum.toDouble / rows.length
    // 8-bit absmax quantization of 64-dim vectors loses ~0.4% dot-product
    // precision — recall@10 collapsing below 8 means the quantizer broke
    assert(mean >= 8.0, s"mean recall@10 $mean < 8 — int8 path degraded")
  }

  test("d18: P/R arithmetic is sound and the S-curve never misses above-threshold pairs badly") {
    val r = operators.Dedup.d18.build(spark, sfDir).head()
    val (cand, truth, tp) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(tp <= cand && tp <= truth, "more true positives than either set")
    assert(r.getLong(3) == tp * 10000 / cand && r.getLong(4) == tp * 10000 / truth)
    // 16 minhashes at J ≥ 0.5 collide in ≥1 of 4 bands with prob ≥ 1−(1−0.5⁴)⁴
    // ≈ 23% per pair floor — in practice fixture truth pairs are near-exact
    // dupes, so recall below 80% means the banding or signatures broke
    assert(r.getLong(4) >= 8000, s"recall ${r.getLong(4)}bp collapsed")
  }

  test("m12: per-doc histogram counts sum to the payload length") {
    val rows = operators.Multimodal.m12.build(spark, sfDir).collect()
    val byDoc = rows.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(3)).sum).toMap
    val lens = operators.table(spark, sfDir, "documents")
      .select(col("doc_id"), length(col("text")).cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byDoc.keySet == lens.keySet)
    byDoc.foreach { case (d, n) =>
      assert(n == lens(d), s"doc $d: histogram mass $n != ${lens(d)} chars")
    }
    assert(rows.forall(r => r.getLong(2) >= 0 && r.getLong(2) < 8))
  }

  test("q107: peak bounded by the user's event count, reached at one of their event instants") {
    val rows = operators.EventWindows.q107.build(spark, sfDir).collect()
    val byUser = operators.events(spark, sfDir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), collect_set(col("ts").cast("timestamp_ntz")).as("ts"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getSeq[java.time.LocalDateTime](2).toSet))
      .toMap
    assert(rows.length == byUser.size, "one row per user with events")
    rows.foreach { r =>
      val (n, ts) = byUser(r.getLong(0))
      val peak = r.getLong(1)
      assert(peak >= 1L && peak <= n, s"user ${r.getLong(0)}: peak $peak outside [1, $n]")
      // the FIRST instant at peak is always an opening boundary = an event ts
      assert(ts.contains(r.getAs[java.time.LocalDateTime](2)),
        s"user ${r.getLong(0)}: peak_at ${r.getAs[java.time.LocalDateTime](2)} is not an event instant")
    }
  }

  test("q108: bitmap popcounts equal the engine's own COUNT(DISTINCT), group by group") {
    val got = operators.Relational.q108.build(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val li = operators.table(spark, sfDir, "lineitem")
    val want = li.groupBy("l_returnflag", "l_linestatus")
      .agg(countDistinct(col("l_suppkey")).as("n")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val total = li.select(countDistinct(col("l_suppkey"))).head().getLong(0)
    assert(got - (("ALL", "ALL")) == want, "per-group bitmap counts diverge from COUNT(DISTINCT)")
    assert(got(("ALL", "ALL")) == total, "bitmap-merge rollup diverges from global COUNT(DISTINCT)")
  }

  test("t31: sketch+verify equals the exact heavy-hitter set, at more than one partitioning") {
    val exact = {
      val toks = operators.table(spark, sfDir, "documents")
        .select(explode(split(lower(col("text")), " ")).as("token"))
        .filter(length(col("token")) > 0)
      val n = toks.count()
      toks.groupBy("token").agg(count(lit(1)).as("n")).collect()
        .collect { case r if r.getLong(1) * 200 > n => r.getString(0) -> r.getLong(1) }
        .toMap
    }
    val got = operators.TextAnalysis.t31.build(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == exact, "MG candidates + exact verify diverge from the true heavy hitters")
    // the sketch is partitioning-dependent; the ANSWER must not be
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    val again =
      try operators.TextAnalysis.t31.build(spark, sfDir).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      finally spark.conf.set("spark.sql.shuffle.partitions", saved)
    assert(again == exact, "heavy-hitter answer depends on partitioning")
  }

  test("q109: digest-pruned diff equals the unpruned full diff, and pruning actually prunes") {
    val pruned = operators.Warehouse.q109.build(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val orders = operators.table(spark, sfDir, "orders")
      .select(col("o_orderkey").as("key"), col("o_totalprice").as("price"))
    val a = orders.filter(col("key") % 883 =!= 0)
    val b = orders.filter(col("key") % 997 =!= 0)
      .withColumn("price", when(col("key") % 499 === 0, col("price") + 1.0d).otherwise(col("price")))
    val full = a.select(col("key"), col("price").as("pa"))
      .join(b.select(col("key"), col("price").as("pb")), Seq("key"), "full_outer")
      .filter(col("pa").isNull || col("pb").isNull || col("pa") =!= col("pb"))
      .select(col("key"), when(col("pb").isNull, "missing_in_b")
        .when(col("pa").isNull, "missing_in_a").otherwise("mismatch").as("st"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(pruned == full, "bucket pruning changed the diff")
    // divergent buckets must be a strict minority at fixture drift density
    val nDivergent = a.select(pmod(xxhash64(col("key")), lit(4096)).as("bkt"))
      .where(col("key") % 499 === 0 || col("key").isin(full.map(_._1).toSeq: _*))
      .select("bkt").distinct().count()
    assert(nDivergent < 2048, s"$nDivergent of 4096 buckets divergent — pruning is a no-op")
  }

  test("d19: every synthesized variant family folds to one canonical group kept at the seed") {
    val rows = operators.Dedup.d19.build(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val seeds = operators.table(spark, sfDir, "documents")
      .filter(col("doc_id") % 50 === 0).select("doc_id").collect().map(_.getLong(0)).toSet
    // every seed's family (raw + uppercased + punct-mangled) collapses to
    // one group whose keeper is the seed itself, 3 copies
    seeds.foreach { s =>
      assert(rows.contains(s), s"seed $s: variant family not detected")
      val (copies, variants) = rows(s)
      assert(copies == 3L, s"seed $s: $copies copies, expected 3")
      assert(variants >= 2L && variants <= 3L, s"seed $s: $variants raw variants")
    }
    // and nothing else duplicates in the fixture corpus
    assert(rows.keySet == seeds, "unexpected duplicate groups beyond the synthesized families")
  }

  test("q110: disjoint-field updates merge, same-field divergence conflicts, deletes agree") {
    val rows = operators.Warehouse.q110.build(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getString(1), Option(r.getString(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    val bal77 = operators.table(spark, sfDir, "customer")
      .filter(col("c_custkey") === 77).select(operators.dec2(col("c_acctbal")))
      .head().getDecimal(0)
    // key 77 = 7·11: A touched segment, B touched balance — FIELD-level
    // merge combines them where row-level diffing would cry conflict
    val (a77, seg77, b77) = (rows(77)._1, rows(77)._2, rows(77)._3)
    assert(a77 == "update" && seg77.contains("MACHINERY"), s"key 77: $a77/$seg77")
    val want77 = bal77.add(new java.math.BigDecimal(50))
      .movePointRight(2).longValueExact()
    assert(b77.contains(want77), s"key 77: balance ${b77} != base+50 cents $want77")
    // key 91 = 7·13: both sides set segment, differently — a true conflict
    assert(rows(91) == (("conflict_field", None, None)), s"key 91: ${rows(91)}")
    // global shape: updates always carry merged values, conflicts never do
    rows.values.foreach {
      case ("update", seg, bal)   => assert(seg.isDefined && bal.isDefined)
      case (a, seg, bal) if a.startsWith("conflict") || a == "delete" =>
        assert(seg.isEmpty && bal.isEmpty, s"$a row leaked merged values")
      case ("insert_a", seg, _)   => assert(seg.contains("NEW_A"))
      case ("insert_b", seg, _)   => assert(seg.contains("NEW_B"))
      case other                  => fail(s"unexpected action $other")
    }
  }

  test("s21: blocked heap top-k is row-identical to s1's window plan, twin contract") {
    val s1r = operators.Similarity.s1.build(spark, sfDir).collect().map(_.toString).toSeq
    val s21r = operators.Similarity.s21.build(spark, sfDir).collect().map(_.toString).toSeq
    assert(s21r == s1r, "blocked top-k diverges from the brute-force window plan")
    // repartitioning the corpus must not change which rows survive the heaps
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    val again =
      try operators.Similarity.s21.build(spark, sfDir).collect().map(_.toString).toSeq
      finally spark.conf.set("spark.sql.shuffle.partitions", saved)
    assert(again == s1r, "blocked top-k depends on partitioning")
  }

  test("q111: 32 buckets tile the value axis, occupancy balanced, mass conserved") {
    val rows = operators.Warehouse.q111.build(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val total = operators.table(spark, sfDir, "orders").count()
    assert(rows.map(_._1).toSeq == (0L until 32L), "bucket ids not dense 0..31")
    assert(rows.map(_._2).sum == total, "rows lost or duplicated in assignment")
    // equi-depth: worst bucket within 2x of best (ties at the money grain
    // can deviate occupancy slightly; gross imbalance means the split
    // points are wrong)
    val counts = rows.map(_._2)
    assert(counts.max <= 2 * counts.min,
      s"imbalanced plan: ${counts.min}..${counts.max} per bucket")
    // buckets are ordered, non-overlapping value ranges
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._4 <= b._3, s"bucket ${a._1} max ${a._4} overlaps bucket ${b._1} min ${b._3}")
    }
  }

  test("q112: the Bloom prescreen prunes the fact side and admits every true match") {
    def pos(key: org.apache.spark.sql.Column, j: Int) =
      conv(substring(md5(key.cast("string")), j * 5 + 1, 5), 16, 10).cast("long") % 65536
    val dim = operators.table(spark, sfDir, "customer")
      .filter(col("c_mktsegment") === "BUILDING" && col("c_acctbal") < 0)
    val filterSet = dim
      .select(explode(array((0 to 2).map(j => pos(col("c_custkey"), j)): _*)).as("pos"))
      .distinct()
    var fact = operators.table(spark, sfDir, "orders").select(col("o_custkey"))
    val nFact = fact.count()
    for (j <- 0 to 2)
      fact = fact.join(broadcast(filterSet), pos(col("o_custkey"), j) === col("pos"), "left_semi")
    val nPassed = fact.count()
    val nTrue = operators.table(spark, sfDir, "orders")
      .join(dim, col("o_custkey") === col("c_custkey"), "left_semi").count()
    assert(nPassed >= nTrue, "Bloom false negative — impossible by construction")
    assert(nPassed < nFact / 2,
      s"prescreen passed $nPassed of $nFact fact rows — not pruning")
    // and the full query equals the plain join (oracle replays it too)
    val rows = operators.Relational.q112.build(spark, sfDir).collect()
    assert(rows.map(_.getLong(2)).sum == nTrue, "per-customer counts diverge from plain join")
  }

  test("t32: NFC shrinks every row by exactly the combining mark, and both spellings converge") {
    val rows = operators.TextAnalysis.t32.build(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) == r.getLong(1) - 1,
        s"doc ${r.getLong(0)}: NFC ${r.getLong(2)} units from ${r.getLong(1)} — expected exactly one composition")
      assert(r.getBoolean(3), s"doc ${r.getLong(0)}: decomposed form did not converge to precomposed")
    }
  }

  test("q115: mass reconciles, and Cauchy-Schwarz holds — actual never below the uniform estimate") {
    val rows = operators.Warehouse.q115.build(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val nOrd = operators.table(spark, sfDir, "orders").count()
    assert(rows.map(_._2).sum == nOrd, "order mass lost across buckets")
    rows.foreach { case (b, n, d, est, actual) =>
      assert(d <= n, s"bucket $b: more distinct keys than rows")
      assert(est == n * n / d, s"bucket $b: estimator formula drifted")
      assert(actual >= est, s"bucket $b: Σc² $actual below n²/d $est — impossible")
      assert(actual <= n * n, s"bucket $b: Σc² exceeds n²")
    }
  }

  test("q116: log replay is monotone — v2 layers on v1, tombstones delete, upserts win") {
    val rows = operators.Warehouse.q116.build(spark, sfDir).collect()
      .groupBy(_.getLong(0))
      .map { case (v, rs) => v -> rs.map(r => r.getLong(1) -> r.getString(2)).toMap }
    val (atV1, atV2) = (rows(1L), rows(2L))
    atV1.foreach { case (k, seg) =>
      assert(k % 991 != 0, s"v1 tombstoned key $k visible at as_of 1")
      if (k % 7 == 0) assert(seg == "MOR_V1", s"key $k: v1 upsert lost")
      else assert(seg != "MOR_V1", s"key $k: spurious v1 upsert")
    }
    atV2.foreach { case (k, seg) =>
      assert(k % 13 != 0 && k % 991 != 0, s"tombstoned key $k visible at as_of 2")
      if (k % 11 == 0) assert(seg == "MOR_V2", s"key $k: v2 upsert lost")
    }
    // monotonicity: a key untouched by v2 reads identically at both versions
    atV1.keySet.intersect(atV2.keySet).foreach { k =>
      if (k % 11 != 0 && k % 13 != 0)
        assert(atV1(k) == atV2(k), s"key $k drifted without a v2 delta")
    }
  }

  test("d20: sorted-neighborhood pairs are sound vs d3's all-pairs truth, full recall on the fixture") {
    val truth = operators.Dedup.d3.build(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val snm = operators.Dedup.d20.build(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val restricted = snm.filter(p => p._1 < 300 && p._2 < 300)
    // soundness is unconditional (every emitted pair passed the exact
    // verify); recall 1.0 holds on this corpus because near-dup families
    // share sort-key prefixes — the documented SNM assumption
    assert(restricted == truth,
      s"SNM window missed or invented pairs: got $restricted vs truth $truth")
  }

  test("q117: declared FKs score 10000 bp, the planted wrong pairs are rejected") {
    val rows = operators.Warehouse.q117.build(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(4), r.getBoolean(5))).toMap
    Seq("orders.o_custkey", "lineitem.l_orderkey", "lineitem.l_suppkey",
      "customer.c_nationkey").foreach { fk =>
      assert(rows(fk) == ((10000L, true)), s"$fk: ${rows(fk)} — true FK not discovered")
    }
    assert(!rows("customer.c_custkey")._2, "custkey⊆suppkey accepted — containment meter broken")
    assert(!rows("orders.o_orderkey")._2, "orderkey⊆linenumber accepted")
  }

  test("d21: every planted one-substitution variant is recovered through the count filter") {
    val pairs = operators.Dedup.d21.build(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // planted pair = (2k, 2k+1) for every third part whose dirty variant
    // survived the exact-dedup stage as its own representative; its edit
    // distance is exactly 1 by construction ('~' never occurs in a name),
    // so the count-filter theorem demands the pair appear
    val part = spark.read.parquet(s"$sfDir/part.parquet")
      .selectExpr("p_partkey", "p_name").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val clean = part.map { case (k, n) => (k * 2, n) }
    val dirty = part.filter(_._1 % 3 == 0).map { case (k, n) =>
      val h = (k % (n.length - 2)).toInt + 2
      (k * 2 + 1, n.substring(0, h - 1) + "~" + n.substring(h))
    }
    // exact-dedup representative per distinct string — a planted pair
    // surfaces between the REPRESENTATIVES of its two strings (the clean
    // name may be a repeat whose min-id lives on another part)
    val rep: Map[String, Long] =
      (clean ++ dirty).groupBy(_._2).map { case (n, ids) => n -> ids.map(_._1).min }
    val planted = part.filter(_._1 % 3 == 0).map { case (k, n) =>
      val h = (k % (n.length - 2)).toInt + 2
      val d = n.substring(0, h - 1) + "~" + n.substring(h)
      val (a, b) = (rep(n), rep(d))
      (math.min(a, b), math.max(a, b))
    }.toSet
    assert(planted.nonEmpty, "fixture produced no planted pairs")
    planted.foreach { p =>
      assert(pairs.contains(p), s"planted pair $p missed by the count filter")
    }
  }

  test("t34: novelty attribution partitions each doc's grams and doc 0-of-its-content is fully novel") {
    val rows = operators.TextAnalysis.t34.build(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    rows.foreach { case (id, n, novel, bp) =>
      assert(novel >= 0 && novel <= n, s"doc $id: novel $novel outside [0, $n]")
      assert(bp == novel * 10000 / n, s"doc $id: bp $bp inconsistent")
    }
    // the earliest doc owns everything it says
    val first = rows.minBy(_._1)
    assert(first._3 == first._2, s"doc ${first._1} not fully novel: $first")
  }

  test("s22: beam search scores O(beam·deg·hops) nodes — never the cell — and still finds most true top-1s") {
    val rows = operators.Similarity.s22.build(spark, sfDir).collect()
    val perQuery = rows.groupBy(_.getLong(0)).map { case (q, rs) =>
      (q, rs.head.getBoolean(4), rs.head.getLong(5))
    }.toSeq
    val cellSizes = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .groupBy("label").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    perQuery.foreach { case (q, _, nScored) =>
      // hop expansion bound: x1 ≤ 1+3, x2 ≤ 5+15, x3 ≤ 5+15 → |acc\self| ≤ 43
      assert(nScored <= 43, s"query $q scored $nScored nodes — walk not bounded")
      assert(nScored < cellSizes.values.min,
        s"query $q scored $nScored — no better than scanning the smallest cell")
    }
    val hits = perQuery.count(_._2)
    assert(hits >= 6, s"hit@1 only $hits/10 — graph walk quality collapsed")
  }

  test("q120: counts conserve through the delta merge and recompute fires exactly on delete-affected groups") {
    val rows = operators.Warehouse.q120.build(spark, sfDir).collect()
      .map(r => ((r.getString(0), r.getDate(1).toString), r.getLong(2), r.getBoolean(5)))
    val ev = operators.events(spark, sfDir)
      .selectExpr("event_type", "CAST(ts AS DATE) AS day", "event_id").collect()
      .map(r => ((r.getString(0), r.getDate(1).toString), r.getLong(2)))
    val postCount = ev.count(_._2 % 7 != 3) + ev.count(_._2 % 11 == 5)
    assert(rows.map(_._2).sum == postCount,
      s"count not conserved: ${rows.map(_._2).sum} vs $postCount")
    val delGroups = ev.filter(_._2 % 7 == 3).map(_._1).toSet
    rows.foreach { case (g, _, rec) =>
      assert(rec == delGroups.contains(g),
        s"group $g: recomputed=$rec but delete-present=${delGroups.contains(g)}")
    }
  }

  test("t35: per-source ranks descend in score and respect the frequency floor") {
    val rows = operators.TextAnalysis.t35.build(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3), r.getLong(4)))
    rows.groupBy(_._1).foreach { case (src, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._4).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)),
        s"$src: scores not descending in rank")
      sorted.foreach { case (_, _, a, _) => assert(a >= 3, s"$src below frequency floor") }
    }
  }

  test("t33: waterfill spends within budget, caps exactly, levels the rest to one line") {
    val rows = operators.TextAnalysis.t33.build(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val total = rows.map(_._2).sum
    val budget = total * 2 / 5
    val spent = rows.map(_._3).sum
    assert(spent <= budget, s"overspent: $spent > $budget")
    rows.foreach { case (src, sz, alloc, capped) =>
      assert(alloc <= sz, s"$src allocated beyond its size")
      if (capped) assert(alloc == sz, s"$src capped but not fully kept")
    }
    val levelled = rows.filter(!_._4).map(_._3)
    if (levelled.nonEmpty) {
      assert(levelled.distinct.length == 1, s"water line not level: ${levelled.distinct}")
      // leftover must be too small to raise the line by 1 for every
      // levelled source — otherwise τ wasn't maximal
      assert(budget - spent < levelled.length,
        s"leftover ${budget - spent} could raise τ across ${levelled.length} sources")
      val maxCapped = rows.filter(_._4).map(_._2).maxOption.getOrElse(0L)
      assert(levelled.head >= maxCapped, "a capped source exceeds the water line")
    }
  }

  test("t38: CMS never underestimates, and estimates are monotone vs a wider sketch's truth") {
    // one-sided error is THE Count-Min contract: every counter sums a
    // superset of each probed token's occurrences.
    val rows = operators.TextAnalysis.t38.build(spark, sfDir).collect()
    assert(rows.length == 30, s"expected 30 probes, got ${rows.length}")
    rows.foreach { r =>
      val (exact, est, over) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(est >= exact, s"${r.getString(0)}: CMS underestimated ($est < $exact)")
      assert(over == est - exact, "overcount column inconsistent")
    }
  }

  test("q134: KMV is exact below k, the merged ALL sketch dominates, and errors stay sane") {
    val rows = operators.Sampling.q134.build(spark, sfDir).collect()
    rows.foreach { r =>
      val (k, est, exact, bp) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      if (k < 64) assert(est == exact,
        s"${r.getString(0)}: sketch holds all $k hashes yet est=$est != exact=$exact")
      // (k-1)/U_k with k=64 has rel. stderr ~1/8; 3σ sanity bound
      assert(bp <= 4000, s"${r.getString(0)}: KMV rel error $bp bp exceeds 40%")
    }
    val all = rows.filter(_.getString(0) == "ALL")
    assert(all.length == 1, "merged ALL row missing")
  }

  test("q135: session histogram conserves events and purchases") {
    // sum(n_events * n_sessions) must equal the event count, and sessions
    // containing a purchase can never exceed total purchase events.
    val rows = operators.EventWindows.q135.build(spark, sfDir).collect()
    val ev = operators.events(spark, sfDir)
    val totalEvents = ev.count()
    val totalPurch = ev.filter(col("event_type") === "purchase").count()
    val histEvents = rows.map(r => r.getLong(0) * r.getLong(1)).sum
    val withPurch = rows.map(_.getLong(3)).sum
    assert(histEvents == totalEvents,
      s"histogram holds $histEvents events, fixture has $totalEvents")
    assert(withPurch <= totalPurch && withPurch > 0,
      s"$withPurch purchase-sessions vs $totalPurch purchase events")
  }

  test("q132: streak histogram accounts for every user-day exactly once") {
    val rows = operators.EventWindows.q132.build(spark, sfDir).collect()
    val userDays = operators.events(spark, sfDir)
      .select(col("user_id"), col("ts").cast("date")).distinct().count()
    val histDays = rows.map(r => r.getLong(0) * r.getLong(1)).sum
    assert(histDays == userDays,
      s"islands cover $histDays user-days, fixture has $userDays")
  }

  test("s24: MMR picks are distinct, lead with the argmax-rel hit, and scores never increase") {
    val rows = operators.Similarity.s24.build(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    rows.groupBy(_._1).foreach { case (qid, picks) =>
      assert(picks.length == 5, s"query $qid: ${picks.length} picks")
      assert(picks.map(_._3).distinct.length == 5, s"query $qid: duplicate picks")
      val ordered = picks.sortBy(_._2)
      // greedy's first pick maximizes pure relevance (penalty term is 0)
      assert(ordered.head._4 == picks.map(_._4).max,
        s"query $qid: pick 1 is not the most relevant candidate")
      // From pick 2 on, the max over a shrinking set of non-increasing
      // score functions is non-increasing — a violated step means the
      // penalty join dropped rows. Pick 1→2 is excluded: pick 1's score is
      // pure 0.7·rel (penalty term 0 over the empty selection), and a
      // NEGATIVE candidate-candidate cosine can lawfully push pick 2's
      // 0.7·rel − 0.3·max_sim above it (ADVICE r8).
      ordered.drop(1).sliding(2).foreach { w =>
        if (w.length == 2) {
          val (a, b) = (w(0), w(1))
          assert(b._5 <= a._5 + 1e-9,
            s"query $qid: score rose ${a._5} -> ${b._5} at pick ${b._2}")
        }
      }
    }
  }

  test("q193: the growth audit's failure classes are empty — hash sampling IS stable") {
    val rows = operators.Sampling.q193.build(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!rows.contains("3_resample_leak"),
      s"base-era rows entered the sample only after growth: $rows")
    assert(!rows.contains("4_dropped"),
      s"growth evicted previously sampled rows: $rows")
    assert(rows.getOrElse("1_stable", 0L) > 0 &&
      rows.getOrElse("2_new_from_delta", 0L) > 0, s"degenerate audit: $rows")
  }

  test("q194: all three format hops carry the identical content digest") {
    val rows = operators.Sources.q194.build(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 3, s"expected 3 hops, got ${rows.toSeq}")
    assert(rows.map(_._2).distinct.length == 1, s"row counts diverged: ${rows.toSeq}")
    assert(rows.map(_._3).distinct.length == 1, s"digests diverged: ${rows.toSeq}")
  }

  test("d26: the 1-bit estimate brackets sanely — perfect pairs agree on every bit") {
    val rows = operators.Dedup.d26.build(spark, sfDir).collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty, "no candidate pairs at fixture scale")
    rows.foreach { case (nEq, nBit, _, _) =>
      // a matching minimum always has matching parity
      assert(nBit >= nEq, s"bit agreement $nBit below full agreement $nEq")
    }
    rows.filter(_._1 == 16L).foreach { case (_, nBit, full, bit) =>
      assert(nBit == 16L && full == 10000L && bit == 10000L,
        "an identical signature must be identical in both estimators")
    }
  }

  test("q199: removing a shard moves ONLY that shard's keys — the HRW minimal-churn law") {
    val rows = operators.Warehouse.q199.build(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    rows.foreach { case (before, after, n) =>
      if (before != "s2")
        assert(before == after,
          s"$n keys moved $before -> $after without their shard dying")
      else assert(after != "s2", "keys remained on the removed shard")
    }
    assert(rows.exists(r => r._1 == "s2" && r._3 > 0),
      "degenerate fixture: the removed shard owned nothing")
  }

  test("q174: the Lorenz curve is monotone, ends at 10000 bp, and sits below the diagonal (Gini > 0)") {
    val rows = operators.Relational.q174.build(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4)))
    val shares = rows.sortBy(_._1).map(_._2)
    assert(shares.zip(shares.tail).forall { case (a, b) => a <= b },
      s"cumulative shares decreased: ${shares.toSeq}")
    assert(shares.last == 10000L, s"final cumulative share ${shares.last} != 10000")
    // below-diagonal: decile d of 10 holds < d*1000 bp when concentration exists
    val gini = rows.head._3
    assert(gini > 0 && gini < 10000, s"degenerate gini $gini")
    assert(shares.head < 1000L,
      s"bottom decile holds ${shares.head} bp — no concentration, gini suspect")
  }

  test("q176: every autocorrelation lands in [-10000, 10000] and pair counts shrink by lag") {
    val rows = operators.EventWindows.q176.build(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 7)
    rows.foreach { case (lag, _, bp) =>
      assert(math.abs(bp) <= 10000, s"lag $lag acf $bp outside [-1,1]")
    }
    val ns = rows.sortBy(_._1).map(_._2)
    assert(ns.zip(ns.tail).forall { case (a, b) => a == b + 1 },
      s"pair counts must shrink by exactly one per lag: ${ns.toSeq}")
  }

  test("q185: quartiles are ordered p25 <= p50 <= p75 within every flag") {
    val rows = operators.Relational.q185.build(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    rows.groupBy(_._1).foreach { case (flag, qs) =>
      val sorted = qs.sortBy(_._2).map(_._3)
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a <= b },
        s"flag $flag quartiles out of order: ${sorted.toSeq}")
    }
  }

  test("m19: rotation histogram partitions the samples and flips stay near half") {
    val rows = operators.Multimodal.m19.build(spark, sfDir).collect()
    rows.foreach { r =>
      val n = r.getLong(1)
      val rots = (5 to 8).map(r.getLong).sum
      assert(rots == n, s"epoch ${r.getLong(0)}: rotation counts $rots != n $n")
      val flips = r.getLong(2)
      assert(flips * 10 > n * 3 && flips * 10 < n * 7,
        s"epoch ${r.getLong(0)}: flip share $flips/$n far from uniform")
    }
  }

  test("t46: every pairwise TV distance is a valid [0, 10000] bp and the matrix covers all pairs") {
    val rows = operators.TextAnalysis.t46.build(spark, sfDir).collect()
      .map(r => r.getLong(3))
    assert(rows.length == 190, s"expected C(20,2)=190 pairs, got ${rows.length}")
    rows.foreach(bp => assert(bp >= 0 && bp <= 10000, s"TV $bp outside [0,1]"))
  }

  test("results are invariant to shuffle partitioning — the claim every doc makes, executed") {
    // the determinism story (hash-consistent sampling, DECIMAL money
    // aggregation, integer scores, unique-key sorts) all reduces to ONE
    // testable property: the same bytes out regardless of how the
    // cluster partitions the work. Representative of each discipline:
    // q1 decimal aggregation, q47 hash sampling, q100 priority sampling,
    // d1 digest dedup, q99 moment sketches.
    val qs = Seq(operators.Relational.q1, operators.Sampling.q47,
      operators.Sampling.q100, operators.Dedup.d1, operators.Relational.q99)
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    qs.foreach { q =>
      spark.conf.set("spark.sql.shuffle.partitions", saved)
      val a = q.build(spark, sfDir).collect().map(_.toString).toSeq
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val b =
        try q.build(spark, sfDir).collect().map(_.toString).toSeq
        finally spark.conf.set("spark.sql.shuffle.partitions", saved)
      assert(a == b, s"${q.name}: result depends on shuffle partitioning")
    }
  }

  test("q149: every type evaluates exactly 23 forecast days, and mae*n_days reproduces the integer error") {
    val rows = operators.EventWindows.q149.build(spark, sfDir).collect()
    assert(rows.length == 5, s"${rows.length} event types, expected 5")
    rows.foreach { r =>
      val (n, tot, mae) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      // 30-day window, lag 7 → 23 evaluable days regardless of data gaps
      // (the zero-filled spine is what guarantees this)
      assert(n == 23L, s"${r.getString(0)}: $n eval days, expected 23")
      assert(math.abs(mae * n - tot.toDouble) < 1e-6,
        s"${r.getString(0)}: mae $mae × $n ≠ $tot")
    }
  }

  test("q150: ALL row sums the cells, and integer-bp chi2 matches the float statistic within 1bp/cell") {
    val rows = operators.EventWindows.q150.build(spark, sfDir).collect()
    val (all, cells) = rows.partition(_.getString(0) == "ALL")
    assert(all.length == 1 && cells.length == 15,
      s"${cells.length} cells + ${all.length} ALL rows")
    assert(all.head.getLong(5) == cells.map(_.getLong(5)).sum,
      "ALL chi2 must merge the per-cell contributions")
    val n = all.head.getLong(2).toDouble
    val floatChi2 = cells.map { r =>
      val (o, rt, ct) = (r.getLong(2).toDouble, r.getLong(3).toDouble,
        r.getLong(4).toDouble)
      val e = rt * ct / n
      (o - e) * (o - e) / e
    }.sum
    val intChi2 = all.head.getLong(5) / 10000.0
    // each cell's bp value floors once → total may undershoot by <15 bp
    assert(intChi2 <= floatChi2 + 1e-9 && floatChi2 - intChi2 < 0.0015,
      s"integer-bp chi2 $intChi2 vs float $floatChi2")
  }

  test("m17: shard ids are contiguous per source and shard bytes conserve the corpus") {
    val rows = operators.Multimodal.m17.build(spark, sfDir).collect()
    val bySource = rows.groupBy(_.getString(0))
    val totalBytes = spark.read
      .parquet(s"$sfDir/documents.parquet")
      .selectExpr("source", "CAST(length(CAST(text AS BINARY)) AS BIGINT) AS b")
      .groupBy("source").agg(sum("b").as("tot"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    bySource.foreach { case (src, shards) =>
      val ids = shards.map(_.getLong(1)).sorted.toSeq
      assert(ids == (0L until ids.length.toLong).toSeq,
        s"$src: non-contiguous shard ids ${ids.mkString(",")}")
      assert(shards.map(_.getLong(3)).sum == totalBytes(src),
        s"$src: shard bytes don't conserve the corpus")
      // doc_id spans of consecutive shards must not interleave
      val spans = shards.sortBy(_.getLong(1)).map(r => (r.getLong(4), r.getLong(5))).toSeq
      spans.sliding(2).foreach { pair =>
        if (pair.length == 2) {
          val (aHi, bLo) = (pair(0)._2, pair(1)._1)
          assert(aHi < bLo, s"$src: shard spans interleave ($aHi ≥ $bLo)")
        }
      }
    }
  }

  test("q152: allocations conserve every order total exactly — no penny leaks either way") {
    val alloc = operators.Relational.q152.build(spark, sfDir)
      .groupBy("l_orderkey")
      .agg(sum("alloc_cents").as("a"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val totals = spark.read.parquet(s"$sfDir/orders.parquet")
      .filter("o_orderkey % 20 = 0")
      .selectExpr("o_orderkey", "CAST(round(o_totalprice * 100) AS BIGINT) AS t")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(alloc.keySet.subsetOf(totals.keySet))
    alloc.foreach { case (k, a) =>
      assert(a == totals(k), s"order $k: allocated $a ≠ total ${totals(k)}")
    }
  }

  test("s27: communities partition the corpus — every vector in exactly one, ids are members") {
    val rows = operators.Similarity.s27.build(spark, sfDir).collect()
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    assert(rows.map(_.getLong(1)).sum == corpus,
      "community sizes must sum to the corpus")
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(3),
        s"community ${r.getLong(0)}: first_node > last_node")
    }
    // propagation actually merged something: fewer communities than nodes
    assert(rows.length < corpus, "no label ever propagated")
  }

  test("t42: final answer is partitioning-independent even though the sketch is not") {
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    val a = operators.TextAnalysis.t42.build(spark, sfDir)
      .collect().map(_.toString).toSeq
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    val b =
      try operators.TextAnalysis.t42.build(spark, sfDir)
        .collect().map(_.toString).toSeq
      finally spark.conf.set("spark.sql.shuffle.partitions", saved)
    assert(a == b, "t42 result depends on shuffle partitioning")
    assert(a.nonEmpty, "no heavy hitters found at all")
  }

  test("t42: misra_gries_agg participates in real partial aggregation (partial + merge phases)") {
    val p = operators.TextAnalysis.t42.build(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_misra_gries_agg") || p.contains("misra_gries_agg"),
      s"native aggregate missing from the plan\n$p")
    // TypedImperativeAggregate plans through ObjectHashAggregate with a
    // partial phase below the exchange and a merge phase above it
    assert(p.contains("ObjectHashAggregate"),
      s"sketch aggregate did not plan through ObjectHashAggregate\n$p")
  }

  test("q214: stitching conserves events — session n_events sum to the table's row count, no session overlaps its successor") {
    val rows = operators.EventWindows.q214.build(spark, sfDir).collect()
    val total = operators.events(spark, sfDir).count()
    assert(rows.map(_.getLong(3)).sum == total,
      "stitched sessions lost or double-counted events")
    // per user, sessions are disjoint and gap-separated: next start must be
    // > 30 min after previous end (otherwise they'd be one session);
    // timestamp_ntz collects as LocalDateTime
    def ms(r: org.apache.spark.sql.Row, i: Int): Long =
      r.getAs[java.time.LocalDateTime](i)
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    rows.groupBy(_.getLong(0)).foreach { case (u, ss) =>
      val sorted = ss.sortBy(ms(_, 1))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          val gapMs = ms(b, 1) - ms(a, 2)
          assert(gapMs > 30L * 60 * 1000,
            s"user $u: adjacent sessions separated by ${gapMs}ms — should have merged")
        case _ =>
      }
    }
  }

  test("d30: contingency is a partition of the 300-doc slice — overlaps sum to n_t per row-group and to the doc count overall") {
    val rows = operators.Dedup.d30.build(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter("doc_id < 300").count()
    assert(rows.map(_._3).sum == nDocs, "cells do not partition the slice")
    rows.groupBy(_._1).foreach { case (t, cells) =>
      assert(cells.map(_._3).sum == cells.head._4,
        s"truth cluster $t: overlaps do not sum to n_t")
    }
    rows.groupBy(_._2).foreach { case (c, cells) =>
      assert(cells.map(_._3).sum == cells.head._5,
        s"predicted cluster $c: overlaps do not sum to n_c")
    }
  }

  test("m21: packing conserves tokens — window fills sum to each source's priced item total") {
    import org.apache.spark.sql.functions._
    val packed = operators.Multimodal.m21.build(spark, sfDir)
      .groupBy("source")
      .agg(sum(expr("text_tokens + image_tokens")).as("packed"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val priced = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("source"), expr("""CASE WHEN doc_id % 3 = 0
          THEN ((doc_id % 640 + 16 + 15) div 16) * (((doc_id * 7) % 480 + 16 + 15) div 16)
          ELSE size(split(text, ' ')) END""").cast("long").as("tok"))
      .groupBy("source").agg(sum("tok").as("total"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(packed == priced, s"token mass not conserved: $packed vs $priced")
  }

  test("q215/q213: the two as-of directions bracket each event's orders — backward end <= forward start per key") {
    // structural sanity on the operator pair: for a user present in both
    // results, every backward match time is <= every forward match time
    // relative to the same pivot is guaranteed by construction; here we
    // verify the operator pair returns inner-join subsets of the fan-out
    // join (no fabricated keys)
    val fwd = operators.Relational.q215.build(spark, sfDir)
      .select("o_custkey").distinct().collect().map(_.getLong(0)).toSet
    val users = operators.events(spark, sfDir)
      .select("user_id").distinct().collect().map(_.getLong(0)).toSet
    assert(fwd.subsetOf(users), "forward as-of fabricated user keys")
  }

  test("s31: recall is monotone in the shortlist budget and bounded by the query mass") {
    val rows = operators.Similarity.s31.build(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == rows.map(_._1).sorted.toSeq, "budgets out of order")
    rows.sliding(2).foreach {
      case Array((m1, h1), (m2, h2)) =>
        assert(h2 >= h1, s"recall dropped as budget grew: $m1->$h1, $m2->$h2")
      case _ =>
    }
    assert(rows.forall(_._2 <= 200), "more hits than query slots")
  }

  test("d32: the confusion matrix partitions the candidate universe and the dup row is caught") {
    val rows = operators.Dedup.d32.build(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val dupCaught = rows.collect {
      case ("2_dup_ge30", "0_ham_le12", n) => n }.sum
    val dupMissed = rows.collect {
      case ("2_dup_ge30", "2_ham_gt20", n) => n }.sum
    assert(dupCaught > 0, "no true duplicates in the catch cell — fixture drifted?")
    assert(dupMissed == 0, s"$dupMissed true dups past hamming 20 — the d4 cut would miss them")
  }

  test("q219: cutoffs are ordered and the clamp touches at most ~2% per tail") {
    operators.Relational.q219.build(spark, sfDir).collect().foreach { r =>
      val (n, lo, hi) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val (nLo, nHi) = (r.getLong(4), r.getLong(5))
      assert(lo <= hi, "p01 cutoff above p99")
      assert(nLo <= n / 50 + 2 && nHi <= n / 50 + 2,
        s"clamped more than the tails: lo=$nLo hi=$nHi of $n")
      assert(r.getLong(9) <= r.getLong(8), "winsorized max exceeds raw max")
    }
  }

  test("q221: a crossing implies demand reached stock, and never-crossed parts stay under it") {
    operators.Relational.q221.build(spark, sfDir).collect().foreach { r =>
      val stock = r.getLong(1); val demand = r.getLong(2)
      if (r.isNullAt(3)) {
        assert(demand < stock, "never-crossed part actually exceeded stock")
        assert(!r.isNullAt(5) && r.getLong(5) < 10000, "fill bp wrong for never-crossed")
      } else {
        assert(r.getLong(4) >= stock, "crossing row's cumulative below stock")
      }
    }
  }

  test("t58: every candidate is either validated or rejected; seeded docs produce both classes") {
    val rows = operators.TextAnalysis.t58.build(spark, sfDir).collect()
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3),
        "candidates != valid + rejected")
    }
    assert(rows.map(_.getLong(2)).sum > 0 && rows.map(_.getLong(3)).sum > 0,
      "seeding produced no valid or no invalid candidates")
  }

  test("q224: gini lands in [0, 10000) and the top decile's share is at least its proportional floor") {
    val rows = operators.Relational.q224.build(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, gini, topBp) = (r.getLong(1), r.getLong(3), r.getLong(5))
      assert(gini >= 0 && gini < 10000, s"${r.getString(0)}: gini_bp $gini")
      // the top (n - 9n/10) customers BY revenue can never hold less than
      // their headcount share of revenue
      val topCount = n - (n * 9) / 10
      assert(topBp * n >= topCount * 10000 - n, // integer-floor slack
        s"${r.getString(0)}: top-decile share $topBp bp below proportional floor")
      assert(topBp <= 10000)
    }
  }

  test("q225: allocation conserves — allocated = min(budget, invoiced), counts partition invoices") {
    val rows = operators.Relational.q225.build(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val budget = r.getLong(1)
      val (nInv, nFull, nPart, nUnpaid) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      val (invoiced, allocated, leftover) =
        (r.getLong(6), r.getLong(7), r.getLong(8))
      assert(allocated == math.min(budget, invoiced),
        s"ck ${r.getLong(0)}: allocated $allocated != min($budget, $invoiced)")
      assert(nInv == nFull + nPart + nUnpaid, s"ck ${r.getLong(0)}: counts don't partition")
      assert(nPart <= 1, s"ck ${r.getLong(0)}: FIFO can leave at most one partial invoice")
      assert(leftover >= 0 && leftover == budget - allocated)
      // leftover is positive only when every invoice was fully paid
      if (leftover > 0) assert(nFull == nInv, s"ck ${r.getLong(0)}: budget left but invoices unpaid")
    }
  }

  test("t60: each BPE round conserves symbols — instances shrink by exactly the applied merge count") {
    val rows = operators.TextAnalysis.t60.build(spark, sfDir).collect()
      .sortBy(_.getLong(0))
    assert(rows.length == 2)
    // total symbol instances before any merge = total token characters
    val chars0 = operators.table(spark, sfDir, "documents")
      .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .agg(sum(length(col("tok")))).collect()(0).getLong(0)
    val Seq(r1, r2) = rows.toSeq
    // a != b ⇒ occurrences can't overlap ⇒ replace applies ALL of them
    if (r1.getString(1) != r1.getString(2))
      assert(chars0 - r1.getLong(4) == r1.getLong(6),
        s"round 1: $chars0 - ${r1.getLong(4)} != ${r1.getLong(6)}")
    if (r2.getString(1) != r2.getString(2))
      assert(r1.getLong(6) - r2.getLong(4) == r2.getLong(6),
        s"round 2: ${r1.getLong(6)} - ${r2.getLong(4)} != ${r2.getLong(6)}")
    // greedy order: round 1's pair count is the global max, so >= round 2's
    assert(r1.getLong(4) >= r2.getLong(4), "greedy argmax order violated")
  }

  test("q230: revenue is conserved across the dimension gap and its repair; UNKNOWN exists only during the gap") {
    val rows = operators.Warehouse.q230.build(spark, sfDir).collect()
    val (during, after) = rows.partition(_.getString(0) == "during_gap")
    assert(during.nonEmpty && after.nonEmpty)
    assert(during.map(_.getLong(2)).sum == after.map(_.getLong(2)).sum,
      "total cents changed across the repair")
    assert(during.map(_.getLong(3)).sum == after.map(_.getLong(3)).sum,
      "total keys changed across the repair")
    assert(during.exists(_.getString(1) == "UNKNOWN"),
      "gap phase shows no inferred members — the scenario is degenerate")
    assert(!after.exists(_.getString(1) == "UNKNOWN"),
      "placeholders survived the backfill")
  }

  test("q234: columns resolve independently — segment from v2 everywhere, balance from v3 unless v3 is missing") {
    val rows = operators.Warehouse.q234.build(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val k = r.getLong(0)
      assert(r.getLong(3) == 2L, s"k=$k: segment not from v2")
      assert(r.getString(2).endsWith("_P2"), s"k=$k: segment not the v2 patch")
      if (k % 5 == 0) {
        assert(r.getLong(1) == 2L && r.getLong(5) == 1L,
          s"k=$k: missing-v3 key must fall back to v1 balance")
      } else {
        assert(r.getLong(1) == 3L && r.getLong(5) == 3L,
          s"k=$k: balance not from v3")
      }
    }
  }

  test("t59: grade is scale-consistent — doubling a doc's text leaves words/syllables ratios intact") {
    // structural sanity on the integer formula: every output row's counts
    // are positive and the banded grade agrees with the formula
    val rows = operators.TextAnalysis.t59.build(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (w, s0, syl, g) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(w > 0 && s0 >= 1 && syl >= 0)
      val num = 39 * w * w + 1180 * syl * s0 - 1559 * s0 * w
      val expected = if (num >= 0) num / (s0 * w) else -((-num) / (s0 * w))
      assert(g == expected, s"doc ${r.getLong(0)}: grade $g != $expected")
      val band = r.getString(5)
      assert(band == (if (g < 800) "basic" else if (g < 1600) "intermediate" else "advanced"))
    }
  }

  test("d33: the score classifies, not the label — agreement pattern determines verdict and the triple-perturbed cohort is a false negative") {
    val rows = operators.Dedup.d33.build(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // truth = key equality; every true pair is in-block by construction
    rows.foreach { r =>
      val (ka, kb, isTrue) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert((ka == kb) == (isTrue == 1L), s"is_true mislabeled for ($ka,$kb)")
    }
    // verdict is a pure function of the agreement pattern (same pattern →
    // same score → same verdict), never of is_true
    val byPattern = rows.groupBy(r => (r.getLong(4), r.getLong(5), r.getLong(6)))
    byPattern.foreach { case (pat, rs) =>
      assert(rs.map(_.getString(8)).distinct.length == 1,
        s"pattern $pat maps to multiple verdicts")
      assert(rs.map(_.getDouble(7)).distinct.length == 1,
        s"pattern $pat maps to multiple scores")
    }
    // the k%60 cohort (all three fields perturbed) must exist and be
    // classified nonlink despite being a true match — the deliberate FN
    val tripleTrue = rows.filter(r => r.getLong(3) == 1L && r.getLong(1) % 60 == 0)
    assert(tripleTrue.nonEmpty, "no triple-perturbed true pair in fixture slice")
    tripleTrue.foreach(r => assert(r.getString(8) == "nonlink",
      s"k=${r.getLong(1)}: triple-perturbed true pair not a false negative"))
    // monotonicity: more agreements never lower the score
    val scoreOf = byPattern.map { case (p, rs) => p -> rs.head.getDouble(7) }
    for (((a, b, c), s0) <- scoreOf; ((a2, b2, c2), s1) <- scoreOf
         if a2 >= a && b2 >= b && c2 >= c && (a2, b2, c2) != (a, b, c))
      assert(s1 >= s0, s"score not monotone: ($a,$b,$c)=$s0 vs ($a2,$b2,$c2)=$s1")
  }

  test("q238: every collision pair is reported exactly once with a valid overlap length") {
    val rows = operators.EventWindows.q238.build(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val keys = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(keys.distinct.length == keys.length, "duplicate pair reported")
    rows.foreach { r =>
      assert(r.getLong(1) < r.getLong(2), "pair not ordered oka < okb")
      val ov = r.getLong(3)
      assert(ov >= 1 && ov <= 21, s"overlap_days $ov outside (0, cell] bound")
    }
  }

  test("q239: theta is pooled (identical across arms) and adjusted variances are valid") {
    val rows = operators.EventWindows.q239.build(spark, sfDir).collect()
    assert(rows.length == 2, "expected exactly two arms")
    assert(rows.map(_.getDouble(7)).distinct.length == 1,
      "theta must be the pooled estimate, not per-arm")
    rows.foreach { r =>
      assert(r.getDouble(5) >= 0.0, s"arm ${r.getLong(0)}: var_y_adj negative")
      assert(r.getDouble(4) > 0.0, s"arm ${r.getLong(0)}: degenerate raw variance")
    }
  }

  test("t62: entropy respects its information-theoretic bounds per doc") {
    val rows = operators.TextAnalysis.t62.build(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, types, h, eff, ev) =
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getLong(5))
      assert(h >= 0.0 && h <= math.log(types.toDouble) + 1e-3,
        s"doc ${r.getLong(0)}: H=$h outside [0, ln($types)]")
      assert(eff >= 1.0 - 1e-3 && eff <= types + 1e-3,
        s"doc ${r.getLong(0)}: e^H=$eff outside [1, n_types]")
      assert(ev >= 0 && ev <= 10000, s"doc ${r.getLong(0)}: evenness $ev")
      assert(types <= n, s"doc ${r.getLong(0)}: more types than tokens")
    }
  }

  test("m23: buckets partition the corpus and batch math closes") {
    val rows = operators.Multimodal.m23.build(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val nDocs = operators.table(spark, sfDir, "documents").count()
    assert(rows.map(_.getLong(3)).sum == nDocs, "buckets must partition all images")
    rows.foreach { r =>
      val (n, batches) = (r.getLong(3), r.getLong(4))
      assert(batches == (n + 31) / 32, s"batch count wrong for n=$n")
      assert(r.getLong(6) <= r.getLong(7), "ar band inverted")
    }
  }

  test("q241: the HT estimator bookkeeping closes — sample within total, estimate is 10x the sampled mass") {
    val rows = operators.Sampling.q241.build(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nTot, nSamp) = (r.getLong(1), r.getLong(2))
      assert(nSamp <= nTot && nSamp > 0, s"sample size $nSamp vs total $nTot")
      assert(r.getLong(4) % 10 == 0, "estimate must be 10x an integer sampled sum")
      assert(math.abs(r.getLong(5)) < 10000, "realized error exceeds 100% — sampler broken")
    }
  }

  test("d34: blocking audit spans the trade-off — nation complete, segment dominated, all ratios in range") {
    val rows = operators.Dedup.d34.build(spark, sfDir).collect()
    assert(rows.length == 4)
    val byScheme = rows.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    rows.foreach { r =>
      assert(r.getLong(4) >= 0 && r.getLong(4) <= 10000, "reduction_bp range")
      assert(r.getLong(5) >= 0 && r.getLong(5) <= 10000, "completeness_bp range")
      assert(r.getLong(3) <= r.getLong(2), "captured exceeds truth")
    }
    // nation blocking never separates a true pair (copies keep nation)
    assert(byScheme("nation")._5 == 10000, "nation must be fully complete")
    // segment is dominated by nation on BOTH axes — the cautionary row
    assert(byScheme("segment")._4 < byScheme("nation")._4 &&
      byScheme("segment")._5 < byScheme("nation")._5,
      "segment should be dominated by nation")
  }

  test("q244: lockstep accounting closes — clean customers fully match, a miss poisons the tail") {
    val rows = operators.Relational.q244.build(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nInv, nPay, nExact, fm) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(nPay <= nInv, "payments cannot exceed invoices here")
      assert(nExact <= nPay, "exact matches bounded by aligned pairs")
      if (fm == 0L)
        assert(nInv == nPay && nExact == nInv,
          s"first_mismatch=0 must mean a perfect walk (ck=${r.getLong(0)})")
      else
        assert(nExact < nInv, "a mismatch position implies a non-exact pair")
    }
    assert(rows.exists(_.getLong(4) > 0), "fixture should contain misaligned customers")
    assert(rows.exists(_.getLong(4) == 0), "fixture should contain clean customers")
  }

  test("q246: the gate gates — exactly the corrupted partition fails and keeps serving v0") {
    val rows = operators.Sources.q246.build(spark, sfDir).collect()
    assert(rows.length == 5)
    val failed = rows.filter(_.getString(3) == "fail")
    assert(failed.map(_.getString(0)).toSeq == Seq("error"),
      "exactly the corrupted 'error' partition must fail the audit")
    rows.filter(_.getString(3) == "pass").foreach { r =>
      assert(r.getLong(2) == 0L, s"${r.getString(0)}: passing partition has bad rows")
      assert(r.getLong(1) == r.getLong(4), "published count != staged count")
    }
  }

  test("t63: exactly top-2 lines per doc, ranks ordered by score then position") {
    val rows = operators.TextAnalysis.t63.build(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val byDoc = rows.groupBy(_.getLong(0))
    byDoc.foreach { case (doc, rs) =>
      assert(rs.length <= 2, s"doc $doc emitted ${rs.length} summary lines")
      if (rs.length == 2) {
        val Array(r1, r2) = rs.sortBy(_.getLong(1))
        assert(r1.getLong(3) > r2.getLong(3) ||
          (r1.getLong(3) == r2.getLong(3) && r1.getLong(2) < r2.getLong(2)),
          s"doc $doc: rank order violates (score desc, pos asc)")
      }
    }
  }

  test("q247: update images come in pre/post pairs and the feed carries no unchanged rows") {
    val rows = operators.Warehouse.q247.build(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val byType = rows.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    assert(byType.getOrElse("update_preimage", 0) ==
      byType.getOrElse("update_postimage", 0), "unpaired update images")
    assert(byType.keySet.subsetOf(
      Set("insert", "delete", "update_preimage", "update_postimage")))
    // every update key has exactly one pre and one post
    rows.filter(_.getString(1).startsWith("update_")).groupBy(_.getLong(0))
      .foreach { case (k, rs) =>
        assert(rs.map(_.getString(1)).sorted.toSeq ==
          Seq("update_postimage", "update_preimage"), s"key $k image set wrong")
      }
  }

  test("q248: the closed-form fold equals a literal sequential replay of the command log") {
    import org.apache.spark.sql.functions._
    val got = operators.Warehouse.q248.build(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    // independent oracle: replay each account's ops one by one in order
    val ops = operators.table(spark, sfDir, "orders")
      .filter(col("o_custkey") < 600)
      .selectExpr("CAST(o_custkey % 100 AS BIGINT) AS acct",
        "date_format(o_orderdate, 'yyyy-MM-dd') AS d",
        "CAST(o_orderkey AS BIGINT) AS ok",
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    val want = ops.map { case (acct, rows0) =>
      var state = 0L
      rows0.sortBy(t => (t._2, t._3)).foreach { case (_, _, ok, cents) =>
        if (ok % 10 == 0) state = cents % 100000
        else if (ok % 10 == 7) state = 0L
        else state += cents % 1000
      }
      acct -> state
    }
    assert(got == want, s"fold mismatch: ${got.toSet.diff(want.toSet).take(3)}")
  }

  test("d35: Mann-Whitney accounting closes and the scorer beats chance") {
    val r = operators.Dedup.d35.build(spark, sfDir).collect().head
    val (nt, nf, conc, tied, auc) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    assert(conc + tied <= nt * nf, "concordant+tied exceeds the pair universe")
    assert(auc > 5000 && auc <= 10000, s"AUC $auc bp not better than chance")
    assert(auc < 10000 || tied == 0, "perfect AUC with ties is inconsistent")
  }

  test("q249: double-entry identities hold — global zero-sum, debits == credits") {
    val rows = operators.Warehouse.q249.build(spark, sfDir).collect()
    assert(rows.map(_.getString(0)).sorted.toSeq == Seq("AR", "CASH", "REVENUE"))
    val globalBalance = rows.map(_.getLong(4)).sum
    assert(globalBalance == 0L, s"trial balance residual $globalBalance")
    val (debits, credits) = (rows.map(_.getLong(2)).sum, rows.map(_.getLong(3)).sum)
    assert(debits == credits, s"debits $debits != credits $credits")
    rows.foreach(r => assert(r.getLong(4) == r.getLong(2) - r.getLong(3)))
  }

  test("q253: crossing parity is a valid classification and the fence is non-degenerate") {
    val rows = operators.Relational.q253.build(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nc, inside) = (r.getLong(3), r.getLong(4))
      assert(nc >= 0 && nc <= 5, s"k=${r.getLong(0)}: $nc crossings of a pentagon")
      assert(inside == nc % 2, "inside flag must be crossing parity")
    }
    val frac = rows.count(_.getLong(4) == 1L).toDouble / rows.length
    assert(frac > 0.05 && frac < 0.6, s"degenerate fence: inside fraction $frac")
  }

  test("q254: fiscal mapping is total and consistent — every order lands in exactly one 4-4-5 period") {
    val rows = operators.Warehouse.q254.build(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (p, fq) = (r.getLong(1), r.getLong(2))
      assert(p >= 1 && p <= 12, s"period $p out of range")
      assert(fq == (p + 2) / 3, s"fq $fq inconsistent with period $p")
    }
    val nOrders = operators.table(spark, sfDir, "orders").count()
    assert(rows.map(_.getLong(3)).sum == nOrders, "orders lost or duplicated in the mapping")
  }

  test("q256: the DP release ledger closes — non-negative releases, error accounting exact") {
    val rows = operators.Sampling.q256.build(spark, sfDir).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val (n, noise, rel, err) =
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(rel >= 0.0, "post-processing must clamp at zero")
      assert(math.abs(rel - math.max(0.0, n + noise)) < 1e-9, "release formula broken")
      assert(math.abs(err - math.abs(rel - n)) < 1e-9, "error ledger inconsistent")
      assert(math.abs(noise) < 15.0, "Laplace(1) tail beyond u-grid range — seed transform broken")
    }
  }

  test("d37: lrs is exactly maximal — the L-prefix repeats corpus-wide, its (L+1)-extension does not") {
    // brute-force ground truth over the whole sf0.001 corpus (the d37
    // slice covers it): for each sampled position with lrs = L, the
    // length-L prefix must occur >= 2 times corpus-wide, and extending it
    // by its own next word must be unique — i.e. L could not be one word
    // longer. Both checks run against raw token arrays, independent of
    // every suffix-array mechanism under test.
    val docWords: Map[Long, Array[String]] =
      spark.read.parquet(s"$sfDir/documents.parquet")
        .filter(col("doc_id") < 1500)
        .select(col("doc_id"), lower(col("text")).as("t"))
        .collect().map(r => r.getLong(0) -> r.getString(1).split(" ", -1)).toMap
    val rows = operators.Dedup.d37Lrs(spark, sfDir)
      .select(col("d"), col("i").cast("long"), col("lrs").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1).toInt, r.getLong(2).toInt))
    assert(rows.nonEmpty && rows.exists(_._3 >= 10),
      "slice must contain real repeats for the pin to bite")
    // sample: every 7th position carrying a span-grade repeat + every
    // 151st position overall (exercises small-L maximality too)
    val samples = rows.filter(_._3 >= 10).zipWithIndex.collect {
      case (t, ix) if ix % 7 == 0 => t
    } ++ rows.zipWithIndex.collect { case (t, ix) if ix % 151 == 0 => t }
    // gram keys needed per length: the L-prefix (expect >= 2) and the
    // (L+1)-extension (expect exactly 1)
    def gram(d: Long, i: Int, len: Int): Option[String] = {
      val ws = docWords(d)
      if (len >= 1 && i - 1 + len <= ws.length)
        Some(ws.slice(i - 1, i - 1 + len).mkString(" "))
      else None
    }
    val wanted: Map[Int, Set[String]] = samples.toSeq
      .flatMap { case (d, i, l) =>
        gram(d, i, l).map(l -> _).toSeq ++
          (if (l < 32) gram(d, i, l + 1).map((l + 1) -> _).toSeq else Nil)
      }
      .groupBy(_._1).map { case (l, g) => l -> g.map(_._2).toSet }
    val counts = scala.collection.mutable.Map.empty[(Int, String), Int]
    wanted.foreach { case (l, keys) =>
      docWords.valuesIterator.foreach { ws =>
        var j = 0
        while (j + l <= ws.length) {
          val g = ws.slice(j, j + l).mkString(" ")
          if (keys(g)) counts((l, g)) = counts.getOrElse((l, g), 0) + 1
          j += 1
        }
      }
    }
    samples.foreach { case (d, i, l) =>
      if (l >= 1) {
        val g = gram(d, i, l).get
        assert(counts.getOrElse((l, g), 0) >= 2,
          s"doc $d pos $i: lrs=$l but its $l-prefix occurs ${counts.getOrElse((l, g), 0)} time(s)")
      }
      if (l < 32) gram(d, i, l + 1).foreach { g1 =>
        assert(counts.getOrElse((l + 1, g1), 0) == 1,
          s"doc $d pos $i: lrs=$l NOT maximal — its ${l + 1}-extension repeats")
      }
    }
  }
}
