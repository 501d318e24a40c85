package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` (BASELINE.json north star).
  *
  * Algorithms (public literature): MinHash resemblance sketching — Broder,
  * "On the resemblance and containment of documents" (1997); LSH banding —
  * Leskovec/Rajaraman/Ullman, "Mining of Massive Datasets" ch. 3; SimHash —
  * Charikar, "Similarity estimation techniques from rounding algorithms"
  * (STOC 2002), applied to web-scale dedup in Manku et al. (WWW 2007).
  *
  * Scale posture (100 TB): every variant reduces to hash → shuffle-on-key →
  * per-bucket work. Exact dedup groups on a 256-bit digest (never the full
  * text — the shuffle carries 32 bytes + ids, not documents). Near-dup
  * avoids the O(n²) all-pairs join by LSH banding (MinHash for Jaccard,
  * bit-bands for SimHash): candidates are generated only within hash
  * buckets, so the join fan-out follows the true duplicate density, not n².
  * The exact all-pairs variant (d3) is deliberately bounded to a small
  * doc_id range — it exists as the oracle-checkable ground truth for the
  * LSH path, and is flagged un-scalable by construction.
  */
object Dedup {

  /** Words of the lowercased text. */
  private def words(c: Column): Column = split(lower(c), " ")

  /** Canonicalization key for exact dedup: here the 5-word prefix (the
    * fixture's near-duplicates share prefixes); production would use the
    * whole normalized text. substring_index stays in codegen (an array
    * slice HOF would run interpreted); grouping happens on the sha2 digest
    * so the shuffle key is fixed-width. */
  private[operators] def canonKey(c: Column): Column =
    sha2(substring_index(lower(c), " ", 5), 256)

  /** 3-word shingles (distinct) of a text column. */
  private def shingles(c: Column): Column = {
    val w = words(c)
    array_distinct(transform(
      sequence(lit(0), size(w) - 3),
      i => concat_ws(" ", element_at(w, i + 1), element_at(w, i + 2), element_at(w, i + 3))))
  }

  /** (doc_id, s): the distinct 3-word shingles of each document with
    * doc_id < bound. */
  private def shingleRows(s: SparkSession, dir: String, bound: Int): DataFrame =
    table(s, dir, "documents")
      .filter(col("doc_id") < bound)
      .select(col("doc_id"), explode(shingles(col("text"))).as("s"))

  /** (doc_id, n): shingles per document of a [[shingleRows]] frame. */
  private def shingleCounts(sh: DataFrame): DataFrame =
    sh.groupBy("doc_id").agg(count(lit(1)).as("n"))

  /** Every pair doc1 < doc2 of `sh` that shares a shingle, with the shared
    * count `inter` and both shingle counts `n1`, `n2` from `sizes`
    * ([[shingleCounts]], hinted as the caller chooses). The exact
    * shingle equi-join: bounded slices only. */
  private def overlapPairs(sh: DataFrame, sizes: DataFrame): DataFrame =
    sh.as("a").join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("doc1"), col("n").as("n1")), "doc1")
      .join(sizes.select(col("doc_id").as("doc2"), col("n").as("n2")), "doc2")

  // Oracle fragments. Each oracle stays a complete DuckDB query; these
  // only spell its shared CTEs once.

  /** CTE `sh`: the distinct 3-word shingles `s` of each doc_id's word
    * list `ws` in CTE `words`. */
  private def shSql(words: String): String =
    s"""sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
             FROM $words, UNNEST(range(1, len(ws) - 1)) AS t(i))"""

  /** CTEs `w` (the lowercased words `ws` of each document with doc_id <
    * bound) and `sh` over it: [[shingleRows]]. */
  private def shinglesSql(bound: Int): String =
    s"""w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
            FROM documents WHERE doc_id < $bound),
      ${shSql("w")}"""

  /** CTEs `sizes` (shingles per doc) and `pairs` (every doc1 < doc2
    * sharing a shingle, with the shared count `inter`) over `sh`:
    * [[overlapPairs]]. */
  private def overlapSql(pairs: String): String =
    s"""sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      $pairs AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
                FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2)"""

  /** CTEs `good` (the [[overlapSql]] `pairs` with Jaccard ≥ 0.3), `edges`
    * (both directions) and the recursive `reach`: every (id, label) where
    * node label reaches node id. min(label) per id is d6's cluster id. */
  private def reachSql(pairs: String): String =
    s"""good AS (SELECT doc1, doc2 FROM $pairs
               JOIN sizes na ON na.doc_id = doc1
               JOIN sizes nb ON nb.doc_id = doc2
               WHERE CAST(inter AS DOUBLE) / (na.n + nb.n - inter) >= 0.3),
      edges AS (SELECT doc1 AS src, doc2 AS dst FROM good
                UNION ALL SELECT doc2, doc1 FROM good),
      reach AS (SELECT src AS id, src AS label FROM edges
                UNION
                SELECT e.dst AS id, r.label FROM reach r
                JOIN edges e ON e.src = r.id)"""

  /** The d6 closure over doc_id < 300, from the words to `reach`, for a
    * `WITH RECURSIVE` oracle. */
  private def closureSql(pairs: String): String =
    s"""${shinglesSql(300)},
      ${overlapSql(pairs)},
      ${reachSql(pairs)}"""

  /** Exact (canonicalized) dedup: hash-groupBy, keep the smallest doc_id.
    * Reference hook: the distinct() dirname dedup of A13 generalized to
    * content identity. */
  val d1 = GraftQuery(
    "d1_exact_dedup",
    "Exact dedup by content digest: keeper doc_id + copy count per canonical key",
    (s, dir) =>
      table(s, dir, "documents")
        .groupBy(canonKey(col("text")).as("key"))
        .agg(
          min("doc_id").as("doc_id"),
          count(lit(1)).as("n_copies"))
        .select("doc_id", "n_copies")
        .orderBy("doc_id"),
    Some("""
      SELECT min(doc_id) AS doc_id, count(*) AS n_copies
      FROM (SELECT doc_id,
                   array_to_string(string_split(lower(text), ' ')[1:5], ' ') AS key
            FROM documents)
      GROUP BY key
      ORDER BY doc_id"""))

  /** MinHash + LSH banding near-dup detection.
    *
    * Each shingle is murmur-hashed ONCE to a 32-bit value; the 64 minhash
    * signatures are affine permutations (a_j·h + b_j) mod p over that value
    * (products stay < 2^62 — no overflow under ANSI, everything in
    * whole-stage codegen, no per-permutation string hashing). The 16
    * band-bucket rows per doc carry ONLY (doc_id, band, bucket) — the
    * candidate self-join shuffles 24 bytes per row, never the shingle
    * arrays; shingles are joined back for exact-Jaccard confirmation only
    * for the (rare) candidate pairs. This is the shuffle discipline that
    * holds at 100 TB: LSH fan-out is O(docs × bands), verification cost is
    * O(true-duplicate pairs).
    *
    * Hash values are engine-specific, so the registry entry folds the
    * pipeline's QUALITY into oracle-assertable bounds (the q62 pattern):
    * it runs the full-corpus LSH+confirm, joins the result against the
    * exact bounded truth set (d3's logic, recomputed in-engine), and
    * emits the deterministic truth counts plus two literal-TRUE bounds —
    * perfect recall on J ≥ 0.6 (banding theory: 16×4 catches J = 0.6
    * w.p. ~0.9997) and a floor on the full J ≥ 0.5 truth (pairs at
    * 0.5–0.6 ride the S-curve's shoulder). The raw pair frame stays
    * available as [[d2Confirmed]] (QualitySpec pins the same floors). */
  private[graft] def d2Confirmed(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
      import graft.functions.Functions.{minhashSignature, shingleJaccard}
      // Signature = ONE zero-shuffle row-level pass (native MinHashSignature
      // expression: shingle → murmur3 → 64 affine minima). The only shuffle
      // in the whole pipeline is the band-bucket groupBy; verification
      // evaluates exact Jaccard only for the O(candidate) pairs via two
      // broadcast-candidate joins against the raw texts. This is the 100 TB
      // shape: per-row signatures, 24-byte bucket rows, no corpus-wide
      // shingle materialization.
      val docs = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val sig = docs
        .select(col("doc_id"), minhashSignature(col("text")).as("sig"))
        .filter(col("sig").isNotNull)
      val buckets = sig.select(col("doc_id"),
        posexplode(array((0 until 16).map(b =>
          xxhash64(element_at(col("sig"), 4 * b + 1), element_at(col("sig"), 4 * b + 2),
            element_at(col("sig"), 4 * b + 3), element_at(col("sig"), 4 * b + 4))): _*)))
        .toDF("doc_id", "band", "bucket")
      // candidate pairs via bucket grouping, NOT a self-join: upstream is
      // evaluated once, pair fan-out happens inside each bucket — chunked
      // per doc1 (see bandingCandidates) so a degenerate bucket cannot
      // blow a single task row at corpus scale
      val cand = bandingCandidates(buckets)
      // no broadcast hint on the candidate side: candidate count scales with
      // TRUE duplicate density, so a crawl-heavy corpus (30%+ dup rate) can
      // outgrow any fixed broadcast threshold. AQE sees the real post-LSH
      // size at runtime and picks broadcast when (and only when) it fits —
      // at fixture scale it still plans the same broadcast joins (PlanSpec),
      // at 100 TB a dense candidate set degrades to a shuffle join instead
      // of failing the job (ADVICE r5).
      cand
        .join(docs.select(col("doc_id").as("doc1"), col("text").as("t1")), "doc1")
        .join(docs.select(col("doc_id").as("doc2"), col("text").as("t2")), "doc2")
        .withColumn("j", shingleJaccard(col("t1"), col("t2")))
        .filter(col("j.jaccard") >= 0.5)
        .select(col("doc1"), col("doc2"), col("j.inter").as("inter"),
          col("j.un").as("un"), round(col("j.jaccard"), 4).as("jaccard"))
        .orderBy("doc1", "doc2")
  }

  /** d2's exact ground truth (every J ≥ 0.5 pair over doc_id < 3000; the
    * d3 < 300 slice is pair-free at sf0.1, < 3000 carries 95 pairs),
    * spooled ONCE per (sf, JVM) via the PPJoin prefix stage at τ = 0.50 —
    * the prefix pigeonhole is INCLUSIVE at J ≥ τ (overlap ≥ τ·n₁ under
    * the size bound, and the suffix holds at most ⌈τ·n₁⌉ − 1 tokens),
    * and the J thresholds are integer-exact (J ≥ 0.5 ⟺ 2·inter ≥ union,
    * J ≥ 0.6 ⟺ 5·inter ≥ 3·union), so the exact floor needs no sub-τ
    * margin and keeps prefixes (candidate fan-out) minimal. Split out of
    * d2 (VERDICT r10 item 3): the twin was ~60% of d2's 5.4-6.3 s; as a
    * spool it is built once (charged as Bench's x_d2_truth_spool line),
    * served to BOTH d2's recall gate and the d2x oracle entry. */
  private[graft] def d2TruthPairs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val spool = spooled("x_d2_truth_spool", dir) { p =>
      val (raw, sh) = ppJoinPairStage(s, dir, 3000, 50)
      raw.withColumn("un", col("n1") + col("n2") - col("inter"))
        .filter(col("inter") * 2 >= col("un"))
        .select(col("doc1"), col("doc2"), col("inter"), col("un"))
        .coalesce(1).write.mode("overwrite").parquet(p)
      sh.unpersist()
    }
    s.read.parquet(spool)
  }

  val d2 = GraftQuery(
    "d2_minhash_lsh",
    "MinHash(64)+LSH(16×4) full-corpus dedup, recall hash-gated vs the exact PPJoin truth",
    (s, dir) => {
      val found = d2Confirmed(s, dir).select("doc1", "doc2")
      val truth = d2TruthPairs(s, dir)
        .select(col("doc1"), col("doc2"),
          (col("inter") * 5 >= col("un") * 3).as("high"))
      val scored = truth.join(found, Seq("doc1", "doc2"), "left_semi")
      // count(when(...)) — NULL-safe on an empty truth slice (sum → NULL)
      val stats = truth.agg(
        count(lit(1)).as("n_truth"),
        count(when(col("high"), true)).as("n_high"))
      val foundStats = scored.agg(
        count(lit(1)).as("n_found"),
        count(when(col("high"), true)).as("n_high_found"))
      stats.crossJoin(foundStats)
        .select(col("n_truth"), col("n_high"),
          (col("n_high_found") === col("n_high")).as("high_recall_ok"),
          (col("n_found") * 10 >= col("n_truth") * 7).as("recall50_ok"))
    },
    Some(s"""
      WITH ${shinglesSql(3000)},
      ${overlapSql("inter")},
      truth AS (SELECT doc1, doc2, inter,
                       (na.n + nb.n - inter) AS un
                FROM inter
                JOIN sizes na ON na.doc_id = doc1
                JOIN sizes nb ON nb.doc_id = doc2
                WHERE 2 * inter >= (na.n + nb.n - inter))
      SELECT CAST(count(*) AS BIGINT) AS n_truth,
             CAST(count(CASE WHEN 5 * inter >= 3 * un THEN 1 END) AS BIGINT)
               AS n_high,
             TRUE AS high_recall_ok,
             TRUE AS recall50_ok
      FROM truth"""))

  /** The d2 truth twin as its OWN oracle entry (VERDICT r10 item 3): the
    * PPJoin prefix-filter exact-similarity join at τ = 0.5 over the
    * doc_id < 3000 slice, every pair hash-checked against DuckDB's
    * all-pairs recompute. This is the scale path for EXACT τ-thresholded
    * similarity (prefix pigeonhole bounds candidates by duplicate
    * density, vs d3's shingle equi-join which explodes on common grams);
    * d2 leans on the same spooled frame for its recall gate, so the
    * expensive stage runs once per (sf, JVM). */
  val d2x = GraftQuery(
    "d2x_ppjoin_truth",
    "PPJoin exact τ=0.5 Jaccard pairs over doc_id < 3000 — d2's ground truth, pair-level oracle",
    (s, dir) => d2TruthPairs(s, dir)
      .withColumn("jaccard", round(col("inter").cast("double") / col("un"), 4))
      .select("doc1", "doc2", "inter", "un", "jaccard")
      .orderBy("doc1", "doc2"),
    Some(s"""
      WITH ${shinglesSql(3000)},
      ${overlapSql("inter")}
      SELECT doc1, doc2, CAST(inter AS BIGINT) AS inter,
             CAST(na.n + nb.n - inter AS BIGINT) AS un,
             round(CAST(inter AS DOUBLE) / (na.n + nb.n - inter), 4) AS jaccard
      FROM inter
      JOIN sizes na ON na.doc_id = doc1
      JOIN sizes nb ON nb.doc_id = doc2
      WHERE 2 * inter >= (na.n + nb.n - inter)
      ORDER BY doc1, doc2"""))

  /** Exact n-gram Jaccard near-dup on a bounded subset — the ground truth
    * for d2, fully oracle-checked. The shingle equi-join is O(pairs sharing
    * a shingle): acceptable for the bounded range, replaced by d2's LSH at
    * scale (see object doc).
    */
  val d3 = GraftQuery(
    "d3_ngram_jaccard",
    "Exact 3-gram Jaccard pairs ≥ 0.5 over doc_id < 300 (LSH ground truth)",
    (s, dir) => {
      val sh = shingleRows(s, dir, 300)
      overlapPairs(sh, shingleCounts(sh))
        .withColumn("un", (col("n1") + col("n2") - col("inter")).cast("long"))
        .filter(col("inter").cast("double") / col("un") >= 0.5)
        .select(col("doc1"), col("doc2"), col("inter"), col("un"),
          round(col("inter").cast("double") / col("un"), 4).as("jaccard"))
        .orderBy("doc1", "doc2")
    },
    Some(s"""
      WITH ${shinglesSql(300)},
      ${overlapSql("inter")}
      SELECT doc1, doc2, inter, (na.n + nb.n - inter) AS un,
             round(CAST(inter AS DOUBLE) / (na.n + nb.n - inter), 4) AS jaccard
      FROM inter
      JOIN sizes na ON na.doc_id = doc1
      JOIN sizes nb ON nb.doc_id = doc2
      WHERE CAST(inter AS DOUBLE) / (na.n + nb.n - inter) >= 0.5
      ORDER BY doc1, doc2"""))

  /** SimHash near-dup: 64-bit signature from per-word hash bit votes, then
    * 4 × 16-bit band join with 1-bit MULTI-PROBE + Hamming-distance confirm
    * (bit_count(xor) ≤ 8). Plain banding only guarantees recall for
    * distance ≤ 3 (pigeonhole over 4 bands); probing every 1-bit neighbor
    * of each band value extends the guarantee to distance ≤ 7 (a miss now
    * needs ≥ 2 differing bits in EVERY band) and lifts measured recall on
    * the ≤ 8 truth set from 0.43 to ≥ 0.9 (QualitySpec). Cost: 17 probe
    * rows per band instead of 1 — 68 × 20-byte rows per doc through the
    * shuffle, still orders of magnitude under reshuffling the text, and the
    * scale posture is unchanged (one equi-join on the band buckets,
    * candidates-only verify).
    * Hash-specific signatures, so the registry entry folds recall into
    * oracle-assertable bounds (the q62 pattern) against the SAME-HASH
    * all-pairs truth on the bounded doc_id < 300 slice, computed
    * in-engine: the ≤ 3-bit pigeonhole guarantee must hold exactly, and
    * measured recall on the full Hamming ≤ 8 truth must clear 0.9.
    * The raw pair frame stays available as [[d4Pairs]] (QualitySpec pins
    * the same floors corpus-wide at sf0.001; d7 is the cross-engine
    * md5-simhash exact twin). */
  private[graft] def d4Pairs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
      // one zero-shuffle row pass via the native SimHash64 expression (the
      // explode + 64-column vote aggregate it replaces cost a full shuffle
      // of every token)
      val sim = table(s, dir, "documents")
        .select(col("doc_id"), graft.functions.Functions.simhash64(col("text")).as("simhash"))
      // cache the 16-byte/doc signature projection: both join sides below
      // scan it, and without the cache the text pass would run twice (at
      // corpus scale you'd persist this tiny frame the same way)
      val cached = sim.cache()
      val bands = cached.select(col("doc_id"), col("simhash"),
        posexplode(array((0 until 4).map(k =>
          shiftrightunsigned(col("simhash"), k * 16).bitwiseAND(0xFFFFL)): _*)))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
      // ASYMMETRIC multi-probe as a codegen'd equi-join: the probe side
      // posts each band value plus its 16 one-bit flips (17 rows/band —
      // flips are involutive, so a ≤ 1-bit band difference always pairs
      // one exact row with one probe row in BOTH id orders, and the
      // doc_id < doc_id filter keeps exactly one); the exact side posts
      // the band value alone. Joining exact×probe on (band, bucket)
      // skips probe×probe meetings (2-bit band diffs, ~17× the
      // candidates for no recall gain) and replaces the earlier
      // per-bucket collect_list + interpreted HOF pair enumeration —
      // a hash join pairs members in generated code and needs no
      // skew-prone array materialization (3× faster at sf0.1).
      val probes = bands
        .select(col("doc_id"), col("simhash"), col("band"),
          explode(expr(
            "concat(array(bucket), transform(sequence(0, 15), i -> bucket ^ shiftleft(CAST(1 AS BIGINT), i)))"))
            .as("bucket"))
      bands.as("a")
        .join(probes.as("b"),
          col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
            col("a.doc_id") < col("b.doc_id"))
        // Hamming confirm BEFORE the distinct: bit_count is a codegen'd
        // per-row op, so filtering inside the join stage shrinks the
        // distinct's shuffle from every candidate meeting (dense fixture:
        // millions) to just the confirmed pairs
        .filter(bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))) <= 8)
        .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"),
          bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
            .cast("long").as("hamming"))
        .distinct()
        .orderBy("doc1", "doc2")
  }

  val d4 = GraftQuery(
    "d4_simhash",
    "SimHash banding + multi-probe, recall hash-gated vs the same-hash exact truth slice",
    (s, dir) => {
      val found = d4Pairs(s, dir)
        .filter(col("doc1") < 300 && col("doc2") < 300)
        .select("doc1", "doc2")
      // same-hash exact truth: all-pairs Hamming over the bounded slice
      // (broadcast 300×16-byte signatures — the d3 bounded-twin posture)
      val sig = table(s, dir, "documents")
        .filter(col("doc_id") < 300)
        .select(col("doc_id"),
          graft.functions.Functions.simhash64(col("text")).as("h"))
      val truth = sig.as("a").join(broadcast(sig.as("b")),
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"),
          bit_count(col("a.h").bitwiseXOR(col("b.h"))).cast("long").as("hd"))
        .filter(col("hd") <= 8)
      val scored = truth.join(found, Seq("doc1", "doc2"), "left_semi")
      // count(when(...)) — NULL-safe on an empty truth slice (sum → NULL)
      val t = truth.agg(count(lit(1)).as("n_truth"),
        count(when(col("hd") <= 3, true)).as("n_guar"))
      val f = scored.agg(count(lit(1)).as("n_found"),
        count(when(col("hd") <= 3, true)).as("n_guar_found"))
      val nDocs = table(s, dir, "documents")
        .filter(col("doc_id") < 300).agg(count(lit(1)).as("n_docs"))
      nDocs.crossJoin(t).crossJoin(f)
        .select(col("n_docs"),
          (col("n_guar_found") === col("n_guar")).as("guarantee_ok"),
          (col("n_found") * 10 >= col("n_truth") * 9).as("recall_ok"))
    },
    Some("""
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             TRUE AS guarantee_ok, TRUE AS recall_ok
      FROM documents WHERE doc_id < 300"""))

  /** (doc_id, sig): the portable 60-bit md5-simhash of each document with
    * doc_id < 300. Each word hashes to the first 15 md5 hex chars as a
    * BIGINT (fits signed 64, no sign games in either engine); each bit
    * position takes a +1/-1 vote per word occurrence. The explode(0..59)
    * runs before the aggregate with map-side combine, so the shuffle
    * carries ≤ 60 rows per doc, not 60 rows per token. */
  private def md5Simhash(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .filter(col("doc_id") < 300)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("word"))
      .select(col("doc_id"),
        expr("CAST(conv(substring(md5(word), 1, 15), 16, 10) AS BIGINT)").as("h"))
      .select(col("doc_id"), col("h"), explode(sequence(lit(0), lit(59))).as("j"))
      .groupBy("doc_id", "j")
      .agg(sum(when(expr("((h >> j) & 1) = 1"), 1).otherwise(-1)).as("vote"))
      .groupBy("doc_id")
      .agg(sum(when(col("vote") > 0,
        expr("shiftleft(CAST(1 AS BIGINT), j)")).otherwise(0L)).as("sig"))

  /** Exact SimHash ground truth — d4's oracle-checked twin (the d3↔d2
    * relationship, replayed for SimHash). d4's signature comes from a
    * native Scala expression no second engine can reproduce, so the twin
    * derives its word hashes from md5 — the one hash both engines share —
    * keeping every step (hash, bit votes, signature assembly, Hamming
    * distance) expressible in portable SQL and therefore hash-checkable
    * end-to-end. Bounded range + all-pairs by construction (like d3):
    * the SCALE path is d4's banding; this query is its truth set. */
  val d7 = GraftQuery(
    "d7_simhash_exact",
    "Exact md5-simhash(60-bit) all-pairs Hamming ≤ 12 over doc_id < 300 (d4 ground truth)",
    (s, dir) => {
      val sig = md5Simhash(s, dir)
      val a = sig.select(col("doc_id").as("doc1"), col("sig").as("s1"))
      val b = sig.select(col("doc_id").as("doc2"), col("sig").as("s2"))
      a.join(b, col("doc1") < col("doc2"))
        .withColumn("hamming", bit_count(col("s1").bitwiseXOR(col("s2"))).cast("long"))
        .filter(col("hamming") <= 12)
        .select("doc1", "doc2", "hamming")
        .orderBy("doc1", "doc2")
    },
    Some("""
      WITH w AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
                 FROM documents WHERE doc_id < 300),
      h AS (SELECT doc_id,
                   CAST(concat('0x', substr(md5(word), 1, 15)) AS BIGINT) AS h
            FROM w),
      v AS (SELECT doc_id, j,
                   sum(CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END) AS vote
            FROM h, UNNEST(range(60)) AS t(j)
            GROUP BY doc_id, j),
      sig AS (SELECT doc_id,
                     sum(CASE WHEN vote > 0 THEN 1::BIGINT << j ELSE 0 END) AS sig
              FROM v GROUP BY doc_id)
      SELECT a.doc_id AS doc1, b.doc_id AS doc2,
             CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sig, b.sig)) <= 12
      ORDER BY doc1, doc2"""))

  /** Embedding-cosine near-dup — the semantic-dedup variant: candidates are
    * confined to a coarse cell (here the `label` column, standing in for the
    * IVF coarse-quantizer cell of s4/s5), then confirmed by exact cosine ≥
    * 0.35; keeper = smallest id among confirmed neighbors. Search cost is
    * O(Σ cell²) instead of O(n²): at 100 TB the quantizer's cell count grows
    * with the corpus so cells stay bounded, and the equi-join on cell id is
    * a plain shuffle join (each side carries the 256-byte vector + id, no
    * text). Fully deterministic → oracle-checked. */
  val d5 = GraftQuery(
    "d5_embedding_neardup",
    "Embedding-cosine near-dup: cell-local candidates + cosine ≥ 0.35 confirm, keeper = min id",
    (s, dir) => {
      import graft.functions.Functions.{dotProduct, l2Norm}
      val emb = table(s, dir, "embeddings")
        .select(col("vec_id"), col("label"), col("embedding"),
          l2Norm(col("embedding")).as("nrm"))
      val a = emb.select(col("label"), col("vec_id").as("id1"),
        col("embedding").as("e1"), col("nrm").as("n1"))
      val b = emb.select(col("label"), col("vec_id").as("id2"),
        col("embedding").as("e2"), col("nrm").as("n2"))
      a.join(b, Seq("label"))
        .filter(col("id1") < col("id2"))
        .select(col("id1"), col("id2"),
          (dotProduct(col("e1"), col("e2")) / (col("n1") * col("n2"))).as("sim"))
        .filter(col("sim") >= 0.35)
        .groupBy(col("id2").as("doc_id"))
        .agg(min(col("id1")).as("keep_id"),
          count(lit(1)).as("n_neighbors"),
          round(max(col("sim")), 4).as("max_sim"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH n AS (SELECT vec_id, label, embedding,
                        ${sqlNorm("embedding")} AS nrm
                 FROM embeddings),
      p AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
                   ${sqlDot("a.embedding", "b.embedding", "q")}
                     / (a.nrm * b.nrm) AS sim
            FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id)
      SELECT id2 AS doc_id, min(id1) AS keep_id, count(*) AS n_neighbors,
             round(max(sim), 4) AS max_sim
      FROM p WHERE sim >= 0.35
      GROUP BY id2
      ORDER BY doc_id"""))

  /** (doc1, doc2): the pairs of documents with doc_id < 300 whose
    * shingle Jaccard is ≥ 0.3, the edges of d6's duplicate graph. */
  private def d6Edges(s: SparkSession, dir: String): DataFrame = {
    val sh = shingleRows(s, dir, 300)
    overlapPairs(sh, shingleCounts(sh))
      .filter(col("inter").cast("double") / (col("n1") + col("n2") - col("inter")) >= 0.3)
      .select(col("doc1"), col("doc2"))
  }

  /** Near-dup CLUSTERS: connected components over the d3-style Jaccard
    * pair graph (looser 0.3 threshold for richer components), so "keep one
    * per cluster" works even when duplicates chain A~B~C with A̸~C — the
    * step pairwise dedup (d1-d5 keep min-per-pair) cannot express.
    *
    * Spark side: iterative min-label propagation — labels(id) := min(own,
    * neighbors') until fixpoint, each round one shuffle join + hash agg,
    * rounds: the alternating large-star/small-star algorithm (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC 2014) —
    * large-star hangs every larger neighbor of u under min(N(u) ∪ {u}),
    * small-star re-hangs the smaller ones; alternation provably converges
    * to per-component stars in O(log n) rounds (vs O(diameter) for plain
    * min-label propagation — the difference between 8 and 500 shuffles on
    * a 100 TB chain-shaped graph). Each round is two hash aggs + a join on
    * the CURRENT edge set, which only shrinks toward star form.
    * Deterministic (min-id labels) → fully oracle-checked against a DuckDB
    * recursive-CTE transitive closure. */
  val d6 = GraftQuery(
    "d6_neardup_clusters",
    "Connected-component duplicate clusters over Jaccard ≥ 0.3 pairs (large-star/small-star)",
    (s, dir) => {
      // the contraction loop runs on the CONFIRMED-duplicate edge set —
      // orders of magnitude smaller than the corpus (here ≤300 nodes by
      // construction; at scale, proportional to true duplicate density).
      // Narrow the loop's shuffles to match: 6 shuffles/round × 32 near-empty
      // tasks is pure scheduler overhead (this is what AQE would pick for
      // these sizes; set explicitly because localCheckpoint materialization
      // pins each round's partitioning). The session is the build's own, so
      // the caller's conf is never touched.
      val s2 = scoped(s, "spark.sql.shuffle.partitions" -> "4")
      val pairs = d6Edges(s2, dir)
      val nodes = pairs.select(col("doc1").as("id"))
        .union(pairs.select(col("doc2").as("id"))).distinct().cache()
      // one star round: hang the selected (pred) neighbors of every node u
      // under m(u) = min(N(u) ∪ {u}); returns the new undirected edge set
      def star(es: org.apache.spark.sql.DataFrame, large: Boolean) = {
        val sym = es.union(es.select(col("v").as("u"), col("u").as("v")))
        val mins = sym.groupBy("u").agg(min(col("v")).as("mn"))
          .select(col("u"), least(col("mn"), col("u")).as("m"))
        val picked = if (large) sym.filter(col("v") > col("u"))
                     else sym.filter(col("v") <= col("u"))
        val hung = picked.join(mins, "u")
          .select(col("v").as("u"), col("m").as("v"))
        // small-star also re-hangs u itself under m(u) (Kiveris §3) — without
        // it u loses its link to the minimum and components fracture
        val all = if (large) hung
                  else hung.union(mins.select(col("u"), col("m").as("v")))
        all.filter(col("u") =!= col("v"))
          .select(least(col("u"), col("v")).as("u"),
            greatest(col("u"), col("v")).as("v"))
          .distinct()
      }
      var es = pairs.select(col("doc1").as("u"), col("doc2").as("v")).cache()
      def fingerprint(e: org.apache.spark.sql.DataFrame): (Long, Long) = {
        // bit_xor: order-independent and overflow-free under ANSI (a long
        // SUM of 64-bit hashes overflows); edges are distinct so xor is a
        // sound set fingerprint
        val r = e.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
        (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      }
      var fp = fingerprint(es)
      // Adapt the loop's parallelism to the MEASURED edge count (VERDICT r8
      // item 4): the contraction runs 6 shuffles/round, and on a tiny
      // confirmed-duplicate set every extra task is pure scheduler latency —
      // the suite's most load-sensitive entry under a noisy host. ~50k edges
      // per task keeps fixture-scale graphs on ONE task while a 100 TB
      // dup graph still fans out to the full executor count.
      s2.conf.set("spark.sql.shuffle.partitions",
        math.max(1L, math.min(32L, fp._1 / 50000L + 1L)).toString)
      var converged = false
      var rounds = 0
      while (!converged && rounds < 12) {
        // localCheckpoint TRUNCATES the logical plan (cache alone does
        // not): without it each round doubles the plan tree and every
        // subsequent action re-pays catalyst analysis on the whole
        // history — measured minutes of driver time by round 3.
        // The (count, bit_xor) fixpoint fingerprint rides the SAME job as
        // observed metrics (collected task-side during the checkpoint
        // materialization) instead of a second aggregate over the
        // checkpointed result — one job per round, halving the per-round
        // fixed latency that dominated this query at fixture scale, where
        // the edge set is tiny and scheduling is the whole cost (ADVICE
        // r5). The fingerprint is order-independent (xor) and
        // overflow-free; a collision is astronomically unlikely and the
        // oracle still guards.
        val obs = org.apache.spark.sql.Observation(s"d6_round_$rounds")
        val next = star(star(es, large = true), large = false)
          .observe(obs, count(lit(1)).as("n"),
            expr("bit_xor(xxhash64(u, v))").as("h"))
          .localCheckpoint(true)
        val m = obs.get
        val nfp = (m("n").asInstanceOf[Long],
          Option(m("h")).map(_.asInstanceOf[Long]).getOrElse(0L))
        converged = nfp == fp
        fp = nfp
        es = next
        rounds += 1
      }
      // ADVICE r2: a non-converged edge set is NOT star-form — the label
      // extraction below would silently emit duplicate doc_ids with
      // fractured cluster ids. Fail loudly instead; 12 alternating rounds
      // covers graphs up to ~2^12 nodes deep, far beyond the bounded input.
      if (!converged)
        throw new IllegalStateException(
          s"d6: star contraction did not converge within $rounds rounds (fp=$fp)")
      // at the star fixpoint every non-root points at its component root
      val labels = nodes
        .join(es.select(col("v").as("id"), col("u").as("root")), Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("root"), col("id")).as("label"))
      nodes.unpersist(false)
      val sizesByCluster = labels.groupBy("label").agg(count(lit(1)).as("cluster_size"))
      labels.join(sizesByCluster, "label")
        .select(col("id").as("doc_id"), col("label").as("cluster_id"),
          col("cluster_size"))
        .orderBy("cluster_id", "doc_id")
    },
    Some(s"""
      WITH RECURSIVE
      ${closureSql("pairs")},
      labeled AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id)
      SELECT l.id AS doc_id, l.cluster_id, c.cluster_size
      FROM labeled l
      JOIN (SELECT cluster_id, count(*) AS cluster_size
            FROM labeled GROUP BY cluster_id) c USING (cluster_id)
      ORDER BY cluster_id, doc_id"""))

  /** Dedup-pipeline keep-list: d6's duplicate clusters resolved to one
    * representative each — the step that turns "these documents are
    * duplicates" into "keep THIS one, drop the rest", which is what a
    * corpus build actually consumes. Representative = longest text
    * (n_chars), tie → lowest doc_id; singletons (no near-dup) keep
    * themselves with cluster_id = doc_id. One row_number window over the
    * cluster labels + a left join of the (bounded) label set against the
    * corpus slice — at 100 TB the label table is proportional to true
    * duplicate density (far smaller than the corpus) and broadcasts; the
    * window shuffles only (doc_id, cluster_id, n_chars). Deterministic →
    * oracle-checked against the same recursive-CTE closure as d6. */
  /** d6's cluster labels, materialized ONCE per (sf, JVM) — the persisted
    * intermediate a production pipeline keeps anyway (the cluster table is
    * dedup's durable OUTPUT, consumed by many downstream jobs): d8 and d11
    * read it instead of each re-running the whole star contraction, which
    * the bench's per-query cache clearing would otherwise force (~1 s per
    * consumer at sf0.1). Same contract as the streaming spools: content is
    * deterministic per fixture, the build-once memo (`spooled`) keys it by
    * sf dir, the spool root dies with the JVM. d6 itself stays the fully
    * oracle-checked builder of exactly this table. */
  private[graft] def clusterLabels(s: SparkSession, dir: String): DataFrame = {
    val spool = spooled("x_d6_labels_spool", dir)(p =>
      d6.build(s, dir).select(col("doc_id"), col("cluster_id"))
        .coalesce(1).write.mode("overwrite").parquet(p))
    s.read.parquet(spool)
  }

  val d8 = GraftQuery(
    "d8_cluster_representatives",
    "Keep-list from duplicate clusters: longest doc per cluster kept, rest dropped",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val labels = clusterLabels(s, dir)
      val docs = table(s, dir, "documents")
        .filter(col("doc_id") < 300)
        .select(col("doc_id"), col("n_chars"))
      val labeled = docs.join(labels, Seq("doc_id"), "left_outer")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      val w = Window.partitionBy("cluster_id")
        .orderBy(col("n_chars").desc, col("doc_id"))
      labeled
        .withColumn("keep", row_number().over(w) === 1)
        .select(col("doc_id"), col("cluster_id"), col("keep"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH RECURSIVE
      ${closureSql("pairs")},
      labeled AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id),
      docs AS (SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id,
                      d.n_chars
               FROM documents d LEFT JOIN labeled l ON l.id = d.doc_id
               WHERE d.doc_id < 300)
      SELECT doc_id, cluster_id,
             row_number() OVER (PARTITION BY cluster_id
               ORDER BY n_chars DESC, doc_id) = 1 AS keep
      FROM docs
      ORDER BY doc_id"""))

  /** Containment detection — Broder's ASYMMETRIC resemblance variant:
    * c(A,B) = |S(A) ∩ S(B)| / |S(A)| finds documents SUBSUMED by another
    * (quotes, excerpts, page-of-a-book) that symmetric Jaccard misses —
    * a short excerpt of a long doc has tiny Jaccard but containment ≈ 1,
    * and a corpus build drops the excerpt, not the book. Same bounded
    * exact-ground-truth role (and cost shape) as d3: shingle equi-join,
    * per-pair intersection counts, normalized by the CONTAINED side only;
    * the LSH production path for this is d2's bucketing with the same
    * asymmetric normalization at verify time. Deterministic →
    * oracle-checked. Reference: Broder, "On the resemblance and
    * containment of documents" (1997), §2. */
  val d9 = GraftQuery(
    "d9_containment",
    "Asymmetric containment c(A,B)=|S(A)∩S(B)|/|S(A)| ≥ 0.8 on bounded range (excerpt detection)",
    (s, dir) => {
      val sh = shingleRows(s, dir, 300)
      val sizes = shingleCounts(sh)
      sh.as("a").join(sh.as("b"),
          col("a.s") === col("b.s") && col("a.doc_id") =!= col("b.doc_id"))
        .groupBy(col("a.doc_id").as("contained"), col("b.doc_id").as("container"))
        .agg(count(lit(1)).as("inter"))
        .join(sizes.select(col("doc_id").as("contained"), col("n").as("na")), "contained")
        .withColumn("c_raw", col("inter").cast("double") / col("na"))
        // filter on the UNROUNDED value (as the oracle does) — rounding
        // first would admit 0.79996 on one engine only
        .filter(col("c_raw") >= 0.8)
        .select(col("contained"), col("container"),
          round(col("c_raw"), 4).as("containment"))
        .orderBy("contained", "container")
    },
    Some(s"""
      WITH ${shinglesSql(300)},
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      pairs AS (SELECT a.doc_id AS contained, b.doc_id AS container,
                       count(*) AS inter
                FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
                GROUP BY 1, 2)
      SELECT contained, container,
             round(CAST(inter AS DOUBLE) / sz.n, 4) AS containment
      FROM pairs JOIN sizes sz ON sz.doc_id = contained
      WHERE CAST(inter AS DOUBLE) / sz.n >= 0.8
      ORDER BY contained, container"""))

  /** Incremental ingest dedup — the shape d1 (global batch) doesn't cover
    * and the one a production corpus actually runs daily: an incoming
    * batch is deduped (a) against the EXISTING corpus and (b) within
    * itself, without ever re-scanning or re-writing the corpus. The
    * corpus side reduces to its digest set (32 bytes/doc — at 100 TB this
    * is the only thing the join touches, and it's exactly the d1 keep-list
    * materialized once); the batch side left-anti-joins it, then keeps
    * first-by-doc_id within its own digest groups. Fixture split: docs
    * < 400 are "the corpus", ≥ 400 are "today's crawl". Deterministic →
    * oracle-checked with per-doc verdicts. */
  val d10 = GraftQuery(
    "d10_incremental_dedup",
    "New-batch vs existing-corpus dedup: anti-join on digests + first-within-batch",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), canonKey(col("text")).as("k"))
      val corpus = docs.filter(col("doc_id") < 400).select(col("k")).distinct()
      val batch = docs.filter(col("doc_id") >= 400)
      batch
        .join(corpus.withColumn("in_corpus", lit(true)), Seq("k"), "left_outer")
        .withColumn("batch_rank",
          row_number().over(Window.partitionBy("k").orderBy("doc_id")))
        .select(col("doc_id"),
          coalesce(col("in_corpus"), lit(false)).as("dup_of_corpus"),
          (col("batch_rank") > 1).as("dup_in_batch"),
          (col("in_corpus").isNull && col("batch_rank") === 1).as("keep"))
        .orderBy("doc_id")
    },
    Some("""
      WITH k AS (SELECT doc_id,
                        array_to_string((string_split(lower(text), ' '))[1:5], ' ')
                          AS k
                 FROM documents),
      corpus AS (SELECT DISTINCT k FROM k WHERE doc_id < 400),
      batch AS (SELECT doc_id, k.k,
                       row_number() OVER (PARTITION BY k.k ORDER BY doc_id)
                         AS batch_rank
                FROM k WHERE doc_id >= 400)
      SELECT b.doc_id,
             c.k IS NOT NULL AS dup_of_corpus,
             b.batch_rank > 1 AS dup_in_batch,
             (c.k IS NULL AND b.batch_rank = 1) AS keep
      FROM batch b LEFT JOIN corpus c ON c.k = b.k
      ORDER BY b.doc_id"""))

  /** Leakage-free train/test split — the evaluation-hygiene op ML teams
    * botch by splitting per-document: near-duplicates of a test doc left
    * in train leak the answer (the same failure t10 scans for against
    * EXTERNAL benchmarks, here against the corpus's own held-out split).
    * The split unit is therefore the d6 duplicate CLUSTER: every member
    * of a cluster lands in the same split by construction, singletons are
    * their own unit, and assignment hashes the CLUSTER id (m7's portable
    * ascii-of-md5-prefix trick — engine-portable, corpus-order
    * independent). ~75/25 by cluster count at this threshold; the
    * no-straddle property is structural (one hash per cluster), not
    * sampled. Deterministic → oracle-checked per doc. */
  val d11 = GraftQuery(
    "d11_leakage_split",
    "Cluster-granular train/test split: near-dups never straddle (hash on cluster id)",
    (s, dir) => {
      val labels = clusterLabels(s, dir)
      val docs = table(s, dir, "documents")
        .filter(col("doc_id") < 300).select(col("doc_id"))
      docs.join(labels, Seq("doc_id"), "left_outer")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
        .withColumn("split",
          when(ascii(substring(md5(col("cluster_id").cast("string")), 1, 1)) % 10 < 8,
            "train").otherwise("test"))
        .select(col("doc_id"), col("cluster_id"), col("split"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH RECURSIVE
      ${closureSql("pairs")},
      labeled AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id),
      docs AS (SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
               FROM documents d LEFT JOIN labeled l ON l.id = d.doc_id
               WHERE d.doc_id < 300)
      SELECT doc_id, cluster_id,
             CASE WHEN ascii(substr(md5(CAST(cluster_id AS VARCHAR)), 1, 1)) % 10 < 8
                  THEN 'train' ELSE 'test' END AS split
      FROM docs
      ORDER BY doc_id"""))

  /** Exact MinHash+LSH ground truth — d2's oracle-checked twin, completing
    * the d3↔d2 / d7↔d4 pattern for the BANDING pipeline itself: d2's
    * signature (murmur3 + native expression) is engine-specific, so this
    * twin derives shingle hashes from md5 (the hash both engines share,
    * d7's idiom) and runs the exact same architecture — k=16 affine
    * permutation minima, 4 bands × 4 rows, candidates = pairs sharing a
    * band, plus the MinHash Jaccard ESTIMATE (equal-minima fraction) —
    * every step in portable integer arithmetic, hash-checkable end-to-end.
    * All moduli keep products under 2^62: h is folded to h32 < 2^32 and
    * a_j < 2^30, so both engines stay in exact signed-64 range. Counts and
    * sixteenths (k/16 is exact in binary) make the output float-safe.
    * Bounded range (wider than d3/d7 so the sf0.1 sweep also
    * exercises collisions); the scale path remains d2's banding over
    * the native signature. */
  // md5-MinHash constants shared by d12 (verification) and d15 (ingest):
  private val MhP = 4294967291L  // modulus: smallest prime above 2^32
  private val MhA = 1073741789L  // a_j/b_j domain: prime below 2^30 (overflow-safe)

  /** The portable md5-MinHash signature table (doc_id < 2000 slice, 16
    * affine-permutation minima per doc) — the INDEX d12 verifies end to end
    * and d15 probes incrementally. Materialized once per (sf, JVM), same
    * contract as [[clusterLabels]]: in production this is dedup's persisted
    * band index; here the spool keeps two consumers from recomputing
    * identical signatures under the bench's per-query cache clearing.
    * Bench charges the build as `x_minhash_sig_spool`. */
  private[graft] def minhashSigs(s: SparkSession, dir: String): DataFrame = {
    val spool = spooled("x_minhash_sig_spool", dir) { p =>
      val sh = shingleRows(s, dir, 2000)
      val h = sh.select(col("doc_id"),
        expr(s"CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT) % $MhP").as("h32"))
      // 16 min-aggregates in ONE grouped pass instead of exploding every
      // shingle ×16 ahead of the aggregate: the affine coefficients
      // a_j/b_j are compile-time constants, so each shingle row updates
      // 16 agg buffers directly — the old explode pushed 16× the row
      // volume through the hash aggregate to reach the identical
      // per-(doc, j) minima, which it then unpivots back out. Same
      // shuffle (≤ 16 rows per doc), 1/16th the pre-agg input.
      val minCols = (0 until 16).map { j =>
        val aj = (1103515245L * (j + 1) + 12345L) % MhA
        val bj = (12345L * (j + 7) + 6789L) % MhA
        min(expr(s"($aj * h32 + $bj) % $MhP")).as(s"m$j")
      }
      h.groupBy("doc_id")
        .agg(minCols.head, minCols.tail: _*)
        .select(col("doc_id"),
          posexplode(array((0 until 16).map(j => col(s"m$j")): _*)))
        .toDF("doc_id", "j", "m")
        .select(col("doc_id"), col("j").cast("long").as("j"), col("m"))
        .coalesce(1).write.mode("overwrite").parquet(p)
    }
    s.read.parquet(spool)
  }

  /** Distinct candidate pairs from a banded-signature frame (doc_id, band,
    * bucket): group per (band, bucket), then pair every doc against the
    * LATER entries of the group's sorted id array. The sig subtree is
    * evaluated once and pair fan-out happens inside each group — the old
    * self-join shuffled the signature frame twice and re-ran the spool
    * read + banding aggregate under both sides. Fan-out is CHUNKED per
    * doc1 (ADVICE r15): posexplode emits one row per (bucket, doc1) whose
    * partner list is the sorted tail — O(m) per row — instead of
    * materializing all O(m²) pair structs inside a single row, so a
    * degenerate bucket (many identical docs) cannot blow one task row's
    * memory at corpus scale. Ids are unique per bucket (sig groups by
    * (doc_id, band)), so the sorted positional tail is exactly the
    * {y : y > x} value filter it replaces — identical pair set. */
  private def bandingCandidates(sig: DataFrame): DataFrame =
    sig.groupBy("band", "bucket")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "doc1")))
      .select(col("doc1"),
        explode(slice(col("ids"), col("i") + lit(2), size(col("ids")))).as("doc2"))
      .distinct()

  /** (doc_id, band, bucket): the [[minhashSigs]] minima in 4 bands of 4,
    * each band's bucket its minima joined in j order. */
  private def bandSigs(m: DataFrame): DataFrame =
    m.withColumn("band", (col("j") / 4).cast("int"))
      .groupBy("doc_id", "band")
      .agg(array_join(transform(array_sort(collect_list(struct(col("j"), col("m")))),
        x => x("m").cast("string")), ":").as("bucket"))

  /** Oracle CTEs over `sh`: `h` and `m`, the [[minhashSigs]] minima, and
    * `sig`, their [[bandSigs]] buckets. */
  private val minhashSql = s"""h AS (SELECT doc_id,
                     CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % $MhP AS h32
              FROM sh),
        m AS (SELECT doc_id, j,
                     min((((1103515245 * (j + 1) + 12345) % $MhA) * h32
                          + ((12345 * (j + 7) + 6789) % $MhA)) % $MhP) AS m
              FROM h, UNNEST(range(16)) AS t(j)
              GROUP BY doc_id, j),
        sig AS (SELECT doc_id, j // 4 AS band,
                       string_agg(CAST(m AS VARCHAR), ':' ORDER BY j) AS bucket
                FROM m GROUP BY doc_id, j // 4)"""

  /** Oracle CTE `cand`: the distinct pairs doc1 < doc2 sharing a `sig`
    * band bucket, [[bandingCandidates]]. */
  private val bandPairsSql = """cand AS (SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
                 FROM sig a JOIN sig b
                   ON a.band = b.band AND a.bucket = b.bucket
                      AND a.doc_id < b.doc_id)"""

  val d12 = GraftQuery(
    "d12_minhash_exact",
    "Exact md5-MinHash(16) + 4×4 LSH banding + estimate over doc_id < 2000 (d2's cross-engine twin)",
    (s, dir) => {
      val m = minhashSigs(s, dir)
      val sig = bandSigs(m)
      val cand = bandingCandidates(sig)
      cand
        .join(m.select(col("doc_id").as("doc1"), col("j"), col("m").as("ma")), Seq("doc1"))
        .join(m.select(col("doc_id").as("doc2"), col("j"), col("m").as("mb")), Seq("doc2", "j"))
        .groupBy("doc1", "doc2")
        .agg(sum(when(col("ma") === col("mb"), 1).otherwise(0)).as("n_equal"))
        .select(col("doc1"), col("doc2"), col("n_equal"),
          round(col("n_equal").cast("double") / 16, 4).as("est_jaccard"))
        .orderBy("doc1", "doc2")
    },
    Some(s"""
      WITH ${shinglesSql(2000)},
      ${minhashSql},
      ${bandPairsSql}
      SELECT c.doc1, c.doc2,
             CAST(sum(CASE WHEN ma.m = mb.m THEN 1 ELSE 0 END) AS BIGINT) AS n_equal,
             round(CAST(sum(CASE WHEN ma.m = mb.m THEN 1 ELSE 0 END) AS DOUBLE) / 16,
                   4) AS est_jaccard
      FROM cand c
      JOIN m ma ON ma.doc_id = c.doc1
      JOIN m mb ON mb.doc_id = c.doc2 AND mb.j = ma.j
      GROUP BY c.doc1, c.doc2
      ORDER BY doc1, doc2"""))

  /** Transitivity audit of the near-dup graph — triangle count vs open
    * wedges (2-paths that DON'T close): the structural signal for whether
    * pairwise dedup suffices or duplicates CHAIN (A~B~C with A̸~C), which
    * is exactly when d6's cluster-level dedup is required. High closure ⇒
    * near-dups form tight cliques (pairwise keep-min is safe); low closure
    * ⇒ chains (keep-min per pair leaves transitive duplicates behind).
    * Triangle enumeration is the standard two-join over ordered edges
    * (a<b<c counts each triangle once); wedges come from per-vertex
    * degrees (Σ deg·(deg−1)/2 counts each 2-path once at its center).
    * Both are joins on ids only — at 100 TB this runs on the (duplicate-
    * density-bounded) edge list, never the corpus. Global closure is
    * reported ×10000 as an integer (3·triangles / wedges). */
  val d13 = GraftQuery(
    "d13_dup_graph_triangles",
    "Near-dup graph transitivity: triangles, open wedges, global closure ×10000",
    (s, dir) => {
      val sh = shingleRows(s, dir, 2000)
      val edges = overlapPairs(sh, shingleCounts(sh))
        .filter(col("inter").cast("double") /
          (col("n1") + col("n2") - col("inter")) >= 0.3)
        .select("doc1", "doc2")
        .cache() // tiny (true-duplicate pairs); scanned by triangles + degrees
      val tri = edges.as("e1")
        .join(edges.as("e2"), col("e1.doc2") === col("e2.doc1"))
        .join(edges.as("e3"),
          col("e3.doc1") === col("e1.doc1") && col("e3.doc2") === col("e2.doc2"))
        .agg(count(lit(1)).as("triangles"))
      val deg = edges.select(col("doc1").as("id")).unionAll(edges.select(col("doc2").as("id")))
        .groupBy("id").agg(count(lit(1)).as("d"))
      val wedges = deg.agg(sum(col("d") * (col("d") - 1) / 2).cast("long").as("wedges"))
      tri.crossJoin(wedges)
        .select(col("triangles"), col("wedges"),
          when(col("wedges") > 0,
            (col("triangles") * 3 * 10000 / col("wedges")).cast("long"))
            .otherwise(0L).as("closure_x10000"))
    },
    Some(s"""
      WITH ${shinglesSql(2000)},
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      pairs AS (SELECT a.doc_id AS u, b.doc_id AS v, count(*) AS inter
                FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
      edges AS (SELECT u, v FROM pairs
                JOIN sizes su ON su.doc_id = u
                JOIN sizes sv ON sv.doc_id = v
                WHERE CAST(inter AS DOUBLE) / (su.n + sv.n - inter) >= 0.3),
      tri AS (SELECT count(*) AS triangles
              FROM edges e1
              JOIN edges e2 ON e2.u = e1.v
              JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v),
      deg AS (SELECT id, count(*) AS d FROM (
                SELECT u AS id FROM edges UNION ALL SELECT v FROM edges)
              GROUP BY id),
      wg AS (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS wedges FROM deg)
      SELECT CAST(triangles AS BIGINT) AS triangles, wedges,
             CASE WHEN wedges > 0
                  THEN CAST(triangles * 3 * 10000 // wedges AS BIGINT)
                  ELSE 0 END AS closure_x10000
      FROM tri, wg"""))

  /** Semantic dedup, SemDeDup shape (Abbas et al., "SemDeDup:
    * Data-efficient learning at web-scale through semantic deduplication",
    * 2023): cluster the embedding space, and within each cluster drop
    * near-duplicate pairs keeping the member FARTHEST from the cluster
    * centroid (the paper's keep rule — extreme points carry more signal
    * than the cluster's dense core). Differs from d5 on exactly that axis:
    * d5's keeper is min-id (arbitrary), d14's is the semantic criterion.
    *
    * Decision rule (greedy pairwise, no transitive closure): vector i is
    * REMOVED iff some j in its cluster has cosine(i,j) ≥ τ and j is more
    * keepable — lower centroid-cosine, ties by lower id. Per removed
    * vector we report how many dominators it had and which one ultimately
    * keeps it (the most-keepable dominator).
    *
    * Scale shape: clusters here are the label cells (standing in for the
    * k-means coarse cells s7 trains — same machinery, deterministic for
    * the oracle). Pairwise work is CELL-LOCAL — fan-out follows cell
    * population, never n² over the corpus; centroids broadcast (10 rows);
    * after the pair filter only (id, rounded-float) tuples shuffle.
    * Centroid cosines round to 6dp before any comparison so the keepable
    * ordering is engine-identical. */
  val d14 = GraftQuery(
    "d14_semdedup",
    "SemDeDup keep-list: cell-local near-dups removed in favor of the member farthest from centroid",
    (s, dir) => {
      import graft.functions.Functions.{dotProduct, l2Norm}
      val emb = table(s, dir, "embeddings")
      val summed = emb.groupBy("label").agg(
        count(lit(1)).as("n"),
        array((0 until 64).map(i =>
          sum(element_at(col("embedding"), i + 1).cast("double"))): _*).as("sumvec"))
      // centroid components quantized at 6 decimals (the s4 rationale:
      // double sums are partial-aggregation-order dependent at ulp level)
      val centroids = summed.select(col("label"),
        transform(col("sumvec"), x => round(x / col("n"), 6)).as("centroid"))
      val scored = emb.join(broadcast(centroids), "label")
        .select(col("label"), col("vec_id"), col("embedding"),
          l2Norm(col("embedding")).as("nrm"),
          round(dotProduct(col("embedding"), col("centroid"))
            / (l2Norm(col("embedding")) * l2Norm(col("centroid"))), 6).as("c_sim"))
      val a = scored.select(col("label"), col("vec_id").as("id_i"),
        col("embedding").as("e_i"), col("nrm").as("n_i"), col("c_sim").as("cs_i"))
      val b = scored.select(col("label"), col("vec_id").as("id_j"),
        col("embedding").as("e_j"), col("nrm").as("n_j"), col("c_sim").as("cs_j"))
      val dom = a.join(b, Seq("label"))
        .filter(col("id_i") =!= col("id_j"))
        .filter(dotProduct(col("e_i"), col("e_j")) / (col("n_i") * col("n_j")) >= 0.35)
        .filter(col("cs_j") < col("cs_i") ||
          (col("cs_j") === col("cs_i") && col("id_j") < col("id_i")))
        .select(col("label"), col("id_i"), col("id_j"), col("cs_j"))
        .cache() // tiny (true near-dup pairs); scanned by agg + keeper pick
      val agg1 = dom.groupBy("label", "id_i")
        .agg(count(lit(1)).as("n_dominators"), min(col("cs_j")).as("m"))
      val keeper = dom.join(
          agg1.select(col("id_i"), col("m")), Seq("id_i"))
        .filter(col("cs_j") === col("m"))
        .groupBy("id_i").agg(min(col("id_j")).as("kept_by"))
      agg1.join(keeper, Seq("id_i"))
        .select(col("id_i").as("vec_id"), col("label").cast("long").as("label"),
          col("n_dominators"), col("kept_by"), col("m").as("keeper_csim"))
        .orderBy("vec_id")
    },
    Some(s"""
      WITH ex AS (SELECT label, i, CAST(embedding[i] AS DOUBLE) AS v
                  FROM embeddings, UNNEST(range(1, 65)) AS t(i)),
      sums AS (SELECT label, i, sum(v) AS sv, count(*) AS n
               FROM ex GROUP BY label, i),
      centroids AS (SELECT label, list(round(sv / n, 6) ORDER BY i) AS centroid
                    FROM sums GROUP BY label),
      scored AS (SELECT e.vec_id, e.label, e.embedding,
                        ${sqlNorm("e.embedding")} AS nrm,
                        round(
                          list_aggregate(list_transform(list_zip(e.embedding, c.centroid),
                            p -> CAST(p[1] AS DOUBLE) * p[2]), 'sum')
                          / (${sqlNorm("e.embedding")}
                             * sqrt(list_aggregate(list_transform(c.centroid,
                                 x -> x * x), 'sum'))), 6) AS c_sim
                 FROM embeddings e JOIN centroids c ON e.label = c.label),
      dom AS (SELECT a.label, a.vec_id AS id_i, b.vec_id AS id_j, b.c_sim AS cs_j
              FROM scored a JOIN scored b
                ON a.label = b.label AND a.vec_id <> b.vec_id
              WHERE ${sqlDot("a.embedding", "b.embedding", "p")}
                    / (a.nrm * b.nrm) >= 0.35
                AND (b.c_sim < a.c_sim OR (b.c_sim = a.c_sim AND b.vec_id < a.vec_id))),
      agg1 AS (SELECT label, id_i, count(*) AS n_dominators, min(cs_j) AS m
               FROM dom GROUP BY label, id_i),
      keeper AS (SELECT d.id_i, min(d.id_j) AS kept_by
                 FROM dom d JOIN agg1 g ON d.id_i = g.id_i AND d.cs_j = g.m
                 GROUP BY d.id_i)
      SELECT a.id_i AS vec_id, CAST(a.label AS BIGINT) AS label,
             a.n_dominators, k.kept_by, a.m AS keeper_csim
      FROM agg1 a JOIN keeper k ON a.id_i = k.id_i
      ORDER BY vec_id"""))

  /** Incremental NEAR-dup ingest — d10's anti-join covers exact digests;
    * this is the nightly-batch near-dup analog: an incoming slice is
    * checked against the EXISTING corpus's LSH band index without ever
    * comparing incoming×incoming or rescanning existing×existing. In
    * production the existing side's band table is the persisted index
    * (dedup's durable output, the d6-labels posture); here it is
    * recomputed deterministically so the whole pipeline stays
    * hash-checkable cross-engine (d12's portable md5-MinHash, same
    * constants). Candidates come ONLY from band-bucket equality between
    * the two sides, so ingest cost follows the incoming batch's size and
    * true duplicate density — the corpus contributes index lookups, not a
    * scan. Verdict per incoming doc: the existing doc with the highest
    * signature agreement (ties → lowest id), reported when the MinHash
    * estimate clears 8/16 ≈ Jaccard 0.5. */
  val d15 = GraftQuery(
    "d15_incremental_lsh",
    "Incremental LSH ingest: new slice (doc_id%4=0) probes the existing corpus band index",
    (s, dir) => {
      val m = minhashSigs(s, dir)
      val sig = bandSigs(m)
      val newSig = sig.filter(col("doc_id") % 4 === 0)
      val oldSig = sig.filter(col("doc_id") % 4 =!= 0)
      val cand = newSig.as("a").join(oldSig.as("b"),
          col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
        .select(col("a.doc_id").as("new_id"), col("b.doc_id").as("old_id"))
        .distinct()
      val scored = cand
        .join(m.select(col("doc_id").as("new_id"), col("j"), col("m").as("ma")), Seq("new_id"))
        .join(m.select(col("doc_id").as("old_id"), col("j"), col("m").as("mb")), Seq("old_id", "j"))
        .groupBy("new_id", "old_id")
        .agg(sum(when(col("ma") === col("mb"), 1).otherwise(0)).as("n_equal"))
        .filter(col("n_equal") >= 8)
      val best = scored.groupBy("new_id").agg(max(col("n_equal")).as("best"))
      scored.join(best, "new_id")
        .filter(col("n_equal") === col("best"))
        .groupBy("new_id")
        .agg(min(col("old_id")).as("dup_of"), max(col("n_equal")).as("n_equal"))
        .select(col("new_id"), col("dup_of"), col("n_equal"),
          round(col("n_equal").cast("double") / 16, 4).as("est_jaccard"))
        .orderBy("new_id")
    },
    Some(s"""
      WITH ${shinglesSql(2000)},
      ${minhashSql},
      cand AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS old_id
               FROM sig a JOIN sig b
                 ON a.band = b.band AND a.bucket = b.bucket
               WHERE a.doc_id % 4 = 0 AND b.doc_id % 4 <> 0),
      scored AS (SELECT c.new_id, c.old_id,
                        CAST(sum(CASE WHEN ma.m = mb.m THEN 1 ELSE 0 END) AS BIGINT) AS n_equal
                 FROM cand c
                 JOIN m ma ON ma.doc_id = c.new_id
                 JOIN m mb ON mb.doc_id = c.old_id AND mb.j = ma.j
                 GROUP BY c.new_id, c.old_id
                 HAVING sum(CASE WHEN ma.m = mb.m THEN 1 ELSE 0 END) >= 8),
      best AS (SELECT new_id, max(n_equal) AS best FROM scored GROUP BY new_id)
      SELECT s.new_id, min(s.old_id) AS dup_of, max(s.n_equal) AS n_equal,
             round(CAST(max(s.n_equal) AS DOUBLE) / 16, 4) AS est_jaccard
      FROM scored s JOIN best b ON s.new_id = b.new_id AND s.n_equal = b.best
      GROUP BY s.new_id
      ORDER BY s.new_id"""))

  /** The dedup funnel end to end — the composition a corpus build actually
    * runs, with per-stage attrition the way t18 attributes quality
    * filters: stage 1 exact dedup on the FULL normalized text digest (the
    * production norm d1's doc notes — d1's 5-word-prefix key would subsume
    * stage 2 on this fixture, hiding the near-dup stage's contribution),
    * stage 2 near-dup cluster dedup over stage-1 survivors (d6's cluster
    * labels via the shared spool, d8's longest-doc keep rule), plus the
    * total row. Attrition numbers are what the pipeline's owner reports
    * ("exact removed 4%, near-dup another 2%") and what makes a dedup
    * regression visible as a VOLUME change, not just a membership diff.
    * Bounded to the d6/d8 domain (doc_id < 300) so the oracle's recursive
    * closure stays cheap; at scale each stage is the corresponding
    * operator's own plan (digest groupBy; label join + per-cluster
    * window). */
  val d16 = GraftQuery(
    "d16_dedup_funnel",
    "Dedup funnel: exact → near-dup cluster stages with per-stage attrition + total",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = table(s, dir, "documents").filter(col("doc_id") < 300)
        .select(col("doc_id"), col("n_chars"), col("text"))
      val keep1 = docs.groupBy(sha2(lower(col("text")), 256).as("key"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      val s1 = docs.join(keep1, Seq("doc_id")) // stage-1 survivors
      val labeled = s1.join(clusterLabels(s, dir), Seq("doc_id"), "left_outer")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      val w = Window.partitionBy("cluster_id")
        .orderBy(col("n_chars").desc, col("doc_id"))
      val s2 = labeled.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      val (n0, n1, n2) = (docs.count(), s1.count(), s2.count())
      import s.implicits._
      Seq(
        ("1_exact", n0, n0 - n1, n1),
        ("2_neardup_cluster", n1, n1 - n2, n2),
        ("3_total", n0, n0 - n2, n2))
        .toDF("stage", "docs_in", "docs_removed", "docs_out")
        .orderBy("stage")
    },
    Some(s"""
      WITH RECURSIVE
      d0 AS (SELECT doc_id, n_chars, string_split(lower(text), ' ') AS ws
             FROM documents WHERE doc_id < 300),
      k AS (SELECT min(d.doc_id) AS doc_id
            FROM documents d WHERE d.doc_id < 300
            GROUP BY lower(d.text)),
      ${shSql("d0")},
      ${overlapSql("pairs")},
      ${reachSql("pairs")},
      labeled AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id),
      s1 AS (SELECT d0.doc_id, d0.n_chars,
                    coalesce(l.cluster_id, d0.doc_id) AS cluster_id
             FROM d0 JOIN k USING (doc_id)
             LEFT JOIN labeled l ON l.id = d0.doc_id),
      s2 AS (SELECT doc_id FROM (
               SELECT doc_id, row_number() OVER (PARTITION BY cluster_id
                 ORDER BY n_chars DESC, doc_id) AS rn FROM s1)
             WHERE rn = 1),
      c AS (SELECT (SELECT count(*) FROM d0) AS n0,
                   (SELECT count(*) FROM s1) AS n1,
                   (SELECT count(*) FROM s2) AS n2)
      SELECT '1_exact' AS stage, n0 AS docs_in, n0 - n1 AS docs_removed, n1 AS docs_out FROM c
      UNION ALL
      SELECT '2_neardup_cluster', n1, n1 - n2, n2 FROM c
      UNION ALL
      SELECT '3_total', n0, n0 - n2, n2 FROM c
      ORDER BY stage"""))

  /** Exact set-similarity join via prefix filtering — the DETERMINISTIC
    * scalable alternative to LSH banding (d2/d4 trade recall for speed;
    * this trades a weaker-but-exact filter): Chaudhuri et al., "A
    * Primitive Operator for Similarity Joins" (ICDE 2006) + the positional
    * filter of Xiao et al., "Efficient Similarity Joins for Near Duplicate
    * Detection" (WWW 2008, PPJoin). Tokens are 3-word-shingle md5 digests
    * (t24's portable fold — the shuffle carries 8-byte longs, never text);
    * each doc orders its grams by ascending document frequency (rarest
    * first — computed per-doc after a gh-keyed df join, NO global rank
    * table and no single-partition window) and emits only its PREFIX:
    * with |prefix| = n - ceil(τ·n) + 1, two sets with Jaccard ≥ τ MUST
    * share a prefix token (pigeonhole — d4/q98's argument in set form),
    * so recall is 1.0 by construction. Candidates come from a prefix
    * equi-join with integer-exact size bounds (10·n₂ ≥ 6·n₁ both ways),
    * then PPJoin's positional filter: the best-case overlap from match
    * positions, min(n₁−p₁, n₂−p₂)+1, must reach ceil(3(n₁+n₂)/8)
    * (= τ/(1+τ)·(n₁+n₂) at τ=0.6) — measured 193k → 69k candidate pairs
    * at sf0.1 before the exact-intersection verify, which touches
    * candidates only. Every step is integer arithmetic on md5-derived
    * digests → hash-checked end-to-end, full corpus, no doc_id bound
    * (contrast d3, the bounded all-pairs slice). */
  val d17 = GraftQuery(
    "d17_prefix_filter_join",
    "Exact Jaccard ≥ 0.6 join via PPJoin prefix + positional filtering, full corpus",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // Short-doc convention (ADVICE r7): greatest(size-2, 1) keeps docs
      // under 3 words as ONE partial shingle (they can still pair at
      // Jaccard 1.0), unlike t24 which drops them. Deliberate — an exact
      // join should not silently lose short docs — and NOT switchable to
      // greatest(..., 0): Spark's sequence(1, 0) yields the DESCENDING
      // [1, 0] rather than DuckDB range()'s empty set, so the 0-floor
      // would hash-diverge from the oracle on every sub-3-word doc.
      // Persisted because four plan subtrees consume it (the df join, tr,
      // and both sides of the verify join): without this the most
      // expensive stage — explode + md5 over the whole corpus — would be
      // re-executed up to 4× at scale (ADVICE r7). Bench/tests clear the
      // cache between queries, so the pin does not outlive the query.
      val g = table(s, dir, "documents")
        .select(col("doc_id"), words(col("text")).as("ws"))
        .select(col("doc_id"),
          explode(array_distinct(expr(
            """transform(sequence(1, greatest(size(ws) - 2, 1)),
               i -> CAST(conv(substring(md5(concat_ws(' ', slice(ws, i, 3))), 1, 15), 16, 10) AS BIGINT))""")))
            .as("gh"))
        .persist()
      // document frequency via a whole-partition window over gh (the
      // ppJoinPairStage/t24 rewrite): the groupBy(gh)+join-back form
      // planned two gh exchanges (agg + probe side of a sort-merge join);
      // the window attaches the identical per-row count for one
      val byDoc = Window.partitionBy("doc_id")
      val tr = g
        .withColumn("df", count(lit(1)).over(Window.partitionBy("gh")))
        .withColumn("pos", row_number().over(byDoc.orderBy("df", "gh")))
        .withColumn("n", count(lit(1)).over(byDoc))
      val pre = tr.filter(col("pos") <= expr("n - ((6*n + 9) div 10) + 1"))
      val cand = pre.select(col("doc_id").as("d1"), col("gh"), col("n").as("n1"), col("pos").as("p1"))
        .join(pre.select(col("doc_id").as("d2"), col("gh"), col("n").as("n2"), col("pos").as("p2")), Seq("gh"))
        .filter(col("d1") < col("d2") &&
          col("n2") * 10 >= col("n1") * 6 && col("n1") * 10 >= col("n2") * 6)
        .groupBy("d1", "d2", "n1", "n2")
        .agg(max(least(col("n1") - col("p1"), col("n2") - col("p2")) + 1).as("ub"))
        .filter(col("ub") >= expr("(3*(n1 + n2) + 7) div 8"))
      val toks = g.select(col("doc_id"), col("gh"))
      cand
        .join(toks.as("ta"), col("ta.doc_id") === col("d1"))
        .join(toks.as("tb"), col("tb.doc_id") === col("d2") && col("ta.gh") === col("tb.gh"))
        .groupBy(col("d1").as("doc1"), col("d2").as("doc2"), col("n1"), col("n2"))
        .agg(count(lit(1)).as("inter"))
        .filter(col("inter") * 8 >= (col("n1") + col("n2")) * 3)
        .select(col("doc1"), col("doc2"), col("inter"),
          (col("n1") + col("n2") - col("inter")).as("un"),
          round(col("inter").cast("double") / (col("n1") + col("n2") - col("inter")), 4).as("jaccard"))
        .orderBy("doc1", "doc2")
    },
    Some("""
      WITH ws AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
      g0 AS (SELECT doc_id,
                    array_to_string(list_slice(ws, CAST(i AS INTEGER),
                      CAST(i + 2 AS INTEGER)), ' ') AS gram
             FROM ws, UNNEST(range(1, greatest(len(ws) - 2, 1) + 1)) AS t(i)),
      g AS (SELECT DISTINCT doc_id,
                   CAST(concat('0x', substr(md5(gram), 1, 15)) AS BIGINT) AS gh
            FROM g0),
      df AS (SELECT gh, count(*) AS df FROM g GROUP BY gh),
      tr AS (SELECT g.doc_id, g.gh,
                    row_number() OVER (PARTITION BY g.doc_id ORDER BY df.df, g.gh) AS pos,
                    count(*) OVER (PARTITION BY g.doc_id) AS n
             FROM g JOIN df USING (gh)),
      pre AS (SELECT doc_id, gh, pos, n FROM tr
              WHERE pos <= n - ((6*n + 9)//10) + 1),
      cand AS (SELECT a.doc_id AS d1, b.doc_id AS d2, a.n AS n1, b.n AS n2
               FROM pre a JOIN pre b ON a.gh = b.gh AND a.doc_id < b.doc_id
               WHERE 10*b.n >= 6*a.n AND 10*a.n >= 6*b.n
               GROUP BY 1, 2, 3, 4
               HAVING max(least(a.n - a.pos, b.n - b.pos) + 1) >= (3*(a.n + b.n) + 7)//8),
      inter AS (SELECT c.d1, c.d2, c.n1, c.n2, count(*) AS i
                FROM cand c
                JOIN g ta ON ta.doc_id = c.d1
                JOIN g tb ON tb.doc_id = c.d2 AND ta.gh = tb.gh
                GROUP BY 1, 2, 3, 4)
      SELECT d1 AS doc1, d2 AS doc2, i AS inter, (n1 + n2 - i) AS un,
             round(CAST(i AS DOUBLE) / (n1 + n2 - i), 4) AS jaccard
      FROM inter
      WHERE 8*i >= 3*(n1 + n2)
      ORDER BY doc1, doc2"""))

  /** LSH banding evaluation harness — the precision/recall scorecard a
    * dedup owner publishes before trusting d12's index: banding candidates
    * (4 bands × 4 rows ⇒ S-curve threshold ≈ (1/4)^(1/4) ≈ 0.71) scored
    * against the EXACT 3-shingle Jaccard ≥ 0.5 truth set on the same
    * corpus slice. Recall < 100% here is not a bug, it is the S-curve
    * doing its job on 0.5-0.71 similarity pairs — this report is how you
    * SEE that trade-off before re-tuning bands/rows. The threshold test
    * is integer-exact (J ≥ 0.5 ⇔ 3·inter ≥ n₁+n₂), all outputs integer
    * counts/bp. Reuses the x_minhash_sig_spool signature table; the truth
    * side is d13's bounded shingle self-join. One row out. */
  val d18 = GraftQuery(
    "d18_lsh_eval",
    "Banding P/R scorecard: d12 candidates vs exact Jaccard ≥ 0.5 truth, precision/recall bp",
    (s, dir) => {
      val m = minhashSigs(s, dir)
      val sig = bandSigs(m)
      val cand = bandingCandidates(sig)
      // persisted: the shingle explode feeds sizes + BOTH truth-join
      // sides (d17's 4-subtree argument on the bounded slice)
      val sh = shingleRows(s, dir, 2000).persist()
      val truth = overlapPairs(sh, shingleCounts(sh))
        .filter(col("inter") * 3 >= col("n1") + col("n2"))
        .select("doc1", "doc2")
      val tp = cand.join(truth, Seq("doc1", "doc2"))
      cand.agg(count(lit(1)).as("n_candidates"))
        .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
        .crossJoin(tp.agg(count(lit(1)).as("n_tp")))
        .select(col("n_candidates"), col("n_truth"), col("n_tp"),
          expr("n_tp * 10000 div n_candidates").as("precision_bp"),
          expr("n_tp * 10000 div n_truth").as("recall_bp"))
    },
    Some(s"""
      WITH ${shinglesSql(2000)},
      ${minhashSql},
      ${bandPairsSql},
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      truth AS (SELECT p.doc1, p.doc2 FROM (
                  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
                  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                  GROUP BY 1, 2) p
                JOIN sizes s1 ON s1.doc_id = p.doc1
                JOIN sizes s2 ON s2.doc_id = p.doc2
                WHERE p.inter * 3 >= s1.n + s2.n),
      tp AS (SELECT count(*) AS n_tp FROM cand JOIN truth USING (doc1, doc2)),
      nc AS (SELECT count(*) AS n_candidates FROM cand),
      nt AS (SELECT count(*) AS n_truth FROM truth)
      SELECT CAST(n_candidates AS BIGINT) AS n_candidates,
             CAST(n_truth AS BIGINT) AS n_truth,
             CAST(n_tp AS BIGINT) AS n_tp,
             CAST(n_tp * 10000 // n_candidates AS BIGINT) AS precision_bp,
             CAST(n_tp * 10000 // n_truth AS BIGINT) AS recall_bp
      FROM nc, nt, tp"""))

  /** Normalization-tier exact dedup (the CCNet/RefinedWeb discipline:
    * hash the CANONICALIZED text, not the raw bytes): lowercase, strip
    * everything outside [a-z0-9 ], collapse whitespace runs, trim — then
    * group on the md5 of the full canonical form. d1 blocks on a raw
    * 5-word prefix key; d19 asks the orthogonal question a crawl dedup
    * actually faces: how many duplicate groups exist ONLY after
    * normalization (same content, different casing/punctuation/spacing)?
    * `n_raw_variants` attributes exactly that — a group with
    * n_raw_variants > 1 is invisible to byte-exact hashing. All work is
    * row-local until the fixed-width digest groupBy (text never shuffles);
    * the shuffle carries one md5 per doc. The fixture corpus carries no
    * organic byte-variant duplicates, so (q109's discipline) known ground
    * truth is synthesized deterministically in BOTH engines: every 50th
    * doc gains an uppercased copy and a punctuation/whitespace-mangled
    * copy — exactly the variants a crawl produces and byte hashing
    * misses. */
  val d19 = GraftQuery(
    "d19_normalized_dedup",
    "Canonicalize (lower/strip-punct/collapse-ws) then exact dedup; raw-variant attribution",
    (s, dir) => {
      val canon = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
      val base = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val seeds = base.filter(col("doc_id") % 50 === 0)
      val corpus = base
        .unionByName(seeds.select((col("doc_id") + 10000000L).as("doc_id"),
          upper(col("text")).as("text")))
        .unionByName(seeds.select((col("doc_id") + 20000000L).as("doc_id"),
          concat(col("text"), lit("  !!")).as("text")))
      corpus
        .select(col("doc_id"), col("text"), md5(canon).as("ck"))
        .groupBy("ck")
        .agg(
          min("doc_id").as("doc_id"),
          count(lit(1)).as("n_copies"),
          countDistinct(col("text")).as("n_raw_variants"))
        .filter(col("n_copies") > 1)
        .select("doc_id", "n_copies", "n_raw_variants")
        .orderBy("doc_id")
    },
    Some("""
      WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 10000000, upper(text)
        FROM documents WHERE doc_id % 50 = 0
        UNION ALL
        SELECT doc_id + 20000000, text || '  !!'
        FROM documents WHERE doc_id % 50 = 0),
      c AS (
        SELECT doc_id, text,
               md5(trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS ck
        FROM corpus)
      SELECT min(doc_id) AS doc_id, count(*) AS n_copies,
             count(DISTINCT text) AS n_raw_variants
      FROM c
      GROUP BY ck
      HAVING count(*) > 1
      ORDER BY doc_id"""))

  /** Sorted-neighborhood dedup blocking (Hernández & Stolfo SIGMOD '95) —
    * the third classic candidate-generation family next to LSH banding
    * (d2/d4) and prefix filtering (d17): sort the corpus by a cheap
    * canonical key (first 12 chars of the lowered text), compare each doc
    * ONLY to its w−1=3 successors in sort order — w·N candidate pairs
    * total, linear where all-pairs is quadratic, and near-dups sharing a
    * prefix land adjacent. The global rank runs over the 20-byte
    * (key, doc_id) projection via sort + zipWithIndex (the distributed
    * global-index idiom — a rank window with no partition key would drag
    * every row through ONE task; the RDD detour keeps the sort
    * range-partitioned), candidates form by an rn+j equi-join, and only
    * candidate pairs pay the exact 3-shingle Jaccard verify (the native
    * codegen'd ShingleJaccard — texts travel once per candidate, never
    * all-pairs). Same ≥ 0.5 threshold and output shape as d3's ground
    * truth, so the oracle replays rank + window + exact Jaccard in SQL. */
  val d20 = GraftQuery(
    "d20_sorted_neighborhood",
    "Sorted-neighborhood blocking (w=4): sort-adjacent candidates + exact Jaccard verify",
    (s, dir) => {
      import s.implicits._
      val docs = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val keyed = docs.select(col("doc_id"),
        substring(lower(col("text")), 1, 12).as("key"))
      val rn = keyed.orderBy("key", "doc_id").select("doc_id")
        .rdd.zipWithIndex.map { case (r, i) => (r.getLong(0), i) }
        .toDF("doc_id", "rn")
      val cand = rn.select(col("doc_id").as("id1"), col("rn"))
        .withColumn("j", explode(array(lit(1L), lit(2L), lit(3L))))
        .withColumn("rn2", col("rn") + col("j"))
        .join(rn.select(col("doc_id").as("id2"), col("rn").as("rn2")), "rn2")
        .select(least(col("id1"), col("id2")).as("doc1"),
          greatest(col("id1"), col("id2")).as("doc2"))
      cand
        .join(docs.select(col("doc_id").as("doc1"), col("text").as("t1")), "doc1")
        .join(docs.select(col("doc_id").as("doc2"), col("text").as("t2")), "doc2")
        .select(col("doc1"), col("doc2"),
          graft.functions.Functions.shingleJaccard(col("t1"), col("t2")).as("sj"))
        .filter(col("sj.jaccard") >= 0.5)
        .select(col("doc1"), col("doc2"), col("sj.inter").as("inter"),
          col("sj.un").as("un"), round(col("sj.jaccard"), 4).as("jaccard"))
        .orderBy("doc1", "doc2")
    },
    Some(s"""
      WITH k AS (SELECT doc_id, substr(lower(text), 1, 12) AS key FROM documents),
      r AS (SELECT doc_id, row_number() OVER (ORDER BY key, doc_id) AS rn FROM k),
      cand AS (SELECT least(a.doc_id, b.doc_id) AS doc1,
                      greatest(a.doc_id, b.doc_id) AS doc2
               FROM r a JOIN r b ON b.rn BETWEEN a.rn + 1 AND a.rn + 3),
      w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
      ${shSql("w")},
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      inter AS (SELECT c.doc1, c.doc2, count(*) AS inter
                FROM cand c
                JOIN sh a ON a.doc_id = c.doc1
                JOIN sh b ON b.doc_id = c.doc2 AND b.s = a.s
                GROUP BY 1, 2)
      SELECT i.doc1, i.doc2, i.inter,
             (na.n + nb.n - i.inter) AS un,
             round(CAST(i.inter AS DOUBLE) / (na.n + nb.n - i.inter), 4) AS jaccard
      FROM inter i
      JOIN sizes na ON na.doc_id = i.doc1
      JOIN sizes nb ON nb.doc_id = i.doc2
      WHERE CAST(i.inter AS DOUBLE) / (na.n + nb.n - i.inter) >= 0.5
      ORDER BY i.doc1, i.doc2"""))

  /** Approximate string join under EDIT distance via positional q-gram
    * count filtering (Gravano et al., VLDB'01) — the edit-metric sibling
    * of d17's set-metric PPJoin. Corpus = part names plus deterministic
    * one-substitution dirty variants (every third part; '~' never occurs
    * in a name, so each planted pair has distance exactly 1). Candidate
    * generation never compares all pairs: strings within edit distance 1
    * must share ≥ max(len)−3 of their position-aligned bigrams (each edit
    * destroys ≤ q grams and shifts positions ≤ 1), so the join key is
    * (bigram, ⌊pos/2⌋) — one side replicated to the ≤2 buckets its ±1
    * tolerance can land in, q11's band-join discipline applied to string
    * positions — followed by a per-pair count HAVING the bound, a ±1
    * length filter, and a bounded levenshtein verify on survivors only.
    * The oracle is the NAIVE quadratic join (length-banded allpairs +
    * levenshtein): equal hashes prove the filter's recall is exactly 1 —
    * the count-filter theorem observed, not assumed. Scale shape: gram
    * join fans out per (gram, position-bucket) key — bounded by local
    * gram frequency, not corpus size; the quadratic form exists only in
    * the oracle. */
  val d21 = GraftQuery(
    "d21_qgram_edit_join",
    "Edit-distance ≤1 string join via positional bigram count filter + bounded verify",
    (s, dir) => {
      val part = table(s, dir, "part")
      val clean = part.select((col("p_partkey") * 2).as("id"), col("p_name").as("name"))
      val dirty = part.filter(col("p_partkey") % 3 === 0)
        .withColumn("h", (col("p_partkey") % (length(col("p_name")) - 2) + 2).cast("int"))
        .select((col("p_partkey") * 2 + 1).as("id"),
          concat(expr("substring(p_name, 1, h - 1)"), lit("~"),
            expr("substring(p_name, h + 1)")).as("name"))
      // Exact dedup FIRST (d1's stage, composed): the fixture's word-soup
      // names repeat heavily, and identical strings are not an edit-
      // distance problem — without this the dist-0 pairs alone grow
      // quadratically in cluster size (32k pairs at sf0.01). Fuzzy
      // matching runs on the distinct-string universe, min id as the
      // cluster representative; every surviving pair has distance
      // exactly 1.
      val corpus = clean.unionAll(dirty)
        .groupBy("name").agg(min(col("id")).as("id"))
      val grams = corpus.select(col("id"), length(col("name")).as("len"),
          posexplode(expr("transform(sequence(1, length(name) - 1), i -> substring(name, i, 2))")))
        .select(col("id"), col("len"), (col("pos") + 1).as("p"), col("col").as("gram"))
      val a = grams.select(col("id").as("ida"), col("len").as("la"),
          col("p").as("pa"), col("gram"),
          explode(array_distinct(array(
            floor((col("p") - 1) / 2), floor((col("p") + 1) / 2)))).as("b"))
      val bb = grams.select(col("id").as("idb"), col("len").as("lb"),
          col("p").as("pb"), col("gram"), floor(col("p") / 2).as("b"))
      val cand = a.join(bb, Seq("gram", "b"))
        .filter(col("ida") < col("idb")
          && abs(col("pa") - col("pb")) <= 1
          && abs(col("la") - col("lb")) <= 1)
        .groupBy("ida", "idb")
        .agg(count(lit(1)).as("cnt"), max(col("la")).as("la"), max(col("lb")).as("lb"))
        .filter(col("cnt") >= greatest(col("la"), col("lb")) - 3)
      cand
        .join(broadcast(corpus.select(col("id").as("ida"), col("name").as("na"))), "ida")
        .join(broadcast(corpus.select(col("id").as("idb"), col("name").as("nb"))), "idb")
        .withColumn("dist", levenshtein(col("na"), col("nb")))
        .filter(col("dist") <= 1)
        .select(col("ida").as("id_a"), col("idb").as("id_b"),
          col("dist").cast("long").as("dist"))
        .orderBy("id_a", "id_b")
    },
    Some("""
      WITH c0 AS (
        SELECT p_partkey * 2 AS id, p_name AS name FROM part
        UNION ALL
        SELECT p_partkey * 2 + 1,
               substr(p_name, 1, CAST(p_partkey % (length(p_name) - 2) AS INTEGER) + 1)
                 || '~' ||
               substr(p_name, CAST(p_partkey % (length(p_name) - 2) AS INTEGER) + 3)
        FROM part WHERE p_partkey % 3 = 0),
      c AS (SELECT min(id) AS id, name FROM c0 GROUP BY name)
      SELECT a.id AS id_a, b.id AS id_b,
             CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
      FROM c a JOIN c b
        ON a.id < b.id AND abs(length(a.name) - length(b.name)) <= 1
      WHERE levenshtein(a.name, b.name) <= 1
      ORDER BY id_a, id_b"""))

  /** LSH banding parameter tuning — the DESIGN step upstream of d2/d12
    * (which fix b=16, r=4): for a 64-permutation signature, every
    * divisor split b·r = 64 induces an S-curve P(candidate | s) =
    * 1 − (1 − s^r)^b (Leskovec et al., MMDS ch.3), and the config is
    * chosen where the curve's threshold (1/b)^(1/r) lands closest to
    * the target similarity 0.6. The report tabulates, per config, the
    * capture probability at s ∈ {0.4, 0.6, 0.8} — how much sub-target
    * noise each config drags in vs how reliably it catches true pairs —
    * exactly the table an index designer reads before committing a
    * corpus-scale banding run. The probability grid is generated, not
    * scanned (8 configs × nothing): the cost of choosing parameters is
    * zero data passes, which is the point — tune BEFORE touching 100 TB.
    * Transcendentals round(4) per t21's cross-engine discipline. */
  val d22 = GraftQuery(
    "d22_lsh_tuning",
    "LSH banding S-curves for b·r=64: capture probabilities, thresholds, chosen config for target 0.6",
    (s, dir) => {
      val configs = s.range(1, 65).select(col("id").cast("int").as("b"))
        .filter(lit(64) % col("b") === 0)
        .select(col("b"), (lit(64) / col("b")).cast("int").as("r"))
      def cap(sim: Double) = round(
        lit(1.0) - pow(lit(1.0) - pow(lit(sim), col("r")), col("b")), 4)
      val curves = configs
        .withColumn("threshold", round(pow(lit(1.0) / col("b"), lit(1.0) / col("r")), 4))
        .withColumn("p_at_04", cap(0.4))
        .withColumn("p_at_06", cap(0.6))
        .withColumn("p_at_08", cap(0.8))
        .withColumn("dist",
          round(abs(pow(lit(1.0) / col("b"), lit(1.0) / col("r")) - 0.6), 4))
      val best = curves.agg(min(col("dist")).as("best_dist"))
      curves.crossJoin(broadcast(best))
        .select(col("b").cast("long").as("b"), col("r").cast("long").as("r"),
          col("threshold"), col("p_at_04"), col("p_at_06"), col("p_at_08"),
          (col("dist") === col("best_dist")).as("chosen"))
        .orderBy("b")
    },
    Some("""
      WITH configs AS (
        SELECT CAST(b AS BIGINT) AS b, CAST(64 / b AS BIGINT) AS r
        FROM (SELECT unnest(range(1, 65)) AS b)
        WHERE 64 % b = 0),
      curves AS (
        SELECT b, r,
               round(pow(1.0 / b, 1.0 / r), 4) AS threshold,
               round(1 - pow(1 - pow(0.4, r), b), 4) AS p_at_04,
               round(1 - pow(1 - pow(0.6, r), b), 4) AS p_at_06,
               round(1 - pow(1 - pow(0.8, r), b), 4) AS p_at_08,
               round(abs(pow(1.0 / b, 1.0 / r) - 0.6), 4) AS dist
        FROM configs)
      SELECT b, r, threshold, p_at_04, p_at_06, p_at_08,
             dist = (SELECT min(dist) FROM curves) AS chosen
      FROM curves
      ORDER BY b"""))

  /** Dedup-config REGRESSION DIFF — the change-review report a pipeline
    * owner reads before swapping dedup keys (d16 showed one config's
    * attrition; this compares TWO): config A keys on the full normalized
    * text (d1's rule), config B on a looser 40-char normalized prefix
    * (d19's tier idea); survivors are min-doc_id per key under each, and
    * the report counts per-lang membership churn — kept-by-both,
    * only-A, only-B — the volume delta a config swap would ship. A doc
    * surviving B but not A means the LOOSER key chose a different
    * representative (prefix collisions re-elect winners), exactly the
    * subtle churn this report exists to surface. One scan, two digest
    * windows (two shuffles — the two configs' own costs), flags fold in
    * a lang rollup + merged ALL row. */
  val d23 = GraftQuery(
    "d23_dedup_config_diff",
    "Dedup config A/B membership churn: full-text vs 40-char-prefix keys, per-lang + ALL",
    (s, dir) => {
      val wA = org.apache.spark.sql.expressions.Window.partitionBy("ka")
      val wB = org.apache.spark.sql.expressions.Window.partitionBy("kb")
      val flagged = table(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          md5(lower(col("text")).cast("binary")).as("ka"),
          md5(substring(lower(col("text")), 1, 40).cast("binary")).as("kb"))
        .withColumn("survA", (col("doc_id") === min("doc_id").over(wA)).cast("long"))
        .withColumn("survB", (col("doc_id") === min("doc_id").over(wB)).cast("long"))
      val perLang = flagged.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("survA").as("surv_a"), sum("survB").as("surv_b"),
          sum(expr("CASE WHEN survA = 1 AND survB = 0 THEN 1L ELSE 0L END"))
            .as("only_a"),
          sum(expr("CASE WHEN survA = 0 AND survB = 1 THEN 1L ELSE 0L END"))
            .as("only_b"),
          sum(expr("survA * survB")).as("in_both"))
        // lang-count-sized frame, eagerly pinned: the ALL row re-aggregates
        // THIS rollup — one documents scan total
        .localCheckpoint(true)
      val allRow = perLang.agg(sum("n_docs").as("n_docs"),
          sum("surv_a").as("surv_a"), sum("surv_b").as("surv_b"),
          sum("only_a").as("only_a"), sum("only_b").as("only_b"),
          sum("in_both").as("in_both"))
        .select(lit("ALL").as("lang"), col("n_docs"), col("surv_a"),
          col("surv_b"), col("only_a"), col("only_b"), col("in_both"))
      perLang.unionByName(allRow).orderBy("lang")
    },
    Some("""
      WITH flagged AS (
        SELECT doc_id, lang,
               CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY md5(lower(text)))
                    THEN 1 ELSE 0 END AS survA,
               CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY md5(substr(lower(text), 1, 40)))
                    THEN 1 ELSE 0 END AS survB
        FROM documents),
      per_lang AS (
        SELECT lang, count(*) AS n_docs,
               CAST(sum(survA) AS BIGINT) AS surv_a,
               CAST(sum(survB) AS BIGINT) AS surv_b,
               CAST(sum(CASE WHEN survA = 1 AND survB = 0 THEN 1 ELSE 0 END) AS BIGINT) AS only_a,
               CAST(sum(CASE WHEN survA = 0 AND survB = 1 THEN 1 ELSE 0 END) AS BIGINT) AS only_b,
               CAST(sum(survA * survB) AS BIGINT) AS in_both
        FROM flagged GROUP BY lang)
      SELECT lang, n_docs, surv_a, surv_b, only_a, only_b, in_both FROM per_lang
      UNION ALL
      SELECT 'ALL', CAST(sum(n_docs) AS BIGINT), CAST(sum(surv_a) AS BIGINT),
             CAST(sum(surv_b) AS BIGINT), CAST(sum(only_a) AS BIGINT),
             CAST(sum(only_b) AS BIGINT), CAST(sum(in_both) AS BIGINT)
      FROM per_lang
      ORDER BY lang"""))

  /** LICENSE PROPAGATION through duplicate clusters — the governance rule
    * every compliance review imposes on a deduped corpus: a near-dup
    * cluster is only as permissive as its MOST RESTRICTIVE member (a CC
    * copy of proprietary text is still proprietary), so each doc's
    * effective license is the max license rank over its d6 cluster.
    * Licenses are dealt deterministically from the source id (rank =
    * src# mod 4: cc0 < cc-by < cc-by-nc < proprietary); the report shows
    * per source how many docs got RELICENSED by contamination and how
    * many became outright blocked — the licensing cost of duplication,
    * per supplier. Scale shape: cluster membership comes from the
    * persisted d6 label artifact (duplicate-density-sized, broadcast);
    * the cluster-max and the join back are label-table-sized; the corpus
    * is touched once for the (doc, source) projection. Bounded to the
    * d6 ground-truth slice so the oracle can replay the same closure. */
  val d24 = GraftQuery(
    "d24_license_propagation",
    "Cluster-max license resolution: per-source relicensed and blocked doc counts",
    (s, dir) => {
      val docs = table(s, dir, "documents")
        .filter(col("doc_id") < 300)
        .select(col("doc_id"), col("source"),
          expr("CAST(substring(source, 4) AS BIGINT) % 4").as("own"))
      val labeled = docs
        .join(broadcast(clusterLabels(s, dir)), Seq("doc_id"), "left_outer")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      val eff = labeled.groupBy("cluster_id").agg(max("own").as("eff"))
      labeled.join(broadcast(eff), Seq("cluster_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("eff") > col("own"), 1L).otherwise(0L))
            .as("n_relicensed"),
          sum(when(col("eff") === 3 && col("own") < 3, 1L).otherwise(0L))
            .as("n_blocked"))
        .orderBy("source")
    },
    Some(s"""
      WITH RECURSIVE
      ${closureSql("pairs")},
      lab AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id),
      docs AS (SELECT d.doc_id, d.source,
                      CAST(substring(d.source, 4) AS BIGINT) % 4 AS own,
                      coalesce(l.cluster_id, d.doc_id) AS cluster_id
               FROM documents d LEFT JOIN lab l ON l.id = d.doc_id
               WHERE d.doc_id < 300),
      eff AS (SELECT cluster_id, max(own) AS eff FROM docs GROUP BY 1)
      SELECT d.source, count(*) AS n_docs,
             CAST(sum(CASE WHEN e.eff > d.own THEN 1 ELSE 0 END) AS BIGINT)
               AS n_relicensed,
             CAST(sum(CASE WHEN e.eff = 3 AND d.own < 3 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_blocked
      FROM docs d JOIN eff e USING (cluster_id)
      GROUP BY d.source
      ORDER BY d.source"""))

  /** DEDUP-THRESHOLD sensitivity sweep — the "how aggressive should dedup
    * be" curve a corpus owner reads before committing a τ: for each
    * Jaccard threshold on a bp grid (0.20 → 0.80), how many pairs
    * qualify, how many documents get entangled in ANY pair, and how
    * similar the qualifying pairs actually are (mean Jaccard bp). d22
    * tunes the LSH to hit a GIVEN τ; this is the step before — choosing
    * τ from the corpus's own similarity spectrum. Exact pair Jaccard in
    * integer bp (inter·10⁴ div union — no float), swept via a 7-row grid
    * join; the sweep re-reads the pinned pair frame, never the corpus.
    *
    * The pair stage is d17's PPJoin machinery run at the sweep's FLOOR
    * τ = 0.20: every output pair has jac_bp ≥ 2000, and prefix filtering
    * at τ is exact-recall for J ≥ τ (pigeonhole on the df-ordered prefix
    * of length n − ⌈τ·n⌉ + 1), so the candidate set provably covers every
    * row the sweep can emit — same 7-row answer as the naive full
    * shingle self-join, but candidate fan-out is bounded by prefix-token
    * frequency instead of hot-shingle frequency squared. The quadratic
    * form survives only in the DuckDB oracle (d21's convention). */
  /** Parameterized PPJoin pair stage (prefix + positional filtering, the
    * d17 machinery): exact set-similarity candidates for Jaccard ≥
    * tauPct/100 over the doc_id < idBound slice, verified by a string-
    * shingle intersection count. Exact-recall for J ≥ τ by pigeonhole on
    * the df-ordered prefix of length n − ⌈τ·n⌉ + 1; fan-out is bounded by
    * prefix-token frequency, not hot-shingle frequency squared (the d25
    * lesson, reused by d2's truth twin). Returns ((doc1, doc2, inter,
    * n1, n2), sh) — callers derive their own thresholds; `sh` is
    * persisted and must be unpersisted by the caller. */
  private[graft] def ppJoinPairStage(s: org.apache.spark.sql.SparkSession,
      dir: String, idBound: Int, tauPct: Int)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
      import org.apache.spark.sql.expressions.Window
      val sh = shingleRows(s, dir, idBound)
        .persist()
      // candidate generation on 8-byte digests (lean shuffle); the exact
      // verify below re-joins on the STRING shingle, so a digest collision
      // could only add a candidate, never distort a count
      val g = sh.withColumn("gh", expr(
        "CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT)"))
      // document frequency as a whole-partition window over gh: the old
      // groupBy(gh)+join-back planned TWO gh exchanges (agg side + probe
      // side of a sort-merge join) and evaluated g — an md5 per shingle —
      // under both branches; the window form pays one gh exchange, one
      // sort, one md5 pass, and attaches the identical per-row count
      val byDoc = Window.partitionBy("doc_id")
      val tr = g
        .withColumn("df", count(lit(1)).over(Window.partitionBy("gh")))
        .withColumn("pos", row_number().over(byDoc.orderBy("df", "gh")))
        .withColumn("n", count(lit(1)).over(byDoc))
      // prefix: pos ≤ n − ⌈τ·n⌉ + 1; size bound τ·max ≤ 100·min
      val pre = tr.filter(col("pos") <=
        expr(s"n - (($tauPct*n + 99) div 100) + 1"))
      val cand = pre.select(col("doc_id").as("d1"), col("gh"),
          col("n").as("n1"), col("pos").as("p1"))
        .join(pre.select(col("doc_id").as("d2"), col("gh"),
          col("n").as("n2"), col("pos").as("p2")), Seq("gh"))
        .filter(col("d1") < col("d2") &&
          col("n2") * 100 >= col("n1") * tauPct &&
          col("n1") * 100 >= col("n2") * tauPct)
        .groupBy("d1", "d2", "n1", "n2")
        .agg(max(least(col("n1") - col("p1"), col("n2") - col("p2")) + 1).as("ub"))
        // positional filter: best-case overlap must reach
        // ⌈τ/(1+τ)·(n1+n2)⌉ = ⌈tauPct·(n1+n2)/(100+tauPct)⌉
        .filter(col("ub") >=
          expr(s"($tauPct*(n1 + n2) + ${100 + tauPct} - 1) div ${100 + tauPct}"))
      val pairs = cand
        .join(sh.as("ta"), col("ta.doc_id") === col("d1"))
        .join(sh.as("tb"), col("tb.doc_id") === col("d2") &&
          col("ta.s") === col("tb.s"))
        .groupBy(col("d1").as("doc1"), col("d2").as("doc2"),
          col("n1"), col("n2"))
        .agg(count(lit(1)).as("inter"))
        .select("doc1", "doc2", "inter", "n1", "n2")
      (pairs, sh)
  }

  /** d25's pair stage pre-checkpoint, exposed so PlanSpec can pin the
    * candidate-bounded shape (the entry itself checkpoints the 7-row-
    * feeding frame, which truncates lineage). Returns (pairs, sh). */
  private[graft] def d25PairStage(s: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val (raw, sh) = ppJoinPairStage(s, dir, 1000, 20)
    val pairs = raw
      .withColumn("jac_bp", expr("inter * 10000 div (n1 + n2 - inter)"))
      .filter(col("jac_bp") >= 2000)
      .select("doc1", "doc2", "jac_bp")
    (pairs, sh)
  }

  val d25 = GraftQuery(
    "d25_threshold_sweep",
    "Jaccard-threshold sensitivity: pairs, entangled docs, mean similarity per tau",
    (s, dir) => {
      val (pairStage, sh) = d25PairStage(s, dir)
      val pairs = pairStage
        .localCheckpoint(true) // eager — sh is released right after
      sh.unpersist()
      val swept = pairs
        .withColumn("tau_bp", explode(expr(
          "sequence(2000L, 8000L, 1000L)")))
        .filter(col("jac_bp") >= col("tau_bp"))
      val perTau = swept.groupBy("tau_bp")
        .agg(count(lit(1)).as("n_pairs"),
          expr("sum(jac_bp) div count(*)").as("mean_jac_bp"))
      val docsPerTau = swept
        .select(col("tau_bp"), explode(expr("array(doc1, doc2)")).as("doc"))
        .groupBy("tau_bp")
        .agg(countDistinct("doc").as("n_docs"))
      perTau.join(docsPerTau, Seq("tau_bp"))
        .select("tau_bp", "n_pairs", "n_docs", "mean_jac_bp")
        .orderBy("tau_bp")
    },
    Some(s"""
      WITH ${shinglesSql(1000)},
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      pairs AS (
        SELECT doc1, doc2,
               inter * 10000 // (na.n + nb.n - inter) AS jac_bp
        FROM (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
        JOIN sizes na ON na.doc_id = doc1
        JOIN sizes nb ON nb.doc_id = doc2),
      swept AS (
        SELECT CAST(tau_bp AS BIGINT) AS tau_bp, doc1, doc2, jac_bp
        FROM pairs, (SELECT unnest(range(2000, 8001, 1000)) AS tau_bp)
        WHERE jac_bp >= tau_bp),
      pertau AS (
        SELECT tau_bp, count(*) AS n_pairs,
               CAST(sum(jac_bp) AS BIGINT) // count(*) AS mean_jac_bp
        FROM swept GROUP BY tau_bp),
      docs AS (
        SELECT tau_bp, count(DISTINCT doc) AS n_docs
        FROM (SELECT tau_bp, doc1 AS doc FROM swept
              UNION ALL SELECT tau_bp, doc2 FROM swept)
        GROUP BY tau_bp)
      SELECT p.tau_bp, p.n_pairs, d.n_docs, p.mean_jac_bp
      FROM pertau p JOIN docs d USING (tau_bp)
      ORDER BY tau_bp"""))


  /** B-BIT MINWISE hashing (Li & König, 2010) — the storage side of the
    * minhash trade: keeping only the LOWEST BIT of each minimum shrinks
    * the signature 64× (16 bits vs 16 longs) at the price of a noisier,
    * debiased estimator — E[agreement] = J + (1−J)/2, so
    * Ĵ = 2·agreement − 1. This audit runs both estimators over d12's
    * candidate pairs from the SAME signature table: per pair, the full
    * 16-min agreement, the 1-bit agreement, and both estimates in
    * integer 16ths/bp (the debias clamps at 0 — below-random agreement
    * carries no signal). Negligible marginal cost: the parity IS the
    * stored minimum mod 2, no new corpus pass (the persisted signature
    * artifact serves its third consumer). At 100 TB the b-bit variant
    * is what makes billion-doc signature tables RAM-resident. */
  val d26 = GraftQuery(
    "d26_bbit_minwise",
    "1-bit minwise vs full MinHash over d12's candidates: agreements + debiased estimate",
    (s, dir) => {
      val m = minhashSigs(s, dir)
      val sig = bandSigs(m)
      val cand = bandingCandidates(sig)
      cand
        .join(m.select(col("doc_id").as("doc1"), col("j"), col("m").as("ma")), Seq("doc1"))
        .join(m.select(col("doc_id").as("doc2"), col("j"), col("m").as("mb")), Seq("doc2", "j"))
        .groupBy("doc1", "doc2")
        .agg(sum(when(col("ma") === col("mb"), 1L).otherwise(0L)).as("n_equal"),
          sum(when(col("ma") % 2 === col("mb") % 2, 1L).otherwise(0L))
            .as("n_bit_agree"))
        .withColumn("est_full_bp", expr("n_equal * 10000 div 16"))
        .withColumn("est_1bit_bp", expr(
          "greatest((2 * n_bit_agree - 16) * 10000 div 16, 0L)"))
        .select("doc1", "doc2", "n_equal", "n_bit_agree",
          "est_full_bp", "est_1bit_bp")
        .orderBy("doc1", "doc2")
    },
    Some(s"""
      WITH ${shinglesSql(2000)},
      ${minhashSql},
      ${bandPairsSql},
      agg AS (
        SELECT c.doc1, c.doc2,
               CAST(sum(CASE WHEN ma.m = mb.m THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_equal,
               CAST(sum(CASE WHEN ma.m % 2 = mb.m % 2 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_bit_agree
        FROM cand c
        JOIN m ma ON ma.doc_id = c.doc1
        JOIN m mb ON mb.doc_id = c.doc2 AND mb.j = ma.j
        GROUP BY c.doc1, c.doc2)
      SELECT doc1, doc2, n_equal, n_bit_agree,
             n_equal * 10000 // 16 AS est_full_bp,
             greatest((2 * n_bit_agree - 16) * 10000 // 16, 0) AS est_1bit_bp
      FROM agg
      ORDER BY doc1, doc2"""))

  /** CLUSTER-QUALITY margins — the acceptance test for d6's components:
    * a healthy duplicate clustering separates (weakest INTRA-cluster
    * edge still above the strongest INTER-cluster attraction). Per
    * multi-member cluster: size, the minimum intra-cluster pair Jaccard
    * (bp — the weakest link the transitive closure committed to), and
    * the maximum Jaccard from any member to any doc OUTSIDE the cluster
    * (the strongest temptation the threshold resisted); margin = the
    * difference. A negative margin is the smoking gun for a threshold
    * set too high (splitting real duplicate groups) — exactly what d25's
    * sweep tunes against. Pairs and labels both come from the bounded
    * ground-truth closure, so the DuckDB oracle replays everything;
    * the production form runs the same margins over d2's candidates
    * and the d6 label artifact. */
  val d27 = GraftQuery(
    "d27_cluster_quality_margins",
    "Per-cluster min intra vs max escaping Jaccard bp + margin over the d6 closure",
    (s, dir) => {
      val sh = shingleRows(s, dir, 300)
      val pairs = overlapPairs(sh, broadcast(shingleCounts(sh)))
        .select(col("doc1"), col("doc2"),
          expr("inter * 10000 div (n1 + n2 - inter)").as("jac_bp"))
        .localCheckpoint(true)
      val labels = clusterLabels(s, dir)
        .select(col("doc_id"), col("cluster_id"))
      val labeled = pairs
        .join(broadcast(labels.select(col("doc_id").as("doc1"),
          col("cluster_id").as("c1"))), Seq("doc1"), "left_outer")
        .join(broadcast(labels.select(col("doc_id").as("doc2"),
          col("cluster_id").as("c2"))), Seq("doc2"), "left_outer")
        .withColumn("c1", coalesce(col("c1"), col("doc1")))
        .withColumn("c2", coalesce(col("c2"), col("doc2")))
      val intra = labeled.filter(col("c1") === col("c2"))
        .groupBy(col("c1").as("cluster_id"))
        .agg(min("jac_bp").as("min_intra_bp"))
      val escaping = labeled.filter(col("c1") =!= col("c2"))
        .select(explode(expr("array(c1, c2)")).as("cluster_id"), col("jac_bp"))
        .groupBy("cluster_id")
        .agg(max("jac_bp").as("max_escape_bp"))
      val csize = labels.groupBy("cluster_id")
        .agg(count(lit(1)).as("cluster_size"))
        .filter(col("cluster_size") >= 2)
      csize.join(intra, Seq("cluster_id"), "left_outer")
        .join(escaping, Seq("cluster_id"), "left_outer")
        .withColumn("min_intra_bp", coalesce(col("min_intra_bp"), lit(0L)))
        .withColumn("max_escape_bp", coalesce(col("max_escape_bp"), lit(0L)))
        .withColumn("margin_bp", col("min_intra_bp") - col("max_escape_bp"))
        .orderBy("cluster_id")
    },
    Some(s"""
      WITH RECURSIVE
      ${shinglesSql(300)},
      ${overlapSql("pairsraw")},
      pairs AS (SELECT doc1, doc2,
                       inter * 10000 // (na.n + nb.n - inter) AS jac_bp
                FROM pairsraw
                JOIN sizes na ON na.doc_id = doc1
                JOIN sizes nb ON nb.doc_id = doc2),
      ${reachSql("pairsraw")},
      lab AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id),
      labeled AS (
        SELECT p.doc1, p.doc2, p.jac_bp,
               coalesce(l1.cluster_id, p.doc1) AS c1,
               coalesce(l2.cluster_id, p.doc2) AS c2
        FROM pairs p
        LEFT JOIN lab l1 ON l1.id = p.doc1
        LEFT JOIN lab l2 ON l2.id = p.doc2),
      intra AS (SELECT c1 AS cluster_id, min(jac_bp) AS min_intra_bp
                FROM labeled WHERE c1 = c2 GROUP BY 1),
      escaping AS (
        SELECT cluster_id, max(jac_bp) AS max_escape_bp
        FROM (SELECT c1 AS cluster_id, jac_bp FROM labeled WHERE c1 <> c2
              UNION ALL
              SELECT c2, jac_bp FROM labeled WHERE c1 <> c2)
        GROUP BY cluster_id),
      csize AS (SELECT cluster_id, count(*) AS cluster_size
                FROM lab GROUP BY cluster_id HAVING count(*) >= 2)
      SELECT s.cluster_id, s.cluster_size,
             CAST(coalesce(i.min_intra_bp, 0) AS BIGINT) AS min_intra_bp,
             CAST(coalesce(e.max_escape_bp, 0) AS BIGINT) AS max_escape_bp,
             CAST(coalesce(i.min_intra_bp, 0)
                  - coalesce(e.max_escape_bp, 0) AS BIGINT) AS margin_bp
      FROM csize s
      LEFT JOIN intra i USING (cluster_id)
      LEFT JOIN escaping e USING (cluster_id)
      ORDER BY cluster_id"""))

  /** PAIR-EVIDENCE extraction — what a human reviewer actually reads
    * when signing off a dedup decision: for each near-dup pair, the
    * top-3 RAREST shared shingles (rarity = corpus document frequency,
    * ascending — a shingle shared by only these two documents is
    * damning; one shared by half the corpus is noise). Rarity-ranked
    * evidence is also the d17 prefix-filter insight inverted: the rare
    * end of the df spectrum carries the signal. Shared shingles come
    * from the same bounded equi-join as d3; df is one shingle-table
    * rollup joined back (broadcast — the df table is vocabulary-sized);
    * top-3 per pair is a window over the pair's shared set. Ties pin
    * lexicographically, so the evidence table is bit-stable. */
  val d28 = GraftQuery(
    "d28_pair_evidence",
    "Top-3 rarest shared shingles per near-dup pair: the human-readable dedup evidence",
    (s, dir) => {
      val sh = shingleRows(s, dir, 300)
      val df = sh.groupBy("s").agg(countDistinct("doc_id").as("df"))
      val goodPairs = overlapPairs(sh, broadcast(shingleCounts(sh)))
        .filter(expr("inter * 10000 div (n1 + n2 - inter) >= 5000"))
        .select("doc1", "doc2")
      val shared = goodPairs
        .join(sh.select(col("doc_id").as("doc1"), col("s")), Seq("doc1"))
        .join(sh.select(col("doc_id").as("doc2"), col("s")), Seq("doc2", "s"))
        .join(df, Seq("s"))
      shared
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("doc1", "doc2").orderBy(col("df"), col("s"))))
        .filter(col("rank") <= 3)
        .select(col("doc1"), col("doc2"), col("rank").cast("long").as("rank"),
          col("s").as("shingle"), col("df"))
        .orderBy("doc1", "doc2", "rank")
    },
    Some(s"""
      WITH ${shinglesSql(300)},
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      dfreq AS (SELECT s, count(DISTINCT doc_id) AS df FROM sh GROUP BY s),
      pairs AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
                FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
      good AS (SELECT doc1, doc2 FROM pairs
               JOIN sizes na ON na.doc_id = doc1
               JOIN sizes nb ON nb.doc_id = doc2
               WHERE inter * 10000 // (na.n + nb.n - inter) >= 5000),
      shared AS (
        SELECT g.doc1, g.doc2, a.s, dfreq.df
        FROM good g
        JOIN sh a ON a.doc_id = g.doc1
        JOIN sh b ON b.doc_id = g.doc2 AND b.s = a.s
        JOIN dfreq ON dfreq.s = a.s),
      ranked AS (
        SELECT doc1, doc2, s, df,
               row_number() OVER (PARTITION BY doc1, doc2
                                  ORDER BY df, s) AS rank
        FROM shared)
      SELECT doc1, doc2, CAST(rank AS BIGINT) AS rank, s AS shingle,
             CAST(df AS BIGINT) AS df
      FROM ranked WHERE rank <= 3
      ORDER BY doc1, doc2, rank"""))

  /** SURVIVORSHIP merge — what master-data management does AFTER d8
    * picks a representative: the surviving record's FIELDS merge across
    * the whole cluster under per-field rules (keep the minimum id, the
    * longest text's length, the union of sources and languages, the
    * total character mass) — the golden-record discipline, because the
    * representative's own metadata is usually incomplete and the
    * duplicates each carry a piece. Per-field rules are plain
    * aggregates over the label join, so the merge is one |cluster|
    * rollup; sorted-set fields use array_sort + array_join for
    * bit-stable output. Bounded to the d6 closure so the oracle
    * replays it; singletons pass through as their own golden record. */
  val d29 = GraftQuery(
    "d29_survivorship_merge",
    "Golden records: per-field survivorship rules merged across each dup cluster",
    (s, dir) => {
      val docs = table(s, dir, "documents")
        .filter(col("doc_id") < 300)
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
      val labeled = docs
        .join(broadcast(clusterLabels(s, dir)
          .select(col("doc_id"), col("cluster_id"))), Seq("doc_id"), "left_outer")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      labeled.groupBy("cluster_id")
        .agg(count(lit(1)).as("n_members"),
          min("doc_id").as("golden_id"),
          max("n_chars").as("longest_chars"),
          sum("n_chars").as("total_chars"),
          array_join(array_sort(collect_set("source")), ",").as("sources"),
          array_join(array_sort(collect_set("lang")), ",").as("langs"))
        .orderBy("cluster_id")
    },
    Some(s"""
      WITH RECURSIVE
      ${closureSql("pairs")},
      lab AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id),
      members AS (
        SELECT coalesce(l.cluster_id, d.doc_id) AS cluster_id,
               d.doc_id, d.source, d.lang, d.n_chars
        FROM documents d LEFT JOIN lab l ON l.id = d.doc_id
        WHERE d.doc_id < 300)
      SELECT cluster_id, count(*) AS n_members,
             min(doc_id) AS golden_id,
             CAST(max(n_chars) AS BIGINT) AS longest_chars,
             CAST(sum(n_chars) AS BIGINT) AS total_chars,
             array_to_string(list_sort(list_distinct(list(source))), ',')
               AS sources,
             array_to_string(list_sort(list_distinct(list(lang))), ',')
               AS langs
      FROM members
      GROUP BY cluster_id
      ORDER BY cluster_id"""))

  /** B-CUBED CLUSTERING EVAL — the standard extrinsic metric (Bagga &
    * Baldwin '98; Amigó et al. '09 showed it's the only common metric
    * passing all four clustering-eval constraints) for scoring a CHEAP
    * clustering against a reference one: here the zero-join simhash-
    * prefix clustering (docs sharing the top 20 bits of the portable
    * 60-bit md5-simhash — one projection + groupBy, the clustering you
    * can afford on every ingest batch) scored against the exact
    * Jaccard ≥ 0.3 closure (the d6 truth the pipeline actually ships).
    * d27 measures cluster GEOMETRY (margins); d16 counts funnel stages;
    * this scores cluster ASSIGNMENTS: per (truth, predicted) contingency
    * cell, overlap and both cluster sizes, with per-cell B-cubed
    * precision (n_overlap/n_c) and recall (n_overlap/n_t) in integer bp
    * — document-weighted means over the cells ARE B³ P/R. Everything is
    * counts over one label join (truth labels broadcast — duplicate-
    * density-sized), so the eval costs one groupBy at any corpus scale;
    * the closure is the memoized d6 spool, the simhash side one
    * map-side-combined projection. */
  val d30 = GraftQuery(
    "d30_bcubed_eval",
    "B-cubed contingency: simhash-prefix clusters scored against the exact Jaccard closure, integer bp",
    (s, dir) => {
      val cLab = md5Simhash(s, dir).select(col("doc_id"), expr("sig >> 40").as("c"))
      val tLab = clusterLabels(s, dir)
        .select(col("doc_id"), col("cluster_id"))
      val lab = cLab.join(broadcast(tLab), Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("tl"), col("c"))
      val cells = lab.groupBy("tl", "c").agg(count(lit(1)).as("n_overlap"))
      val nT = lab.groupBy("tl").agg(count(lit(1)).as("n_t"))
      val nC = lab.groupBy("c").agg(count(lit(1)).as("n_c"))
      cells.join(broadcast(nT), "tl").join(broadcast(nC), "c")
        .select(col("tl").as("t_cluster"), col("c").as("c_cluster"),
          col("n_overlap"), col("n_t"), col("n_c"),
          expr("n_overlap * 10000 div n_c").as("prec_bp"),
          expr("n_overlap * 10000 div n_t").as("rec_bp"))
        .orderBy("t_cluster", "c_cluster")
    },
    Some(s"""
      WITH RECURSIVE
      ${closureSql("pairsraw")},
      lab AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id),
      wt AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
             FROM documents WHERE doc_id < 300),
      h AS (SELECT doc_id,
                   CAST(concat('0x', substr(md5(word), 1, 15)) AS BIGINT) AS h
            FROM wt),
      v AS (SELECT doc_id, j,
                   sum(CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END) AS vote
            FROM h, UNNEST(range(60)) AS u(j)
            GROUP BY doc_id, j),
      sig AS (SELECT doc_id,
                     sum(CASE WHEN vote > 0 THEN 1::BIGINT << j ELSE 0 END) AS sig
              FROM v GROUP BY doc_id),
      labels AS (SELECT s.doc_id, coalesce(l.cluster_id, s.doc_id) AS tl,
                        CAST(s.sig AS BIGINT) >> 40 AS c
                 FROM sig s LEFT JOIN lab l ON l.id = s.doc_id),
      cells AS (SELECT tl, c, count(*) AS n_overlap FROM labels GROUP BY tl, c),
      nt AS (SELECT tl, count(*) AS n_t FROM labels GROUP BY tl),
      nc AS (SELECT c, count(*) AS n_c FROM labels GROUP BY c)
      SELECT cells.tl AS t_cluster, cells.c AS c_cluster, n_overlap, n_t, n_c,
             n_overlap * 10000 // n_c AS prec_bp,
             n_overlap * 10000 // n_t AS rec_bp
      FROM cells JOIN nt ON nt.tl = cells.tl JOIN nc ON nc.c = cells.c
      ORDER BY t_cluster, c_cluster"""))

  /** CLUSTER HOP-RADIUS — BFS over the duplicate graph, the traversal
    * primitive the family lacks (d6 contracts components, d13 audits
    * triangles; neither answers "how FAR is a member from its
    * representative"): a cluster glued by a long CHAIN of pairwise
    * matches (A~B~C~D, radius 3) is a different review risk than a
    * clique (radius 1) — chained clusters are where transitive dedup
    * over-merges, so radius is the triage column a reviewer sorts by.
    * Frontier BFS from each representative (= min doc_id, the label
    * convention) over the exact Jaccard ≥ 0.3 edges: per round one
    * equi-join frontier×edges + one anti-join against the visited set —
    * the textbook distributed BFS whose cost is O(edges) per round, 6
    * rounds bounded (closures can't escape their edges, so the walk
    * stays in-cluster); localCheckpoint truncates the loop lineage, the
    * d6 discipline. Oracle: recursive-CTE BFS with min-hop fold. */
  val d31 = GraftQuery(
    "d31_cluster_hop_radius",
    "BFS from each cluster rep over dup edges: radius + unreached audit per cluster",
    (s, dir) => {
      val s2 = scoped(s, "spark.sql.shuffle.partitions" -> "4") // tiny confirmed-dup graph
      val pairs = d6Edges(s2, dir)
      val sym = pairs.select(col("doc1").as("u"), col("doc2").as("v"))
        .union(pairs.select(col("doc2").as("u"), col("doc1").as("v")))
        .localCheckpoint(true)
      val labels = clusterLabels(s2, dir)
        .select(col("doc_id"), col("cluster_id"))
      var dist = labels.select("cluster_id").distinct()
        .select(col("cluster_id"), col("cluster_id").as("doc_id"),
          lit(0L).as("hop"))
        .localCheckpoint(true)
      var frontier = dist
      var k = 1
      while (k <= 6 && frontier.limit(1).count() > 0) {
        val next = frontier.join(sym, frontier("doc_id") === sym("u"))
          .select(frontier("cluster_id"), sym("v").as("doc_id"),
            lit(k.toLong).as("hop"))
          .distinct()
          .join(dist.select("cluster_id", "doc_id"),
            Seq("cluster_id", "doc_id"), "left_anti")
          .localCheckpoint(true)
        dist = dist.unionByName(next).localCheckpoint(true)
        frontier = next
        k += 1
      }
      labels
        .join(dist, Seq("cluster_id", "doc_id"), "left_outer")
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_members"),
          max(coalesce(col("hop"), lit(-1L))).as("radius"),
          sum(when(col("hop").isNull, 1L).otherwise(0L)).as("n_unreached"))
        .filter(col("n_members") >= 2)
        .orderBy("cluster_id")
    },
    Some(s"""
      WITH RECURSIVE
      ${closureSql("pairsraw")},
      lab AS (SELECT id AS doc_id, min(label) AS cluster_id FROM reach GROUP BY id),
      walk AS (SELECT cluster_id, cluster_id AS id, 0 AS hop
               FROM (SELECT DISTINCT cluster_id FROM lab)
               UNION
               SELECT wk.cluster_id, e.dst, wk.hop + 1
               FROM walk wk JOIN edges e ON e.src = wk.id
               WHERE wk.hop < 6),
      dmin AS (SELECT cluster_id, id AS doc_id, min(hop) AS hop
               FROM walk GROUP BY 1, 2)
      SELECT l.cluster_id,
             count(*) AS n_members,
             CAST(max(coalesce(d.hop, -1)) AS BIGINT) AS radius,
             CAST(sum(CASE WHEN d.hop IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unreached
      FROM lab l
      LEFT JOIN dmin d ON d.cluster_id = l.cluster_id AND d.doc_id = l.doc_id
      GROUP BY l.cluster_id
      HAVING count(*) >= 2
      ORDER BY l.cluster_id"""))

  /** SIMHASH CONFUSION MATRIX — the threshold-licensing table for d4:
    * d22 tunes MinHash banding and d18 pins its S-curve, but the
    * simhash arm's "hamming ≤ 12" cut has never been CHARACTERIZED
    * against exact truth. Over the shared-shingle candidate universe
    * (the only pairs any method can ever surface), cross-tabulate exact
    * Jaccard bands (<10%, 10-30%, ≥30%) against hamming bands (≤12,
    * 13-20, >20): the (≥30%, ≤12) cell is the catch, (≥30%, >20) the
    * misses, (<10%, ≤12) the false alarms a verify stage must absorb —
    * the three numbers that justify (or veto) a production threshold.
    * Both signals ride recipes already hash-proven (d27's exact pairs,
    * d7's portable 60-bit md5-simhash); the matrix is one join + one
    * groupBy over the bounded candidate set. */
  val d32 = GraftQuery(
    "d32_simhash_confusion",
    "Exact-Jaccard bands x simhash-hamming bands over the candidate universe: the d4 threshold license",
    (s, dir) => {
      val sh = shingleRows(s, dir, 300)
      val pairs = overlapPairs(sh, broadcast(shingleCounts(sh)))
        .select(col("doc1"), col("doc2"),
          expr("inter * 10000 div (n1 + n2 - inter)").as("jac_bp"))
      val sig = md5Simhash(s, dir)
      pairs
        .join(broadcast(sig.select(col("doc_id").as("doc1"), col("sig").as("s1"))), "doc1")
        .join(broadcast(sig.select(col("doc_id").as("doc2"), col("sig").as("s2"))), "doc2")
        .select(
          when(col("jac_bp") >= 3000, "2_dup_ge30")
            .when(col("jac_bp") >= 1000, "1_gray_10_30")
            .otherwise("0_nondup_lt10").as("exact_band"),
          when(expr("bit_count(s1 ^ s2) <= 12"), "0_ham_le12")
            .when(expr("bit_count(s1 ^ s2) <= 20"), "1_ham_13_20")
            .otherwise("2_ham_gt20").as("ham_band"))
        .groupBy("exact_band", "ham_band")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("exact_band", "ham_band")
    },
    Some(s"""
      WITH ${shinglesSql(300)},
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      pairs AS (
        SELECT a.doc_id AS doc1, b.doc_id AS doc2,
               count(*) * 10000 // (na.n + nb.n - count(*)) AS jac_bp
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        JOIN sizes na ON na.doc_id = a.doc_id
        JOIN sizes nb ON nb.doc_id = b.doc_id
        GROUP BY a.doc_id, b.doc_id, na.n, nb.n),
      wt AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
             FROM documents WHERE doc_id < 300),
      h AS (SELECT doc_id,
                   CAST(concat('0x', substr(md5(word), 1, 15)) AS BIGINT) AS h
            FROM wt),
      v AS (SELECT doc_id, j,
                   sum(CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END) AS vote
            FROM h, UNNEST(range(60)) AS u(j)
            GROUP BY doc_id, j),
      sig AS (SELECT doc_id,
                     CAST(sum(CASE WHEN vote > 0 THEN 1::BIGINT << j ELSE 0 END)
                       AS BIGINT) AS sig
              FROM v GROUP BY doc_id)
      SELECT CASE WHEN p.jac_bp >= 3000 THEN '2_dup_ge30'
                  WHEN p.jac_bp >= 1000 THEN '1_gray_10_30'
                  ELSE '0_nondup_lt10' END AS exact_band,
             CASE WHEN bit_count(xor(a.sig, b.sig)) <= 12 THEN '0_ham_le12'
                  WHEN bit_count(xor(a.sig, b.sig)) <= 20 THEN '1_ham_13_20'
                  ELSE '2_ham_gt20' END AS ham_band,
             count(*) AS n_pairs
      FROM pairs p
      JOIN sig a ON a.doc_id = p.doc1
      JOIN sig b ON b.doc_id = p.doc2
      GROUP BY 1, 2
      ORDER BY exact_band, ham_band"""))

  /** (k, nation, seg, bal, name): customers with c_custkey < 400, the one
    * source the linkage entries (d33–d35) perturb into two; bal in cents. */
  private def linkageBase(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "customer")
      .filter(col("c_custkey") < 400)
      .select(col("c_custkey").cast("long").as("k"),
        col("c_nationkey").cast("long").as("nation"),
        col("c_mktsegment").as("seg"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("bal"),
        col("c_name").as("name"))

  /** Oracle CTE `base`: [[linkageBase]]. */
  private val linkageBaseSql = """base AS (
        SELECT CAST(c_custkey AS BIGINT) AS k,
               CAST(c_nationkey AS BIGINT) AS nation,
               c_mktsegment AS seg,
               CAST(round(c_acctbal * 100) AS BIGINT) AS bal,
               c_name AS name
        FROM customer WHERE c_custkey < 400)"""

  /** Oracle CTEs `base` and its two sources: `a` as is, `b` with the
    * segment rotated at k%3, the balance nudged at k%4 and the name
    * suffixed at k%5. */
  private val linkageSql = s"""$linkageBaseSql,
      a AS (SELECT k AS ka, nation, seg AS seg_a, bal AS bal_a,
                   name AS name_a FROM base),
      b AS (SELECT k AS kb, nation,
                   CASE WHEN k % 3 = 0 THEN 'OTHER' ELSE seg END AS seg_b,
                   CASE WHEN k % 4 = 0 THEN bal + 5 ELSE bal END AS bal_b,
                   CASE WHEN k % 5 = 0 THEN name || '~X' ELSE name END AS name_b
            FROM base)"""

  /** Oracle CTE `params`: the add-1-smoothed m and u of each field, from
    * the labeled candidate `pairs` (is_true, agree_seg, agree_bal,
    * agree_name). */
  private val linkageParamsSql = """params AS (
        SELECT CAST(sum(is_true * agree_seg) + 1 AS DOUBLE)
                 / (sum(is_true) + 2) AS m_seg,
               CAST(sum(is_true * agree_bal) + 1 AS DOUBLE)
                 / (sum(is_true) + 2) AS m_bal,
               CAST(sum(is_true * agree_name) + 1 AS DOUBLE)
                 / (sum(is_true) + 2) AS m_name,
               CAST(sum((1 - is_true) * agree_seg) + 1 AS DOUBLE)
                 / (sum(1 - is_true) + 2) AS u_seg,
               CAST(sum((1 - is_true) * agree_bal) + 1 AS DOUBLE)
                 / (sum(1 - is_true) + 2) AS u_bal,
               CAST(sum((1 - is_true) * agree_name) + 1 AS DOUBLE)
                 / (sum(1 - is_true) + 2) AS u_name
        FROM pairs)"""

  /** Oracle expression: pair `p`'s Fellegi–Sunter score under `params`,
    * Σ ln(m/u) over agreeing fields + ln((1−m)/(1−u)) over the others. */
  private val linkageScoreSql = """round(
                 CASE WHEN p.agree_seg = 1 THEN ln(m_seg / u_seg)
                      ELSE ln((1 - m_seg) / (1 - u_seg)) END
               + CASE WHEN p.agree_bal = 1 THEN ln(m_bal / u_bal)
                      ELSE ln((1 - m_bal) / (1 - u_bal)) END
               + CASE WHEN p.agree_name = 1 THEN ln(m_name / u_name)
                      ELSE ln((1 - m_name) / (1 - u_name)) END, 4)"""

  /** FELLEGI–SUNTER PROBABILISTIC LINKAGE — the statistical layer the
    * rule-based matchers (q98 fuzzy join, d29 survivorship) lack: per-
    * field agreement is weighted by ln(m/u) evidence, where m = P(agree |
    * true match) and u = P(agree | non-match) are ESTIMATED FROM DATA
    * (Fellegi & Sunter, JASA 1969; Winkler's Census implementations).
    * A rare-to-agree-by-chance field (exact balance) earns a large
    * agreement weight; a 5-value segment earns a small one — the same
    * df-rarity insight as d28's evidence ranking, made decision-theoretic.
    * Two sources are synthesized from one dimension (k-modulus field
    * perturbations: segment rotated at k%3, balance nudged at k%4, name
    * suffixed at k%5 — independent corruptions so agreement patterns
    * mix), candidates come from NATION BLOCKING (never all-pairs), and
    * m/u are estimated with add-1 smoothing from the labeled candidate
    * set: one conditional aggregate producing a single broadcast
    * parameter row — the trained-model posture, like s5's centroids.
    * Scores are Σ per-field ln(m/u) or ln((1−m)/(1−u)), rounded to 4
    * decimals (the t15 ln discipline); thresholds classify link /
    * possible / nonlink, and the triple-perturbed cohort (k%60==0)
    * lands a DELIBERATE false negative so the labels prove the score is
    * doing the classifying, not the truth column. The DuckDB oracle
    * replays synthesis, estimation, and scoring end-to-end. */
  val d33 = GraftQuery(
    "d33_fellegi_sunter",
    "Probabilistic record linkage: m/u estimation + ln-odds field weights + link/possible/nonlink",
    (s, dir) => {
      val base = linkageBase(s, dir)
      val srcA = base.select(col("k").as("ka"), col("nation"),
        col("seg").as("seg_a"), col("bal").as("bal_a"),
        col("name").as("name_a"))
      val srcB = base.select(col("k").as("kb"), col("nation"),
        when(col("k") % 3 === 0, lit("OTHER")).otherwise(col("seg")).as("seg_b"),
        when(col("k") % 4 === 0, col("bal") + 5).otherwise(col("bal")).as("bal_b"),
        when(col("k") % 5 === 0, concat(col("name"), lit("~X")))
          .otherwise(col("name")).as("name_b"))
      val pairs = srcA.join(srcB, Seq("nation"))
        .select(col("nation"), col("ka"), col("kb"),
          (col("ka") === col("kb")).cast("long").as("is_true"),
          (col("seg_a") === col("seg_b")).cast("long").as("agree_seg"),
          (col("bal_a") === col("bal_b")).cast("long").as("agree_bal"),
          (col("name_a") === col("name_b")).cast("long").as("agree_name"))
      val params = pairs.agg(
          sum("is_true").as("nt"),
          sum(lit(1L) - col("is_true")).as("nn"),
          sum(col("is_true") * col("agree_seg")).as("ma_seg"),
          sum(col("is_true") * col("agree_bal")).as("ma_bal"),
          sum(col("is_true") * col("agree_name")).as("ma_name"),
          sum((lit(1L) - col("is_true")) * col("agree_seg")).as("ua_seg"),
          sum((lit(1L) - col("is_true")) * col("agree_bal")).as("ua_bal"),
          sum((lit(1L) - col("is_true")) * col("agree_name")).as("ua_name"))
        .select(
          expr("CAST(ma_seg + 1 AS DOUBLE) / (nt + 2)").as("m_seg"),
          expr("CAST(ma_bal + 1 AS DOUBLE) / (nt + 2)").as("m_bal"),
          expr("CAST(ma_name + 1 AS DOUBLE) / (nt + 2)").as("m_name"),
          expr("CAST(ua_seg + 1 AS DOUBLE) / (nn + 2)").as("u_seg"),
          expr("CAST(ua_bal + 1 AS DOUBLE) / (nn + 2)").as("u_bal"),
          expr("CAST(ua_name + 1 AS DOUBLE) / (nn + 2)").as("u_name"))
      pairs.crossJoin(broadcast(params))
        .withColumn("score", round(
          expr("""CASE WHEN agree_seg = 1 THEN ln(m_seg / u_seg)
                       ELSE ln((1 - m_seg) / (1 - u_seg)) END
                + CASE WHEN agree_bal = 1 THEN ln(m_bal / u_bal)
                       ELSE ln((1 - m_bal) / (1 - u_bal)) END
                + CASE WHEN agree_name = 1 THEN ln(m_name / u_name)
                       ELSE ln((1 - m_name) / (1 - u_name)) END"""), 4))
        .withColumn("verdict",
          when(col("score") >= 4.0, lit("link"))
            .when(col("score") >= 0.0, lit("possible"))
            .otherwise(lit("nonlink")))
        .select("nation", "ka", "kb", "is_true",
          "agree_seg", "agree_bal", "agree_name", "score", "verdict")
        .orderBy("ka", "kb")
    },
    Some(s"""
      WITH ${linkageSql},
      pairs AS (
        SELECT a.nation, a.ka, b.kb,
               CAST(a.ka = b.kb AS BIGINT) AS is_true,
               CAST(a.seg_a = b.seg_b AS BIGINT) AS agree_seg,
               CAST(a.bal_a = b.bal_b AS BIGINT) AS agree_bal,
               CAST(a.name_a = b.name_b AS BIGINT) AS agree_name
        FROM a JOIN b ON a.nation = b.nation),
      ${linkageParamsSql},
      scored AS (
        SELECT p.nation, p.ka, p.kb, p.is_true,
               p.agree_seg, p.agree_bal, p.agree_name,
               ${linkageScoreSql} AS score
        FROM pairs p CROSS JOIN params)
      SELECT nation, ka, kb, is_true, agree_seg, agree_bal, agree_name,
             score,
             CASE WHEN score >= 4.0 THEN 'link'
                  WHEN score >= 0.0 THEN 'possible'
                  ELSE 'nonlink' END AS verdict
      FROM scored
      ORDER BY ka, kb"""))

  /** BLOCKING-SCHEME QUALITY AUDIT — the evaluation that justifies every
    * blocked join in this engine (d20's sorted neighborhood, d21's gram
    * buckets, d33's nation blocks, q235's grid cells): for each candidate
    * blocking key, REDUCTION RATIO (how many of the n(n−1)/2 possible
    * pairs the blocks prune away) versus PAIR COMPLETENESS (what fraction
    * of TRUE matched pairs land in the same block) — Christen's two axes
    * of the blocking trade-off. The scale-defining trick: the candidate-
    * pair count needs NO pair enumeration — it is Σ b(b−1)/2 over block
    * SIZES, one groupBy per scheme; only the completeness check touches
    * actual pairs, and only the TRUE ones (duplicate-density-sized, from
    * d33's synthesized two-source truth where each record's copy may
    * drift in segment/balance/name). Schemes deliberately span the
    * spectrum: nation (coarse but complete), 10-cent balance buckets
    * (sharp reduction, but the k%4 +5-cent drift crosses a boundary for
    * about half that cohort), name suffix (sharp, and the k%5 '~X'
    * suffixing replaces the block key entirely — the broken-scheme
    * cautionary tale), segment (coarse AND broken by the k%3 rotation —
    * dominated on both axes). All integer: counts, and bp ratios via
    * floor division; the oracle sign-splits its balance-bucket division
    * (negative balances — the q130 rule). */
  val d34 = GraftQuery(
    "d34_blocking_quality",
    "Reduction ratio vs pair completeness per blocking scheme, candidate counts from block sizes only",
    (s, dir) => {
      val base = linkageBase(s, dir)
      // two sources, d33's perturbation convention; truth = same k
      val recs = base.select(col("k"), lit("A").as("src"), col("nation"),
          col("seg"), col("bal"), col("name"))
        .unionAll(base.select(col("k"), lit("B").as("src"), col("nation"),
          when(col("k") % 3 === 0, lit("OTHER")).otherwise(col("seg")).as("seg"),
          when(col("k") % 4 === 0, col("bal") + 5).otherwise(col("bal")).as("bal"),
          when(col("k") % 5 === 0, concat(col("name"), lit("~X")))
            .otherwise(col("name")).as("name")))
      val keyed = recs.select(col("k"), col("src"),
          explode(expr(
            """array(struct('nation' AS scheme, CAST(nation AS STRING) AS blk),
                     struct('bal_bucket' AS scheme, CAST(bal div 10 AS STRING) AS blk),
                     struct('name_suffix' AS scheme, substring(name, -2, 2) AS blk),
                     struct('segment' AS scheme, seg AS blk))""")).as("b"))
        .select(col("k"), col("src"), col("b.scheme").as("scheme"),
          col("b.blk").as("blk"))
      // candidate volume from block sizes alone: cross-source pairs per
      // block = nA * nB, never enumerated
      val volume = keyed.groupBy("scheme", "blk")
        .agg(sum(when(col("src") === "A", 1L).otherwise(0L)).as("na"),
          sum(when(col("src") === "B", 1L).otherwise(0L)).as("nb"))
        .groupBy("scheme")
        .agg(sum(expr("na * nb")).as("cand_pairs"))
      // completeness: a TRUE pair (same k) is captured iff its A and B
      // rows share a block under the scheme — a k-keyed self-equality,
      // duplicate-density-sized
      val truth = keyed.filter(col("src") === "A")
        .select(col("k"), col("scheme"), col("blk").as("blk_a"))
        .join(keyed.filter(col("src") === "B")
          .select(col("k"), col("scheme"), col("blk").as("blk_b")),
          Seq("k", "scheme"))
        .groupBy("scheme")
        .agg(count(lit(1)).as("n_true"),
          sum(when(col("blk_a") === col("blk_b"), 1L).otherwise(0L))
            .as("true_captured"))
      // all cross-source pairs = |A|·|B|, a broadcast scalar (no driver
      // action at plan-build time)
      val total = base.agg(count(lit(1)).as("n"))
        .select(expr("n * n").as("total"))
      volume.join(truth, Seq("scheme")).crossJoin(broadcast(total))
        .select(col("scheme"), col("cand_pairs"), col("n_true"),
          col("true_captured"),
          expr("(total - cand_pairs) * 10000 div total").as("reduction_bp"),
          expr("true_captured * 10000 div n_true").as("completeness_bp"))
        .orderBy("scheme")
    },
    Some(s"""
      WITH ${linkageBaseSql},
      recs AS (
        SELECT k, 'A' AS src, nation, seg, bal, name FROM base
        UNION ALL
        SELECT k, 'B', nation,
               CASE WHEN k % 3 = 0 THEN 'OTHER' ELSE seg END,
               CASE WHEN k % 4 = 0 THEN bal + 5 ELSE bal END,
               CASE WHEN k % 5 = 0 THEN name || '~X' ELSE name END
        FROM base),
      keyed AS (
        SELECT k, src, 'nation' AS scheme, CAST(nation AS VARCHAR) AS blk
        FROM recs
        UNION ALL
        SELECT k, src, 'bal_bucket', CAST(CASE WHEN bal >= 0 THEN bal // 10
                 ELSE -((-bal) // 10) END AS VARCHAR) FROM recs
        UNION ALL
        SELECT k, src, 'name_suffix', substr(name, -2, 2) FROM recs
        UNION ALL
        SELECT k, src, 'segment', seg FROM recs),
      volume AS (
        SELECT scheme,
               CAST(sum(na * nb) AS BIGINT) AS cand_pairs
        FROM (SELECT scheme, blk,
                     sum(CASE WHEN src = 'A' THEN 1 ELSE 0 END) AS na,
                     sum(CASE WHEN src = 'B' THEN 1 ELSE 0 END) AS nb
              FROM keyed GROUP BY scheme, blk)
        GROUP BY scheme),
      truth AS (
        SELECT a.scheme, CAST(count(*) AS BIGINT) AS n_true,
               CAST(sum(CASE WHEN a.blk = b.blk THEN 1 ELSE 0 END) AS BIGINT)
                 AS true_captured
        FROM keyed a JOIN keyed b
          ON a.k = b.k AND a.scheme = b.scheme
         AND a.src = 'A' AND b.src = 'B'
        GROUP BY a.scheme),
      tot AS (SELECT CAST(count(*) AS BIGINT) * count(*) AS total FROM base)
      SELECT v.scheme, v.cand_pairs, t.n_true, t.true_captured,
             CAST((tot.total - v.cand_pairs) * 10000 // tot.total AS BIGINT)
               AS reduction_bp,
             CAST(t.true_captured * 10000 // t.n_true AS BIGINT)
               AS completeness_bp
      FROM volume v JOIN truth t USING (scheme), tot
      ORDER BY v.scheme"""))

  /** EXACT ROC-AUC OF THE LINKAGE SCORER — the single number that grades
    * d33's Fellegi–Sunter model: AUC = P(random true pair outscores a
    * random non-pair), computed EXACTLY via the Mann–Whitney counting
    * form 2·AUC·n_t·n_f = 2·concordant + tied. The scale trick: d33's
    * score is a pure function of the 3-bit agreement pattern, so the
    * n_t×n_f pair space (millions) collapses to an ≤8×8 join of
    * pattern-level (score, count) rollups — the comparison never touches
    * individual pairs, the same block-size-not-pairs idea as d34.
    * Everything integer: counts, cross products, and the final bp via
    * floor division of the ×2 numerator. Also reports the
    * threshold-free complement to d33's fixed link/possible/nonlink
    * cut, per the Hand & Till framing of AUC as classifier quality
    * independent of operating point. */
  val d35 = GraftQuery(
    "d35_linkage_auc",
    "Exact Mann-Whitney AUC of the d33 scorer from pattern-level rollups, never pairwise",
    (s, dir) => {
      val scored = d33.build(s, dir)
        .select(col("is_true"), col("score"))
        .groupBy("is_true", "score").agg(count(lit(1)).as("c"))
      val t = scored.filter(col("is_true") === 1)
        .select(col("score").as("ts"), col("c").as("tc"))
      val f = scored.filter(col("is_true") === 0)
        .select(col("score").as("fs"), col("c").as("fc"))
      val cross = t.crossJoin(f) // ≤8×8 pattern-level rows, never pair-level
        .agg(sum(when(col("ts") > col("fs"), col("tc") * col("fc"))
            .otherwise(0L)).as("conc"),
          sum(when(col("ts") === col("fs"), col("tc") * col("fc"))
            .otherwise(0L)).as("tied"),
          sum(col("tc") * col("fc")).as("total"))
      val counts = scored.agg(
        sum(when(col("is_true") === 1, col("c")).otherwise(0L)).as("n_true"),
        sum(when(col("is_true") === 0, col("c")).otherwise(0L)).as("n_false"))
      counts.crossJoin(cross)
        .select(col("n_true"), col("n_false"), col("conc"), col("tied"),
          expr("(2 * conc + tied) * 10000 div (2 * total)").as("auc_bp"))
    },
    Some(s"""
      WITH ${linkageSql},
      pairs AS (
        SELECT CAST(a.ka = b.kb AS BIGINT) AS is_true,
               CAST(a.seg_a = b.seg_b AS BIGINT) AS agree_seg,
               CAST(a.bal_a = b.bal_b AS BIGINT) AS agree_bal,
               CAST(a.name_a = b.name_b AS BIGINT) AS agree_name
        FROM a JOIN b ON a.nation = b.nation),
      ${linkageParamsSql},
      scored AS (
        SELECT p.is_true,
               ${linkageScoreSql} AS score
        FROM pairs p CROSS JOIN params),
      grp AS (
        SELECT is_true, score, CAST(count(*) AS BIGINT) AS c
        FROM scored GROUP BY is_true, score),
      cross_sums AS (
        SELECT CAST(sum(CASE WHEN t.score > f.score THEN t.c * f.c ELSE 0 END)
                 AS BIGINT) AS conc,
               CAST(sum(CASE WHEN t.score = f.score THEN t.c * f.c ELSE 0 END)
                 AS BIGINT) AS tied,
               CAST(sum(t.c * f.c) AS BIGINT) AS total
        FROM (SELECT score, c FROM grp WHERE is_true = 1) t
        CROSS JOIN (SELECT score, c FROM grp WHERE is_true = 0) f),
      counts AS (
        SELECT CAST(sum(CASE WHEN is_true = 1 THEN c ELSE 0 END) AS BIGINT)
                 AS n_true,
               CAST(sum(CASE WHEN is_true = 0 THEN c ELSE 0 END) AS BIGINT)
                 AS n_false
        FROM grp)
      SELECT n_true, n_false, conc, tied,
             CAST((2 * conc + tied) * 10000 // (2 * total) AS BIGINT) AS auc_bp
      FROM counts CROSS JOIN cross_sums"""))

  /** EXACT-SUBSTRING dedup spans (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better", ACL 2022) — the third dedup
    * granularity after document-level (d1/d2) and within-doc repetition
    * (Gopher t9): find the exact duplicated SPANS — runs of ≥ K
    * consecutive words whose every K-window recurs ANYWHERE in the corpus
    * (cross-doc or within-doc) — the spans that paper removes from
    * training data outright. The suffix-array construction it uses is
    * single-machine; the distributed equivalent here anchors on K-word
    * window digests (one explode + one digest-keyed groupBy — the shuffle
    * carries 8-byte digests, never text), marks windows whose digest
    * occurs ≥ 2 times corpus-wide, and merges each doc's overlapping
    * duplicated windows into maximal spans with one gaps-and-islands pass
    * (per-doc window, integer arithmetic). A window-digest collision
    * could only widen a span, never corrupt counts — and the oracle
    * recomputes with the same digests, so even that is hash-checked.
    * Output: per-doc span count, duplicated-word count, and dup fraction
    * in bp for every affected doc. At 100 TB: fan-out is linear in corpus
    * size (one row per window), the heavy groupBy is on fixed-width
    * digests, and the island merge is row-local per doc. */
  val d36 = GraftQuery(
    "d36_substring_dedup_spans",
    "Exact duplicated substring spans (>= 10-word runs recurring corpus-wide), per-doc bp",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val K = 10
      val ws = table(s, dir, "documents")
        .select(col("doc_id"), words(col("text")).as("ws"))
        .select(col("doc_id"), size(col("ws")).as("n_words"), col("ws"))
        .filter(col("n_words") >= K)
      val grams = ws.select(col("doc_id"), col("n_words"),
        posexplode(expr(
          s"""transform(sequence(1, size(ws) - ${K - 1}),
              i -> CAST(conv(substring(md5(concat_ws(' ', slice(ws, i, $K))), 1, 15), 16, 10) AS BIGINT))""")))
        .toDF("doc_id", "n_words", "i", "gh")
      // corpus-wide occurrence via a whole-partition window over gh (the
      // d17/t24 rewrite): the groupBy(gh)+join-back form planned two gh
      // exchanges and ran the md5 window-digest explode under both
      // branches; the window marks duplicated windows in one pass
      val dupPos = grams
        .withColumn("occ", count(lit(1)).over(Window.partitionBy("gh")))
        .filter(col("occ") >= 2)
        .select("doc_id", "n_words", "i")
      // gaps-and-islands: windows at i and i' overlap into one span when
      // i' ≤ i + K; island id = running count of gap-breaks per doc
      val byDoc = Window.partitionBy("doc_id").orderBy("i")
      val spans = dupPos
        .withColumn("brk",
          when(col("i") > lag(col("i"), 1, -K).over(byDoc) + K, 1L).otherwise(0L))
        .withColumn("island", sum(col("brk")).over(
          byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("doc_id", "n_words", "island")
        .agg((max(col("i")) - min(col("i")) + K).as("span_words"))
      spans.groupBy("doc_id", "n_words")
        .agg(count(lit(1)).as("n_spans"),
          sum(col("span_words")).as("dup_words"))
        .select(col("doc_id"), col("n_spans"), col("dup_words"),
          expr("dup_words * 10000 div n_words").as("dup_bp"))
        .orderBy("doc_id")
    },
    Some("""
      WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
                 FROM documents),
      sized AS (SELECT doc_id, len(ws) AS n_words, ws FROM w
                WHERE len(ws) >= 10),
      grams AS (SELECT doc_id, n_words, CAST(i AS BIGINT) AS i,
                       CAST(concat('0x', substr(md5(array_to_string(
                         list_slice(ws, CAST(i AS INTEGER),
                           CAST(i + 9 AS INTEGER)), ' ')), 1, 15)) AS BIGINT)
                         AS gh
                FROM sized, UNNEST(range(1, len(ws) - 8)) AS t(i)),
      dupg AS (SELECT gh FROM grams GROUP BY gh HAVING count(*) >= 2),
      duppos AS (SELECT g.doc_id, g.n_words, g.i
                 FROM grams g JOIN dupg USING (gh)),
      brk AS (SELECT doc_id, n_words, i,
                     CASE WHEN i > coalesce(lag(i) OVER (PARTITION BY doc_id
                       ORDER BY i), -10) + 10 THEN 1 ELSE 0 END AS brk
              FROM duppos),
      isl AS (SELECT doc_id, n_words, i,
                     sum(brk) OVER (PARTITION BY doc_id ORDER BY i
                       ROWS UNBOUNDED PRECEDING) AS island
              FROM brk),
      spans AS (SELECT doc_id, n_words, island,
                       max(i) - min(i) + 10 AS span_words
                FROM isl GROUP BY 1, 2, 3)
      SELECT doc_id, count(*) AS n_spans,
             CAST(sum(span_words) AS BIGINT) AS dup_words,
             CAST(sum(span_words) AS BIGINT) * 10000 // n_words AS dup_bp
      FROM spans
      GROUP BY doc_id, n_words
      ORDER BY doc_id"""))

  /** Order-preserving distributed rank assignment: ids from
    * `monotonically_increasing_id` after a range-partitioned sort are
    * globally monotone in the sort order (partition p's rows all precede
    * partition p+1's), and the input is DISTINCT rows, so equal keys
    * can't straddle a boundary. The ranks are order-isomorphic rather
    * than dense — all the suffix-array construction needs — and nothing
    * ever runs on a single partition (the Window/zipWithIndex traps). */
  /** Per-position LONGEST REPEATED PREFIX over the FULL documents corpus
    * (r12 lifted the former doc_id < 1500 slice — VERDICT r11 item 1),
    * capped at 32 words — the suffix-array machinery behind
    * variable-length maximal repeats (VERDICT r10 item 5, upgrading d36's
    * fixed-k anchors to the Lee et al. ACL'22 semantics):
    *
    *  1. PREFIX DOUBLING, 5 rounds (cap 32 = 2^5): rank_1 = word rank;
    *     rank_2k = rank of the pair (rank_k(i), rank_k(i+k)), with −1 as
    *     the beyond-end sentinel so a shorter suffix sorts before every
    *     extension. Rank values only ever need ORDER consistency, so
    *     rounds ALTERNATE (r12, VERDICT r11 item 5): a contiguous
    *     re-rank (distinct → range sort → zipWithIndex, ids < 2^31)
    *     makes the NEXT round a pure bit-pack — shiftleft(rk,32)+rk2+1
    *     is exactly the lexicographic pair order — one pair-join shuffle
    *     with no rank machinery. log(cap) rounds, O(n) rows per round,
    *     2 re-ranks instead of 5 at any scale.
    *  2. SUFFIX-ARRAY NEIGHBORS without a global single-partition sort:
    *     range-repartition by final rank, lag() within each partition,
    *     then stitch the partition boundaries by pairing each non-empty
    *     partition's first row with the previous non-empty partition's
    *     last ([[sortedNeighbors]]) — the scale-correct neighbor scan.
    *  3. LCP DIRECTLY per neighbor pair (r13 — replacing r12's 6-level
    *     binary descent, whose 12 sequential join jobs were the build's
    *     cost center): each pair joins its two CAP-word suffix slices
    *     out of the corpus arrays (one equi-join per side, sharded on
    *     doc id) and counts leading equal words row-locally — bounded
    *     row width, linear pair count, 2 jobs total.
    *  4. lrs(position) = max neighbor lcp — exact by the suffix-array
    *     contiguity property (any consistent alphabet order), which is
    *     why engine word ranks and the oracle's list sort agree on lcp
    *     values while disagreeing on tie order.
    *
    * Returns (d, i, n_words, lrs). The oracle recomputes the same values
    * by sorting capped suffix LISTS and taking neighbor common-prefix
    * lengths — same construction, independent machinery. */
  /** Build parallelism for the d37 suffix-array pipeline. The spool content
    * is partition-count-invariant (r15 audit), so the count is a deployment
    * knob, not a semantic one: production sets spark.graft.d37.parts to
    * its shard's core count; the local default (8) keeps the build's ~30
    * tiny sequential jobs below the per-job planning/codegen floor that
    * dominates at 32 shuffle partitions. A malformed or non-positive
    * value fails here, naming the key. */
  private[graft] def d37Parts(s: org.apache.spark.sql.SparkSession): Int = {
    val key = "spark.graft.d37.parts"
    s.conf.getOption(key).fold(8) { v =>
      v.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"$key must be a positive integer, got '$v'"))
    }
  }

  private[graft] def d37Lrs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val CAP = 32
    // the build is ~15 SMALL sequential jobs (5 doubling rounds + the
    // 2-join LCP + checkpoints) over ≤540k compact rows — per-job
    // planning/codegen latency dominates at the session's 32 shuffle
    // partitions, so the build runs on a session of its own scoped down
    // to d37Parts (read from the caller's conf). AQE re-plans every
    // exchange at runtime — the right call on real data volumes, pure
    // per-stage latency on this build's ~30 tiny sequential jobs whose
    // partition counts are already pinned.
    val parts = d37Parts(s)
    d37LrsBuild(scoped(s, "spark.sql.shuffle.partitions" -> parts.toString,
      "spark.sql.adaptive.enabled" -> "false"), dir, CAP, parts)
  }

  /** Contiguous order-preserving rank (0..#distinct−1) over arbitrary
    * key tuples, plus the distinct-key COUNT (the caller's next pack
    * bound) for free — the giant-vocabulary fallback of the d37 build
    * (DedupUnitSpec pins contiguity/order directly, since the test
    * corpus's 31-word vocabulary never exercises it end-to-end).
    * r13 rewrite: range-sort once into a checkpoint, then rank =
    * per-partition row_number + a collected cumulative offset —
    * rdd.zipWithIndex ran the distinct+sort TWICE (its internal count
    * job, then the real pass) and paid the Row conversion on top. */
  private[graft] def denseRankBy(df: org.apache.spark.sql.DataFrame,
      keys: Seq[String], out: String, parts: Int = 8)
      : (org.apache.spark.sql.DataFrame, Long) = {
    import org.apache.spark.sql.expressions.Window
    val sorted = df.distinct()
      .repartitionByRange(parts, keys.map(col): _*)
      .sortWithinPartitions(keys.map(col): _*)
      .withColumn("_pid", org.apache.spark.sql.functions.spark_partition_id())
      .localCheckpoint(true)
    val counts = sorted.groupBy("_pid").count().collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offMap = {
      var acc = 0L
      counts.map { case (p, n) => val o = (p, acc); acc += n; o }.toMap
    }
    val w = Window.partitionBy("_pid").orderBy(keys.map(col): _*)
    (sorted.withColumn(out,
        element_at(typedLit(offMap), col("_pid")) +
          row_number().over(w) - 1)
      .drop("_pid"), counts.map(_._2).sum)
  }

  private def d37LrsBuild(s: org.apache.spark.sql.SparkSession,
      dir: String, CAP: Int, parts: Int): org.apache.spark.sql.DataFrame = {
    // checkpointed once: consumed 4× (vocab, initial ranks, sizes, final
    // position join) — without it each consumer re-runs scan + explode
    val toks = table(s, dir, "documents")
      .repartition(parts, col("doc_id")) // one parquet file = one scan task; spread the explode
      .select(col("doc_id").as("d"), words(col("text")).as("ws"))
      .select(col("d"), size(col("ws")).as("n_words"),
        posexplode(col("ws")).as(Seq("i0", "w")))
      .select(col("d"), col("n_words"), (col("i0") + 1).as("i"), col("w"))
      .localCheckpoint(true)
    // CONTIGUOUS order-preserving rank (0..#distinct−1): distinct → range
    // sort → zipWithIndex. Contiguity — not just the monotonicity a
    // range-sorted monotonically_increasing_id gives (8 partitions ⇒ ids
    // up to 7·2^33) — is what lets alternate doubling rounds ENCODE pair
    // ranks with bit arithmetic instead of re-ranking (below). Ids stay
    // < 2^31 for any corpus shard whose distinct capped suffixes fit an
    // executor fleet's rank table; a larger shard re-ranks per round.
    def denseRank(df: org.apache.spark.sql.DataFrame, keys: Seq[String],
        out: String): (org.apache.spark.sql.DataFrame, Long) =
      denseRankBy(df, keys, out, parts)
    // WORD RANKS from the collected type table: the distinct-word
    // universe is Zipf-bounded at any corpus size (the t68 argument —
    // the r12 build already shipped it WHOLE to every task via
    // broadcast(vocab)); collecting it driver-side is the same data
    // movement minus three rank-assignment jobs, and the sorted order IS
    // the rank. Degenerate non-Zipf vocabularies fall back to the
    // distributed denseRank + broadcast join.
    val vocabWords = toks.select("w").distinct().orderBy("w")
      .collect().map(_.getString(0))
    // localCheckpoint per round: EAGER and lineage-truncating — without
    // it the doubling's self-joins compose a plan tree whose mere
    // rendering OOMs the driver (the d25PairStage lesson, at
    // iterative-algorithm scale). Each checkpoint PRESERVES the hash(d)
    // partitioning toks established, so every round's (d, i) self-join
    // needs NO exchange — HashPartitioning(d) already clusters (d, i).
    // rank_1 stays LAZY: it is a pure projection over the checkpointed
    // toks (map-literal lookup), so the first pack round evaluating it
    // twice costs less than a checkpoint job of its own
    var cur =
      if (vocabWords.length <= 100000) {
        val rkMap = typedLit(vocabWords.zipWithIndex
          .map { case (w, i) => (w, i.toLong) }.toMap)
        toks.select(col("d"), col("i"), element_at(rkMap, col("w")).as("rk"))
      } else {
        val (vocab, _) = denseRank(toks.select("w"), Seq("w"), "rk")
        toks.join(broadcast(vocab), "w").select(col("d"), col("i"), col("rk"))
          .localCheckpoint(true)
      }
    // ADAPTIVE-WIDTH PACKING + TUPLE FINISH (r13, generalizing r11's
    // fixed 32-bit alternation): rank VALUES only ever need ORDER
    // consistency, so a round packs rank_2k = rk·(maxR+2) + rk2 + 1 —
    // injective and lexicographic for rk2 ∈ [−1, maxR] — for as long as
    // the EXACT driver-tracked bound maxR keeps the product inside a
    // long. When packing overflows AND ≤ 4 levels remain, the build
    // FINISHES WITHOUT EVER RE-DENSIFYING: suffix_CAP order is exactly
    // the lexicographic tuple (rank_k(i), rank_k(i+k), …, rank_k(i+CAP−k))
    // — block-wise comparison with −1 sentinels for past-the-end blocks,
    // the same argument as one doubling step applied (CAP/k − 1) times —
    // and the SA sort below just orders by all tuple columns. This
    // corpus: 3 packs to rank_8, then a 4-tuple finish — ZERO re-rank
    // rounds (r11 had two, r13's first cut one); a giant-vocabulary
    // corpus still re-ranks densely (denseRank) when packing dies with
    // > 4 levels left, then packs/finishes from there.
    var maxR: Long = math.max(vocabWords.length.toLong - 1, 1L)
    var k = 1
    var rankCols = Seq("rk")
    while (k < CAP) {
      val mult = maxR + 2
      val canPack = maxR <= (Long.MaxValue - maxR - 1) / mult
      if (!canPack && CAP / k <= 4) {
        // tuple finish: fetch rank_k at offsets k, 2k, … CAP−k (all
        // exchange-free self-joins on the preserved hash(d) partitioning)
        var df = cur
        var off = k
        while (off < CAP) {
          val cn = s"rk$off"
          val shifted = cur.select(col("d"), (col("i") - off).as("i"),
            col("rk").as(cn))
          df = df.join(shifted, Seq("d", "i"), "left").na.fill(-1L, Seq(cn))
          rankCols :+= cn
          off += k
        }
        cur = df.localCheckpoint(true)
        k = CAP
      } else {
        val shifted = cur.select(col("d"), (col("i") - k).as("i"),
          col("rk").as("rk2"))
        val paired = cur.join(shifted, Seq("d", "i"), "left")
          .na.fill(-1L, Seq("rk2"))
        cur = (if (canPack) {
            val packed = paired.select(col("d"), col("i"),
              (col("rk") * mult + col("rk2") + 1).as("rk"))
            maxR = maxR * mult + maxR + 1
            packed
          } else {
            val (keys, n) = denseRank(paired.select("rk", "rk2"),
              Seq("rk", "rk2"), "nrk")
            maxR = n - 1
            paired.join(keys, Seq("rk", "rk2"))
              .select(col("d"), col("i"), col("nrk").as("rk"))
              .repartition(parts, col("d")) // restore round-join partitioning
          }).localCheckpoint(true)
        k *= 2
      }
    }
    // 2. suffix-array neighbor pairs (range partition + boundary stitch)
    // 2+3. SUFFIX-ARRAY NEIGHBORS AND THEIR LCP IN ONE PASS (r13,
    // VERDICT r12 item 2 — replaces the 6-level binary descent whose 12
    // sequential join jobs dominated the build): each position picks up
    // its CAP-word suffix SLICE before the range shuffle (one join
    // against the per-doc word arrays — exchange-free on the rank side,
    // which is still hash(d)-partitioned), so after the range sort the
    // neighbor's suffix arrives through the SAME window lag() that finds
    // the neighbor, and lcp is one row-local array scan — zero
    // pair-side joins. Same values by construction: lcp = |longest
    // common prefix| of the capped suffixes, implicitly bounded by both
    // remaining lengths and CAP via slice truncation. Scale-sane: the
    // range shuffle carries ≤ CAP words per position (bounded width,
    // linear total — the Lee et al. adjacent-suffix comparison,
    // sharded); the boundary stitch is one tiny aggregate.
    val docsWs = table(s, dir, "documents")
      .select(col("doc_id").as("d"), words(col("text")).as("ws"))
    val saKeys = (rankCols :+ "d" :+ "i").map(col)
    val sa = cur
      .join(docsWs, "d") // docsWs shuffles/broadcasts; cur side stays put
      .withColumn("suf", expr(s"slice(ws, i, $CAP)")).drop("ws")
      .repartitionByRange(parts, saKeys: _*)
      .withColumn("pid", org.apache.spark.sql.functions.spark_partition_id())
      .localCheckpoint(true)
    val pairs = sortedNeighbors(sa, saKeys)
      .withColumn("lcp", expr(
        // first mismatch position − 1; no mismatch ⇒ the shorter length
        // (zip_with null-pads the shorter side, so a length difference
        // IS a mismatch at position min+1) — one array scan per row
        """CAST(coalesce(
             nullif(array_position(zip_with(sufa, sufb,
               (x, y) -> x IS NOT NULL AND y IS NOT NULL AND x = y),
               false), 0) - 1,
             least(size(sufa), size(sufb))) AS BIGINT)"""))
      .drop("sufa", "sufb")
    // 4. lrs = max lcp over the (≤2) adjacent pairs touching a position.
    // MELT via explode, not a self-union — a union would execute the
    // whole window+lcp subtree twice (r13: the single-evaluation melt is
    // what let the tail drop its checkpoint)
    val perPos = pairs.select(explode(array(
        struct(col("da").as("d"), col("ia").as("i")),
        struct(col("db").as("d"), col("ib").as("i")))).as("p"), col("lcp"))
      .select(col("p.d").as("d"), col("p.i").as("i"), col("lcp"))
      .groupBy("d", "i").agg(max(col("lcp")).as("lrs"))
    // no final checkpoint: the caller (spool write / test consumer)
    // materializes exactly once, and the plan above is shallow (toks and
    // pairs are both checkpointed)
    val out = toks.select("d", "n_words", "i")
      .join(perPos, Seq("d", "i"), "left")
      .na.fill(0L, Seq("lrs"))
    out
  }

  /** The adjacent (predecessor, row) pairs, in `keys` order, of `sa`: a
    * frame range-partitioned on `keys` (unique) whose `pid` column holds
    * each row's partition. Within a partition the predecessor comes from
    * a window lag(); across partitions each non-empty partition's last row
    * is stitched to the first row of the NEXT NON-EMPTY one (not pid + 1,
    * which would drop the pair across an empty partition), over the ≤ one
    * row per partition `edges` frame. Returns (da, ia, db, ib, sufa, sufb). */
  private[graft] def sortedNeighbors(sa: org.apache.spark.sql.DataFrame,
      keys: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wIn = Window.partitionBy("pid").orderBy(keys: _*)
    val within = sa
      .withColumn("pd", lag(col("d"), 1).over(wIn))
      .withColumn("pi", lag(col("i"), 1).over(wIn))
      .withColumn("psuf", lag(col("suf"), 1).over(wIn))
      .filter(col("pd").isNotNull)
      .select(col("pd").as("da"), col("pi").as("ia"),
        col("d").as("db"), col("i").as("ib"),
        col("psuf").as("sufa"), col("suf").as("sufb"))
    // (keys…) is unique, so the trailing suf never drives the order
    val edgeKeys = keys :+ col("suf")
    val edges = sa.groupBy("pid")
      .agg(min(struct(edgeKeys: _*)).as("f"),
        max(struct(edgeKeys: _*)).as("l"))
    val boundary = edges
      .select(col("l"), lead(col("f"), 1).over(Window.orderBy("pid")).as("nf"))
      .filter(col("nf").isNotNull)
      .select(col("l.d").as("da"), col("l.i").as("ia"),
        col("nf.d").as("db"), col("nf.i").as("ib"),
        col("l.suf").as("sufa"), col("nf.suf").as("sufb"))
    within.unionByName(boundary)
  }

  /** [[d37Lrs]] spooled once per (sf, JVM) — the suffix array is corpus
    * state (like the ANN index or the d6 labels): built once, consumed by
    * d37 and InvariantSpec, charged as Bench's x_d37_lrs_spool line. */
  private[graft] def d37LrsSpool(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val spool = spooled("x_d37_lrs_spool", dir)(p =>
      d37Lrs(s, dir).write.mode("overwrite").parquet(p)) // 8-way write
    s.read.parquet(spool)
  }

  /** Variable-length MAXIMAL-REPEAT spans per document (the Lee et al.
    * exact-substring semantics d36 approximates with fixed-k unions):
    * every position's longest repeated prefix comes from the real
    * suffix-array pass ([[d37Lrs]]), spans are the union of the VARIABLE
    * [i, i+lrs) intervals with lrs ≥ 10, and each doc reports its longest
    * repeat — information the fixed-k construction cannot produce. The
    * interval union is the classic running-max-reach gaps-and-islands
    * (a window over per-doc positions, no self-join). Oracle: DuckDB
    * rebuilds lrs from scratch by sorting capped suffix LISTS (list
    * comparison = word-wise lexicographic, matching the engine's
    * token-rank order up to tie-breaks lcp doesn't see) and taking
    * neighbor common-prefix lengths — the same construction through
    * independent machinery, so a wrong rank round, a missed boundary
    * pair, or an off-by-one in the descent hash-fails. */
  val d37 = GraftQuery(
    "d37_maximal_repeat_spans",
    "Suffix-array maximal repeats (prefix doubling + LCP descent): per-doc variable-length dup spans",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val K = 10
      val lrs = d37LrsSpool(s, dir).filter(col("lrs") >= K)
        .withColumn("reach", col("i") + col("lrs"))
      val byDoc = Window.partitionBy("d").orderBy("i")
      val prevMax = max(col("reach")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, -1))
      val spans = lrs
        .withColumn("brk", when(prevMax.isNull || col("i") > prevMax, 1L)
          .otherwise(0L))
        .withColumn("island", sum(col("brk")).over(
          byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("d", "n_words", "island")
        .agg((max(col("reach")) - min(col("i"))).as("span_words"))
      spans.groupBy(col("d").as("doc_id"), col("n_words"))
        .agg(count(lit(1)).as("n_spans"),
          sum(col("span_words")).as("dup_words"),
          max(col("span_words")).as("max_span"))
        .select(col("doc_id"), col("n_spans"), col("dup_words"),
          col("max_span"),
          expr("dup_words * 10000 div n_words").as("dup_bp"))
        .orderBy("doc_id")
    },
    Some("""
      WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
                 FROM documents),
      sized AS (SELECT doc_id, len(ws) AS n_words, ws FROM w),
      pos AS (SELECT doc_id, n_words, CAST(i AS BIGINT) AS i,
                     list_slice(ws, CAST(i AS INTEGER),
                       CAST(least(i + 31, n_words) AS INTEGER)) AS suf
              FROM sized, UNNEST(range(1, n_words + 1)) AS t(i)),
      ord AS (SELECT doc_id, n_words, i, suf,
                     lag(suf) OVER (ORDER BY suf, doc_id, i) AS psuf,
                     lead(suf) OVER (ORDER BY suf, doc_id, i) AS nsuf
              FROM pos),
      lcps AS (SELECT doc_id, n_words, i,
        greatest(
          coalesce(coalesce(nullif(list_position(list_transform(
            list_zip(suf, psuf), x -> x[1] IS NOT DISTINCT FROM x[2]),
            false), 0) - 1, least(len(suf), len(psuf))), 0),
          coalesce(coalesce(nullif(list_position(list_transform(
            list_zip(suf, nsuf), x -> x[1] IS NOT DISTINCT FROM x[2]),
            false), 0) - 1, least(len(suf), len(nsuf))), 0))
          AS lrs
        FROM ord),
      keep AS (SELECT doc_id, n_words, i, i + lrs AS reach
               FROM lcps WHERE lrs >= 10),
      brk AS (SELECT doc_id, n_words, i, reach,
                     CASE WHEN max(reach) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                            IS NULL THEN 1
                          WHEN i > max(reach) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                            THEN 1 ELSE 0 END AS brk
              FROM keep),
      isl AS (SELECT doc_id, n_words, i, reach,
                     sum(brk) OVER (PARTITION BY doc_id ORDER BY i
                       ROWS UNBOUNDED PRECEDING) AS island
              FROM brk),
      spans AS (SELECT doc_id, n_words, island,
                       max(reach) - min(i) AS span_words
                FROM isl GROUP BY 1, 2, 3)
      SELECT doc_id, count(*) AS n_spans,
             CAST(sum(span_words) AS BIGINT) AS dup_words,
             CAST(max(span_words) AS BIGINT) AS max_span,
             CAST(sum(span_words) AS BIGINT) * 10000 // n_words AS dup_bp
      FROM spans
      GROUP BY doc_id, n_words
      ORDER BY doc_id"""))

  val all: Seq[GraftQuery] = Seq(d1, d2, d2x, d3, d4, d5, d6, d7, d8, d9, d10, d11,
    d12, d13, d14, d15, d16, d17, d18, d19, d20, d21, d22, d23, d24, d25,
    d26, d27, d28, d29, d30, d31, d32, d33, d34, d35, d36, d37)
}
