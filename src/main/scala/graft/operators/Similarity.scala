package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Functions.{cosine, dotProduct, l2Norm, l2Sq}

/** Similarity search over the `embeddings` table (Array[Float], dim 64).
  *
  * Scale posture: s1 is the brute-force baseline — correct everywhere, but
  * O(queries × corpus); it is only acceptable because the query set is a
  * small broadcast side (the corpus streams through unreplicated, no
  * shuffle). s2 is the scale path: random-hyperplane LSH buckets the corpus
  * once (one narrow projection), and search touches only same-bucket
  * candidates. s3 (threshold pairs) is bounded like d3 and serves as the
  * oracle-checked ground truth.
  */
object Similarity {

  /** The rows of `sim` ranked per query_id by `sim` descending, ties to
    * the lower vec_id, as column `rank`; the first k kept. */
  private def ranked(sim: DataFrame, k: Int): DataFrame =
    sim.withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("sim"), col("vec_id"))))
      .filter(col("rank") <= k)

  /** The cosine top-k result: [[ranked]] as (query_id, rank, vec_id, sim
    * rounded to 4 places), ordered by query and rank. */
  private def topK(sim: DataFrame, k: Int): DataFrame =
    ranked(sim, k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id"), round(col("sim"), 4).as("sim"))
      .orderBy("query_id", "rank")

  /** (query_id, vec_id, sim): the cosine of each query vector (vec_id <
    * 20, broadcast) to every other vector of the corpus. */
  private def exactSims(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), l2Norm(col("embedding")).as("nrm"))
    val q = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("nrm").as("qn"))
    broadcast(q).crossJoin(emb)
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        (dotProduct(col("qe"), col("embedding")) / (col("qn") * col("nrm"))).as("sim"))
  }

  /** (vec_id, label, embedding, nrm) of every vector. */
  private def labeledNorms(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    table(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding"),
        l2Norm(col("embedding")).as("nrm"))

  /** (id1, id2, sim): each vector's 3 nearest by cosine (ties → lower id2)
    * among the other vectors of its label cell in `emb`
    * ([[labeledNorms]]). Grouped top-3 through the bounded-heap operator
    * (q114's GroupedTopK) instead of Window(row_number)+filter: the
    * window form fully SORTS every id1 partition of the cell-local
    * all-pairs frame; the heap keeps ≤3 rows per (id1, input partition)
    * BEFORE the exchange, so the shuffle carries O(k·partitions) rows per
    * node, never the cell fan-out. Identical row set — the heap
    * comparator is exactly the (sim DESC, id2) row_number order. */
  private def cellTop3(emb: DataFrame): DataFrame = {
    val a = emb.select(col("label"), col("vec_id").as("id1"),
      col("embedding").as("e1"), col("nrm").as("n1"))
    val b = emb.select(col("label"), col("vec_id").as("id2"),
      col("embedding").as("e2"), col("nrm").as("n2"))
    val sims = a.join(b, Seq("label"))
      .filter(col("id1") =!= col("id2"))
      .select(col("id1"), col("id2"),
        (dotProduct(col("e1"), col("e2")) / (col("n1") * col("n2"))).as("sim"))
    graft.plans.GroupedTopK.topKPerGroup(sims,
      Seq(col("id1")), Seq(col("sim").desc, col("id2")), 3)
  }

  /** Brute-force cosine top-k: queries (vec_id < 20, broadcast) × corpus.
    * Norms computed once per side before the join; dot/norm stay in
    * codegen'd higher-order functions. */
  val s1 = GraftQuery(
    "s1_cosine_topk",
    "Brute-force cosine top-5 neighbors for 20 query vectors (broadcast × corpus)",
    (s, dir) => {
      topK(exactSims(s, dir), 5)
    },
    Some(s"""
      WITH n AS (SELECT vec_id, embedding,
                        ${sqlNorm("embedding")} AS nrm
                 FROM embeddings),
      sims AS (SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                      ${sqlDot("q.embedding", "c.embedding", "p")}
                        / (q.nrm * c.nrm) AS sim
               FROM n q JOIN n c ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
      ranked AS (SELECT query_id, vec_id, sim,
                        row_number() OVER (PARTITION BY query_id
                          ORDER BY sim DESC, vec_id) AS rank
                 FROM sims)
      SELECT query_id, rank, vec_id, round(sim, 4) AS sim
      FROM ranked WHERE rank <= 5
      ORDER BY query_id, rank"""))

  /** ANN via random-hyperplane LSH: 6-bit signature (sign of 6 fixed
    * pseudo-random projections) buckets the corpus into ~64 cells; per-query
    * search is confined to its own bucket, then exact cosine ranks in-bucket
    * candidates. Bucket count scales with corpus size in production (the
    * bits/corpus ratio sets candidate-set size). Recall < 1 by design (ANN);
    * the hyperplanes are a deterministic seeded literal so results are
    * stable — but bucketing is engine-specific, so the registry entry
    * folds recall@3 against the exact cosine ranking into an
    * oracle-assertable bound (the q62 pattern); the raw ANN frame stays
    * available as [[s2AnnTopK]] (QualitySpec pins the same floor). */
  private[graft] def s2AnnTopK(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
      // Single-table single-probe sign-LSH recalls p^bits where p is the
      // per-bit agreement (1 − θ/π): measured 8% on this corpus — useless.
      // The standard construction (Indyk-Motwani; multi-probe per Lv et al.,
      // VLDB 2007): L independent tables, and per table probe the exact
      // bucket plus all Hamming-1 neighbors. Recall becomes
      // 1 − (1 − (p^b + b·p^(b−1)(1−p)))^L ≈ 0.8 here, still touching only
      // ~L·(b+1)/2^b of the corpus per query. L multiplies index size —
      // the classic LSH memory/recall trade; bits scale with corpus size
      // so per-bucket occupancy (and thus candidate count) stays bounded.
      val L = 4
      val bits = lshBits(s, dir)
      val rnd = new scala.util.Random(42)
      val planes = Seq.fill(L * bits, 64)(rnd.nextGaussian())
      val planesCol = array(planes.map(p => array(p.map(v => lit(v)): _*)): _*)
      def bucket(t: Int) =
        aggregate(sequence(lit(0), lit(bits - 1)), lit(0L),
          (acc, j) => acc * 2 + when(
            dotProduct(element_at(col("planes"), lit(t * bits) + j + 1), col("embedding")) > 0,
            lit(1L)).otherwise(lit(0L)))
      val emb = table(s, dir, "embeddings")
        .withColumn("planes", planesCol)
        .withColumn("tb", array((0 until L).map(t =>
          struct(lit(t).as("t"), bucket(t).as("b"))): _*))
        .drop("planes")
        .withColumn("nrm", l2Norm(col("embedding")))
      topK(probeSims(emb, bits)._2, 3)
  }

  /** Hash bits per LSH table for the corpus size (log2 of n/32, within
    * [2, 16]), so per-bucket occupancy, and thus candidate count, stays
    * bounded as the corpus grows. */
  private def lshBits(s: org.apache.spark.sql.SparkSession, dir: String): Int = {
    val n = table(s, dir, "embeddings").count()
    math.max(2, math.min(16,
      math.round(math.log(math.max(1.0, n / 32.0)) / math.log(2)).toInt))
  }

  /** Multi-probe LSH search over `emb` (vec_id, embedding, nrm, and tb:
    * one `bits`-wide bucket b per table t): per table, each query (vec_id
    * < 20) probes its exact bucket and every Hamming-1 neighbor. Returns
    * the distinct (query_id, vec_id) candidates and their exact cosine
    * `sim`. The corpus index is one row per (table, exact bucket) — L×
    * the corpus, ids only on the shuffle; vectors are rejoined for the
    * candidates only. */
  private def probeSims(emb: DataFrame, bits: Int): (DataFrame, DataFrame) = {
    val corpusIdx = emb
      .select(col("vec_id"), explode(col("tb")).as("e"))
      .select(col("vec_id"), col("e.t").as("t"), col("e.b").as("bucket"))
    val probes = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), explode(col("tb")).as("e"))
      .select(col("query_id"), col("e.t").as("t"),
        explode(array(col("e.b") +: (0 until bits).map(j =>
          col("e.b").bitwiseXOR(lit(1L << j))): _*)).as("bucket"))
    val pairs = probes.join(corpusIdx, Seq("t", "bucket"))
      .filter(col("query_id") =!= col("vec_id"))
      .select("query_id", "vec_id").distinct()
    val qv = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("nrm").as("qn"))
    (pairs, broadcast(pairs)
      .join(broadcast(qv), "query_id")
      .join(emb.select(col("vec_id"), col("embedding"), col("nrm")), "vec_id")
      .select(col("query_id"), col("vec_id"),
        (dotProduct(col("qe"), col("embedding")) / (col("qn") * col("nrm"))).as("sim")))
  }

  /** (c_label, centroid, cnrm): the mean vector of each label cell of
    * `emb`, its components rounded to 6 places (double sums depend on the
    * partial-aggregation order at the ulp level, and the oracle's sum
    * order differs), and its norm. */
  private def labelCentroids(emb: DataFrame): DataFrame =
    emb.groupBy("label").agg(
        count(lit(1)).as("cnt"),
        array((0 until 64).map(i =>
          sum(element_at(col("embedding"), i + 1).cast("double"))): _*).as("sumvec"))
      .select(col("label").as("c_label"),
        transform(col("sumvec"), x => round(x / col("cnt"), 6)).as("centroid"))
      .withColumn("cnrm", l2Norm(col("centroid")))

  /** Exact cosine top-3 per query vector (vec_id < 20) — the in-engine
    * ground truth the ANN folds score against (s1's pipeline at k = 3;
    * a bounded broadcast-queries × corpus scan, the offline-eval role). */
  private def exactTop3(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    ranked(exactSims(s, dir), 3).select("query_id", "vec_id")
  }

  /** The q62 bound-fold shared by the ANN entries: mean recall@3 of `ann`
    * vs the exact ranking, folded into `recall_ok` (num/den floor) next
    * to the deterministic query count the oracle recomputes. */
  private def annRecallFold(s: org.apache.spark.sql.SparkSession, dir: String,
      ann: org.apache.spark.sql.DataFrame, floorNum: Int, floorDen: Int)
      : org.apache.spark.sql.DataFrame = {
    val exact = exactTop3(s, dir)
    val hits = exact.join(ann.select("query_id", "vec_id"),
      Seq("query_id", "vec_id"), "left_semi")
    exact.agg(countDistinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("n_exact"))
      .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
      .select(col("n_queries"),
        (col("n_hit") * floorDen >= col("n_exact") * floorNum).as("recall_ok"))
  }

  /** DuckDB side of [[annRecallFold]]'s deterministic anchor. */
  private val annFoldOracle = """
      SELECT CAST(count(*) AS BIGINT) AS n_queries, TRUE AS recall_ok
      FROM embeddings WHERE vec_id < 20"""

  val s2 = GraftQuery(
    "s2_ann_lsh_topk",
    "Multi-probe LSH ANN top-3, recall hash-gated vs the exact cosine ranking",
    (s, dir) => annRecallFold(s, dir, s2AnnTopK(s, dir), 6, 10),
    Some(annFoldOracle))

  /** Embedding-cosine near-duplicate pairs on a bounded subset — exact,
    * oracle-checked (the embedding analog of d3). */
  val s3 = GraftQuery(
    "s3_cosine_pairs",
    "All-pairs cosine ≥ 0.35 over vec_id < 300 (bounded exact ground truth)",
    (s, dir) => {
      val emb = table(s, dir, "embeddings")
        .filter(col("vec_id") < 300)
        .select(col("vec_id"), col("embedding"), l2Norm(col("embedding")).as("nrm"))
      val a = emb.select(col("vec_id").as("id1"), col("embedding").as("e1"), col("nrm").as("n1"))
      val b = emb.select(col("vec_id").as("id2"), col("embedding").as("e2"), col("nrm").as("n2"))
      a.crossJoin(broadcast(b))
        .filter(col("id1") < col("id2"))
        .select(col("id1"), col("id2"),
          (dotProduct(col("e1"), col("e2")) / (col("n1") * col("n2"))).as("sim"))
        .filter(col("sim") >= 0.35)
        .select(col("id1"), col("id2"), round(col("sim"), 4).as("sim"))
        .orderBy("id1", "id2")
    },
    Some(s"""
      WITH n AS (SELECT vec_id, embedding,
                        ${sqlNorm("embedding")} AS nrm
                 FROM embeddings WHERE vec_id < 300)
      SELECT a.vec_id AS id1, b.vec_id AS id2,
             round(${sqlDot("a.embedding", "b.embedding", "p")}
               / (a.nrm * b.nrm), 4) AS sim
      FROM n a JOIN n b ON a.vec_id < b.vec_id
      WHERE ${sqlDot("a.embedding", "b.embedding", "p")}
              / (a.nrm * b.nrm) >= 0.35
      ORDER BY id1, id2"""))

  /** Per-label centroid then nearest-centroid assignment — the IVF
    * coarse-quantizer building block (train step ≈ this aggregation). */
  val s4 = GraftQuery(
    "s4_centroid_assign",
    "Per-label centroids (avg of embeddings) + cosine of each vector to its own centroid",
    (s, dir) => {
      val emb = table(s, dir, "embeddings")
      // mean vector per label: element-wise sum via aggregate over the
      // group's arrays, then divide by count
      val summed = emb.groupBy("label").agg(
        count(lit(1)).as("n"),
        array((0 until 64).map(i =>
          sum(element_at(col("embedding"), i + 1).cast("double"))): _*).as("sumvec"))
      // centroid components quantized at 6 decimals: double sums are
      // partial-aggregation-order dependent at the ulp level, and the
      // oracle's sum order differs — rounding removes the sensitivity
      val centroids = summed.select(col("label"),
        transform(col("sumvec"), x => round(x / col("n"), 6)).as("centroid"))
      emb.join(broadcast(centroids), "label")
        .select(col("vec_id"), col("label").cast("long").as("label"),
          round(cosine(col("embedding"), col("centroid")), 4).as("sim_to_centroid"))
        .orderBy("vec_id")
    },
    Some(s"""
      WITH ex AS (SELECT label, i, CAST(embedding[i] AS DOUBLE) AS v
                  FROM embeddings, UNNEST(range(1, 65)) AS t(i)),
      sums AS (SELECT label, i, sum(v) AS sv, count(*) AS n
               FROM ex GROUP BY label, i),
      centroids AS (SELECT label, list(round(sv / n, 6) ORDER BY i) AS centroid
                    FROM sums GROUP BY label)
      SELECT e.vec_id, CAST(e.label AS BIGINT) AS label,
             round(
               list_aggregate(list_transform(list_zip(e.embedding, c.centroid),
                 p -> CAST(p[1] AS DOUBLE) * p[2]), 'sum')
               / (${sqlNorm("e.embedding")}
                  * sqrt(list_aggregate(list_transform(c.centroid,
                      x -> x * x), 'sum'))), 4) AS sim_to_centroid
      FROM embeddings e JOIN centroids c ON e.label = c.label
      ORDER BY e.vec_id"""))

  /** Full IVF ANN: coarse quantizer = per-label centroids (the s4 train
    * step), nprobe=4 — each query scores the 10 centroids, probes its 4
    * nearest cells, and exact-reranks only those cells' members. Search
    * cost is O(queries × (centroids + corpus·nprobe/cells)) instead of
    * O(queries × corpus); the centroid table broadcasts. Fully
    * deterministic → oracle-checked end to end.
    *
    * Recall caveat (measured, see QualitySpec): IVF recall is a property
    * of QUANTIZER QUALITY × nprobe. This fixture's `label` column is not a
    * geometric clustering (within-label cosine ≈ across-label ≈ 0), so
    * label-cell IVF recalls ≈ nprobe/cells no matter the algorithm — the
    * structural floor. In production the quantizer is k-means-trained on
    * the corpus (near-dup pairs then co-locate and recall jumps); here s5
    * stays the oracle-checked IVF *plumbing* (train → assign → probe →
    * rerank), while s2's multi-probe LSH is the recall-bearing ANN path
    * (0.93 measured). */
  val s5 = GraftQuery(
    "s5_ivf_topk",
    "IVF ANN (nprobe=4): centroid quantizer → probe 4 cells → exact rerank top-3",
    (s, dir) => {
      val emb = table(s, dir, "embeddings")
        .withColumn("nrm", l2Norm(col("embedding")))
      val centroids = labelCentroids(emb)
      val q = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("nrm").as("qn"))
      val q2c = q.crossJoin(broadcast(centroids))
        .select(col("query_id"), col("qe"), col("qn"), col("c_label"),
          (dotProduct(col("qe"), col("centroid")) / (col("qn") * col("cnrm"))).as("csim"))
      val wProbe = Window.partitionBy("query_id").orderBy(desc("csim"), col("c_label"))
      val probed = q2c.withColumn("cr", row_number().over(wProbe))
        .filter(col("cr") <= 4)
        .select(col("query_id"), col("qe"), col("qn"), col("c_label").as("label"))
      val sims = probed.join(emb, "label")
        .filter(col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id"),
          (dotProduct(col("qe"), col("embedding")) / (col("qn") * col("nrm"))).as("sim"))
      topK(sims, 3)
    },
    Some(s"""
      WITH emb AS (
        SELECT vec_id, embedding, label,
               ${sqlNorm("embedding")} AS nrm
        FROM embeddings),
      ex AS (SELECT label, i, CAST(embedding[i] AS DOUBLE) AS v
             FROM embeddings, UNNEST(range(1, 65)) AS t(i)),
      sums AS (SELECT label, i, sum(v) AS sv, count(*) AS cnt
               FROM ex GROUP BY label, i),
      centroids AS (SELECT label AS c_label, list(round(sv / cnt, 6) ORDER BY i) AS centroid
                    FROM sums GROUP BY label),
      cn AS (SELECT c_label, centroid,
                    sqrt(list_aggregate(list_transform(centroid, x -> x * x), 'sum')) AS cnrm
             FROM centroids),
      q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn
            FROM emb WHERE vec_id < 20),
      q2c AS (SELECT q.query_id, q.qe, q.qn, c.c_label,
                     list_aggregate(list_transform(list_zip(q.qe, c.centroid),
                       p -> CAST(p[1] AS DOUBLE) * p[2]), 'sum') / (q.qn * c.cnrm) AS csim
              FROM q CROSS JOIN cn c),
      probed AS (SELECT query_id, qe, qn, c_label AS label
                 FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                         ORDER BY csim DESC, c_label) AS cr FROM q2c)
                 WHERE cr <= 4),
      sims AS (SELECT p.query_id, e.vec_id,
                      ${sqlDot("p.qe", "e.embedding", "x")}
                        / (p.qn * e.nrm) AS sim
               FROM probed p JOIN emb e ON p.label = e.label
               WHERE p.query_id <> e.vec_id)
      SELECT query_id, rank, vec_id, round(sim, 4) AS sim
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY sim DESC, vec_id) AS rank FROM sims)
      WHERE rank <= 3
      ORDER BY query_id, rank"""))

  /** Int8 scalar quantization + quantized top-k — the memory-bound scale
    * play: a 64-dim float32 vector is 256 B, its int8 form 64 B, so 4× more
    * corpus fits per executor and the scan reads 4× fewer bytes (at 100 TB
    * the re-rank then touches only the top candidates at full precision —
    * s1/s5 are that exact path). Quantize q_i = floor(clamp(x,-1,1)·127 +
    * 0.5); dot products and norms over int8 codes are exact integer sums,
    * so the quantized cosine is bit-identical in Spark and DuckDB — fully
    * oracle-checked (unlike float-sum paths which need rounding). */
  val s6 = GraftQuery(
    "s6_quantized_cosine",
    "Int8 scalar-quantized cosine top-3 (4× memory/scan reduction; integer-exact)",
    (s, dir) => {
      // codes stay exact small integers IN DOUBLE (|q_i| ≤ 127: every
      // product ≤ 127², norms ≤ 64·127², dots well under 2^53 — the same
      // values the former BIGINT arithmetic produced, bit-for-bit), so the
      // per-(query × corpus-row) dot product and the per-row norm both run
      // through the codegen'd DotProduct expression instead of interpreted
      // aggregate(zip_with(...)) / aggregate(...) lambdas
      val qz = table(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x =>
            floor(greatest(lit(-1.0), least(lit(1.0), x.cast("double"))) * 127 + 0.5)
              .cast("double")).as("code"))
        .withColumn("qn", dotProduct(col("code"), col("code")))
      val q = qz.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("code").as("qc"), col("qn").as("qqn"))
      val sims = broadcast(q).crossJoin(qz)
        .filter(col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id"),
          (dotProduct(col("qc"), col("code"))
            / sqrt(col("qqn") * col("qn"))).as("qsim"))
      val w = Window.partitionBy("query_id").orderBy(desc("qsim"), col("vec_id"))
      sims.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("vec_id"), col("qsim"))
        .orderBy("query_id", "rank")
    },
    Some("""
      WITH qz AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(floor(
                 greatest(-1.0, least(1.0, CAST(x AS DOUBLE))) * 127 + 0.5) AS BIGINT)) AS code
        FROM embeddings),
      n AS (SELECT vec_id, code,
                   list_aggregate(list_transform(code, x -> x * x), 'sum') AS qn
            FROM qz),
      sims AS (SELECT q.vec_id AS query_id, c.vec_id,
                      CAST(list_aggregate(list_transform(list_zip(q.code, c.code),
                        p -> p[1] * p[2]), 'sum') AS DOUBLE)
                        / sqrt(CAST(q.qn AS DOUBLE) * CAST(c.qn AS DOUBLE)) AS qsim
               FROM n q JOIN n c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
      SELECT query_id, rank, vec_id, qsim
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY qsim DESC, vec_id) AS rank FROM sims)
      WHERE rank <= 3
      ORDER BY query_id, rank"""))

  // ---------------------------------------------------------------------
  // Shared ANN index artifacts, built ONCE per (sf, JVM) — the persisted
  // intermediates a production ANN pipeline keeps anyway: you normalize the
  // corpus once and TRAIN an index offline, then every query probes the
  // stored model; nobody re-runs Lloyd iterations per search. Same contract
  // as d6's cluster-label spool (Dedup.scala): content is deterministic per
  // fixture, the build-once memo (`spooled`/`memoized`) keys it by sf dir,
  // the spool root dies with the JVM, and Bench charges each build as its
  // own line (`x_ann_*`) so the cost stays attributable (VERDICT r6 item 2).
  // ---------------------------------------------------------------------

  /** Cosine-normalized unit vectors (vec_id, u: array<double>), spooled to
    * parquet. The interpreted-HOF normalization `transform(e, x/nrm)` was
    * the dominant re-paid cost in s7/s8/s9 (VERDICT r6 item 1: four
    * re-scans per query); now it runs once per (sf, JVM). */
  private[graft] def unitVectors(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val spool = spooled("x_ann_unit_spool", dir)(p =>
      table(s, dir, "embeddings")
        .withColumn("nrm", l2Norm(col("embedding")))
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double") / col("nrm")).as("u"))
        .write.mode("overwrite").parquet(p))
    s.read.parquet(spool)
  }

  /** Trained coarse quantizer (k=10, deterministic init = the 10 lowest
    * vec_ids, 3 Lloyd rounds over the unit spool), memoized per (sf, JVM)
    * and shared by s7 and s9 — identical to what each trained separately
    * before (same init, same data, same rounds → same centroids). Assign =
    * broadcast-centroid argmax projection, update = one 64-column hash agg
    * per round: the exact shape MLlib's KMeans runs. Driver state is 10
    * rows of model parameters. */
  private[graft] def coarseCentroids(s: org.apache.spark.sql.SparkSession, dir: String)
      : Array[Seq[Double]] =
    memoized("x_ann_kmeans_train", dir) {
      // Training runs on a session of its own with one shuffle partition:
      // the update agg produces 10 rows, and 32 near-empty reduce tasks
      // per round were the second-most load-sensitive cost in the suite
      // (VERDICT r8 item 4). The scan's splits do not depend on it.
      val unit = unitVectors(scoped(s, "spark.sql.shuffle.partitions" -> "1"), dir).cache()
      var centroids: Array[Seq[Double]] = unit.orderBy("vec_id").limit(10)
        .collect().map(_.getSeq[Double](1))
      for (_ <- 1 to 3) {
        val assigned = unit
          .withColumn("sims", centroidSims(centroids))
          .withColumn("cell",
            array_position(col("sims"), array_max(col("sims"))).cast("int"))
        val means = assigned.groupBy("cell").agg(
          array((0 until 64).map(i => avg(element_at(col("u"), i + 1))): _*).as("m"))
          .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
        centroids = centroids.indices.map(i => means.getOrElse(i + 1, centroids(i))).toArray
      }
      unit.unpersist()
      centroids
    }

  /** Per-centroid similarity column: one codegen'd DotProduct per centroid
    * instead of `transform(centroidArray, c => dot(u, c))` — HOF lambda
    * bodies evaluate interpreted per element, outside whole-stage codegen,
    * and this projection runs over the full corpus every Lloyd round and
    * every assignment. k is bounded model state (10), so unrolling is k
    * fused loops in one stage. */
  private def centroidSims(centroids: Array[Seq[Double]]) =
    array(centroids.toSeq.map(c =>
      dotProduct(col("u"), array(c.map(lit): _*))): _*)

  // PQ codebook plumbing shared by s8 (raw unit subvectors) and s9
  // (residual subvectors): literal codebook column, per-subspace distance
  // table, argmin code. cb(j)(k) = the k-th centroid of subspace j.
  // The codebook is a COMPILE-TIME LITERAL, so the per-subspace distance
  // table is fully unrolled (the centroidSims discipline): a CASE on j
  // selects the subspace branch and each of its K distances is a
  // codegen'd chain of D multiply-adds — the former HOF form
  // (`transform(..., aggregate(zip_with(...)))`) evaluated its (a−b)²
  // lambda interpreted per element, per centroid, per row, on the
  // corpus-sized encode pass. Accumulation order is identical:
  // 0.0 + d₀ + d₁ + … left-to-right (0.0 + d₀ ≡ d₀ in IEEE 754), so
  // distances — and therefore codes and ADC scores — are bit-identical.
  private def pqDistsCol(cb: Array[Array[Array[Double]]],
      sv: org.apache.spark.sql.Column) = {
    def dist(kc: Array[Double]) =
      kc.zipWithIndex.map { case (c, i) =>
        val d = element_at(sv, i + 1) - lit(c)
        d * d
      }.reduceLeft(_ + _)
    val bySub = cb.map(jc => array(jc.map(dist): _*))
    bySub.zipWithIndex.tail
      .foldLeft(when(col("j") === 0, bySub(0))) {
        case (acc, (arr, j)) => acc.when(col("j") === j, arr)
      }
  }
  private def pqCodeCol(cb: Array[Array[Array[Double]]]) = {
    val d = pqDistsCol(cb, col("sv"))
    array_position(d, array_min(d)).cast("int")
  }
  /** ADC score = Σⱼ luts[j][codes[j]] — unrolled to M codegen'd
    * element_at lookups (the lambda of the former aggregate(zip_with(...))
    * ran interpreted per candidate row); same left-to-right sum. */
  private def adcSum(codes: org.apache.spark.sql.Column,
      luts: org.apache.spark.sql.Column, m: Int) =
    (0 until m).map(j =>
      element_at(element_at(luts, j + 1), element_at(codes, j + 1)))
      .reduceLeft(_ + _)

  /** IVF with a TRAINED coarse quantizer — the production fix for s5's
    * recall caveat: k-means-learned cells follow the data's geometry, so
    * near-duplicate pairs co-locate and probing nprobe cells recovers
    * them. Training lives in [[coarseCentroids]] (built once per sf/JVM,
    * shared with s9); search is identical to s5. Engine-specific float
    * iteration, so the registry entry folds recall@3 vs the exact
    * ranking (annRecallFold); the raw frame stays as [[s7AnnTopK]]
    * (QualitySpec pins the same floor). */
  private[graft] def s7AnnTopK(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
      val centroids = coarseCentroids(s, dir)
      val unit = unitVectors(s, dir)
      val cells = unit
        .withColumn("sims", centroidSims(centroids))
        .select(col("vec_id"), col("sims"))
      // corpus: exact cell = argmax; queries: the nprobe=4 top cells
      val corpusCells = cells.select(col("vec_id"),
        array_position(col("sims"), array_max(col("sims"))).cast("int").as("cell"))
      val probeCells = cells.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), posexplode(col("sims")))
        .withColumn("pr", row_number().over(
          Window.partitionBy("query_id").orderBy(desc("col"), col("pos"))))
        .filter(col("pr") <= 4)
        .select(col("query_id"), (col("pos") + 1).cast("int").as("cell"))
      val pairs = probeCells.join(corpusCells, "cell")
        .filter(col("query_id") =!= col("vec_id"))
        .select("query_id", "vec_id").distinct()
      // rerank on unit vectors: dot of units IS cosine, no norms needed
      val qv = unit.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("u").as("qu"))
      val sim = broadcast(pairs)
        .join(broadcast(qv), "query_id")
        .join(unit, "vec_id")
        .select(col("query_id"), col("vec_id"),
          dotProduct(col("qu"), col("u")).as("sim"))
      topK(sim, 3)
  }

  val s7 = GraftQuery(
    "s7_ivf_kmeans_topk",
    "k-means IVF ANN top-3 (nprobe=4), recall hash-gated vs the exact cosine ranking",
    (s, dir) => annRecallFold(s, dir, s7AnnTopK(s, dir), 6, 10),
    Some(annFoldOracle))

  /** Product quantization + ADC (Jégou et al., "Product quantization for
    * nearest neighbor search", TPAMI 2011): the 64-dim unit vector splits
    * into 8 subvectors of 8 dims, each quantized against its own 16-entry
    * codebook (trained by 2 Lloyd rounds over an exploded (vec, subspace)
    * frame — ONE distributed pass per round trains all 8 codebooks
    * jointly). The corpus is then 8 bytes per vector — a 32× compression
    * of the float32 embedding — and search is Asymmetric Distance
    * Computation: per query, one 8×16 lookup table of exact
    * query-to-centroid distances; a candidate's approximate distance is 8
    * table lookups, no float math against the original vector. THE memory
    * story at 100 TB: the full corpus of codes fits where 3% of the raw
    * embeddings would. Codebooks are data-derived → rows-only gate;
    * QualitySpec pins recall@3 against the exact cosine ranking. */
  /** s8's 8 subspace codebooks (16 entries each), trained by 2 Lloyd
    * rounds over the exploded (vec, subspace) frame — ONE distributed pass
    * per round trains all 8 jointly; init = the first 16 vectors'
    * subvectors. Memoized per (sf, JVM): codebooks are the trained-index
    * artifact a PQ pipeline persists. Driver state = 128 8-dim rows. */
  private[graft] def s8Codebooks(s: org.apache.spark.sql.SparkSession, dir: String)
      : Array[Array[Array[Double]]] =
    memoized("x_ann_pq_train", dir) {
      val M = 8; val D = 8; val K = 16
      val unit = unitVectors(s, dir)
      val sub = unit.select(col("vec_id"), posexplode(
          array((0 until M).map(j => slice(col("u"), j * D + 1, D)): _*)))
        .toDF("vec_id", "j", "sv")
        .cache() // scanned twice (2 training rounds)
      var cb: Array[Array[Array[Double]]] = {
        val seed = unit.orderBy("vec_id").limit(K).collect()
          .map(_.getSeq[Double](1).toArray)
        Array.tabulate(M)(j => Array.tabulate(K)(k => seed(k).slice(j * D, j * D + D)))
      }
      for (_ <- 1 to 2) { // Lloyd rounds: assign (distributed) + mean (128 tiny rows)
        val means = sub.withColumn("code", pqCodeCol(cb))
          .groupBy("j", "code")
          .agg(array((0 until D).map(i => avg(element_at(col("sv"), i + 1))): _*).as("m"))
          .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray)
          .toMap
        cb = Array.tabulate(M)(j => Array.tabulate(K)(k =>
          means.getOrElse((j, k + 1), cb(j)(k))))
      }
      sub.unpersist()
      cb
    }

  private[graft] def s8AnnTopK(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
      val M = 8; val D = 8
      val unit = unitVectors(s, dir)
      val cb = s8Codebooks(s, dir)
      // (vec_id, subspace j, 8-dim subvector) — encoding + query-LUT frame
      val sub = unit.select(col("vec_id"), posexplode(
          array((0 until M).map(j => slice(col("u"), j * D + 1, D)): _*)))
        .toDF("vec_id", "j", "sv")
        .cache() // scanned 2x: encode + query LUTs (training is memoized)
      // encode: 8 codes per corpus vector (the 8-byte representation)
      val coded = sub.withColumn("code", pqCodeCol(cb))
        .groupBy("vec_id")
        .agg(transform(array_sort(collect_list(struct(col("j"), col("code")))),
          x => x("code")).as("codes"))
      // per-query ADC lookup tables: exact distance to every centroid
      val luts = sub.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("j"),
          pqDistsCol(cb, col("sv")).as("dists"))
        .groupBy("query_id")
        .agg(transform(array_sort(collect_list(struct(col("j"), col("dists")))),
          x => x("dists")).as("luts"))
      // score = sum of 8 table lookups; no original vectors touched
      val scored = broadcast(luts).crossJoin(coded)
        .filter(col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id"),
          adcSum(col("codes"), col("luts"), cb.length).as("adc"))
      // ADC SHORTLIST (top-32 of the corpus by table lookups) + exact
      // rerank of just the shortlist — the production PQ pipeline: the
      // compressed scan prunes 99.7% of the corpus, original vectors are
      // fetched only for the 32 survivors. (ADC alone ranks poorly on this
      // fixture's weakly-clustered embeddings — measured 0.25 recall@3 —
      // because quantization noise exceeds the tiny cosine gaps; the
      // shortlist absorbs exactly that noise.)
      val w = Window.partitionBy("query_id").orderBy(col("adc"), col("vec_id"))
      val shortlist = scored.withColumn("arank", row_number().over(w))
        .filter(col("arank") <= 32)
        .select("query_id", "vec_id")
      val qv = unit.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("u").as("qu"))
      val reranked = broadcast(shortlist)
        .join(broadcast(qv), "query_id")
        .join(unit, "vec_id")
        .select(col("query_id"), col("vec_id"),
          dotProduct(col("qu"), col("u")).as("sim")) // unit vectors: dot = cosine
      topK(reranked, 3)
  }

  val s8 = GraftQuery(
    "s8_pq_adc_topk",
    "PQ/ADC top-3 (8-byte codes + shortlist rerank), recall hash-gated vs exact",
    // floor 0.55: measured recall@3 is 0.60 exactly at sf0.1 (32× lossy
    // compression on weakly-clustered embeddings) — the gate floor leaves
    // margin below the measurement; QualitySpec pins ≥ 0.6 at sf0.001
    (s, dir) => annRecallFold(s, dir, s8AnnTopK(s, dir), 11, 20),
    Some(annFoldOracle))

  /** IVF-PQ (Jégou et al. 2011, §V): s7's trained coarse quantizer composed
    * with s8's product quantization, quantizing RESIDUALS (v − centroid) —
    * the form the paper shows preserves far more precision than PQ on raw
    * vectors, because residuals concentrate near 0 once the coarse cell is
    * factored out. This closes s8's stated scale gap: ADC there linearly
    * scans every code per query; here a query's lookup tables join only the
    * nprobe probed cells' codes, so the scored candidate set is a bounded
    * fraction of the corpus (QualitySpec asserts < 50% and recall@3 ≥ 0.6).
    * At 100 TB: codes are 8 B/vector partitioned by cell; a query touches
    * nprobe/k of them, each via 8 table lookups — no raw embeddings move
    * until the top-32 exact rerank.
    *
    * Returns (scored candidate pairs, final top-3) so the spec can measure
    * the candidate fraction on the same plan the query runs. */
  /** The residual (vec, cell, subspace, 8-dim subvector) frame s9 trains
    * and encodes over: r = u − centroid[argmax cell], exploded per
    * subspace. Derived from the shared unit spool + coarse centroids. */
  private def residSub(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val M = 8; val D = 8
    val centroids = coarseCentroids(s, dir)
    val cCol = array(centroids.toSeq.map(c => array(c.map(lit): _*)): _*)
    val resid = unitVectors(s, dir)
      .withColumn("sims", centroidSims(centroids))
      .withColumn("cell",
        array_position(col("sims"), array_max(col("sims"))).cast("int"))
      .withColumn("r", zip_with(col("u"), element_at(cCol, col("cell")),
        (a, b) => a - b))
    resid.select(col("vec_id"), col("cell"), posexplode(
        array((0 until M).map(j => slice(col("r"), j * D + 1, D)): _*)))
      .toDF("vec_id", "cell", "j", "sv")
  }

  /** s9's residual codebooks (8 subspaces × 16 entries over residual
    * subvectors), memoized per (sf, JVM); init = the first 16 vectors'
    * residual subvectors, 2 Lloyd rounds — identical to what s9 trained
    * inline before. */
  private[graft] def s9Codebooks(s: org.apache.spark.sql.SparkSession, dir: String)
      : Array[Array[Array[Double]]] =
    memoized("x_ann_ivfpq_train", dir) {
      val M = 8; val D = 8; val K = 16
      val sub = residSub(s, dir).cache() // scanned 3x: seed + 2 training rounds
      var cb: Array[Array[Array[Double]]] = {
        val seed = sub.filter(col("vec_id") < K)
          .select(col("vec_id"), col("j"), col("sv")).collect()
          .map(r => (r.getLong(0), r.getInt(1)) -> r.getSeq[Double](2).toArray).toMap
        val ids = seed.keys.map(_._1).toSeq.sorted
        Array.tabulate(M)(j => Array.tabulate(K)(k => seed((ids(k), j))))
      }
      for (_ <- 1 to 2) {
        val means = sub.withColumn("code", pqCodeCol(cb))
          .groupBy("j", "code")
          .agg(array((0 until D).map(i => avg(element_at(col("sv"), i + 1))): _*).as("m"))
          .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray)
          .toMap
        cb = Array.tabulate(M)(j => Array.tabulate(K)(k =>
          means.getOrElse((j, k + 1), cb(j)(k))))
      }
      sub.unpersist()
      cb
    }

  private[graft] def ivfPqParts(s: org.apache.spark.sql.SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val NPROBE = 4; val M = 8; val D = 8
    val centroids = coarseCentroids(s, dir)
    val cCol = array(centroids.toSeq.map(c => array(c.map(lit): _*)): _*)
    val unit = unitVectors(s, dir)
    val sims = unit
      .withColumn("sims", centroidSims(centroids))
    val cb = s9Codebooks(s, dir)
    // encode: (vec_id, cell, 8 codes) — the 8-byte-per-vector inverted file
    val coded = residSub(s, dir).withColumn("code", pqCodeCol(cb))
      .groupBy("vec_id", "cell")
      .agg(transform(array_sort(collect_list(struct(col("j"), col("code")))),
        x => x("code")).as("codes"))
    // --- query side: top-NPROBE cells per query, then one ADC lookup table
    // per (query, probed cell) from the query's residual AGAINST THAT CELL
    val probes = sims.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("u").as("qu"),
        posexplode(col("sims")))
      .withColumn("pr", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("col"), col("pos"))))
      .filter(col("pr") <= NPROBE)
      .select(col("query_id"), col("qu"), (col("pos") + 1).cast("int").as("cell"))
    val qsub = probes
      .withColumn("qr", zip_with(col("qu"), element_at(cCol, col("cell")),
        (a, b) => a - b))
      .select(col("query_id"), col("cell"), posexplode(
        array((0 until M).map(j => slice(col("qr"), j * D + 1, D)): _*)))
      .toDF("query_id", "cell", "j", "sv")
    val luts = qsub
      .select(col("query_id"), col("cell"), col("j"),
        pqDistsCol(cb, col("sv")).as("dists"))
      .groupBy("query_id", "cell")
      .agg(transform(array_sort(collect_list(struct(col("j"), col("dists")))),
        x => x("dists")).as("luts"))
    // --- the IVF restriction: equi-join on cell, NOT a cross join — a
    // query's tables only ever meet the codes of its probed cells
    val scored = broadcast(luts).join(coded, "cell")
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        adcSum(col("codes"), col("luts"), cb.length).as("adc"))
    val w = Window.partitionBy("query_id").orderBy(col("adc"), col("vec_id"))
    val shortlist = scored.withColumn("arank", row_number().over(w))
      .filter(col("arank") <= 32)
      .select("query_id", "vec_id")
    val qv = unit.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("u").as("qu"))
    val reranked = broadcast(shortlist)
      .join(broadcast(qv), "query_id")
      .join(unit, "vec_id")
      .select(col("query_id"), col("vec_id"),
        dotProduct(col("qu"), col("u")).as("sim"))
    val result = topK(reranked, 3)
    (scored, result)
  }

  val s9 = GraftQuery(
    "s9_ivfpq_topk",
    "IVF-PQ top-3: recall AND candidate-pruning bounds hash-gated vs exact",
    (s, dir) => {
      // two folds from ONE plan pair: recall@3 vs exact (annRecallFold's
      // bound) plus the pruning contract — the ADC scan must touch < 50%
      // of the (queries × corpus) candidate space, the property that
      // separates IVF-PQ from s8's linear ADC scan
      // floor 0.45: measured recall@3 is 0.82 at sf0.001 (QualitySpec pins
      // ≥ 0.6 there) but 0.50 at sf0.1 — the fixed nprobe=4 of 10 cells
      // probes a constant 40% of cells while the corpus geometry flattens
      // with scale; the cross-scale gate floor is the honest envelope
      val (scored, result) = ivfPqParts(s, dir)
      val base = annRecallFold(s, dir, result, 45, 100)
      val corpus = table(s, dir, "embeddings").agg(count(lit(1)).as("n_corpus"))
      base.crossJoin(scored.agg(count(lit(1)).as("n_scored")))
        .crossJoin(corpus)
        .select(col("n_queries"), col("recall_ok"),
          (col("n_scored") * 2 < col("n_queries") * (col("n_corpus") - 1))
            .as("prune_ok"))
    },
    Some("""
      SELECT CAST(count(*) AS BIGINT) AS n_queries, TRUE AS recall_ok,
             TRUE AS prune_ok
      FROM embeddings WHERE vec_id < 20"""))

  /** Embedding outlier screen — the data-quality gate an embedding corpus
    * runs before ANN indexing or clustering: vectors far from the corpus
    * centroid are mis-embeddings / garbage inputs. One 1-row per-dim-mean
    * aggregate broadcast back over the corpus, then a global top-k (Spark
    * plans TakeOrderedAndProject — per-partition partial top-k, no global
    * sort) — no collect, no pairwise anything, O(dim) state. Distances are
    * rounded BEFORE ranking so the shortlist boundary is insensitive to
    * cross-engine float noise → oracle-checked. */
  val s10 = GraftQuery(
    "s10_embedding_outliers",
    "Centroid-distance outlier shortlist: top-20 vectors farthest from the corpus mean",
    (s, dir) => {
      val emb = table(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("e"))
      val mean = emb.agg(
        array((0 until 64).map(i => avg(element_at(col("e"), i + 1))): _*).as("m"))
      // rank on the ROUNDED distance (vec_id tiebreak) so the shortlist
      // boundary is insensitive to 1e-13 cross-engine float noise
      emb.crossJoin(broadcast(mean))
        .select(col("vec_id"),
          // codegen'd L2DistanceSquared replaces the interpreted
          // aggregate(zip_with(...)) lambda on this full-corpus pass;
          // identical left-to-right double accumulation
          round(sqrt(l2Sq(col("e"), col("m"))), 4).as("dist"))
        .orderBy(desc("dist"), col("vec_id"))
        .limit(20)
    },
    Some("""
      WITH e AS (SELECT vec_id, embedding FROM embeddings),
      m AS (SELECT j, avg(embedding[CAST(j AS INTEGER)]) AS mu
            FROM e, UNNEST(range(1, 65)) AS t(j) GROUP BY j),
      d AS (SELECT vec_id,
                   round(sqrt(sum((embedding[CAST(j AS INTEGER)] - mu)
                          * (embedding[CAST(j AS INTEGER)] - mu))), 4) AS dist
            FROM e, UNNEST(range(1, 65)) AS t(j) JOIN m USING (j)
            GROUP BY vec_id)
      SELECT vec_id, dist
      FROM d
      ORDER BY dist DESC, vec_id
      LIMIT 20"""))

  /** Hybrid retrieval — the production search stack's fusion step: a
    * lexical leg (t11's BM25 over query terms) and a vector leg (cosine
    * against a query embedding) each produce a bounded top-50 candidate
    * list, then Reciprocal Rank Fusion (k=60) merges them:
    * rrf(d) = Σ_legs 1/(60 + rank_leg(d)). RRF needs only RANKS — no score
    * normalization across incomparable scales (BM25 ~[0,10] vs cosine
    * [-1,1]), which is exactly why it is the standard fusion choice. Both
    * legs bound their lists BEFORE the fusion join, so the merge touches
    * ≤100 rows regardless of corpus size; each leg keeps its own
    * scale-path (t11's pre-shuffle term filter, s5/s9's cell probing would
    * replace the brute-force leg at 100 TB). Scores are rounded before
    * ranking (s10's lesson) so leg boundaries are float-noise-insensitive.
    * Reference: Cormack, Clarke & Büttcher, "Reciprocal rank fusion
    * outperforms Condorcet" (SIGIR 2009). */
  val s11 = GraftQuery(
    "s11_hybrid_rrf",
    "Hybrid search: BM25 leg + cosine leg fused by Reciprocal Rank Fusion (k=60), top-10",
    (s, dir) => {
      val terms = Seq("merge", "hash", "stream")
      // lexical leg == t11's scoring, bounded to top-50 ranks
      val ws = table(s, dir, "documents")
        .select(col("doc_id"), split(lower(col("text")), " ").as("ws"))
        .select(col("doc_id"), size(col("ws")).cast("long").as("dl"), col("ws"))
      val corpus = ws.agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl"))
      val tf = ws.select(col("doc_id"), col("dl"), explode(col("ws")).as("term"))
        .filter(col("term").isin(terms: _*))
        .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
      val bm25 = tf.join(broadcast(df), "term").crossJoin(broadcast(corpus))
        .withColumn("idf", log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
        .withColumn("contrib", col("idf") * (col("tf") * 2.2)
          / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
        .groupBy("doc_id").agg(round(sum(col("contrib")), 4).as("bm25"))
      // bound each leg with orderBy+limit FIRST (TakeOrderedAndProject —
      // distributed partial top-k), then rank the ≤50-row result; a global
      // row_number over the unbounded leg would single-partition the corpus
      val lex = bm25.orderBy(desc("bm25"), col("doc_id")).limit(50)
        .withColumn("r_lex", row_number().over(
          Window.orderBy(desc("bm25"), col("doc_id"))).cast("long"))
        .select(col("doc_id"), col("r_lex"))
      // vector leg: query = embedding 0, cosine vs the rest, top-50 ranks
      val emb = table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), l2Norm(col("embedding")).as("nrm"))
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qe"), col("nrm").as("qn"))
      val vec = emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .select(col("vec_id").as("doc_id"),
          round(dotProduct(col("qe"), col("embedding")) / (col("qn") * col("nrm")), 4)
            .as("sim"))
        .orderBy(desc("sim"), col("doc_id")).limit(50)
        .withColumn("r_vec", row_number().over(
          Window.orderBy(desc("sim"), col("doc_id"))).cast("long"))
        .select(col("doc_id"), col("r_vec"))
      lex.join(vec, Seq("doc_id"), "full_outer")
        .withColumn("rrf", round(
          coalesce(lit(1.0) / (lit(60) + col("r_lex")), lit(0.0))
            + coalesce(lit(1.0) / (lit(60) + col("r_vec")), lit(0.0)), 6))
        .orderBy(desc("rrf"), col("doc_id"))
        .limit(10)
        .select(col("doc_id"), col("r_lex"), col("r_vec"), col("rrf"))
    },
    Some(s"""
      WITH ws AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
      d AS (SELECT doc_id, len(ws) AS dl, ws FROM ws),
      corpus AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM d),
      tf AS (SELECT doc_id, dl, term, count(*) AS tf
             FROM (SELECT doc_id, dl, unnest(ws) AS term FROM d)
             WHERE term IN ('merge', 'hash', 'stream')
             GROUP BY doc_id, dl, term),
      df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
      bm AS (SELECT doc_id,
                    round(sum(ln((n - df + 0.5) / (df + 0.5) + 1.0)
                      * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4)
                      AS bm25
             FROM tf JOIN df USING (term) CROSS JOIN corpus
             GROUP BY doc_id),
      lex AS (SELECT doc_id, r_lex FROM (
                SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id)
                         AS r_lex
                FROM bm) WHERE r_lex <= 50),
      n AS (SELECT vec_id, embedding,
                   ${sqlNorm("embedding")} AS nrm
            FROM embeddings),
      sims AS (SELECT c.vec_id AS doc_id,
                      round(list_aggregate(list_transform(
                        list_zip(q.embedding, c.embedding),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')
                        / (q.nrm * c.nrm), 4) AS sim
               FROM n q JOIN n c ON q.vec_id = 0 AND c.vec_id <> 0),
      vec AS (SELECT doc_id, r_vec FROM (
                SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id)
                         AS r_vec
                FROM sims) WHERE r_vec <= 50)
      SELECT doc_id, r_lex, r_vec,
             round(coalesce(1.0 / (60 + r_lex), 0)
               + coalesce(1.0 / (60 + r_vec), 0), 6) AS rrf
      FROM lex FULL OUTER JOIN vec USING (doc_id)
      ORDER BY rrf DESC, doc_id
      LIMIT 10"""))

  /** Binary (1-bit) sign quantization + Hamming shortlist + exact rerank —
    * the last rung of the compression ladder (float32 s1 → int8 s6 → PQ
    * 8 B s8 → 8 B/vector here as ONE 64-bit word): candidate generation
    * costs one XOR + popcount per comparison (SIMD-trivial, no float math
    * at all), then only the 32-deep shortlist touches the float vectors.
    * At 100 TB the code column is 64× smaller than the embeddings and the
    * Hamming scan is the memory-bandwidth-optimal first pass; the same
    * shortlist+rerank contract as s8. Every step is integer-exact or
    * rounded-before-ranking → fully oracle-checked (no recall floor
    * needed — the oracle IS the same algorithm cross-engine). */
  val s12 = GraftQuery(
    "s12_binary_hamming",
    "1-bit sign codes (64 dims → one long): Hamming top-32 shortlist + exact cosine rerank top-3",
    (s, dir) => {
      val emb = table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), l2Norm(col("embedding")).as("nrm"),
          expr("""aggregate(transform(sequence(1, 64),
                    j -> IF(CAST(element_at(embedding, j) AS DOUBLE) > 0D,
                            shiftleft(1L, j - 1), 0L)),
                  0L, (a, x) -> a + x)""").as("code"))
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("code").as("qcode"),
          col("embedding").as("qe"), col("nrm").as("qn"))
      val short = broadcast(q.select(col("query_id"), col("qcode"))).crossJoin(
          emb.select(col("vec_id"), col("code")))
        .filter(col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id"),
          expr("bit_count(qcode ^ code)").as("hamming"))
        .withColumn("hrank", row_number().over(
          Window.partitionBy("query_id").orderBy(col("hamming"), col("vec_id"))))
        .filter(col("hrank") <= 32)
      short
        .join(emb.select(col("vec_id"), col("embedding"), col("nrm")), "vec_id")
        .join(q.select(col("query_id"), col("qe"), col("qn")), "query_id")
        .select(col("query_id"), col("vec_id"), col("hamming"),
          round(dotProduct(col("qe"), col("embedding")) / (col("qn") * col("nrm")), 4)
            .as("sim"))
        .withColumn("rank", row_number().over(
          Window.partitionBy("query_id").orderBy(desc("sim"), col("vec_id"))).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("rank"), col("vec_id"), col("hamming"), col("sim"))
        .orderBy("query_id", "rank")
    },
    Some(s"""
      WITH c AS (
        SELECT vec_id, embedding,
               ${sqlNorm("embedding")} AS nrm,
               CAST(list_aggregate(list_transform(range(1, 65),
                 j -> CASE WHEN CAST(embedding[CAST(j AS INTEGER)] AS DOUBLE) <= 0
                           THEN 0
                           -- DuckDB refuses 1<<63 (overflow-checked): the
                           -- sign bit is spelled as long-min directly
                           WHEN j = 64 THEN CAST(-9223372036854775808 AS BIGINT)
                           ELSE (CAST(1 AS BIGINT) << (j - 1)) END),
                 'sum') AS BIGINT) AS code
        FROM embeddings),
      short AS (
        SELECT * FROM (
          SELECT q.vec_id AS query_id, t.vec_id,
                 bit_count(xor(q.code, t.code)) AS hamming,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY bit_count(xor(q.code, t.code)), t.vec_id) AS hrank
          FROM c q JOIN c t ON q.vec_id < 10 AND q.vec_id <> t.vec_id)
        WHERE hrank <= 32),
      rer AS (
        SELECT s.query_id, s.vec_id, s.hamming,
               round(${sqlDot("q.embedding", "t.embedding", "p")}
                 / (q.nrm * t.nrm), 4) AS sim
        FROM short s
        JOIN c q ON q.vec_id = s.query_id
        JOIN c t ON t.vec_id = s.vec_id)
      SELECT query_id, rank, vec_id, hamming, sim
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY sim DESC, vec_id) AS rank FROM rer)
      WHERE rank <= 3
      ORDER BY query_id, rank"""))

  /** Matryoshka / truncated-dimension retrieval (Kusupati et al.,
    * "Matryoshka Representation Learning", NeurIPS 2022 — the pattern
    * OpenAI/Cohere embedding APIs expose as `dimensions=`): score a cheap
    * PREFIX of the embedding first (here 16 of 64 dims — 4× less compute
    * and memory bandwidth per candidate), keep a top-32 shortlist per
    * query, then rerank only the shortlist with full-dimension cosine.
    * Same two-stage contract as s8/s12, but the first stage needs no
    * training and no extra index — just a sliced column — which is why
    * it has become the default cheap ANN on MRL-trained embeddings. At
    * 100 TB the prefix scan reads 1/4 of the vector bytes (or a separate
    * 16-dim column written at ingest) and the full vectors are fetched
    * for 32 rows/query. Prefix scores are rounded BEFORE the shortlist
    * rank (s10's lesson) and ties break on vec_id, so the boundary is
    * float-noise-insensitive → fully oracle-checked. */
  val s13 = GraftQuery(
    "s13_matryoshka_prefix",
    "Matryoshka ANN: 16-dim prefix cosine top-32 shortlist + full 64-dim exact rerank top-3",
    (s, dir) => {
      val PRE = 16
      val emb = table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          l2Norm(col("embedding")).as("nrm"),
          slice(col("embedding"), 1, PRE).as("pre"))
        .withColumn("pnrm", l2Norm(col("pre")))
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("pre").as("qpre"),
          col("pnrm").as("qpn"), col("embedding").as("qe"), col("nrm").as("qn"))
      val short = broadcast(q.select(col("query_id"), col("qpre"), col("qpn")))
        .crossJoin(emb.select(col("vec_id"), col("pre"), col("pnrm")))
        .filter(col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id"),
          round(dotProduct(col("qpre"), col("pre")) / (col("qpn") * col("pnrm")), 4)
            .as("psim"))
        .withColumn("prank", row_number().over(
          Window.partitionBy("query_id").orderBy(desc("psim"), col("vec_id"))))
        .filter(col("prank") <= 32)
      short
        .join(emb.select(col("vec_id"), col("embedding"), col("nrm")), "vec_id")
        .join(q.select(col("query_id"), col("qe"), col("qn")), "query_id")
        .select(col("query_id"), col("vec_id"), col("psim"),
          round(dotProduct(col("qe"), col("embedding")) / (col("qn") * col("nrm")), 4)
            .as("sim"))
        .withColumn("rank", row_number().over(
          Window.partitionBy("query_id").orderBy(desc("sim"), col("vec_id"))).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("rank"), col("vec_id"), col("psim"), col("sim"))
        .orderBy("query_id", "rank")
    },
    Some(s"""
      WITH c AS (
        SELECT vec_id, embedding,
               ${sqlNorm("embedding")} AS nrm,
               embedding[1:16] AS pre,
               ${sqlNorm("embedding[1:16]")} AS pnrm
        FROM embeddings),
      short AS (
        SELECT * FROM (
          SELECT q.vec_id AS query_id, t.vec_id,
                 round(${sqlDot("q.pre", "t.pre", "p")}
                   / (q.pnrm * t.pnrm), 4) AS psim
          FROM c q JOIN c t ON q.vec_id < 10 AND q.vec_id <> t.vec_id)
        QUALIFY row_number() OVER (PARTITION BY query_id
                  ORDER BY psim DESC, vec_id) <= 32),
      rer AS (
        SELECT s.query_id, s.vec_id, s.psim,
               round(${sqlDot("q.embedding", "t.embedding", "p")}
                 / (q.nrm * t.nrm), 4) AS sim
        FROM short s
        JOIN c q ON q.vec_id = s.query_id
        JOIN c t ON t.vec_id = s.vec_id)
      SELECT query_id, rank, vec_id, psim, sim
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY sim DESC, vec_id) AS rank FROM rer)
      WHERE rank <= 3
      ORDER BY query_id, rank"""))

  /** Filtered vector search — the capability every vector store names
    * (Qdrant/Milvus/pgvector "filtered ANN"): top-k neighbors restricted
    * to vectors passing a METADATA predicate (here: a label subset and an
    * id horizon — the tenant/namespace shape). This is PRE-filtering: the
    * predicate reaches the parquet scan (PlanSpec pins PushedFilters), so
    * the vector math only ever touches surviving rows — at 100 TB the
    * difference between scanning a tenant's slice and scoring the whole
    * corpus then discarding 99% (post-filtering, which also breaks top-k
    * guarantees when the filter is selective). Queries come from the
    * unfiltered table (a query vector need not satisfy its own filter).
    * Exact within the filtered set → fully oracle-checked; s5's label
    * cells show how the same predicate composes with IVF at scale. */
  val s14 = GraftQuery(
    "s14_filtered_search",
    "Pre-filtered vector search: cosine top-5 among label%3=0, vec_id>=100 rows only",
    (s, dir) => {
      val emb = table(s, dir, "embeddings")
      val corpus = emb
        .filter(col("label") % 3 === 0 && col("vec_id") >= 100)
        .select(col("vec_id"), col("embedding"), l2Norm(col("embedding")).as("nrm"))
      val q = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          l2Norm(col("embedding")).as("qn"))
      val sim = broadcast(q).crossJoin(corpus)
        .filter(col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id"),
          (dotProduct(col("qe"), col("embedding")) / (col("qn") * col("nrm"))).as("sim"))
      topK(sim, 5)
    },
    Some(s"""
      WITH n AS (SELECT vec_id, label, embedding,
                        ${sqlNorm("embedding")} AS nrm
                 FROM embeddings),
      sims AS (SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                      ${sqlDot("q.embedding", "c.embedding", "p")}
                        / (q.nrm * c.nrm) AS sim
               FROM n q JOIN n c
                 ON q.vec_id < 20 AND q.vec_id <> c.vec_id
                AND c.label % 3 = 0 AND c.vec_id >= 100),
      ranked AS (SELECT query_id, vec_id, sim,
                        row_number() OVER (PARTITION BY query_id
                          ORDER BY sim DESC, vec_id) AS rank
                 FROM sims)
      SELECT query_id, rank, vec_id, round(sim, 4) AS sim
      FROM ranked WHERE rank <= 5
      ORDER BY query_id, rank"""))

  /** Mutual k-NN graph — the structure diversity-aware sampling and
    * agglomerative dedup consume (a near-dup PAIR list says "these two
    * match"; the mutual-kNN graph says "these two pick EACH OTHER", which
    * suppresses hub nodes that appear in everyone's top-k without being
    * anyone's genuine neighbor). Candidates are cell-local exactly as d5:
    * the labeled cell bounds the n² to (cell size)², and at corpus scale
    * the cells are the trained IVF partitions (s7) — never an all-pairs
    * join. Per-node top-3 by cosine (row_number, deterministic vec_id
    * tie-break), then the mutuality filter is a self-join of the ≤3n
    * directed edge list on the reversed pair — bounded by construction.
    * Fully oracle-checked: cells, cosine, ranks, and mutuality are all
    * portable arithmetic. */
  val s15 = GraftQuery(
    "s15_knn_graph",
    "Mutual top-3 kNN graph within label cells: directed ranks + reversed-pair self-join",
    (s, dir) => {
      val directed = cellTop3(labeledNorms(s, dir)).select("id1", "id2", "sim")
      val rev = directed.select(col("id2").as("id1"), col("id1").as("id2"))
      directed.join(rev, Seq("id1", "id2"))
        .filter(col("id1") < col("id2"))
        .select(col("id1"), col("id2"), round(col("sim"), 4).as("sim"))
        .orderBy("id1", "id2")
    },
    Some(s"""
      WITH n AS (SELECT vec_id, label, embedding,
                        ${sqlNorm("embedding")} AS nrm
                 FROM embeddings),
      p AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
                   ${sqlDot("a.embedding", "b.embedding", "q")}
                     / (a.nrm * b.nrm) AS sim
            FROM n a JOIN n b ON a.label = b.label AND a.vec_id <> b.vec_id),
      d AS (SELECT id1, id2, sim FROM (
              SELECT id1, id2, sim,
                     row_number() OVER (PARTITION BY id1
                       ORDER BY sim DESC, id2) AS rank
              FROM p)
            WHERE rank <= 3)
      SELECT d.id1, d.id2, round(d.sim, 4) AS sim
      FROM d JOIN d r ON r.id1 = d.id2 AND r.id2 = d.id1
      WHERE d.id1 < d.id2
      ORDER BY d.id1, d.id2"""))

  /** Recall@10-vs-nprobe tuning curve for the IVF index — the report every
    * ANN deployment runs before picking its speed/quality operating point
    * (Jégou et al. IVF evaluation protocol: sweep nprobe, measure recall
    * against exact search on a held-out query sample). One pass computes
    * the exact top-10 ground truth AND every per-cell candidate score; the
    * four nprobe settings {1,2,4,8} are then just filters over the cell
    * RANK each candidate came from — the corpus is never re-scanned per
    * setting. candidates_scanned quantifies the cost axis (rows scored if
    * only cr ≤ nprobe cells are probed), so the output IS the
    * recall/cost trade-off table.
    *
    * Everything is deterministic (fixed query sample, mean centroids,
    * (sim, vec_id) tie-breaks) → fully hash-checkable cross-engine, unlike
    * the trained-index queries (s7–s9) whose recall floors live in
    * QualitySpec. Ground truth is a 20-query × corpus scan — the bounded
    * offline-tuning role (s1's posture), not a serving path. */
  val s16 = GraftQuery(
    "s16_recall_curve",
    "IVF tuning curve: recall@10 and candidate volume at nprobe = 1, 2, 4, 8",
    (s, dir) => {
      import s.implicits._
      val emb = table(s, dir, "embeddings").withColumn("nrm", l2Norm(col("embedding")))
      val centroids = labelCentroids(emb)
      val q = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("nrm").as("qn"))
      val sims = emb.crossJoin(broadcast(q))
        .filter(col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id"), col("label"),
          (dotProduct(col("qe"), col("embedding")) / (col("qn") * col("nrm"))).as("sim"))
      val wx = Window.partitionBy("query_id").orderBy(desc("sim"), col("vec_id"))
      val exact = sims.withColumn("xr", row_number().over(wx))
        .filter(col("xr") <= 10).select(col("query_id"), col("vec_id"))
      val q2c = q.crossJoin(broadcast(centroids))
        .select(col("query_id"), col("c_label"),
          (dotProduct(col("qe"), col("centroid")) / (col("qn") * col("cnrm"))).as("csim"))
      val wc = Window.partitionBy("query_id").orderBy(desc("csim"), col("c_label"))
      val cellrank = q2c.withColumn("cr", row_number().over(wc))
        .select(col("query_id"), col("c_label").as("label"), col("cr"))
      val np = Seq(1, 2, 4, 8).toDF("nprobe")
      val cand = sims.join(cellrank, Seq("query_id", "label"))
        .crossJoin(broadcast(np))
        .filter(col("cr") <= col("nprobe"))
        .cache() // 4 × (queries × probed cells) scored rows; read twice
      val wa = Window.partitionBy("nprobe", "query_id").orderBy(desc("sim"), col("vec_id"))
      val approx = cand.withColumn("ar", row_number().over(wa))
        .filter(col("ar") <= 10)
        .select(col("nprobe"), col("query_id"), col("vec_id"))
      val hits = approx.join(exact, Seq("query_id", "vec_id"))
        .groupBy("nprobe").agg(count(lit(1)).as("h"))
      val scanned = cand.groupBy("nprobe").agg(count(lit(1)).as("cscan"))
      val nq = q.agg(count(lit(1)).as("n"))
      hits.join(scanned, "nprobe").crossJoin(broadcast(nq))
        .select(col("nprobe").cast("long").as("nprobe"),
          col("n").as("n_queries"),
          expr("h * 10000 div (n * 10)").as("recall_bp"),
          col("cscan").as("candidates_scanned"))
        .orderBy("nprobe")
    },
    Some(s"""
      WITH emb AS (
        SELECT vec_id, embedding, label,
               ${sqlNorm("embedding")} AS nrm
        FROM embeddings),
      ex AS (SELECT label, i, CAST(embedding[i] AS DOUBLE) AS v
             FROM embeddings, UNNEST(range(1, 65)) AS t(i)),
      sums AS (SELECT label, i, sum(v) AS sv, count(*) AS cnt
               FROM ex GROUP BY label, i),
      centroids AS (SELECT label AS c_label, list(round(sv / cnt, 6) ORDER BY i) AS centroid
                    FROM sums GROUP BY label),
      cn AS (SELECT c_label, centroid,
                    sqrt(list_aggregate(list_transform(centroid, x -> x * x), 'sum')) AS cnrm
             FROM centroids),
      q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn
            FROM emb WHERE vec_id < 20),
      sims AS (SELECT q.query_id, e.vec_id, e.label,
                      ${sqlDot("q.qe", "e.embedding", "x")}
                        / (q.qn * e.nrm) AS sim
               FROM q CROSS JOIN emb e WHERE e.vec_id <> q.query_id),
      exact AS (SELECT query_id, vec_id
                FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY sim DESC, vec_id) AS xr FROM sims)
                WHERE xr <= 10),
      q2c AS (SELECT q.query_id, c.c_label,
                     list_aggregate(list_transform(list_zip(q.qe, c.centroid),
                       p -> CAST(p[1] AS DOUBLE) * p[2]), 'sum') / (q.qn * c.cnrm) AS csim
              FROM q CROSS JOIN cn c),
      cellrank AS (SELECT query_id, c_label AS label,
                          row_number() OVER (PARTITION BY query_id
                            ORDER BY csim DESC, c_label) AS cr
                   FROM q2c),
      np AS (SELECT * FROM (VALUES (1), (2), (4), (8)) AS t(nprobe)),
      cand AS (SELECT n.nprobe, s.query_id, s.vec_id, s.sim
               FROM sims s
               JOIN cellrank c ON s.query_id = c.query_id AND s.label = c.label
               JOIN np n ON c.cr <= n.nprobe),
      approx AS (SELECT nprobe, query_id, vec_id
                 FROM (SELECT *, row_number() OVER (PARTITION BY nprobe, query_id
                         ORDER BY sim DESC, vec_id) AS ar FROM cand)
                 WHERE ar <= 10),
      hits AS (SELECT a.nprobe, count(*) AS h
               FROM approx a JOIN exact e
                 ON a.query_id = e.query_id AND a.vec_id = e.vec_id
               GROUP BY a.nprobe),
      scanned AS (SELECT nprobe, count(*) AS cscan FROM cand GROUP BY nprobe),
      nq AS (SELECT count(*) AS n FROM q)
      SELECT CAST(h.nprobe AS BIGINT) AS nprobe,
             CAST(nq.n AS BIGINT) AS n_queries,
             CAST(h.h * 10000 // (nq.n * 10) AS BIGINT) AS recall_bp,
             CAST(s.cscan AS BIGINT) AS candidates_scanned
      FROM hits h JOIN scanned s ON h.nprobe = s.nprobe CROSS JOIN nq
      ORDER BY nprobe"""))

  /** ANN index maintenance without retraining — the nightly-ingest
    * counterpart to s16's tuning curve: new vectors (vec_id % 4 = 0,
    * standing in for the day's batch) are assigned to the EXISTING coarse
    * cells, whose centroids were computed from the old corpus only. The
    * report is the retrain trigger every IVF deployment watches: per cell,
    * old vs new population, growth in basis points, and the new members'
    * mean centroid cosine (×10⁴, integer) — a cell that balloons or whose
    * arrivals sit far from its centroid is where recall quietly dies and
    * a re-train (s7) is due.
    *
    * Scale shape: centroids are a 10-row broadcast; assignment is one
    * argmax pass over the incoming batch (cost ∝ batch, corpus untouched);
    * the report is a 10-row join of two map-side-combined aggregates. The
    * mean cosine avoids float-summation divergence by rounding each
    * member's cosine to an integer ×10⁴ FIRST and averaging with integer
    * sum / count (floored) — the q83 lesson applied to a drift metric. */
  val s17 = GraftQuery(
    "s17_index_drift",
    "IVF index drift: new batch assigned to old-corpus cells; per-cell growth + arrival cosine",
    (s, dir) => {
      val emb = table(s, dir, "embeddings").withColumn("nrm", l2Norm(col("embedding")))
      val old = emb.filter(col("vec_id") % 4 =!= 0)
      val nw = emb.filter(col("vec_id") % 4 === 0)
      val centroids = labelCentroids(old)
      val scoredNew = nw.crossJoin(broadcast(centroids))
        .select(col("vec_id"), col("c_label"),
          (dotProduct(col("embedding"), col("centroid")) / (col("nrm") * col("cnrm"))).as("csim"))
      val wA = Window.partitionBy("vec_id").orderBy(desc("csim"), col("c_label"))
      val assigned = scoredNew.withColumn("rn", row_number().over(wA))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("c_label").as("cell"),
          round(col("csim") * 10000).cast("long").as("csim_x1e4"))
      val newAgg = assigned.groupBy("cell")
        .agg(count(lit(1)).as("n_new"),
          floor(sum(col("csim_x1e4")) / count(lit(1))).as("mean_csim_x1e4"))
      val oldAgg = old.groupBy(col("label").as("cell"))
        .agg(count(lit(1)).as("n_old"))
      oldAgg.join(newAgg, Seq("cell"), "left")
        .select(col("cell").cast("long").as("cell"), col("n_old"),
          coalesce(col("n_new"), lit(0L)).as("n_new"),
          floor(coalesce(col("n_new"), lit(0L)) * 10000 / col("n_old")).as("growth_bp"),
          col("mean_csim_x1e4"))
        .orderBy("cell")
    },
    Some(s"""
      WITH emb AS (
        SELECT vec_id, embedding, label,
               ${sqlNorm("embedding")} AS nrm
        FROM embeddings),
      exi AS (SELECT e.label, t.i, CAST(e.embedding[t.i] AS DOUBLE) AS v
              FROM embeddings e, UNNEST(range(1, 65)) AS t(i)
              WHERE e.vec_id % 4 <> 0),
      sums AS (SELECT label, i, sum(v) AS sv, count(*) AS cnt
               FROM exi GROUP BY label, i),
      centroids AS (SELECT label AS c_label, list(round(sv / cnt, 6) ORDER BY i) AS centroid
                    FROM sums GROUP BY label),
      cn AS (SELECT c_label, centroid,
                    sqrt(list_aggregate(list_transform(centroid, x -> x * x), 'sum')) AS cnrm
             FROM centroids),
      scorednew AS (SELECT e.vec_id, c.c_label,
                           list_aggregate(list_transform(list_zip(e.embedding, c.centroid),
                             p -> CAST(p[1] AS DOUBLE) * p[2]), 'sum') / (e.nrm * c.cnrm) AS csim
                    FROM emb e CROSS JOIN cn c
                    WHERE e.vec_id % 4 = 0),
      assigned AS (SELECT vec_id, c_label AS cell,
                          CAST(round(csim * 10000) AS BIGINT) AS csim_x1e4
                   FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                           ORDER BY csim DESC, c_label) AS rn FROM scorednew)
                   WHERE rn = 1),
      newagg AS (SELECT cell, count(*) AS n_new,
                        CAST(floor(sum(csim_x1e4) / count(*)) AS BIGINT) AS mean_csim_x1e4
                 FROM assigned GROUP BY cell),
      oldagg AS (SELECT label AS cell, count(*) AS n_old
                 FROM embeddings WHERE vec_id % 4 <> 0 GROUP BY label)
      SELECT CAST(o.cell AS BIGINT) AS cell, o.n_old,
             coalesce(n.n_new, 0) AS n_new,
             CAST(floor(coalesce(n.n_new, 0) * 10000 / o.n_old) AS BIGINT) AS growth_bp,
             n.mean_csim_x1e4
      FROM oldagg o LEFT JOIN newagg n ON o.cell = n.cell
      ORDER BY cell"""))

  /** Int8 scalar quantization audit — the embedding-storage compression
    * every production vector store applies before anything fancier (4×
    * smaller than fp32, SIMD-friendly dot products): per-vector absmax
    * scale s = max|v|/127, code cᵢ = round(vᵢ/s) ∈ [−127,127], and the
    * audit a pipeline must emit before flipping the switch — per-vector
    * scale, worst and mean-square dequantization error, and how many
    * components saturate. Everything is ROW-LOCAL (higher-order functions
    * over the embedding array, no shuffle but the presentation sort);
    * per-element folds run sequentially over the list in BOTH engines, so
    * the float arithmetic is order-identical and 6-decimal rounds are
    * stable. s8/s9's PQ is the codebook tier; this is the zero-training
    * tier a 100 TB re-embed job actually ships first. */
  val s18 = GraftQuery(
    "s18_int8_quantization",
    "Per-vector int8 absmax quantization audit: scale, max/mse dequant error, saturation count",
    (s, dir) =>
      table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
        .withColumn("scale",
          expr("greatest(aggregate(e, CAST(0.0 AS DOUBLE), (m, x) -> greatest(m, abs(x))), CAST(1e-12 AS DOUBLE)) / 127.0"))
        .select(col("vec_id"),
          round(col("scale"), 6).as("scale"),
          round(expr(
            "aggregate(e, CAST(0.0 AS DOUBLE), (m, x) -> greatest(m, abs(round(x / scale) * scale - x)))"),
            6).as("max_err"),
          round(expr(
            "aggregate(e, CAST(0.0 AS DOUBLE), (a, x) -> a + pow(round(x / scale) * scale - x, 2)) / size(e)"),
            8).as("mse"),
          expr(
            "aggregate(e, 0L, (n, x) -> n + CAST(abs(round(x / scale)) >= 127 AS LONG))")
            .as("n_saturated"))
        .orderBy("vec_id"),
    Some("""
      WITH q AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
               greatest(list_aggregate(list_transform(embedding,
                 x -> abs(CAST(x AS DOUBLE))), 'max'), 1e-12) / 127.0 AS scale
        FROM embeddings)
      SELECT vec_id,
             round(scale, 6) AS scale,
             round(list_aggregate(list_transform(e,
               x -> abs(round(x / scale) * scale - x)), 'max'), 6) AS max_err,
             round(list_aggregate(list_transform(e,
               x -> pow(round(x / scale) * scale - x, 2)), 'sum')
               / len(e), 8) AS mse,
             CAST(list_aggregate(list_transform(e,
               x -> CASE WHEN abs(round(x / scale)) >= 127 THEN 1 ELSE 0 END),
               'sum') AS BIGINT) AS n_saturated
      FROM q
      ORDER BY vec_id"""))

  /** PageRank centrality over the mutual-kNN graph — the graph-analytics
    * step a curation pipeline runs on s15's output: within a semantic
    * neighborhood, high-centrality nodes are the representative exemplars
    * (pick for few-shot pools) and rank sinks are the isolates worth an
    * audit. Three UNROLLED power iterations (d = 0.85, uniform start) —
    * each iteration is the canonical Pregel-on-a-DataFrame step: ranks
    * join edges on src, contributions r/deg aggregate per dst (map-side
    * combined), the new vector is (1−d)/N + d·Σ. The mutual graph has no
    * dangling nodes by construction (mutuality ⇒ degree ≥ 1 both ways),
    * so no dangling-mass correction clutters the recurrence. At 100 TB
    * scale each iteration is ONE shuffle keyed by node — the join/agg
    * pattern d6's connected components already proved out, with bounded
    * degree (≤3) keeping contribution fan-out constant. Per-node sums
    * have ≤3 float terms; 8-decimal rounds sit ~10 orders above
    * summation-order noise. */
  val s19 = GraftQuery(
    "s19_pagerank_centrality",
    "PageRank (3 unrolled iterations, d=0.85) over the mutual top-3 kNN graph",
    (s, dir) => {
      val directed = cellTop3(labeledNorms(s, dir)).select("id1", "id2")
      val rev = directed.select(col("id2").as("id1"), col("id1").as("id2"))
      val mutual = directed.join(rev, Seq("id1", "id2"))
        .filter(col("id1") < col("id2"))
      // Pin the graph-shaped frames (the d6/s22/s27 loop discipline):
      // edges feeds every iteration's contribution join, deg every
      // iteration's rebuild, and ranks-round-i is referenced by round
      // i+1 — unpinned, the all-pairs kNN build re-plans under each
      // reference and the unrolled plan was 5,344 formatted lines / 310
      // Exchange nodes. Both pins are graph-sized (≤ 6 edges, 1 deg row
      // per node), bounded at any corpus scale by the top-3 kNN cap.
      val edges = mutual.select(col("id1").as("src"), col("id2").as("dst"))
        .union(mutual.select(col("id2").as("src"), col("id1").as("dst")))
        .persist()
      val deg = edges.groupBy("src").agg(count(lit(1)).as("deg")).persist()
      val nRow = broadcast(deg.agg(count(lit(1)).as("n")))
      var ranks = deg.crossJoin(nRow)
        .select(col("src").as("id"), col("deg"), col("n"),
          (lit(1.0) / col("n")).as("r"))
      for (_ <- 1 to 3) {
        val contrib = edges
          .join(ranks.select(col("id"), (col("r") / col("deg")).as("c")),
            col("src") === col("id"))
          .groupBy("dst").agg(sum(col("c")).as("csum"))
        val prev = ranks
        ranks = deg.crossJoin(nRow)
          .join(contrib, col("src") === col("dst"), "left")
          .select(col("src").as("id"), col("deg"), col("n"),
            (lit(0.15) / col("n") +
              lit(0.85) * coalesce(col("csum"), lit(0.0))).as("r"))
          .persist()
        // release round i−1 once round i is materialized (ADVICE r15):
        // without the eager count the pins would accumulate one frame per
        // iteration for the whole query, relying on the bench's per-query
        // clearCache; the count is a node-count-sized job
        ranks.count()
        prev.unpersist()
      }
      ranks.select(col("id").as("vec_id"), col("deg").as("degree"),
        round(col("r"), 8).as("pagerank"))
        .orderBy("vec_id")
    },
    Some(s"""
      WITH nv AS (SELECT vec_id, label, embedding,
                         ${sqlNorm("embedding")} AS nrm
                  FROM embeddings),
      p AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
                   ${sqlDot("a.embedding", "b.embedding", "q")}
                     / (a.nrm * b.nrm) AS sim
            FROM nv a JOIN nv b ON a.label = b.label AND a.vec_id <> b.vec_id),
      dd AS (SELECT id1, id2 FROM (
               SELECT id1, id2,
                      row_number() OVER (PARTITION BY id1
                        ORDER BY sim DESC, id2) AS rank
               FROM p)
             WHERE rank <= 3),
      mu AS (SELECT d.id1, d.id2 FROM dd d
             JOIN dd r ON r.id1 = d.id2 AND r.id2 = d.id1
             WHERE d.id1 < d.id2),
      e AS (SELECT id1 AS src, id2 AS dst FROM mu
            UNION ALL SELECT id2, id1 FROM mu),
      deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
      nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
      r0 AS (SELECT src AS id, deg, 1.0 / n AS r FROM deg CROSS JOIN nn),
      c1 AS (SELECT e.dst, sum(r0.r / r0.deg) AS s
             FROM e JOIN r0 ON e.src = r0.id GROUP BY e.dst),
      r1 AS (SELECT d.src AS id, d.deg,
                    0.15 / nn.n + 0.85 * coalesce(c1.s, 0) AS r
             FROM deg d CROSS JOIN nn LEFT JOIN c1 ON c1.dst = d.src),
      c2 AS (SELECT e.dst, sum(r1.r / r1.deg) AS s
             FROM e JOIN r1 ON e.src = r1.id GROUP BY e.dst),
      r2 AS (SELECT d.src AS id, d.deg,
                    0.15 / nn.n + 0.85 * coalesce(c2.s, 0) AS r
             FROM deg d CROSS JOIN nn LEFT JOIN c2 ON c2.dst = d.src),
      c3 AS (SELECT e.dst, sum(r2.r / r2.deg) AS s
             FROM e JOIN r2 ON e.src = r2.id GROUP BY e.dst),
      r3 AS (SELECT d.src AS id, d.deg,
                    0.15 / nn.n + 0.85 * coalesce(c3.s, 0) AS r
             FROM deg d CROSS JOIN nn LEFT JOIN c3 ON c3.dst = d.src)
      SELECT id AS vec_id, CAST(deg AS BIGINT) AS degree,
             round(r, 8) AS pagerank
      FROM r3
      ORDER BY vec_id"""))

  /** Recall@10 of int8-quantized search vs exact fp32 — the quality half
    * of s18's compression decision (s16's recall-curve protocol applied
    * to scalar quantization): 20 query vectors rank the corpus twice in
    * ONE pass, once by exact dot product (row-local sequential fold —
    * order-identical cross-engine) and once by the quantized score
    * dot_int8 · scale_q · scale_c, whose integer core (Σ c_q·c_c, ≤
    * 64·127² per term — exact in 64 bits) makes the approximate ranking
    * deterministic enough to hash-check, unlike the trained-index recalls
    * (s7–s9) that live in QualitySpec. Overlap of the two top-10 sets is
    * the per-query recall; the corpus streams through the broadcast-query
    * join once, unshuffled (s1's posture — offline tuning, not serving). */
  val s20 = GraftQuery(
    "s20_int8_recall",
    "Recall@10 of s18's int8 quantization vs exact fp32 dot product, per query, one pass",
    (s, dir) => {
      val emb = table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
        .withColumn("scale",
          expr("greatest(aggregate(e, CAST(0.0 AS DOUBLE), (m, x) -> greatest(m, abs(x))), CAST(1e-12 AS DOUBLE)) / 127.0"))
        // codes kept as exact small integers IN DOUBLE (|c_i| ≤ 127, so
        // every product ≤ 127² and the 64-term sum < 2^53 — bit-identical
        // to the former BIGINT accumulation) so both per-pair dot products
        // below run through the codegen'd DotProduct expression instead of
        // an interpreted aggregate(zip_with(...)) lambda — this projection
        // is the per-(query × corpus-row) hot path
        .withColumn("c", expr("transform(e, x -> round(x / scale))"))
      val q = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("e").as("qe"),
          col("scale").as("qs"), col("c").as("qc"))
      val scored = broadcast(q).crossJoin(emb)
        .filter(col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id"),
          dotProduct(col("qe"), col("e")).as("exact_dot"),
          (dotProduct(col("qc"), col("c"))
            * col("qs") * col("scale")).as("int8_dot"))
      val we = Window.partitionBy("query_id").orderBy(desc("exact_dot"), col("vec_id"))
      val wq = Window.partitionBy("query_id").orderBy(desc("int8_dot"), col("vec_id"))
      scored
        .withColumn("re", row_number().over(we))
        .withColumn("rq", row_number().over(wq))
        .filter(col("re") <= 10 || col("rq") <= 10)
        .groupBy("query_id")
        .agg(
          sum(when(col("re") <= 10 && col("rq") <= 10, 1L).otherwise(0L))
            .as("recall10"),
          max(when(col("re") === 1, col("vec_id"))).as("exact_top1"),
          max(when(col("rq") === 1, col("vec_id"))).as("int8_top1"))
        .orderBy("query_id")
    },
    Some("""
      WITH emb AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
               greatest(list_aggregate(list_transform(embedding,
                 x -> abs(CAST(x AS DOUBLE))), 'max'), 1e-12) / 127.0 AS scale
        FROM embeddings),
      cc AS (SELECT vec_id, e, scale,
                    list_transform(e, x -> CAST(round(x / scale) AS BIGINT)) AS c
             FROM emb),
      scored AS (
        SELECT q.vec_id AS query_id, t.vec_id,
               list_aggregate(list_transform(list_zip(q.e, t.e),
                 z -> z[1] * z[2]), 'sum') AS exact_dot,
               CAST(list_aggregate(list_transform(list_zip(q.c, t.c),
                 z -> z[1] * z[2]), 'sum') AS BIGINT) * q.scale * t.scale
                 AS int8_dot
        FROM cc q JOIN cc t ON q.vec_id < 20 AND t.vec_id <> q.vec_id),
      ranked AS (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY exact_dot DESC, vec_id) AS re,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY int8_dot DESC, vec_id) AS rq
        FROM scored)
      SELECT query_id,
             CAST(sum(CASE WHEN re <= 10 AND rq <= 10 THEN 1 ELSE 0 END)
               AS BIGINT) AS recall10,
             max(CASE WHEN re = 1 THEN vec_id END) AS exact_top1,
             max(CASE WHEN rq = 1 THEN vec_id END) AS int8_top1
      FROM ranked
      WHERE re <= 10 OR rq <= 10
      GROUP BY query_id
      ORDER BY query_id"""))

  /** Blocked exact top-k MIPS — s1's answer, the 1000-executor plan
    * (hash-identical twin, the d7/d12 twin discipline): s1 shuffles EVERY
    * query×corpus similarity through a rank window (~20·N rows of
    * exchange); here the query block rides into each partition as a plain
    * broadcast variable, a bounded per-(query,partition) heap keeps only
    * the k best candidates (comparator = the final (sim DESC, vec_id)
    * order, so partition-local pruning can never drop a global winner —
    * the map-side top-k reduction of a GPU/BLAS brute-force scorer), and
    * only k·partitions rows per query reach the tiny merge window. The
    * scala loop accumulates float→double products left-to-right, exactly
    * the native DotProduct expression's order, so similarities are
    * bit-identical to s1's and the oracle is s1's verbatim. */
  val s21 = GraftQuery(
    "s21_blocked_topk",
    "Blocked brute-force top-5: per-partition bounded heaps, k·parts rows shuffle (s1 twin)",
    (s, dir) => {
      import s.implicits._
      val k = 5
      def dot(a: Seq[Float], b: Seq[Float]): Double = {
        var acc = 0.0; var i = 0
        while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
        acc
      }
      val emb = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        .as[(Long, Seq[Float])]
      val queries = emb.filter(_._1 < 20).collect()
        .map { case (id, e) => (id, e, math.sqrt(dot(e, e))) }
      val qb = s.sparkContext.broadcast(queries)
      val partTop = emb.mapPartitions { it =>
        val qs = qb.value
        val heaps = qs.map(_ => scala.collection.mutable.PriorityQueue
          .empty[(Double, Long)](Ordering.by(t => (-t._1, t._2))))
        it.foreach { case (id, e) =>
          val nrm = math.sqrt(dot(e, e))
          var qi = 0
          while (qi < qs.length) {
            val (qid, qe, qn) = qs(qi)
            if (qid != id) {
              val sim = dot(qe, e) / (qn * nrm)
              val h = heaps(qi)
              if (h.size < 5) h.enqueue((sim, id))
              else if (sim > h.head._1 || (sim == h.head._1 && id < h.head._2)) {
                h.dequeue(); h.enqueue((sim, id))
              }
            }
            qi += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
          h.iterator.map(t => (qs(qi)._1, t._2, t._1))
        }
      }.toDF("query_id", "vec_id", "sim")
      topK(partTop, k)
    },
    s1.oracle)

  /** Graph-walk ANN serving (the NSW/HNSW pattern, Malkov et al.): greedy
    * BEAM SEARCH over s15's directed top-3 kNN graph instead of scanning
    * an index cell. Three unrolled hops from a per-cell entry point
    * (min vec_id — the fixed-entry discipline HNSW uses at its top
    * layer): each hop expands the current beam by its out-edges, scores
    * ONLY the expanded set against the query, and keeps the best 5
    * (sim DESC, vec_id tie-break — self allowed in-walk, excluded at
    * output). Per-query work is O(beam · degree · hops) distance
    * computations — independent of corpus size given the graph, which is
    * the entire point of graph ANN at serving time; n_scored reports it
    * per query next to hit1 (did the beam find the cell's true top-1),
    * so the output IS the cost/quality trade-off row. The walk, the
    * truth rank, and every tie-break are deterministic → fully
    * hash-checked cross-engine, three unrolled levels in the oracle
    * (s19's Pregel-unroll discipline). Edges persist across the three
    * hops (the cell-local all-pairs build is the offline index cost —
    * charged here, not hidden; at scale it's the persisted graph
    * artifact, cf. x_ann_* spools). */
  val s22 = GraftQuery(
    "s22_graph_beam_search",
    "NSW-style beam search (3 hops, beam 5) over the kNN graph: top-3 + hit@1 + nodes scored",
    (s, dir) => {
      val emb = labeledNorms(s, dir)
      val edges = cellTop3(emb).select("id1", "id2").persist()
      val b = emb.select(col("label"), col("vec_id").as("id2"),
        col("embedding").as("e2"), col("nrm").as("n2"))
      val qv = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
          col("embedding").as("qe"), col("nrm").as("qn"))
      val entry = emb.groupBy("label").agg(min(col("vec_id")).as("node"))
      var beam = qv.join(entry, col("qlabel") === col("label"))
        .select("query_id", "node")
      var acc = beam
      val wb = Window.partitionBy("query_id").orderBy(desc("sim"), col("node"))
      for (_ <- 1 to 3) {
        val exp = beam.select("query_id", "node")
          .unionAll(beam.select("query_id", "node").alias("bm")
            .join(edges.alias("ed"), col("bm.node") === col("ed.id1"))
            .select(col("bm.query_id").as("query_id"), col("ed.id2").as("node")))
          .distinct()
        acc = acc.unionAll(exp)
        beam = exp
          .join(emb.select(col("vec_id"), col("embedding"), col("nrm")),
            col("node") === col("vec_id"))
          .join(broadcast(qv.select("query_id", "qe", "qn")), Seq("query_id"))
          .select(col("query_id"), col("node"),
            (dotProduct(col("qe"), col("embedding")) / (col("qn") * col("nrm"))).as("sim"))
          // the walk frames are ≤ 10 queries × ≤ 20 nodes: pre-clustering
          // them on 4 partitions satisfies every downstream per-query
          // window/agg distribution, so the default shuffle fan-out (32
          // one-row tasks per hop stage) never materializes. Cluster-side
          // this is per-query-batch parallelism, not a global knob.
          .repartition(4, col("query_id"))
          .withColumn("r", row_number().over(wb))
          .filter(col("r") <= 5)
          .select("query_id", "node", "sim")
          // a beam is ≤ 50 rows but its lineage is the whole unrolled
          // walk; without pinning, every downstream consumer (next hop,
          // fin, hits, acc) re-executes all prior hops — persist turns
          // the 3-hop DAG from exponential re-evaluation into 3 stages
          .persist()
      }
      val nsc = acc.distinct()
        .filter(col("node") =!= col("query_id"))
        .groupBy("query_id").agg(count(lit(1)).as("n_scored"))
      val wt = Window.partitionBy("query_id").orderBy(desc("sim"), col("id2"))
      val truth = qv
        .join(b, col("qlabel") === col("label"))
        .filter(col("id2") =!= col("query_id"))
        .select(col("query_id"),
          (dotProduct(col("qe"), col("e2")) / (col("qn") * col("n2"))).as("sim"),
          col("id2"))
        .withColumn("r", row_number().over(wt))
        .filter(col("r") === 1)
        .select(col("query_id"), col("id2").as("t1"))
      val fin = beam.filter(col("node") =!= col("query_id"))
        .withColumn("rank", row_number().over(wb))
        .filter(col("rank") <= 3)
        .persist()
      val hits = fin.join(broadcast(truth), Seq("query_id"))
        .groupBy("query_id")
        .agg(max(when(col("node") === col("t1"), 1L).otherwise(0L)).as("hit"))
      fin.join(broadcast(hits), Seq("query_id"))
        .join(broadcast(nsc), Seq("query_id"))
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("node").as("vec_id"), round(col("sim"), 4).as("sim"),
          (col("hit") === 1).as("hit1"), col("n_scored"))
        .orderBy("query_id", "rank")
    },
    Some(s"""
      WITH n AS (SELECT vec_id, label, embedding,
                        ${sqlNorm("embedding")} AS nrm
                 FROM embeddings),
      p AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
                   ${sqlDot("a.embedding", "b.embedding", "q")}
                     / (a.nrm * b.nrm) AS sim
            FROM n a JOIN n b ON a.label = b.label AND a.vec_id <> b.vec_id),
      d AS (SELECT id1, id2 FROM (
              SELECT id1, id2, row_number() OVER (PARTITION BY id1
                       ORDER BY sim DESC, id2) AS rank
              FROM p)
            WHERE rank <= 3),
      qv AS (SELECT vec_id AS query_id, label AS qlabel, embedding AS qe, nrm AS qn
             FROM n WHERE vec_id < 10),
      entry AS (SELECT label, min(vec_id) AS node FROM n GROUP BY label),
      b0 AS (SELECT q.query_id, e.node FROM qv q JOIN entry e ON e.label = q.qlabel),
      x1 AS (SELECT query_id, node FROM b0
             UNION
             SELECT b.query_id, d.id2 FROM b0 b JOIN d ON d.id1 = b.node),
      s1_ AS (SELECT query_id, node, sim, row_number() OVER
                (PARTITION BY query_id ORDER BY sim DESC, node) AS r
              FROM (SELECT x.query_id, x.node,
                           ${sqlDot("q.qe", "c.embedding", "z")}
                             / (q.qn * c.nrm) AS sim
                    FROM x1 x JOIN n c ON c.vec_id = x.node
                              JOIN qv q ON q.query_id = x.query_id)),
      b1 AS (SELECT query_id, node, sim FROM s1_ WHERE r <= 5),
      x2 AS (SELECT query_id, node FROM b1
             UNION
             SELECT b.query_id, d.id2 FROM b1 b JOIN d ON d.id1 = b.node),
      s2_ AS (SELECT query_id, node, sim, row_number() OVER
                (PARTITION BY query_id ORDER BY sim DESC, node) AS r
              FROM (SELECT x.query_id, x.node,
                           ${sqlDot("q.qe", "c.embedding", "z")}
                             / (q.qn * c.nrm) AS sim
                    FROM x2 x JOIN n c ON c.vec_id = x.node
                              JOIN qv q ON q.query_id = x.query_id)),
      b2 AS (SELECT query_id, node, sim FROM s2_ WHERE r <= 5),
      x3 AS (SELECT query_id, node FROM b2
             UNION
             SELECT b.query_id, d.id2 FROM b2 b JOIN d ON d.id1 = b.node),
      s3_ AS (SELECT query_id, node, sim, row_number() OVER
                (PARTITION BY query_id ORDER BY sim DESC, node) AS r
              FROM (SELECT x.query_id, x.node,
                           ${sqlDot("q.qe", "c.embedding", "z")}
                             / (q.qn * c.nrm) AS sim
                    FROM x3 x JOIN n c ON c.vec_id = x.node
                              JOIN qv q ON q.query_id = x.query_id)),
      b3 AS (SELECT query_id, node, sim FROM s3_ WHERE r <= 5),
      acc AS (SELECT query_id, node FROM x1
              UNION SELECT query_id, node FROM x2
              UNION SELECT query_id, node FROM x3),
      nsc AS (SELECT query_id, count(*) AS n_scored FROM acc
              WHERE node <> query_id GROUP BY query_id),
      tr AS (SELECT query_id, id2 AS t1 FROM (
               SELECT q.query_id, c.vec_id AS id2, row_number() OVER
                 (PARTITION BY q.query_id ORDER BY
                   ${sqlDot("q.qe", "c.embedding", "z")}
                     / (q.qn * c.nrm) DESC, c.vec_id) AS r
               FROM qv q JOIN n c ON c.label = q.qlabel
                                 AND c.vec_id <> q.query_id)
             WHERE r = 1),
      fin AS (SELECT query_id, node, sim, row_number() OVER
                (PARTITION BY query_id ORDER BY sim DESC, node) AS rank
              FROM b3 WHERE node <> query_id),
      f3 AS (SELECT * FROM fin WHERE rank <= 3),
      h AS (SELECT f.query_id,
                   max(CASE WHEN f.node = tr.t1 THEN 1 ELSE 0 END) AS hit
            FROM f3 f JOIN tr ON tr.query_id = f.query_id
            GROUP BY f.query_id)
      SELECT f.query_id, f.rank, f.node AS vec_id, round(f.sim, 4) AS sim,
             h.hit = 1 AS hit1, nsc.n_scored
      FROM f3 f JOIN h ON h.query_id = f.query_id
                JOIN nsc ON nsc.query_id = f.query_id
      ORDER BY f.query_id, f.rank"""))

  /** Label-error screening by kNN disagreement (the confident-learning /
    * Cleanlab shape, reduced to its deterministic core): a training
    * example whose nearest neighbors in embedding space vote for a
    * DIFFERENT class is a labeling-error candidate — the highest-yield
    * data-quality audit a labeled corpus gets before training. For a
    * 1-in-5 probe sample, the exact top-5 cross-label neighbors vote;
    * majority with (count DESC, label) tie-break; `agree` rows are clean,
    * the rest are the review queue. The probe×corpus scan is the audit's
    * bounded sample (the s1 contract); at scale the neighbor lists come
    * from the ANN index (s5/s22) instead of a scan — the vote math is
    * unchanged. Everything ties to integers → fully hash-checked. */
  val s23 = GraftQuery(
    "s23_label_knn_audit",
    "kNN label audit: majority vote of exact top-5 neighbors vs own label, disagreement queue",
    (s, dir) => {
      val emb = table(s, dir, "embeddings")
        .select(col("vec_id"), col("label"), col("embedding"),
          l2Norm(col("embedding")).as("nrm"))
      val probes = emb.filter(col("vec_id") % 5 === 0)
        .select(col("vec_id").as("pid"), col("label").as("own"),
          col("embedding").as("pe"), col("nrm").as("pn"))
      val w = Window.partitionBy("pid").orderBy(desc("sim"), col("vec_id"))
      val top5 = broadcast(probes).crossJoin(emb)
        .filter(col("vec_id") =!= col("pid"))
        .select(col("pid"), col("own"), col("label"),
          (dotProduct(col("pe"), col("embedding")) / (col("pn") * col("nrm"))).as("sim"),
          col("vec_id"))
        .withColumn("r", row_number().over(w))
        .filter(col("r") <= 5)
      val votes = top5.groupBy("pid", "own", "label")
        .agg(count(lit(1)).as("votes"))
      val wv = Window.partitionBy("pid").orderBy(desc("votes"), col("label"))
      votes
        .withColumn("rv", row_number().over(wv))
        .withColumn("nAgree",
          sum(when(col("label") === col("own"), col("votes")).otherwise(0L)).over(
            Window.partitionBy("pid")))
        .filter(col("rv") === 1)
        .select(col("pid").as("vec_id"), col("own").as("label"),
          col("label").as("maj_label"), col("nAgree").as("n_agree"),
          (col("label") === col("own")).as("agree"))
        .orderBy("vec_id")
    },
    Some(s"""
      WITH n AS (SELECT vec_id, label, embedding,
                        ${sqlNorm("embedding")} AS nrm
                 FROM embeddings),
      probes AS (SELECT vec_id AS pid, label AS own, embedding AS pe, nrm AS pn
                 FROM n WHERE vec_id % 5 = 0),
      sims AS (SELECT p.pid, p.own, c.label, c.vec_id,
                      ${sqlDot("p.pe", "c.embedding", "z")}
                        / (p.pn * c.nrm) AS sim
               FROM probes p JOIN n c ON c.vec_id <> p.pid),
      top5 AS (SELECT pid, own, label FROM (
                 SELECT pid, own, label,
                        row_number() OVER (PARTITION BY pid
                          ORDER BY sim DESC, vec_id) AS r
                 FROM sims)
               WHERE r <= 5),
      votes AS (SELECT pid, own, label, count(*) AS votes
                FROM top5 GROUP BY pid, own, label),
      ranked AS (SELECT pid, own, label, votes,
                        row_number() OVER (PARTITION BY pid
                          ORDER BY votes DESC, label) AS rv,
                        sum(CASE WHEN label = own THEN votes ELSE 0 END)
                          OVER (PARTITION BY pid) AS n_agree
                 FROM votes)
      SELECT pid AS vec_id, own AS label, label AS maj_label,
             CAST(n_agree AS BIGINT) AS n_agree, label = own AS agree
      FROM ranked WHERE rv = 1
      ORDER BY vec_id"""))

  /** MMR (Maximal Marginal Relevance, Carbonell & Goldstein SIGIR'98)
    * diversity reranking — the serving-side step between retrieval and the
    * prompt window: a plain top-k (s1) returns near-duplicates of the best
    * hit; MMR greedily picks argmax λ·rel(c) − (1−λ)·max(sim(c, selected)),
    * trading relevance against redundancy. Greedy selection is inherently
    * sequential, but k is a SMALL CONSTANT (5), so the loop UNROLLS into
    * dataflow (t37's chained-join discipline — no driver loop, no
    * collect): each step is an anti-join (drop selected) + a bounded
    * penalty join against the candidate-pair sim table + one row_number
    * pick per query. Scale: everything after the s1-shape retrieval
    * touches ≤12 candidates/query — pair sims are 12² per query and the
    * five pick steps are window ops over ≤60 rows; retrieval cost
    * dominates, rerank cost is O(k·c²) per query regardless of corpus
    * size, which is why production rerankers run exactly this shape. */
  val s24 = GraftQuery(
    "s24_mmr_rerank",
    "MMR diversity rerank: greedy λ=0.7 pick of 5 from each query's top-12, fused per-row",
    (s, dir) => {
      val emb = table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), l2Norm(col("embedding")).as("nrm"))
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("nrm").as("qn"))
      val wq = Window.partitionBy("query_id").orderBy(desc("rel"), col("vec_id"))
      val cands = broadcast(q).crossJoin(emb)
        .filter(col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id"), col("embedding"), col("nrm"),
          (dotProduct(col("qe"), col("embedding")) / (col("qn") * col("nrm"))).as("rel"))
        .withColumn("rn", row_number().over(wq)).filter(col("rn") <= 12)
        .drop("rn")
        .persist()
      val pairA = cands.select(col("query_id"), col("vec_id"),
        col("embedding").as("ea"), col("nrm").as("na"))
      val pairB = cands.select(col("query_id"), col("vec_id").as("b"),
        col("embedding").as("eb"), col("nrm").as("nb"))
      val pair = pairA.join(pairB, Seq("query_id"))
        .filter(col("vec_id") =!= col("b"))
        .select(col("query_id"), col("vec_id"), col("b"),
          (dotProduct(col("ea"), col("eb")) / (col("na") * col("nb"))).as("sim"))
      // One row per query: candidate list + pair-sim map, then the whole
      // greedy loop runs INSIDE the row via an aggregate() HOF — parallel
      // across queries, zero per-step shuffles or barriers. (A first cut
      // unrolled the steps as five chained anti-join+window stages: correct,
      // but 18.8 s of tiny-stage scheduling at sf0.1 vs ~1 s fused — the
      // step state is ≤12 structs, exactly what row-local array algebra is
      // for. The oracle still replays the textbook unrolled iteration, so
      // the fusion is PROVEN, q113/q126-style.)
      val cs = cands.groupBy("query_id")
        .agg(expr("""array_sort(collect_list(struct(vec_id, rel)),
                     (l, r) -> CASE WHEN l.vec_id < r.vec_id THEN -1
                                    WHEN l.vec_id > r.vec_id THEN 1 ELSE 0 END)""").as("cs"))
      val sims = pair.groupBy("query_id")
        .agg(map_from_entries(collect_list(
          struct((col("vec_id") * 1000000L + col("b")).as("k"), col("sim")))).as("sm"))
      cs.join(sims, Seq("query_id"))
        .select(col("query_id"), explode(expr("""
          aggregate(
            sequence(1, 5),
            CAST(array() AS ARRAY<STRUCT<vec_id: BIGINT, rel: DOUBLE, score: DOUBLE, pick_rank: BIGINT>>),
            (sel, k) -> concat(sel, slice(array_sort(
              transform(
                filter(cs, c -> !exists(sel, s0 -> s0.vec_id = c.vec_id)),
                c -> named_struct(
                  'vec_id', c.vec_id,
                  'rel', c.rel,
                  'score', 0.7D * c.rel - 0.3D * coalesce(
                    array_max(transform(sel, s0 -> sm[c.vec_id * 1000000 + s0.vec_id])), 0D),
                  'pick_rank', CAST(k AS BIGINT))),
              (l, r) -> CASE WHEN l.score > r.score THEN -1
                             WHEN l.score < r.score THEN 1
                             WHEN l.vec_id < r.vec_id THEN -1
                             WHEN l.vec_id > r.vec_id THEN 1 ELSE 0 END),
              1, 1)))""")).as("p"))
        .select(col("query_id"), col("p.pick_rank").as("pick_rank"), col("p.vec_id").as("vec_id"),
          round(col("p.rel"), 4).as("rel"), round(col("p.score"), 4).as("mmr_score"))
        .orderBy("query_id", "pick_rank")
    },
    Some(s"""
      WITH n AS (SELECT vec_id, embedding,
                        ${sqlNorm("embedding")} AS nrm
                 FROM embeddings),
      cand0 AS (SELECT q.vec_id AS query_id, c.vec_id, c.embedding, c.nrm,
                       ${sqlDot("q.embedding", "c.embedding", "p")}
                         / (q.nrm * c.nrm) AS rel
                FROM n q JOIN n c ON q.vec_id < 5 AND q.vec_id <> c.vec_id),
      cands AS (SELECT query_id, vec_id, embedding, nrm, rel FROM (
                  SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY rel DESC, vec_id) AS rn FROM cand0) WHERE rn <= 12),
      pair AS (SELECT a.query_id, a.vec_id, b.vec_id AS b,
                      ${sqlDot("a.embedding", "b.embedding", "p")}
                        / (a.nrm * b.nrm) AS sim
               FROM cands a JOIN cands b
                 ON a.query_id = b.query_id AND a.vec_id <> b.vec_id),
      sel1 AS (SELECT query_id, vec_id, rel, 0.7 * rel AS score,
                      CAST(1 AS BIGINT) AS pick_rank
               FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY rel DESC, vec_id) AS rn FROM cands) WHERE rn = 1),
      st2 AS (SELECT c.query_id, c.vec_id, c.rel, max(p.sim) AS pen
              FROM cands c
              JOIN pair p ON p.query_id = c.query_id AND p.vec_id = c.vec_id
              JOIN sel1 s ON s.query_id = p.query_id AND s.vec_id = p.b
              WHERE NOT EXISTS (SELECT 1 FROM sel1 x
                                WHERE x.query_id = c.query_id AND x.vec_id = c.vec_id)
              GROUP BY 1, 2, 3),
      sel2 AS (SELECT * FROM sel1 UNION ALL
               SELECT query_id, vec_id, rel, 0.7 * rel - 0.3 * pen,
                      CAST(2 AS BIGINT)
               FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY 0.7 * rel - 0.3 * pen DESC, vec_id) AS rn FROM st2)
               WHERE rn = 1),
      st3 AS (SELECT c.query_id, c.vec_id, c.rel, max(p.sim) AS pen
              FROM cands c
              JOIN pair p ON p.query_id = c.query_id AND p.vec_id = c.vec_id
              JOIN sel2 s ON s.query_id = p.query_id AND s.vec_id = p.b
              WHERE NOT EXISTS (SELECT 1 FROM sel2 x
                                WHERE x.query_id = c.query_id AND x.vec_id = c.vec_id)
              GROUP BY 1, 2, 3),
      sel3 AS (SELECT * FROM sel2 UNION ALL
               SELECT query_id, vec_id, rel, 0.7 * rel - 0.3 * pen,
                      CAST(3 AS BIGINT)
               FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY 0.7 * rel - 0.3 * pen DESC, vec_id) AS rn FROM st3)
               WHERE rn = 1),
      st4 AS (SELECT c.query_id, c.vec_id, c.rel, max(p.sim) AS pen
              FROM cands c
              JOIN pair p ON p.query_id = c.query_id AND p.vec_id = c.vec_id
              JOIN sel3 s ON s.query_id = p.query_id AND s.vec_id = p.b
              WHERE NOT EXISTS (SELECT 1 FROM sel3 x
                                WHERE x.query_id = c.query_id AND x.vec_id = c.vec_id)
              GROUP BY 1, 2, 3),
      sel4 AS (SELECT * FROM sel3 UNION ALL
               SELECT query_id, vec_id, rel, 0.7 * rel - 0.3 * pen,
                      CAST(4 AS BIGINT)
               FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY 0.7 * rel - 0.3 * pen DESC, vec_id) AS rn FROM st4)
               WHERE rn = 1),
      st5 AS (SELECT c.query_id, c.vec_id, c.rel, max(p.sim) AS pen
              FROM cands c
              JOIN pair p ON p.query_id = c.query_id AND p.vec_id = c.vec_id
              JOIN sel4 s ON s.query_id = p.query_id AND s.vec_id = p.b
              WHERE NOT EXISTS (SELECT 1 FROM sel4 x
                                WHERE x.query_id = c.query_id AND x.vec_id = c.vec_id)
              GROUP BY 1, 2, 3),
      sel5 AS (SELECT * FROM sel4 UNION ALL
               SELECT query_id, vec_id, rel, 0.7 * rel - 0.3 * pen,
                      CAST(5 AS BIGINT)
               FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY 0.7 * rel - 0.3 * pen DESC, vec_id) AS rn FROM st5)
               WHERE rn = 1)
      SELECT query_id, pick_rank, vec_id,
             round(rel, 4) AS rel, round(score, 4) AS mmr_score
      FROM sel5
      ORDER BY query_id, pick_rank"""))

  /** s2's multi-probe LSH pipeline made FULLY hash-checkable (VERDICT r8
    * item 5 — the d18 technique applied to the last structural rows-only
    * family): identical construction — L=4 tables × 8 sign bits, per-table
    * probe of the exact bucket + all 8 Hamming-1 neighbors, distinct
    * candidate union, exact cosine rerank — but the hyperplanes are
    * PORTABLE: plane[i][d] = md5("i_d") first-15-hex as a 60-bit uniform,
    * scaled to (−0.5, 0.5). Sign-LSH needs only a symmetric projection
    * distribution (Charikar 2002 uses Gaussian for the angle bound; any
    * sign-symmetric choice preserves the locality property), so the
    * harness trades s2's seeded Gaussian for a hash both engines derive
    * bit-for-bit: int64→double conversion is IEEE round-to-nearest in
    * both, division by 2^60 is exact scaling, and the dot products
    * accumulate left-to-right in both. DuckDB replays the ENTIRE pipeline
    * — signature build, probe enumeration, bucket equi-join, rerank — so
    * the green hash pins s2's candidate-generation semantics, not just
    * its output shape. n_cands per query additionally proves the
    * shortlist is sub-corpus (the point of the index). Even s2's ADAPTIVE
    * bits clamp replays: round(log2(n/32)) is cross-engine safe because an
    * integer n cannot place log2(n/32) within libm's ~1-ulp error of a .5
    * rounding boundary (that would need n ≈ 32·2^(k+1/2), irrational). */
  val s25 = GraftQuery(
    "s25_lsh_portable_harness",
    "Hash-checked multi-probe LSH twin: md5-derived planes, Hamming-1 probes, exact rerank",
    (s, dir) => {
      val L = 4; val dims = 64
      val bits = lshBits(s, dir)
      val scale = 1152921504606846976.0 // 2^60
      def u(i: Int, d: Int): Double = {
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(s"${i}_${d}".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        java.lang.Long.parseLong(hex.substring(0, 15), 16) / scale - 0.5
      }
      val planes = Array.tabulate(L * bits, dims)(u)
      // bucket bits as UNROLLED codegen'd DotProducts over literal plane
      // arrays (the centroidSims discipline): the previous
      // aggregate(sequence...) HOF evaluated every plane dot product
      // through an interpreted lambda per row, outside whole-stage
      // codegen, and carried the full L·bits plane matrix as a per-row
      // column. Bit j of table t contributes 2^(bits-1-j) — identical
      // integer bucket. emb is pinned: four consumers (corpus index,
      // probes, query vectors, rerank side) otherwise recompute the
      // bucketing and norms per reference.
      def bucket(t: Int) =
        (0 until bits).map { j =>
          when(dotProduct(array(planes(t * bits + j).map(lit).toSeq: _*),
            col("embedding")) > 0, lit(1L << (bits - 1 - j))).otherwise(lit(0L))
        }.reduce(_ + _)
      val emb = table(s, dir, "embeddings")
        .withColumn("tb", array((0 until L).map(t =>
          struct(lit(t).as("t"), bucket(t).as("b"))): _*))
        .withColumn("nrm", l2Norm(col("embedding")))
        .persist()
      val (pairs, sim) = probeSims(emb, bits)
      val nCands = pairs.groupBy("query_id").agg(count(lit(1)).as("n_cands"))
      ranked(sim, 3)
        .join(broadcast(nCands), "query_id")
        .select(col("query_id"), col("n_cands"), col("rank").cast("long").as("rank"),
          col("vec_id"), round(col("sim"), 4).as("sim"))
        .orderBy("query_id", "rank")
    },
    Some(s"""
      WITH prm AS (
        SELECT CAST(greatest(2, least(16,
                 round(log2(greatest(1.0, count(*) / 32.0))))) AS BIGINT) AS bits
        FROM embeddings),
      planes AS (
        SELECT i.i, list_transform(range(64), d ->
                 CAST(concat('0x', substr(md5(concat(CAST(i.i AS VARCHAR), '_',
                   CAST(d AS VARCHAR))), 1, 15)) AS BIGINT)
                 / 1152921504606846976.0 - 0.5) AS p
        FROM (SELECT unnest(range(64)) AS i) i
        WHERE i.i < 4 * (SELECT bits FROM prm)),
      n AS (SELECT vec_id, embedding,
                   ${sqlNorm("embedding")} AS nrm
            FROM embeddings),
      bitsv AS (
        SELECT e.vec_id, p.i // prm.bits AS t,
               CASE WHEN list_aggregate(list_transform(list_zip(p.p, e.embedding),
                      x -> x[1] * CAST(x[2] AS DOUBLE)), 'sum') > 0
                    THEN CAST(1 AS BIGINT)
                           << CAST(prm.bits - 1 - (p.i % prm.bits) AS INTEGER)
                    ELSE 0 END AS contrib
        FROM n e, planes p, prm),
      sig AS (SELECT vec_id, t, CAST(sum(contrib) AS BIGINT) AS bucket
              FROM bitsv GROUP BY 1, 2),
      masks AS (
        SELECT CAST(0 AS BIGINT) AS m
        UNION ALL
        SELECT CAST(1 AS BIGINT) << CAST(j.j AS INTEGER)
        FROM (SELECT unnest(range(16)) AS j) j, prm WHERE j.j < prm.bits),
      probes AS (
        SELECT s.vec_id AS query_id, s.t, xor(s.bucket, mk.m) AS bucket
        FROM sig s, masks mk
        WHERE s.vec_id < 20),
      cands AS (
        SELECT DISTINCT p.query_id, c.vec_id
        FROM probes p JOIN sig c ON c.t = p.t AND c.bucket = p.bucket
        WHERE c.vec_id <> p.query_id),
      nc AS (SELECT query_id, count(*) AS n_cands FROM cands GROUP BY 1),
      scored AS (
        SELECT ca.query_id, ca.vec_id,
               ${sqlDot("q.embedding", "c.embedding", "x")}
                 / (q.nrm * c.nrm) AS sim
        FROM cands ca
        JOIN n q ON q.vec_id = ca.query_id
        JOIN n c ON c.vec_id = ca.vec_id),
      ranked AS (
        SELECT query_id, vec_id, sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, vec_id) AS rank
        FROM scored)
      SELECT r.query_id, nc.n_cands, CAST(r.rank AS BIGINT) AS rank,
             r.vec_id, round(r.sim, 4) AS sim
      FROM ranked r JOIN nc ON nc.query_id = r.query_id
      WHERE r.rank <= 3
      ORDER BY r.query_id, r.rank"""))

  /** Retrieval-quality evaluation in EXACT rationals — the IR scorecard
    * (hits@k, first relevant rank, reciprocal rank) a retrieval system is
    * actually graded by, with the float seam removed: MRR's 1/rank terms
    * are scaled by 2520 = lcm(1..10), so every reciprocal of a rank ≤ 10
    * is an exact integer and the per-label mean is one final division.
    * Ranking is s1's broadcast-queries × streaming-corpus top-10 (exact
    * brute force — this is the harness that GRADES, so it must not itself
    * approximate); relevance = label match (the standard proxy-label
    * protocol). Per-label rollup + ALL row re-aggregate the 20-row
    * per-query frame — bounded, no second corpus pass. At 100 TB the
    * corpus side streams through unreplicated; only the query set and
    * the per-query verdicts move. */
  val s26 = GraftQuery(
    "s26_retrieval_quality",
    "Retrieval eval harness: hits@10, first-hit rank, MRR×2520 exact per label + ALL",
    (s, dir) => {
      val emb = table(s, dir, "embeddings")
        .select(col("vec_id"), col("label"), col("embedding"),
          l2Norm(col("embedding")).as("nrm"))
      val q = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
          col("embedding").as("qe"), col("nrm").as("qn"))
      val top = ranked(broadcast(q).crossJoin(emb)
        .filter(col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("qlabel"), col("vec_id"), col("label"),
          (dotProduct(col("qe"), col("embedding")) / (col("qn") * col("nrm")))
            .as("sim")), 10)
      val perQuery = top.groupBy("query_id", "qlabel")
        .agg(sum(when(col("label") === col("qlabel"), 1L).otherwise(0L))
            .as("hits"),
          min(when(col("label") === col("qlabel"), col("rank"))).as("frank"))
        .select(col("query_id"), col("qlabel"),
          col("hits").as("hits_at_10"),
          expr("CASE WHEN frank IS NOT NULL THEN 2520 div frank ELSE 0 END")
            .as("rr_x2520"))
      val byLabel = perQuery.groupBy(col("qlabel").cast("string").as("grp"))
        .agg(count(lit(1)).as("n_queries"),
          sum("hits_at_10").as("total_hits"),
          sum("rr_x2520").as("sum_rr_x2520"))
      val allRow = perQuery.agg(count(lit(1)).as("n_queries"),
          sum("hits_at_10").as("total_hits"),
          sum("rr_x2520").as("sum_rr_x2520"))
        .select(lit("ALL").as("grp"), col("n_queries"), col("total_hits"),
          col("sum_rr_x2520"))
      byLabel.unionByName(allRow).orderBy("grp")
    },
    Some(s"""
      WITH n AS (SELECT vec_id, label, embedding,
                        ${sqlNorm("embedding")} AS nrm
                 FROM embeddings),
      sims AS (SELECT q.vec_id AS query_id, q.label AS qlabel,
                      c.vec_id AS vec_id, c.label AS label,
                      ${sqlDot("q.embedding", "c.embedding", "p")}
                        / (q.nrm * c.nrm) AS sim
               FROM n q JOIN n c ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
      ranked AS (SELECT query_id, qlabel, label,
                        row_number() OVER (PARTITION BY query_id
                          ORDER BY sim DESC, vec_id) AS rank
                 FROM sims),
      top AS (SELECT * FROM ranked WHERE rank <= 10),
      pq AS (SELECT query_id, qlabel,
                    sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END) AS hits_at_10,
                    min(CASE WHEN label = qlabel THEN rank END) AS frank
             FROM top GROUP BY query_id, qlabel),
      pq2 AS (SELECT query_id, qlabel, hits_at_10,
                     CASE WHEN frank IS NOT NULL THEN 2520 // frank
                          ELSE 0 END AS rr_x2520
              FROM pq)
      SELECT CAST(qlabel AS VARCHAR) AS grp, count(*) AS n_queries,
             CAST(sum(hits_at_10) AS BIGINT) AS total_hits,
             CAST(sum(rr_x2520) AS BIGINT) AS sum_rr_x2520
      FROM pq2 GROUP BY qlabel
      UNION ALL
      SELECT 'ALL', count(*), CAST(sum(hits_at_10) AS BIGINT),
             CAST(sum(rr_x2520) AS BIGINT) FROM pq2
      ORDER BY grp"""))

  /** Label-propagation community detection (Raghavan et al. 2007) over the
    * s15 mutual-kNN graph — the linear-time community algorithm every graph
    * stack ships, in its DETERMINISTIC synchronous form: init comm(v)=v;
    * each round every node adopts the most frequent community among its
    * neighbors (tie → smallest id), all nodes updating simultaneously;
    * fixed 3 rounds (sync LP can oscillate — production runs a round cap
    * exactly like this, or semi-async coloring; the cap IS the spec here,
    * and determinism is what makes the op hash-checkable). Each round is
    * one edge⋈label join + a vote aggregate + a per-node argmax window —
    * all partitioned by node id; at corpus scale rounds are the d6
    * pattern (checkpointed iterations over an edge list bounded by graph
    * density, never all-pairs). Nodes without mutual edges keep their
    * singleton community through the left join. Output is the community
    * roster rollup; d6 answers near-dup CONNECTIVITY, s27 answers
    * semantic NEIGHBORHOOD STRUCTURE — different equivalence. */
  val s27 = GraftQuery(
    "s27_label_propagation",
    "Synchronous 3-round label propagation over the mutual-kNN graph: deterministic communities",
    (s, dir) => {
      val emb = labeledNorms(s, dir)
      val directed = cellTop3(emb).select("id1", "id2")
      val mutual = directed.join(
          directed.select(col("id2").as("id1"), col("id1").as("id2")),
          Seq("id1", "id2"))
        .filter(col("id1") < col("id2"))
      // Pin the graph and each round's label frame (the d6/s22 loop
      // discipline the docstring already claims): without the pins the
      // expensive kNN-graph build is re-planned/re-executed under every
      // round's two references and labels-round-i re-evaluates once per
      // downstream consumer — the unrolled plan was 3,935 formatted lines
      // / 222 Exchange nodes; pinned it is one edges job plus three
      // bounded rounds. Both frames are vocabulary-sized (≤ 2·3 edges per
      // node, one row per node), so the pins are tiny at any scale.
      val edges = mutual.select(col("id1").as("src"), col("id2").as("dst"))
        .unionByName(mutual.select(col("id2").as("src"), col("id1").as("dst")))
        .persist()
      var labels = emb.select(col("vec_id").as("node"),
        col("vec_id").as("comm"))
      val wVote = Window.partitionBy("src").orderBy(desc("v"), col("nc"))
      for (_ <- 1 to 3) {
        val winners = edges
          .join(labels.select(col("node").as("dst"), col("comm").as("nc")),
            Seq("dst"))
          .groupBy("src", "nc").agg(count(lit(1)).as("v"))
          .withColumn("rk", row_number().over(wVote))
          .filter(col("rk") === 1)
          .select(col("src"), col("nc"))
        val prev = labels
        labels = labels
          .join(winners, labels("node") === winners("src"), "left")
          .select(col("node"), coalesce(col("nc"), col("comm")).as("comm"))
          .persist()
        // release round i−1 once round i is materialized (ADVICE r15, the
        // s19 discipline); the count is a node-count-sized job
        labels.count()
        prev.unpersist()
      }
      labels.groupBy("comm")
        .agg(count(lit(1)).as("n_members"),
          min("node").as("first_node"), max("node").as("last_node"))
        .orderBy("comm")
    },
    Some(s"""
      WITH n AS (SELECT vec_id, label, embedding,
                        ${sqlNorm("embedding")} AS nrm
                 FROM embeddings),
      p AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
                   ${sqlDot("a.embedding", "b.embedding", "q")}
                     / (a.nrm * b.nrm) AS sim
            FROM n a JOIN n b ON a.label = b.label AND a.vec_id <> b.vec_id),
      d AS (SELECT id1, id2 FROM (
              SELECT id1, id2,
                     row_number() OVER (PARTITION BY id1
                       ORDER BY sim DESC, id2) AS rank
              FROM p)
            WHERE rank <= 3),
      mutual AS (SELECT d.id1, d.id2
                 FROM d JOIN d r ON r.id1 = d.id2 AND r.id2 = d.id1
                 WHERE d.id1 < d.id2),
      edges AS (SELECT id1 AS src, id2 AS dst FROM mutual
                UNION ALL SELECT id2, id1 FROM mutual),
      lab0 AS (SELECT vec_id AS node, vec_id AS comm FROM embeddings),
      w1 AS (SELECT src, nc FROM (
               SELECT e.src, l.comm AS nc,
                      row_number() OVER (PARTITION BY e.src
                        ORDER BY count(*) DESC, l.comm) AS rk
               FROM edges e JOIN lab0 l ON e.dst = l.node
               GROUP BY e.src, l.comm) WHERE rk = 1),
      lab1 AS (SELECT l.node, coalesce(w.nc, l.comm) AS comm
               FROM lab0 l LEFT JOIN w1 w ON l.node = w.src),
      w2 AS (SELECT src, nc FROM (
               SELECT e.src, l.comm AS nc,
                      row_number() OVER (PARTITION BY e.src
                        ORDER BY count(*) DESC, l.comm) AS rk
               FROM edges e JOIN lab1 l ON e.dst = l.node
               GROUP BY e.src, l.comm) WHERE rk = 1),
      lab2 AS (SELECT l.node, coalesce(w.nc, l.comm) AS comm
               FROM lab1 l LEFT JOIN w2 w ON l.node = w.src),
      w3 AS (SELECT src, nc FROM (
               SELECT e.src, l.comm AS nc,
                      row_number() OVER (PARTITION BY e.src
                        ORDER BY count(*) DESC, l.comm) AS rk
               FROM edges e JOIN lab2 l ON e.dst = l.node
               GROUP BY e.src, l.comm) WHERE rk = 1),
      lab3 AS (SELECT l.node, coalesce(w.nc, l.comm) AS comm
               FROM lab2 l LEFT JOIN w3 w ON l.node = w.src)
      SELECT comm, count(*) AS n_members,
             min(node) AS first_node, max(node) AS last_node
      FROM lab3
      GROUP BY comm
      ORDER BY comm"""))

  /** Simplified SILHOUETTE — the clustering-quality score (Rousseeuw '87,
    * centroid variant) made hash-checkable: per vector, a = squared
    * distance to its OWN label centroid, b = min squared distance to any
    * OTHER centroid, s = (b−a)/max(a,b). Exactness without sqrt or float
    * sums: embeddings quantize to integer centi-units, a centroid is the
    * RATIONAL (Σx, n) — never divided — and cnt²·|x|² − 2·cnt·(x·Σc) +
    * |Σc|² compares squared distances in pure BIGINT (the rational's
    * denominator multiplied through); s lands in basis points via the
    * overflow-safe split division. Scale posture: centroids are a
    * labels×dims aggregate (one fact pass, tiny frame), per-vector
    * scoring is a broadcast of 10 centroid rows against the streaming
    * corpus — O(n·k), never pairwise. Per-label rollup: mean s, negative
    * count (the misclustered), n. */
  val s28 = GraftQuery(
    "s28_silhouette",
    "Simplified silhouette per label in exact integer bp: rational centroids, no sqrt, no float sums",
    (s, dir) => {
      // sxx is per-vector and scc per-centroid: computed ON those frames
      // (corpus + k rows) instead of inside the k-way broadcast crossJoin,
      // which recomputed both k× / n× per pair (guide §1.2 — the r15 slow
      // list charged s28 three 64-term interpreted aggregates per pair;
      // only the genuinely pairwise sxc remains there)
      val vecs = table(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          expr("transform(embedding, x -> CAST(round(x * 100) AS BIGINT))")
            .as("xi"))
        .withColumn("sxx", expr(
          "aggregate(transform(xi, x -> x * x), 0L, (a, x) -> a + x)"))
      val cents = vecs
        .select(col("label").as("clabel"), posexplode(col("xi")))
        .groupBy("clabel", "pos")
        .agg(sum("col").as("num"), count(lit(1)).as("cnt"))
        .groupBy("clabel", "cnt")
        .agg(expr(
          "transform(sort_array(collect_list(struct(pos, num))), p -> p.num)")
          .as("cnum"))
        .withColumn("scc", expr(
          "aggregate(transform(cnum, c -> c * c), 0L, (a, x) -> a + x)"))
      val scored = vecs.crossJoin(broadcast(cents))
        .withColumn("sxc", expr(
          """aggregate(zip_with(xi, cnum, (x, c) -> x * c),
             0L, (a, x) -> a + x)"""))
        .withColumn("d2", expr("cnt * cnt * sxx - 2 * cnt * sxc + scc"))
      val w = Window.partitionBy("vec_id")
      val sil = scored
        .withColumn("a", max(when(col("label") === col("clabel"),
          col("d2"))).over(w))
        .withColumn("b", min(when(col("label") =!= col("clabel"),
          col("d2"))).over(w))
        .filter(col("label") === col("clabel")) // one row per vector
        .withColumn("m", greatest(col("a"), col("b")))
        // sign-split: integer division of negatives diverges cross-engine
        // (Spark div truncates toward zero, DuckDB // floors) — divide
        // magnitudes only, re-apply the sign (the q130 discipline)
        .withColumn("s_bp", expr(
          """CASE WHEN m = 0 THEN 0L
             ELSE CASE WHEN b >= a THEN 1L ELSE -1L END *
                  ((abs(b - a) div m) * 10000
                   + ((abs(b - a) % m) * 10000) div m) END"""))
      sil.groupBy("label")
        .agg(count(lit(1)).as("n_vectors"),
          sum("s_bp").as("sum_s_bp"),
          sum(when(col("s_bp") < 0, 1L).otherwise(0L)).as("n_negative"))
        .withColumn("mean_s_bp", expr(
          """CASE WHEN sum_s_bp >= 0 THEN sum_s_bp div n_vectors
             ELSE -((-sum_s_bp) div n_vectors) END"""))
        .orderBy("label")
    },
    Some("""
      WITH vecs AS (
        SELECT vec_id, label,
               list_transform(embedding,
                 x -> CAST(round(x * 100) AS BIGINT)) AS xi
        FROM embeddings),
      dims AS (
        SELECT label AS clabel, i AS pos, CAST(sum(xi[i]) AS BIGINT) AS num,
               count(*) AS cnt
        FROM vecs, UNNEST(range(1, len(xi) + 1)) t(i)
        GROUP BY clabel, i),
      cents AS (
        SELECT clabel, CAST(any_value(cnt) AS BIGINT) AS cnt,
               list(num ORDER BY pos) AS cnum
        FROM dims GROUP BY clabel),
      scored AS (
        SELECT v.vec_id, v.label, c.clabel,
               c.cnt * c.cnt *
                 CAST(list_sum(list_transform(v.xi, x -> x * x)) AS BIGINT)
               - 2 * c.cnt *
                 CAST(list_sum(list_transform(range(1, len(v.xi) + 1),
                   i -> v.xi[i] * c.cnum[i])) AS BIGINT)
               + CAST(list_sum(list_transform(c.cnum, x -> x * x)) AS BIGINT)
                 AS d2
        FROM vecs v CROSS JOIN cents c),
      ab AS (
        SELECT vec_id, label,
               max(CASE WHEN label = clabel THEN d2 END) AS a,
               min(CASE WHEN label <> clabel THEN d2 END) AS b
        FROM scored GROUP BY vec_id, label),
      sil AS (
        SELECT label,
               CASE WHEN greatest(a, b) = 0 THEN 0
                    ELSE (CASE WHEN b >= a THEN 1 ELSE -1 END) *
                         ((abs(b - a) // greatest(a, b)) * 10000
                          + ((abs(b - a) % greatest(a, b)) * 10000)
                            // greatest(a, b)) END AS s_bp
        FROM ab)
      SELECT label, count(*) AS n_vectors,
             CAST(sum(s_bp) AS BIGINT) AS sum_s_bp,
             CAST(sum(CASE WHEN s_bp < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_negative,
             CAST(CASE WHEN sum(s_bp) >= 0 THEN sum(s_bp) // count(*)
                  ELSE -((-sum(s_bp)) // count(*)) END AS BIGINT)
               AS mean_s_bp
      FROM sil
      GROUP BY label
      ORDER BY label"""))

  /** VECTOR-STORE HYGIENE audit — the ingest gate every embedding index
    * needs before s5/s8/s22 ever see a vector: degenerate embeddings
    * (all-zero after quantization, ragged dimensions, collapsed norms)
    * poison centroids and silently zero out cosine scores. Per label:
    * vector count, zero-vector count, dimension min/max (raggedness
    * surfaces as min ≠ max), and the squared-norm profile in exact
    * centi² units — components quantize to integer centi (the s28
    * discipline) so Σx² is BIGINT and min/avg/max are reproducible
    * bit-for-bit cross-engine. Scale shape: one embeddings scan, all
    * per-vector math row-local HOFs, one |labels|-sized rollup — the
    * audit costs one pass regardless of corpus size. */
  val s29 = GraftQuery(
    "s29_vector_hygiene_audit",
    "Embedding ingest gate: zero vectors, ragged dims, centi-exact norm profile per label",
    (s, dir) => {
      table(s, dir, "embeddings")
        .withColumn("xi",
          expr("transform(embedding, x -> CAST(round(x * 100) AS BIGINT))"))
        .withColumn("sumsq",
          expr("aggregate(transform(xi, x -> x * x), 0L, (a, x) -> a + x)"))
        .withColumn("dim", size(col("embedding")).cast("long"))
        .groupBy(col("label").cast("long").as("label"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("sumsq") === 0, 1L).otherwise(0L)).as("n_zero"),
          min("dim").as("dim_min"), max("dim").as("dim_max"),
          min("sumsq").as("sumsq_min"),
          expr("sum(sumsq) div count(*)").as("sumsq_avg"),
          max("sumsq").as("sumsq_max"))
        .orderBy("label")
    },
    Some("""
      WITH q AS (
        SELECT CAST(label AS BIGINT) AS label,
               CAST(len(embedding) AS BIGINT) AS dim,
               list_sum(list_transform(embedding,
                 x -> CAST(round(x * 100) AS BIGINT)
                      * CAST(round(x * 100) AS BIGINT))) AS sumsq
        FROM embeddings)
      SELECT label, count(*) AS n_vecs,
             CAST(sum(CASE WHEN sumsq = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero,
             CAST(min(dim) AS BIGINT) AS dim_min,
             CAST(max(dim) AS BIGINT) AS dim_max,
             CAST(min(sumsq) AS BIGINT) AS sumsq_min,
             CAST(sum(sumsq) AS BIGINT) // count(*) AS sumsq_avg,
             CAST(max(sumsq) AS BIGINT) AS sumsq_max
      FROM q
      GROUP BY label
      ORDER BY label"""))

  /** CLASS-SEPARABILITY matrix — the embedding-eval report s28's
    * silhouette summarizes into one number, laid out in full: the
    * pairwise squared distance between every two LABEL CENTROIDS, in
    * exact integer micro-centi² — centroids stay RATIONAL (Σx, n),
    * never divided (the s28 rule), so d²(ci,cj) evaluates as
    * |nj·Σxi − ni·Σxj|² / (ni·nj)², the numerator a BIGINT dot fold
    * and the division one DECIMAL(38,0) integral op at the surface.
    * Close centroid pairs name the confusable classes (where s23's
    * label-error audit should look first). One embeddings scan to 10
    * centroid rows; the 45-pair matrix is model-state-sized. */
  val s30 = GraftQuery(
    "s30_class_separability",
    "Pairwise label-centroid squared distances in exact micro units (confusable classes)",
    (s, dir) => {
      val cent = table(s, dir, "embeddings")
        .withColumn("xi",
          expr("transform(embedding, x -> CAST(round(x * 100) AS BIGINT))"))
        .groupBy(col("label").cast("long").as("label"))
        .agg(count(lit(1)).as("n"),
          expr("""aggregate(collect_list(xi), CAST(NULL AS ARRAY<BIGINT>),
                    (acc, v) -> CASE WHEN acc IS NULL THEN v
                                     ELSE zip_with(acc, v, (a, b) -> a + b)
                                END)""").as("sx"))
        .localCheckpoint(true)
      cent.as("a").join(cent.as("b"), col("a.label") < col("b.label"))
        .select(col("a.label").as("l1"), col("b.label").as("l2"),
          col("a.n").as("n1"), col("b.n").as("n2"),
          expr("""aggregate(
                    zip_with(a.sx, b.sx, (x, y) -> b.n * x - a.n * y),
                    CAST(0 AS DECIMAL(38,0)),
                    (acc, d) -> acc + CAST(d AS DECIMAL(38,0))
                                      * CAST(d AS DECIMAL(38,0)))""")
            .as("num"))
        .withColumn("d2_micro", expr(
          """CAST((num * 1000000)
               div (CAST(n1 AS DECIMAL(38,0)) * n2
                    * CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT)"""))
        .select("l1", "l2", "n1", "n2", "d2_micro")
        .orderBy("l1", "l2")
    },
    Some("""
      WITH q AS (
        SELECT CAST(label AS BIGINT) AS label,
               list_transform(embedding,
                 x -> CAST(round(x * 100) AS BIGINT)) AS xi
        FROM embeddings),
      n AS (SELECT label, count(*) AS n FROM q GROUP BY label),
      comp AS (
        SELECT label, i, CAST(sum(xi[CAST(i AS INTEGER)]) AS BIGINT) AS sx
        FROM q, UNNEST(range(1, 65)) t(i)
        GROUP BY label, i),
      pairnum AS (
        SELECT a.label AS l1, b.label AS l2,
               sum(CAST(nb.n * a.sx - na.n * b.sx AS HUGEINT)
                   * CAST(nb.n * a.sx - na.n * b.sx AS HUGEINT)) AS num
        FROM comp a
        JOIN comp b ON a.i = b.i AND a.label < b.label
        JOIN n na ON na.label = a.label
        JOIN n nb ON nb.label = b.label
        GROUP BY 1, 2)
      SELECT p.l1, p.l2, na.n AS n1, nb.n AS n2,
             CAST((p.num * 1000000)
                  // (CAST(na.n AS HUGEINT) * nb.n * na.n * nb.n)
               AS BIGINT) AS d2_micro
      FROM pairnum p
      JOIN n na ON na.label = p.l1
      JOIN n nb ON nb.label = p.l2
      ORDER BY l1, l2"""))

  /** CASCADE BUDGET CURVE — the tuning table behind s12's fixed-budget
    * cascade: binary-code retrieval is retrieve-m-then-rerank, and the
    * ONLY knob is m (shortlist budget); this measures exact recall@10
    * against the full brute-force truth at m ∈ {8, 32, 128}, with the
    * scanned fraction beside it — the cost/recall frontier an engineer
    * reads to size the budget (s16 is the same curve for IVF's nprobe;
    * the two cover the index families the registry ships). Everything is
    * deterministic and integer: shortlists rank by (hamming, vec_id),
    * reranks by (sim, vec_id), recall is a set intersection — so the
    * whole EVAL is hash-checked cross-engine, unlike the rows-only
    * approx entries it audits. One hamming pass + one rerank per budget
    * over the 128-cap shortlist; truth is the s1 broadcast brute force
    * (the exact baseline the curve needs anyway). */
  val s31 = GraftQuery(
    "s31_cascade_budget_curve",
    "Binary-cascade recall@10 vs shortlist budget (8/32/128), exact truth, integer bp",
    (s, dir) => {
      val budgets = Seq(8, 32, 128)
      val emb = table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), l2Norm(col("embedding")).as("nrm"),
          expr("""aggregate(transform(sequence(1, 64),
                    j -> IF(CAST(element_at(embedding, j) AS DOUBLE) > 0D,
                            shiftleft(1L, j - 1), 0L)),
                  0L, (a, x) -> a + x)""").as("code"))
        .localCheckpoint(true)
      val q = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("code").as("qcode"),
          col("embedding").as("qe"), col("nrm").as("qn"))
      val nCorpus = emb.count()
      // one hamming pass, capped at the largest budget; sims only on it
      val short = broadcast(q.select(col("query_id"), col("qcode"))).crossJoin(
          emb.select(col("vec_id"), col("code")))
        .filter(col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id"),
          expr("bit_count(qcode ^ code)").as("hamming"))
        .withColumn("hrank", row_number().over(
          Window.partitionBy("query_id").orderBy(col("hamming"), col("vec_id"))))
        .filter(col("hrank") <= budgets.max)
        .join(emb.select(col("vec_id"), col("embedding"), col("nrm")), "vec_id")
        .join(broadcast(q.select(col("query_id"), col("qe"), col("qn"))), "query_id")
        .select(col("query_id"), col("vec_id"), col("hrank"),
          (dotProduct(col("qe"), col("embedding")) / (col("qn") * col("nrm")))
            .as("sim"))
      import s.implicits._
      val cascade = short
        .crossJoin(broadcast(budgets.map(_.toLong).toDF("budget_m")))
        .filter(col("hrank") <= col("budget_m"))
        .withColumn("rank", row_number().over(
          Window.partitionBy("budget_m", "query_id")
            .orderBy(desc("sim"), col("vec_id"))))
        .filter(col("rank") <= 10)
        .select(col("budget_m"), col("query_id"), col("vec_id"))
      // exact truth: brute-force top-10 per query (s1's shape, k=10)
      val truth = ranked(broadcast(q.select(col("query_id"), col("qe"), col("qn")))
        .crossJoin(emb.select(col("vec_id"), col("embedding"), col("nrm")))
        .filter(col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id"),
          (dotProduct(col("qe"), col("embedding")) / (col("qn") * col("nrm")))
            .as("sim")), 10)
        .select(col("query_id"), col("vec_id"))
      cascade.join(truth, Seq("query_id", "vec_id"))
        .groupBy("budget_m")
        .agg(count(lit(1)).as("total_hits"))
        .select(col("budget_m"), col("total_hits"),
          expr("total_hits * 10000 div 200").as("recall_bp"),
          expr(s"budget_m * 10000 div ${nCorpus}L").as("scanned_bp"))
        .orderBy("budget_m")
    },
    Some(s"""
      WITH c AS (
        SELECT vec_id, embedding,
               ${sqlNorm("embedding")} AS nrm,
               CAST(list_aggregate(list_transform(range(1, 65),
                 j -> CASE WHEN CAST(embedding[CAST(j AS INTEGER)] AS DOUBLE) <= 0
                           THEN 0
                           WHEN j = 64 THEN CAST(-9223372036854775808 AS BIGINT)
                           ELSE (CAST(1 AS BIGINT) << (j - 1)) END),
                 'sum') AS BIGINT) AS code
        FROM embeddings),
      n AS (SELECT count(*) AS n_corpus FROM c),
      ham AS (
        SELECT * FROM (
          SELECT q.vec_id AS query_id, t.vec_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY bit_count(xor(q.code, t.code)), t.vec_id) AS hrank,
                 ${sqlDot("q.embedding", "t.embedding", "p")}
                   / (q.nrm * t.nrm) AS sim
          FROM c q JOIN c t ON q.vec_id < 20 AND q.vec_id <> t.vec_id)
        WHERE hrank <= 128),
      cascade AS (
        SELECT budget_m, query_id, vec_id FROM (
          SELECT b.budget_m, h.query_id, h.vec_id,
                 row_number() OVER (PARTITION BY b.budget_m, h.query_id
                   ORDER BY h.sim DESC, h.vec_id) AS rank
          FROM ham h, (VALUES (8), (32), (128)) b(budget_m)
          WHERE h.hrank <= b.budget_m)
        WHERE rank <= 10),
      truth AS (
        SELECT query_id, vec_id FROM (
          SELECT q.vec_id AS query_id, t.vec_id,
                 row_number() OVER (PARTITION BY q.vec_id ORDER BY
                   ${sqlDot("q.embedding", "t.embedding", "p")}
                     / (q.nrm * t.nrm) DESC, t.vec_id) AS rank
          FROM c q JOIN c t ON q.vec_id < 20 AND q.vec_id <> t.vec_id)
        WHERE rank <= 10)
      SELECT CAST(budget_m AS BIGINT) AS budget_m,
             count(*) AS total_hits,
             CAST(count(*) * 10000 // 200 AS BIGINT) AS recall_bp,
             CAST(budget_m * 10000 // n.n_corpus AS BIGINT) AS scanned_bp
      FROM cascade JOIN truth USING (query_id, vec_id), n
      GROUP BY budget_m, n.n_corpus
      ORDER BY budget_m"""))

  /** EMBEDDING-MATRIX HEALTH AUDIT — the QA gate BEFORE any index in
    * this family is built: per-dimension moments over the whole matrix
    * catch dead dimensions (zero variance — wasted index bytes, broken
    * PQ codebooks), dominant dimensions (variance outliers that swamp
    * L2/cosine — the reason pipelines standardize before s5's k-means),
    * and mean offset (anisotropy — embeddings clustered in a cone make
    * cosine saturate). Fixed-point milli units (round(x·1000) as long)
    * keep every moment integer-exact and engine-portable: sums of
    * 60k·10⁶-scale squares stay far under long range, and no float
    * reduction-order can flip a verdict. One posexplode + one groupBy
    * on dimension — embarrassingly parallel, map-side combined; at
    * 100 TB this is a single pass that shuffles 64 rows per partition. */
  val s32 = GraftQuery(
    "s32_embedding_stats",
    "Per-dimension moment audit in exact milli units: dead/dominant/offset dimensions flagged",
    (s, dir) => {
      val dims = table(s, dir, "embeddings")
        .select(posexplode(col("embedding")).as(Seq("dim", "x")))
        .select((col("dim") + 1).cast("long").as("dim"),
          expr("CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)").as("xm"))
      val stats = dims.groupBy("dim")
        .agg(count(lit(1)).as("n"),
          sum("xm").as("sx"),
          sum(expr("xm * xm")).as("sxx"),
          min("xm").as("min_milli"),
          max("xm").as("max_milli"))
        .select(col("dim"), col("n"),
          // truncate-toward-zero on BOTH engines: Spark div truncates
          // natively; the oracle sign-splits so its division always
          // runs on non-negatives (the q130 discipline)
          expr("sx div n").as("mean_milli"),
          // population variance in milli² via the integer moment
          // identity; both numerators are non-negative so div == floor
          expr("(sxx - sx * sx div n) div n").as("var_milli2"),
          col("min_milli"), col("max_milli"))
      val meanVar = stats.agg(
        expr("sum(var_milli2) div count(1)").as("mean_var"))
      stats.crossJoin(broadcast(meanVar))
        .select(col("dim"), col("n"), col("mean_milli"), col("var_milli2"),
          col("min_milli"), col("max_milli"),
          when(col("var_milli2") === 0L, lit("dead"))
            .when(col("var_milli2") > col("mean_var") * 4, lit("dominant"))
            .when(abs(col("mean_milli")) * abs(col("mean_milli"))
              > col("var_milli2") * 4, lit("offset"))
            .otherwise(lit("healthy")).as("verdict"))
        .orderBy("dim")
    },
    Some("""
      WITH d AS (
        SELECT CAST(j AS BIGINT) AS dim,
               CAST(round(CAST(embedding[CAST(j AS INTEGER)] AS DOUBLE) * 1000)
                 AS BIGINT) AS xm
        FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(j)),
      stats AS (
        SELECT dim, count(*) AS n,
               CAST(sum(xm) AS BIGINT) AS sx,
               CAST(sum(xm * xm) AS BIGINT) AS sxx,
               min(xm) AS min_milli, max(xm) AS max_milli
        FROM d GROUP BY dim),
      m AS (
        SELECT dim, n,
               CASE WHEN sx >= 0 THEN sx // n
                    ELSE -((-sx) // n) END AS mean_milli,
               (sxx - sx * sx // n) // n AS var_milli2,
               min_milli, max_milli
        FROM stats),
      med AS (
        SELECT CAST(sum(var_milli2) // count(*) AS BIGINT) AS mean_var FROM m)
      SELECT dim, n, CAST(mean_milli AS BIGINT) AS mean_milli,
             CAST(var_milli2 AS BIGINT) AS var_milli2,
             min_milli, max_milli,
             CASE WHEN var_milli2 = 0 THEN 'dead'
                  WHEN var_milli2 > mean_var * 4 THEN 'dominant'
                  WHEN abs(mean_milli) * abs(mean_milli) > var_milli2 * 4
                    THEN 'offset'
                  ELSE 'healthy' END AS verdict
      FROM m, med
      ORDER BY dim"""))

  /** POST-FILTER STARVATION CURVE — the eval that motivates s14's
    * pre-filtered design: the naive way to answer "top-10 among label=L
    * vectors" is retrieve-then-filter (run the s12/s31 cascade, THEN
    * drop non-matching candidates), and it starves as the filter
    * sharpens — a 128-candidate shortlist at 25% selectivity leaves
    * ~32 survivors to pick 10 from, at 6% barely the 10 itself. Exact
    * recall@10 of post-filtered cascades against the FILTERED brute
    * force truth, per label (the embeddings table's labels give natural
    * selectivity tiers). Same deterministic machinery as s31 (hamming
    * rank → cosine rerank → set intersection, all integer at the end);
    * the per-label truth restricts the brute force BEFORE ranking —
    * the thing the post-filter path cannot do. */
  val s33 = GraftQuery(
    "s33_filtered_cascade_eval",
    "Retrieve-then-filter recall@10 per label vs filtered truth: the post-filter starvation table",
    (s, dir) => {
      val emb = table(s, dir, "embeddings")
        .select(col("vec_id"), col("label").cast("long").as("label"),
          col("embedding"), l2Norm(col("embedding")).as("nrm"),
          expr("""aggregate(transform(sequence(1, 64),
                    j -> IF(CAST(element_at(embedding, j) AS DOUBLE) > 0D,
                            shiftleft(1L, j - 1), 0L)),
                  0L, (a, x) -> a + x)""").as("code"))
        .localCheckpoint(true)
      val q = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("code").as("qcode"),
          col("embedding").as("qe"), col("nrm").as("qn"))
      // post-filter cascade: 128-candidate shortlist ranked BEFORE the
      // label is known, then filtered per target label
      val short = broadcast(q.select(col("query_id"), col("qcode"))).crossJoin(
          emb.select(col("vec_id"), col("label"), col("code")))
        .filter(col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id"), col("label"),
          expr("bit_count(qcode ^ code)").as("hamming"))
        .withColumn("hrank", row_number().over(
          Window.partitionBy("query_id").orderBy(col("hamming"), col("vec_id"))))
        .filter(col("hrank") <= 128)
        .join(emb.select(col("vec_id"), col("embedding"), col("nrm")), "vec_id")
        .join(broadcast(q.select(col("query_id"), col("qe"), col("qn"))), "query_id")
        .select(col("query_id"), col("vec_id"), col("label"),
          (dotProduct(col("qe"), col("embedding")) / (col("qn") * col("nrm")))
            .as("sim"))
      val cascade = short
        .withColumn("rank", row_number().over(
          Window.partitionBy("query_id", "label")
            .orderBy(desc("sim"), col("vec_id"))))
        .filter(col("rank") <= 10)
        .select(col("label"), col("query_id"), col("vec_id"))
      // filtered truth: brute force WITHIN each label
      val truth = broadcast(q.select(col("query_id"), col("qe"), col("qn")))
        .crossJoin(emb.select(col("vec_id"), col("label"),
          col("embedding"), col("nrm")))
        .filter(col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id"), col("label"),
          (dotProduct(col("qe"), col("embedding")) / (col("qn") * col("nrm")))
            .as("sim"))
        .withColumn("rank", row_number().over(
          Window.partitionBy("query_id", "label")
            .orderBy(desc("sim"), col("vec_id"))))
        .filter(col("rank") <= 10)
        .select(col("label"), col("query_id"), col("vec_id"))
      val nPerLabel = emb.groupBy("label").agg(count(lit(1)).as("n_label"))
      cascade.join(truth, Seq("label", "query_id", "vec_id"))
        .groupBy("label")
        .agg(count(lit(1)).as("total_hits"))
        .join(broadcast(nPerLabel), "label")
        .select(col("label"), col("n_label"), col("total_hits"),
          expr("total_hits * 10000 div 200").as("recall_bp"))
        .orderBy("label")
    },
    Some(s"""
      WITH c AS (
        SELECT vec_id, CAST(label AS BIGINT) AS label, embedding,
               ${sqlNorm("embedding")} AS nrm,
               CAST(list_aggregate(list_transform(range(1, 65),
                 j -> CASE WHEN CAST(embedding[CAST(j AS INTEGER)] AS DOUBLE) <= 0
                           THEN 0
                           WHEN j = 64 THEN CAST(-9223372036854775808 AS BIGINT)
                           ELSE (CAST(1 AS BIGINT) << (j - 1)) END),
                 'sum') AS BIGINT) AS code
        FROM embeddings),
      ham AS (
        SELECT * FROM (
          SELECT q.vec_id AS query_id, t.vec_id, t.label,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY bit_count(xor(q.code, t.code)), t.vec_id) AS hrank,
                 ${sqlDot("q.embedding", "t.embedding", "p")}
                   / (q.nrm * t.nrm) AS sim
          FROM c q JOIN c t ON q.vec_id < 20 AND q.vec_id <> t.vec_id)
        WHERE hrank <= 128),
      cascade AS (
        SELECT label, query_id, vec_id FROM (
          SELECT label, query_id, vec_id,
                 row_number() OVER (PARTITION BY query_id, label
                   ORDER BY sim DESC, vec_id) AS rank
          FROM ham)
        WHERE rank <= 10),
      truth AS (
        SELECT label, query_id, vec_id FROM (
          SELECT t.label, q.vec_id AS query_id, t.vec_id,
                 row_number() OVER (PARTITION BY q.vec_id, t.label ORDER BY
                   ${sqlDot("q.embedding", "t.embedding", "p")}
                     / (q.nrm * t.nrm) DESC, t.vec_id) AS rank
          FROM c q JOIN c t ON q.vec_id < 20 AND q.vec_id <> t.vec_id)
        WHERE rank <= 10),
      nl AS (SELECT label, count(*) AS n_label FROM c GROUP BY label)
      SELECT label, nl.n_label, count(*) AS total_hits,
             CAST(count(*) * 10000 // 200 AS BIGINT) AS recall_bp
      FROM cascade JOIN truth USING (label, query_id, vec_id)
      JOIN nl USING (label)
      GROUP BY label, nl.n_label
      ORDER BY label"""))

  /** KENDALL-TAU RANK STABILITY — the ORDER-sensitive quality metric the
    * overlap measures (s20's recall@10, s16's recall-vs-nprobe) cannot
    * see: two rankings can share all 20 items yet disagree on every
    * position, and a reranker/cache keyed on rank order cares. Per
    * query, the exact-fp32 top-20 is re-ranked by s18's int8 score and
    * τ = (C − D)/(k(k−1)/2) is computed from concordant/discordant pair
    * counts — ALL integer over rank positions (the float scores only
    * break ties through the deterministic vec_id ordering), ×10⁴ with
    * q130's sign-split since τ can be negative. Pair enumeration is a
    * per-query self-join of a 20-row frame (≤190 pairs per query —
    * bounded, never corpus-scale); the corpus itself streams once
    * through the broadcast-query scoring join, unshuffled. */
  val s34 = GraftQuery(
    "s34_rank_correlation",
    "Kendall tau (bp) of int8 vs exact ranking over each query's exact top-20, integer-exact",
    (s, dir) => {
      val emb = table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
        .withColumn("scale",
          expr("greatest(aggregate(e, CAST(0.0 AS DOUBLE), (m, x) -> greatest(m, abs(x))), CAST(1e-12 AS DOUBLE)) / 127.0"))
        // exact small integers in double (|c_i| ≤ 127, sums < 2^53): both
        // per-pair dots go through the codegen'd DotProduct instead of the
        // interpreted aggregate(zip_with(...)) lambdas (the s20 rewrite)
        .withColumn("c", expr("transform(e, x -> round(x / scale))"))
      val q = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("e").as("qe"),
          col("scale").as("qs"), col("c").as("qc"))
      val scored = broadcast(q).crossJoin(emb)
        .filter(col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id"),
          dotProduct(col("qe"), col("e")).as("exact_dot"),
          (dotProduct(col("qc"), col("c"))
            * col("qs") * col("scale")).as("int8_dot"))
      val we = Window.partitionBy("query_id").orderBy(desc("exact_dot"), col("vec_id"))
      val top = scored
        .withColumn("re", row_number().over(we).cast("long"))
        .filter(col("re") <= 20)
        .withColumn("ri", row_number().over(
          Window.partitionBy("query_id").orderBy(desc("int8_dot"), col("vec_id")))
          .cast("long"))
        .select("query_id", "re", "ri")
      val a = top.select(col("query_id"), col("re").as("re1"), col("ri").as("ri1"))
      val b = top.select(col("query_id").as("q2"), col("re").as("re2"),
        col("ri").as("ri2"))
      a.join(broadcast(b), col("query_id") === col("q2") && col("re1") < col("re2"))
        .groupBy("query_id")
        .agg(sum(when(col("ri1") < col("ri2"), 1L).otherwise(0L)).as("n_concordant"),
          sum(when(col("ri1") > col("ri2"), 1L).otherwise(0L)).as("n_discordant"))
        .withColumn("tau_bp",
          expr("CASE WHEN n_concordant >= n_discordant " +
            "THEN (n_concordant - n_discordant) * 10000 div 190 " +
            "ELSE -((n_discordant - n_concordant) * 10000 div 190) END"))
        .orderBy("query_id")
    },
    Some("""
      WITH emb AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
               greatest(list_aggregate(list_transform(embedding,
                 x -> abs(CAST(x AS DOUBLE))), 'max'), 1e-12) / 127.0 AS scale
        FROM embeddings),
      cc AS (SELECT vec_id, e, scale,
                    list_transform(e, x -> CAST(round(x / scale) AS BIGINT)) AS c
             FROM emb),
      scored AS (
        SELECT q.vec_id AS query_id, t.vec_id,
               list_aggregate(list_transform(list_zip(q.e, t.e),
                 z -> z[1] * z[2]), 'sum') AS exact_dot,
               CAST(list_aggregate(list_transform(list_zip(q.c, t.c),
                 z -> z[1] * z[2]), 'sum') AS BIGINT) * q.scale * t.scale
                 AS int8_dot
        FROM cc q JOIN cc t ON q.vec_id < 20 AND t.vec_id <> q.vec_id),
      top AS (
        SELECT query_id, re, CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY int8_dot DESC, vec_id) AS BIGINT) AS ri
        FROM (
          SELECT query_id, vec_id, int8_dot,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY exact_dot DESC, vec_id) AS BIGINT) AS re
          FROM scored)
        WHERE re <= 20),
      pairs AS (
        SELECT a.query_id,
               CAST(sum(CASE WHEN a.ri < b.ri THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_concordant,
               CAST(sum(CASE WHEN a.ri > b.ri THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_discordant
        FROM top a JOIN top b
          ON a.query_id = b.query_id AND a.re < b.re
        GROUP BY a.query_id)
      SELECT query_id, n_concordant, n_discordant,
             CAST(CASE WHEN n_concordant >= n_discordant
                  THEN (n_concordant - n_discordant) * 10000 // 190
                  ELSE -((n_discordant - n_concordant) * 10000 // 190)
                  END AS BIGINT) AS tau_bp
      FROM pairs
      ORDER BY query_id"""))

  /** EXACT GRAM/COVARIANCE MATRIX — the input every PCA / whitening /
    * anisotropy-correction step starts from (and what MLlib's
    * computeGramianMatrix computes): X'X over the embedding matrix, plus
    * the centered covariance numerators. s32 audits the DIAGONAL
    * (per-dimension moments); the off-diagonal is what reveals
    * correlated dimensions — redundant capacity a PQ codebook or a
    * Matryoshka truncation silently wastes. Dataflow is the map-side-
    * combine ideal: each row expands ROW-LOCALLY to its d(d+1)/2
    * upper-triangle products (a flatten/transform lambda — no self-join,
    * no vec_id shuffle), the groupBy reduces to d² model-sized state per
    * partition, and the dimension-sum table for centering is 64 rows
    * broadcast back twice. Fixed-point milli units keep every sum and
    * the covariance numerator n·Σxy − Σx·Σy integer-exact cross-engine
    * (magnitudes ≤ 4·10¹² at fixture scale, far under long range). At
    * 100 TB the shuffle traffic is d²/2 longs per partition — constant
    * in row count. */
  val s35 = GraftQuery(
    "s35_covariance_matrix",
    "Upper-triangle Gram + covariance numerators in exact milli units, per-partition outer-product accumulation",
    (s, dir) => {
      import s.implicits._
      val milli = table(s, dir, "embeddings").select(expr(
        "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))")
        .as("m")).as[Array[Long]]
      // The MLlib RowMatrix.computeGramianMatrix shape (r14 rewrite of
      // the explode form, which shuffled 2080 structs per ROW): each
      // partition accumulates the upper-triangle outer products and the
      // dimension sums into fixed-size arrays, so what crosses the wire
      // is ONE (n, gram[2080], sx[64]) summary per partition — at 100 TB
      // the Gram cost is the scan, not the exchange. This is the one
      // legitimate mapPartitions tier: a per-partition dense-matrix
      // accumulator no Column expression expresses without exploding.
      val parts = milli.mapPartitions { it =>
        var dim = -1
        var gram: Array[Long] = null
        var sx: Array[Long] = null
        var n = 0L
        it.foreach { m =>
          if (dim < 0) {
            dim = m.length
            gram = new Array[Long](dim * (dim + 1) / 2)
            sx = new Array[Long](dim)
          }
          var i = 0
          var k = 0
          while (i < dim) {
            sx(i) += m(i)
            var j = i
            while (j < dim) { gram(k) += m(i) * m(j); j += 1; k += 1 }
            i += 1
          }
          n += 1
        }
        if (n == 0) Iterator.empty else Iterator((n, gram, sx))
      }
      val (nTot, gram, sx) = parts.reduce { (a, b) =>
        val g = a._2.clone()
        var k = 0
        while (k < g.length) { g(k) += b._2(k); k += 1 }
        val x = a._3.clone()
        var d = 0
        while (d < x.length) { x(d) += b._3(d); d += 1 }
        (a._1 + b._1, g, x)
      }
      val dim = sx.length
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long, Long, Long)]
      var i = 0
      var k = 0
      while (i < dim) {
        var j = i
        while (j < dim) {
          val sxy = gram(k)
          out += ((i + 1L, j + 1L, nTot, sxy, nTot * sxy - sx(i) * sx(j)))
          j += 1
          k += 1
        }
        i += 1
      }
      out.toSeq.toDF("i", "j", "n", "sxy", "cov_num").orderBy("i", "j")
    },
    Some("""
      WITH m AS (
        SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
               CAST(round(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * 1000)
                 AS BIGINT)
               * CAST(round(CAST(embedding[CAST(j AS INTEGER)] AS DOUBLE) * 1000)
                 AS BIGINT) AS p
        FROM embeddings,
             UNNEST(range(1, len(embedding) + 1)) AS a(i),
             UNNEST(range(1, len(embedding) + 1)) AS b(j)
        WHERE j >= i),
      prods AS (
        SELECT i, j, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(p) AS BIGINT) AS sxy
        FROM m GROUP BY i, j),
      sums AS (
        SELECT CAST(d AS BIGINT) AS dim,
               CAST(sum(CAST(round(CAST(embedding[CAST(d AS INTEGER)] AS DOUBLE)
                 * 1000) AS BIGINT)) AS BIGINT) AS sx
        FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(d)
        GROUP BY d)
      SELECT p.i, p.j, p.n, p.sxy,
             CAST(p.n * p.sxy - si.sx * sj.sx AS BIGINT) AS cov_num
      FROM prods p
      JOIN sums si ON si.dim = p.i
      JOIN sums sj ON sj.dim = p.j
      ORDER BY p.i, p.j"""))

  /** Top-k eigenpairs of a symmetric matrix by cyclic Jacobi rotation —
    * the driver-side half of s37's PCA (64×64 = bounded model state, the
    * coarseCentroids discipline). Deterministic: fixed sweep order, fixed
    * sweep count, no pivot search randomness. Returns (eigenvalues desc,
    * eigenvectors as rows) for the FULL spectrum; callers slice. */
  private[graft] def jacobiEigen(a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val n = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    for (_ <- 1 to 12; p <- 0 until n - 1; q <- p + 1 until n) {
      if (math.abs(a(p)(q)) > 1e-12) {
        val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
        val t = math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
        val c = 1.0 / math.sqrt(t * t + 1.0)
        val s = t * c
        for (k <- 0 until n) {
          val akp = a(k)(p); val akq = a(k)(q)
          a(k)(p) = c * akp - s * akq
          a(k)(q) = s * akp + c * akq
        }
        for (k <- 0 until n) {
          val apk = a(p)(k); val aqk = a(q)(k)
          a(p)(k) = c * apk - s * aqk
          a(q)(k) = s * apk + c * aqk
        }
        for (k <- 0 until n) {
          val vkp = v(k)(p); val vkq = v(k)(q)
          v(k)(p) = c * vkp - s * vkq
          v(k)(q) = s * vkp + c * vkq
        }
      }
    }
    val order = (0 until n).sortBy(i => -a(i)(i))
    (order.map(i => a(i)(i)).toArray,
      order.map(i => (0 until n).map(k => v(k)(i)).toArray).toArray)
  }

  /** s37's eigendecomposition — model state memoized per (sf, JVM) like
    * centroids/codebooks, charged as the x_ann_pca_train bench line. */
  private[graft] def pcaModel(s: org.apache.spark.sql.SparkSession, dir: String)
      : (Array[Double], Array[Array[Double]]) =
    memoized("x_ann_pca_train", dir) {
      val n = 64
      val cov = Array.ofDim[Double](n, n)
      s35.build(s, dir).collect().foreach { r =>
        val (i, j) = (r.getLong(0).toInt - 1, r.getLong(1).toInt - 1)
        val num = r.getLong(4).toDouble
        cov(i)(j) = num; cov(j)(i) = num
      }
      jacobiEigen(cov)
    }

  /** PCA — the LEARNED dimensionality reduction the embedding family
    * lacked (Matryoshka s-entries truncate; PCA rotates first): exact
    * integer covariance numerators from s35's distributed pass (uniform
    * scaling preserves eigenvectors and variance RATIOS), eigen-
    * decomposed on the driver by deterministic cyclic Jacobi (64×64 —
    * bounded model state, the trained-index discipline), top-8
    * components broadcast back as literals, and the whole corpus
    * projected + reconstructed in one row-local pass. Eigenvectors are
    * engine-float-specific, so the entry folds THREE bounds the oracle
    * asserts as literal TRUE (the q62 pattern): var_captured_ok (top-8
    * eigenvalue mass ≥ 15% of trace), recon_ok (measured corpus-wide
    * reconstruction identity 1 − Σ‖x−x̂‖²/Σ‖x−x̄‖² ≥ the same floor),
    * and consistent_ok (the two agree within 1% absolute — the
    * projection really IS the eigendecomposition it claims). At 100 TB:
    * one covariance pass (row-local pair expansion + 2080-key groupBy),
    * one projection pass; the model never exceeds 64×64. */
  val s37 = GraftQuery(
    "s37_pca_projection",
    "PCA: distributed covariance -> driver Jacobi -> top-8 projection, bounds hash-gated",
    (s, dir) => {
      val K = 8
      val n = 64
      val (eig, vecs) = pcaModel(s, dir)
      val trace = eig.sum
      val topMass = eig.take(K).sum
      val varCapturedOk = topMass >= 0.15 * trace
      val mean = table(s, dir, "embeddings")
        .select(expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
        .agg(array((0 until n).map(i => avg(element_at(col("e"), i + 1))): _*).as("mu"))
      // the eigenvector matrix is a compile-time literal (driver Jacobi),
      // so the corpus projection pass unrolls into codegen: proj_k = K
      // DotProducts against literal arrays, recon_i = K literal
      // multiply-adds per dim, err/tot via L2DistanceSquared/DotProduct —
      // the former transform/aggregate/zip_with HOFs evaluated ~K·n
      // interpreted lambda calls per row. Accumulation order identical
      // (left-to-right, 0.0 + d₀ ≡ d₀), so `explained` is bit-identical.
      val stats = table(s, dir, "embeddings")
        .select(expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
        .crossJoin(broadcast(mean))
        .withColumn("c", zip_with(col("e"), col("mu"), (a, b) => a - b))
        .withColumn("proj", array(vecs.take(K).map(row =>
          dotProduct(col("c"), array(row.map(x => lit(x)): _*))): _*))
        .withColumn("recon", array((0 until n).map(i =>
          (0 until K).map(k =>
            element_at(col("proj"), k + 1) * lit(vecs(k)(i)))
            .reduceLeft(_ + _)): _*))
        .select(
          l2Sq(col("c"), col("recon")).as("err"),
          dotProduct(col("c"), col("c")).as("tot"))
        .agg(count(lit(1)).as("n_vectors"), sum("err").as("serr"), sum("tot").as("stot"))
        .select(col("n_vectors"),
          (lit(1.0) - col("serr") / col("stot")).as("explained"))
      stats.select(col("n_vectors"), lit(K.toLong).as("k"),
        lit(varCapturedOk).as("var_captured_ok"),
        (col("explained") >= 0.15).as("recon_ok"),
        (abs(col("explained") - lit(topMass / trace)) < 0.01).as("consistent_ok"))
    },
    Some("""
      SELECT CAST(count(*) AS BIGINT) AS n_vectors, CAST(8 AS BIGINT) AS k,
             TRUE AS var_captured_ok, TRUE AS recon_ok, TRUE AS consistent_ok
      FROM embeddings"""))

  /** EXACT TOP-K ANN THROUGH THE CUSTOM OPERATOR — the brute-force
    * scoring pass (s1's broadcast × corpus shape) with the top-k
    * SELECTION running through GroupedTopKExec (plans/GroupedTopK.scala)
    * instead of a window: the operator keeps one bounded k-heap per
    * query on the MAP side and prunes before any exchange, where the
    * row_number window must shuffle-sort every scored candidate first —
    * at corpus scale the difference is shuffling k rows per query versus
    * N. Semantically identical to the window form (the oracle IS the
    * window form in DuckDB), so the hash check proves the custom
    * physical operator's heap logic exactly; PlanSpec pins GroupedTopK
    * in the plan and the absence of a Window node. This is the
    * cross-component proof that the q114 operator generalizes beyond
    * its origin query — the vector hot path reuses it unchanged. */
  val s36 = GraftQuery(
    "s36_grouped_topk_ann",
    "Exact cosine top-4 per query via the GroupedTopK bounded-heap operator, no window sort",
    (s, dir) => {
      val emb = table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), l2Norm(col("embedding")).as("nrm"))
      val q = emb.filter(col("vec_id") % 100 === 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          col("nrm").as("qn"))
      val sim = broadcast(q).crossJoin(emb)
        .filter(col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id"),
          (dotProduct(col("qe"), col("embedding")) / (col("qn") * col("nrm")))
            .as("sim"))
      graft.plans.GroupedTopK.topKPerGroup(sim,
          Seq(col("query_id")), Seq(col("sim").desc, col("vec_id")), 4)
        .select(col("query_id"), col("vec_id"), round(col("sim"), 4).as("sim"))
        .orderBy(col("query_id"), desc("sim"), col("vec_id"))
    },
    Some(s"""
      WITH n AS (SELECT vec_id, embedding,
                        ${sqlNorm("embedding")} AS nrm
                 FROM embeddings),
      sims AS (SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                      ${sqlDot("q.embedding", "c.embedding", "p")}
                        / (q.nrm * c.nrm) AS sim
               FROM n q JOIN n c ON q.vec_id % 100 = 3 AND q.vec_id <> c.vec_id),
      ranked AS (SELECT query_id, vec_id, sim,
                        row_number() OVER (PARTITION BY query_id
                          ORDER BY sim DESC, vec_id) AS rank
                 FROM sims)
      SELECT query_id, vec_id, round(sim, 4) AS sim
      FROM ranked WHERE rank <= 4
      ORDER BY query_id, round(sim, 4) DESC, vec_id"""))

  val all: Seq[GraftQuery] = Seq(s1, s2, s3, s4, s5, s6, s7, s8, s9, s10, s11,
    s12, s13, s14, s15, s16, s17, s18, s19, s20, s21, s22, s23, s24, s25, s26,
    s27, s28, s29, s30, s31, s32, s33, s34, s35, s36, s37)
}
