package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{GQuery, Tables}
import graft.functions.GraftFunctions

/** Similarity-search operators over the `embeddings` table
  * (`vec_id, embedding ARRAY<FLOAT> (64-dim), label`): brute-force cosine
  * top-k (the exactness baseline), random-hyperplane LSH ANN (the scale
  * path), embedding-cosine near-dup pairs, and per-label centroids.
  *
  * Determinism: all math is double-precision with identical fold order on
  * both engines; cosine is rounded to 6 decimals BEFORE ranking, with
  * vec_id tie-breaks, so rank boundaries can't flip on 1e-15 noise. The 8
  * LSH hyperplanes are seeded Scala constants: the native bucket kernel
  * receives them as raw doubles, and the DuckDB oracle embeds their
  * Double.toString renderings as '...'::DOUBLE literals — a lossless
  * round-trip, so both engines dot against bit-identical planes.
  *
  * Scale notes (100 TB): brute-force kNN broadcasts the (tiny) query set
  * and scans the big table ONCE (BroadcastNestedLoopJoin) — no shuffle of
  * the corpus. The LSH variant computes each row's bucket as a pure map
  * expression, then equi-joins on bucket — candidate generation touches
  * only same-bucket rows, the standard recall/cost ANN tradeoff. Centroids
  * are partial-aggregated per partition before the single shuffle.
  */
object EmbeddingOps {

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "embeddings")

  /** 8 random hyperplanes in [-1,1]^64, fixed seed — 256 LSH buckets. */
  private val planes: Seq[Seq[Double]] = {
    val r = new scala.util.Random(42)
    Seq.fill(8)(Seq.fill(64)(r.nextDouble() * 2 - 1))
  }
  private def planeLitD(j: Int): String =
    planes(j).map(v => s"'$v'::DOUBLE").mkString("[", ", ", "]")
  // Sign-bit bucket id (0..255), Spark side: the fused native kernel
  // GraftFunctions.lshBucket(ed, planes) — 8 sequential dot products and
  // sign tests in one codegen call (the per-plane HOF formulation ran
  // interpreted).
  /** Same bucket id, DuckDB side. */
  private val bucketD: String = (0 until 8).map { j =>
    s"(CASE WHEN list_aggregate(list_transform(range(64), i -> ed[i + 1] * (${planeLitD(j)})[i + 1]), 'sum') > 0 THEN ${1 << j} ELSE 0 END)"
  }.mkString(" + ")

  /** Cast to double + L2 norm, shared by every query. */
  private[graft] def prepped(s: SparkSession, dir: String): DataFrame =
    emb(s, dir)
      .withColumn("ed", expr("transform(embedding, x -> cast(x as double))"))
      .withColumn("nrm", sqrt(GraftFunctions.vecDot(col("ed"), col("ed"))))

  private val duckPrep =
    """WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS ed FROM embeddings),
n AS (SELECT vec_id, label, ed, sqrt(list_aggregate(list_transform(ed, x -> x * x), 'sum')) AS nrm FROM e)"""

  /** Cosine via the native dot kernel — identical sequential fold to the
    * HOF pipeline it replaced (and to the DuckDB oracle), but codegen'd:
    * one static call instead of 64 interpreted boxed lambda steps. */
  private def cosCol =
    round(GraftFunctions.vecDot(col("qe"), col("ed")) / (col("qn") * col("nrm")), 6)

  // Brute-force cosine top-5 for queries vec_id < 10: the exact baseline.
  private val eKnnBrute = GQuery(
    "e_knn_brute",
    (s, dir) => {
      val base = prepped(s, dir)
      val q = base.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("ed").as("qe"), col("nrm").as("qn"))
      base.join(broadcast(q), col("vec_id") =!= col("qid"))
        .withColumn("cos_sim", cosCol)
        .select(col("qid"), col("vec_id"), col("cos_sim"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("vec_id"))))
        .filter(col("rnk") <= 5)
    },
    Some(s"""$duckPrep,
q AS (SELECT vec_id AS qid, ed AS qe, nrm AS qn FROM n WHERE vec_id < 10),
p AS (SELECT q.qid, n.vec_id,
        round(list_aggregate(list_transform(range(64), i -> q.qe[i + 1] * n.ed[i + 1]), 'sum') / (q.qn * n.nrm), 6) AS cos_sim
      FROM q, n WHERE n.vec_id <> q.qid)
SELECT qid, vec_id, cos_sim, rnk
FROM (SELECT qid, vec_id, cos_sim, row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rnk FROM p)
WHERE rnk <= 5"""),
    "Exact cosine top-5: broadcast queries, single corpus scan.")

  // Euclidean-metric variant of the brute-force baseline: same broadcast-
  // queries/single-scan plan, ranking by L2 distance (ascending). Rounded
  // before ranking with vec_id tie-break, like the cosine family; sqrt of
  // an identically-computed sum is bit-identical across engines.
  private val eKnnL2 = GQuery(
    "e_knn_l2",
    (s, dir) => {
      val base = prepped(s, dir)
      val q = base.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("ed").as("qe"))
      base.join(broadcast(q), col("vec_id") =!= col("qid"))
        .withColumn("l2_dist",
          round(sqrt(GraftFunctions.vecL2Sq(col("qe"), col("ed"))), 6))
        .select(col("qid"), col("vec_id"), col("l2_dist"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("qid").orderBy(col("l2_dist"), col("vec_id"))))
        .filter(col("rnk") <= 5)
    },
    Some(s"""$duckPrep,
q AS (SELECT vec_id AS qid, ed AS qe FROM n WHERE vec_id < 10),
p AS (SELECT q.qid, n.vec_id,
        round(sqrt(list_aggregate(list_transform(range(64), i -> (q.qe[i + 1] - n.ed[i + 1]) * (q.qe[i + 1] - n.ed[i + 1])), 'sum')), 6) AS l2_dist
      FROM q, n WHERE n.vec_id <> q.qid)
SELECT qid, vec_id, l2_dist, rnk
FROM (SELECT qid, vec_id, l2_dist, row_number() OVER (PARTITION BY qid ORDER BY l2_dist, vec_id) AS rnk FROM p)
WHERE rnk <= 5"""),
    "Exact Euclidean top-5: broadcast queries, single corpus scan.")

  // LSH-bucketed ANN top-3: candidates limited to the query's bucket.
  private val eKnnLsh = GQuery(
    "e_knn_lsh",
    (s, dir) => {
      val base = prepped(s, dir).withColumn("bkt", GraftFunctions.lshBucket(col("ed"), planes))
      val q = base.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("ed").as("qe"), col("nrm").as("qn"), col("bkt"))
      base.join(broadcast(q), Seq("bkt"))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("cos_sim", cosCol)
        .select(col("qid"), col("vec_id"), col("cos_sim"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("vec_id"))))
        .filter(col("rnk") <= 3)
    },
    Some(s"""$duckPrep,
b AS (SELECT vec_id, ed, nrm, $bucketD AS bkt FROM n),
q AS (SELECT vec_id AS qid, ed AS qe, nrm AS qn, bkt FROM b WHERE vec_id < 10),
p AS (SELECT q.qid, b.vec_id,
        round(list_aggregate(list_transform(range(64), i -> q.qe[i + 1] * b.ed[i + 1]), 'sum') / (q.qn * b.nrm), 6) AS cos_sim
      FROM q JOIN b ON q.bkt = b.bkt AND b.vec_id <> q.qid)
SELECT qid, vec_id, cos_sim, rnk
FROM (SELECT qid, vec_id, cos_sim, row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rnk FROM p)
WHERE rnk <= 3"""),
    "ANN top-3 via 8-hyperplane LSH buckets (256 buckets).")

  // Product-quantization ANN top-5 — the memory-bound scale path next
  // to IVF (compute-bound) and LSH (bucket-bound): each 64-dim vector
  // compresses to a packed 32-bit code (8 subspaces x 16 centroids, 4
  // bits each — 128x smaller than the raw doubles), and query-time
  // ranking works entirely on codes via asymmetric distance (ADC). The
  // codebook is training-free and deterministic: the subvectors of
  // vecs 10..25, same discipline as IVF's coarse centroids (a 16-row
  // bounded collect at plan time). Both kernels are native codegen
  // expressions; encode is a pure map in the scan. Determinism: the
  // per-subspace squared distance folds identically on both engines,
  // argmin ties break to the smallest centroid index, and ADC rounds
  // each subspace contribution to an exact 1e-6 integer BEFORE the
  // 8-term sum — rank order can never hinge on float-sum order. At
  // 100 TB the coded corpus (4 bytes/vector) fits where raw vectors
  // cannot, and production ADC would precompute the query's 8x16 table
  // per batch — the kernel fuses that lookup.
  private val eKnnPq = GQuery(
    "e_knn_pq",
    (s, dir) => {
      val base = prepped(s, dir)
      val cbRows = base.filter(col("vec_id").between(10, 25)).orderBy(col("vec_id"))
        .select(col("ed")).collect().map(_.getSeq[Double](0).toArray)
      // No codebook vectors (empty/tiny corpus) -> degrade to an empty
      // result instead of indexing into a missing centroid.
      if (cbRows.length < 16) {
        base.limit(0).selectExpr("vec_id AS qid", "vec_id",
          "cast(0.0 AS double) AS approx_d2", "cast(1 AS int) AS rnk")
      } else {
        val cb: Seq[Seq[Seq[Double]]] =
          Seq.tabulate(8)(j => Seq.tabulate(16)(c => cbRows(c).slice(8 * j, 8 * j + 8).toSeq))
        val coded = base.withColumn("codes", GraftFunctions.pqCodes(col("ed"), cb))
        val q = base.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("ed").as("qe"))
        coded.join(broadcast(q), col("vec_id") =!= col("qid"))
          .withColumn("ad", GraftFunctions.pqAdcScaled(col("qe"), col("codes"), cb))
          .withColumn("approx_d2", expr("round(cast(ad AS double) / 1000000.0, 6)"))
          .withColumn("rnk", row_number().over(
            Window.partitionBy("qid").orderBy(col("ad"), col("vec_id"))))
          .filter(col("rnk") <= 5)
          .select(col("qid"), col("vec_id"), col("approx_d2"), col("rnk"))
      }
    },
    Some(s"""$duckPrep,
cb AS (SELECT c.vec_id - 10 AS c, j, c.ed[8*j+1:8*j+8] AS cv
       FROM n c, range(8) t(j) WHERE c.vec_id BETWEEN 10 AND 25),
sub AS (SELECT vec_id, j, ed[8*j+1:8*j+8] AS sv FROM n, range(8) t(j)),
dist AS (SELECT s.vec_id, s.j, cb.c,
           list_aggregate(list_transform(range(8),
             i -> (s.sv[i+1] - cb.cv[i+1]) * (s.sv[i+1] - cb.cv[i+1])), 'sum') AS d
         FROM sub s JOIN cb ON s.j = cb.j),
code AS (SELECT vec_id, j, c FROM (
           SELECT vec_id, j, c,
                  row_number() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rn
           FROM dist) WHERE rn = 1),
q AS (SELECT vec_id AS qid, ed AS qe FROM n WHERE vec_id < 10),
qd AS (SELECT q.qid, co.vec_id,
         CAST(round(list_aggregate(list_transform(range(8),
             i -> (q.qe[8*co.j+i+1] - cb.cv[i+1]) * (q.qe[8*co.j+i+1] - cb.cv[i+1])), 'sum')
           * 1000000.0 + 1e-9) AS BIGINT) AS ds
       FROM code co JOIN cb ON co.j = cb.j AND co.c = cb.c, q
       WHERE co.vec_id <> q.qid),
adc AS (SELECT qid, vec_id, CAST(sum(ds) AS BIGINT) AS ad FROM qd GROUP BY 1, 2)
SELECT qid, vec_id, round(ad / 1000000.0, 6) AS approx_d2, rnk
FROM (SELECT qid, vec_id, ad,
             row_number() OVER (PARTITION BY qid ORDER BY ad, vec_id) AS rnk
      FROM adc) WHERE rnk <= 5"""),
    "PQ ANN top-5: packed 32-bit codes, integer-exact ADC ranking.")

  // Trained-PQ ANN top-5 (round 13) — the fix for what the recall
  // characterization measured: the training-free codebook (subvectors of
  // 16 arbitrary rows) is near-chance on this geometry, because ADC
  // distances only mean something when each subspace codebook actually
  // tiles its subspace's mass. This trains it: TWO unrolled Lloyd
  // iterations per subspace (assign every subvector to its nearest
  // centroid, re-center on the members' mean, empty cells keep their
  // previous centroid), then the identical codes + integer-exact ADC +
  // ranking as e_knn_pq — so the two queries differ in EXACTLY the
  // codebook, and their recall gap is the value of training. Cross-
  // engine determinism: every centroid mean rounds at 6dp with the
  // nudge BEFORE the next assignment (the e_centroids pin), every
  // assignment distance rounds at 6dp with a centroid-index tiebreak
  // (the e_assign pin), so both engines walk bit-identical trajectories.
  // Scale shape: each Lloyd step is one subspace-exploded corpus scan
  // against a broadcast 128-row codebook + one tiny (j, c, i) partial
  // agg — the standard k-means iteration plan (e_kmeans_step) applied
  // per subspace; the trained codebook is a bounded collect feeding the
  // same codegen kernels.
  /** The e_knn_pq_trained trajectory over ANY (vec_id, ed) frame: two
    * pinned Lloyd iterations per subspace seeded from rows 10..25, then
    * integer-exact ADC top-k. Shared by e_knn_pq_trained (raw frame) and
    * e_knn_opq (the OPQ-rotated frame) — the two queries differ in
    * EXACTLY the input geometry, so their recall gap prices the
    * rotation. */
  /** The two pinned Lloyd iterations over `base`'s `vecCol` 8x8
    * subvectors, driven by the codegen'd rounded-assignment kernel
    * ([[GraftFunctions.pqAssignRounded]]) instead of the historical
    * exploded-broadcast-join + window-sort formulation: per iteration
    * the corpus is read ONCE in a pure map (no 16x candidate explosion,
    * no (vec_id, j) exchange, no sort) feeding the tiny (j, c, i)
    * partial aggregation, and the <=1024-row mean table is folded into
    * the codebook on the driver (the same bounded-model collect the old
    * `cents.collect()` already did). Trajectory pins preserved exactly:
    * assignment argmin on the 6dp-ROUNDED subspace distance with
    * smallest-centroid-index tiebreak (the kernel's contract — verified
    * bit-for-bit against the window formulation in PqAssignKernelSpec),
    * means as `round(avg + 1e-9, 6)` over identical memberships, empty
    * cells keep their previous centroid. Seeds are rows
    * `seedLo..seedLo+15` in vec_id order; None when fewer than 16. */
  private def lloydTrainCb(base: DataFrame, vecCol: String,
      seedLo: Int): Option[Seq[Seq[Seq[Double]]]] = {
    val seed = base.filter(col("vec_id").between(seedLo, seedLo + 15))
      .orderBy(col("vec_id")).select(col(vecCol)).collect()
    if (seed.length < 16) None
    else {
      var cb: Seq[Seq[Seq[Double]]] = Seq.tabulate(8) { j =>
        Seq.tabulate(16) { c =>
          seed(c).getSeq[Double](0).slice(j * 8, j * 8 + 8).toSeq
        }
      }
      (1 to 2).foreach { _ =>
        val means = base
          .select(GraftFunctions.pqAssignRounded(col(vecCol), cb).as("codes"),
            col(vecCol).as("v"))
          .select(explode(expr(
            "transform(sequence(0, 7), j -> struct(cast(j AS int) AS j, " +
              "cast(shiftright(codes, cast(4*j AS int)) & 15 AS int) AS c, " +
              "slice(v, cast(j*8+1 AS int), 8) AS sv))")).as("s"))
          .select(col("s.j").as("j"), col("s.c").as("c"),
            posexplode(col("s.sv")).as(Seq("i", "x")))
          .groupBy(col("j"), col("c"), col("i"))
          .agg(round(avg(col("x")) + lit(1e-9), 6).as("v"))
          .collect()
        val upd = means.groupBy(r => (r.getInt(0), r.getInt(1)))
          .map { case (jc, rows) =>
            jc -> rows.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq
          }
        cb = Seq.tabulate(8) { j =>
          Seq.tabulate(16)(c => upd.getOrElse((j, c), cb(j)(c)))
        }
      }
      Some(cb)
    }
  }

  private def trainedPqTopK(s: SparkSession, base: DataFrame, k: Int): DataFrame =
    lloydTrainCb(base, "ed", 10) match {
      case None =>
        base.limit(0).selectExpr("vec_id AS qid", "vec_id",
          "cast(0.0 AS double) AS approx_d2", "cast(1 AS int) AS rnk")
      case Some(cb) =>
        val coded = base.withColumn("codes", GraftFunctions.pqCodes(col("ed"), cb))
        val q = base.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("ed").as("qe"))
        coded.join(broadcast(q), col("vec_id") =!= col("qid"))
          .withColumn("ad", GraftFunctions.pqAdcScaled(col("qe"), col("codes"), cb))
          .withColumn("approx_d2", expr("round(cast(ad AS double) / 1000000.0, 6)"))
          .withColumn("rnk", row_number().over(
            Window.partitionBy("qid").orderBy(col("ad"), col("vec_id"))))
          .filter(col("rnk") <= k)
          .select(col("qid"), col("vec_id"), col("approx_d2"), col("rnk"))
    }

  private val eKnnPqTrained = GQuery(
    "e_knn_pq_trained",
    (s, dir) => trainedPqTopK(s, prepped(s, dir).select(col("vec_id"), col("ed")), 5),
    Some(s"""$duckPrep,
c0 AS (SELECT CAST(cc.vec_id - 10 AS INT) AS c, j, cc.ed[8*j+1:8*j+8] AS cv
       FROM n cc, range(8) t(j) WHERE cc.vec_id BETWEEN 10 AND 25),
sub AS (SELECT vec_id, j, ed[8*j+1:8*j+8] AS sv FROM n, range(8) t(j)),
d1 AS (SELECT s.vec_id, s.j, c0.c,
         round(list_aggregate(list_transform(range(8),
           i -> (s.sv[i+1] - c0.cv[i+1]) * (s.sv[i+1] - c0.cv[i+1])), 'sum'), 6) AS d
       FROM sub s JOIN c0 ON s.j = c0.j),
a1 AS (SELECT vec_id, j, c FROM (
         SELECT vec_id, j, c, row_number() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rn
         FROM d1) WHERE rn = 1),
m1 AS (SELECT a.j, a.c, i, round(avg(s.sv[i+1]) + 1e-9, 6) AS v
       FROM a1 a JOIN sub s ON a.vec_id = s.vec_id AND a.j = s.j, range(8) t(i)
       GROUP BY 1, 2, 3),
c1 AS (SELECT c0.j, c0.c, coalesce(mv.cv, c0.cv) AS cv
       FROM c0 LEFT JOIN (SELECT j, c, list(v ORDER BY i) AS cv FROM m1 GROUP BY 1, 2) mv
         ON c0.j = mv.j AND c0.c = mv.c),
d2 AS (SELECT s.vec_id, s.j, c1.c,
         round(list_aggregate(list_transform(range(8),
           i -> (s.sv[i+1] - c1.cv[i+1]) * (s.sv[i+1] - c1.cv[i+1])), 'sum'), 6) AS d
       FROM sub s JOIN c1 ON s.j = c1.j),
a2 AS (SELECT vec_id, j, c FROM (
         SELECT vec_id, j, c, row_number() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rn
         FROM d2) WHERE rn = 1),
m2 AS (SELECT a.j, a.c, i, round(avg(s.sv[i+1]) + 1e-9, 6) AS v
       FROM a2 a JOIN sub s ON a.vec_id = s.vec_id AND a.j = s.j, range(8) t(i)
       GROUP BY 1, 2, 3),
c2 AS (SELECT c1.j, c1.c, coalesce(mv.cv, c1.cv) AS cv
       FROM c1 LEFT JOIN (SELECT j, c, list(v ORDER BY i) AS cv FROM m2 GROUP BY 1, 2) mv
         ON c1.j = mv.j AND c1.c = mv.c),
dist AS (SELECT s.vec_id, s.j, c2.c,
           round(list_aggregate(list_transform(range(8),
             i -> (s.sv[i+1] - c2.cv[i+1]) * (s.sv[i+1] - c2.cv[i+1])), 'sum'), 6) AS d
         FROM sub s JOIN c2 ON s.j = c2.j),
code AS (SELECT vec_id, j, c FROM (
           SELECT vec_id, j, c,
                  row_number() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rn
           FROM dist) WHERE rn = 1),
q AS (SELECT vec_id AS qid, ed AS qe FROM n WHERE vec_id < 10),
qd AS (SELECT q.qid, co.vec_id,
         CAST(round(list_aggregate(list_transform(range(8),
             i -> (q.qe[8*co.j+i+1] - c2.cv[i+1]) * (q.qe[8*co.j+i+1] - c2.cv[i+1])), 'sum')
           * 1000000.0 + 1e-9) AS BIGINT) AS ds
       FROM code co JOIN c2 ON c2.j = co.j AND c2.c = co.c, q
       WHERE co.vec_id <> q.qid),
adc AS (SELECT qid, vec_id, CAST(sum(ds) AS BIGINT) AS ad FROM qd GROUP BY 1, 2)
SELECT qid, vec_id, round(ad / 1000000.0, 6) AS approx_d2, rnk
FROM (SELECT qid, vec_id, ad,
             row_number() OVER (PARTITION BY qid ORDER BY ad, vec_id) AS rnk
      FROM adc) WHERE rnk <= 5"""),
    "Trained-PQ ANN top-5: two Lloyd iterations per subspace, then the e_knn_pq codes/ADC — the training-vs-sampling recall gap, measurable.")

  /** The OPQ rotation's Householder vector (round-16 verdict task 2):
    * the reflection H = I − 2uuᵀ that maps the corpus' dominant
    * principal component v onto the FIRST coordinate axis e₁ —
    * concentrating the top-variance direction into ONE dimension of ONE
    * PQ subspace, so a single codebook quantizes it (16 levels of an
    * essentially 1-D spread) instead of all 8 codebooks redundantly
    * encoding correlated shares of it. This is the INDEPENDENCE half of
    * OPQ's objective (Ge et al. 2013, "Optimized Product Quantization":
    * rotate to minimize distortion = balance variance AND decorrelate
    * subspaces); BASELINE.md "Round 16: OPQ rotation recall lane" shows
    * it is the half that matters for a single reflection — the variance-BALANCING
    * reflection (v → uniform) was measured first and LOWERED flat-PQ
    * recall on concentrated geometry (0.367 → 0.267 on the anisotropic
    * fixture), because smearing one direction across all subspaces
    * maximizes exactly the cross-subspace correlation a product
    * quantizer cannot encode (it pays to code the same coordinate 8
    * times). Machinery is the repo's pinned trajectory: v comes from
    * the ABTT power iteration (6dp), u rounds at 6dp (BigDecimal
    * HALF_UP — the SQL round), so both engines apply the bit-identical
    * reflection; a full OPQ alternates SVD with codebook training —
    * out of reach of an exact cross-engine replay. u = 0 (identity)
    * when v is already ±e₁... sign: power iteration's v may be the
    * negative of the principal direction (deterministic given data);
    * H maps whichever v emerged onto e₁ exactly, which is all the
    * decorrelation argument needs. u is 6dp-rounded so H is orthogonal
    * only to ~1e-6 — irrelevant for ranking (both engines share the
    * exact same H) and for recall (the distortion is 12 orders below
    * the signal). */
  private def opqHouseholder(v: Seq[Double]): Seq[Double] =
    opqHouseholderAt(v, 0)

  /** [[opqHouseholder]] generalized to ANY target axis e_t: the
    * reflection vector u = (v − e_t)/‖v − e_t‖ (6dp-pinned), so
    * H = I − 2uuᵀ maps v onto coordinate t exactly. The rank-3 chain
    * ([[opq3Rotated]]) targets t = 0, 8, 16 — the FIRST coordinate of
    * three DIFFERENT PQ subspaces — so each deflated principal
    * direction is owned by its own codebook (eigenvalue allocation by
    * reflection: published OPQ's balancing objective, achieved without
    * smearing any single direction across subspaces, the rejected
    * round-16 variant's failure mode). A zero coordinate in v at every
    * masked index makes u zero there too, so later reflections provably
    * fix the axes earlier ones established. */
  private def opqHouseholderAt(v: Seq[Double], t: Int): Seq[Double] = {
    val d = v.zipWithIndex.map { case (x, i) => if (i == t) x - 1.0 else x }
    val den = math.sqrt(d.map(x => x * x).sum)
    if (den < 1e-6) Seq.fill(64)(0.0)
    else d.map(x => BigDecimal(x / den + 1e-9)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  /** The OPQ-rotated frame (vec_id, ed): center on the corpus mean,
    * reflect with [[opqHouseholder]], 6dp-pin each coordinate. One pure
    * map over the calibration's pinned centered frame — no extra corpus
    * scan beyond the mean + two power iterations. */
  private def opqRotate(centered: DataFrame, u: Seq[Double]): DataFrame =
    centered
      .withColumn("du", GraftFunctions.vecDot(col("xc"), typedlit(u)))
      .select(col("vec_id"),
        expr("transform(xc, (x, i) -> round(x - 2 * du * element_at(uu, i + 1) + 1e-9, 6))")
          .as("ed"))

  /** The FROZEN OPQ rotation model a persisted index stores beside its
    * centroids/codebook ([[IvfPqIndex]]): the calibration mean and the
    * Householder vector — 128 doubles, the whole "vector transform"
    * FAISS chains ahead of IVFPQ ("OPQ64,IVF…,PQ8"). */
  private[graft] final case class OpqModel(mean: Seq[Double], u: Seq[Double])

  /** Apply a FROZEN rotation model to a frame's `ed` column in place
    * (nrm recomputed): ed := round((ed−m) − 2·⟨ed−m, u⟩·u + 1e-9, 6) —
    * the EXACT arithmetic of [[opqRotate]] over the centered frame, so
    * novel vectors (index ingest, handoff carry, query side) code
    * bit-identically to the build-time rotated corpus. Pure map; the
    * model rides into codegen as two 64-double literals. */
  private[graft] def opqApplyRotation(df: DataFrame,
      m: Seq[Double], u: Seq[Double]): DataFrame =
    df.withColumn("xc", zip_with(col("ed"), typedlit(m), (x, mm) => x - mm))
      .withColumn("du", GraftFunctions.vecDot(col("xc"), typedlit(u)))
      .withColumn("uu", typedlit(u))
      .withColumn("ed", expr(
        "transform(xc, (x, i) -> round(x - 2 * du * element_at(uu, i + 1) + 1e-9, 6))"))
      .withColumn("nrm", sqrt(GraftFunctions.vecDot(col("ed"), col("ed"))))
      .drop("xc", "du", "uu")

  /** Two pinned power iterations over a centered frame's `xc`, with the
    * coordinates in `mask` zeroed out of the ITERATION (deflation: the
    * returned direction lives in the complement of the already-targeted
    * axes, so its Householder vector is zero there and the composed
    * reflections commute with the earlier targets). Identical pins to
    * [[abttCalibrateFull]]'s loop — round(w/‖w‖ + 1e-9, 6), all-0.125
    * start; masked coordinates emerge as exactly 0.0 (w_i = 0 there, and
    * round(1e-9, 6) = 0). Each iteration is ONE scan of the (pinned)
    * frame with a 64-row collect. */
  private def opqPowerIterate(frame: DataFrame, mask: Seq[Int]): Seq[Double] = {
    val masked =
      if (mask.isEmpty) frame.withColumn("xm", col("xc"))
      else frame.withColumn("xm", expr(
        s"transform(xc, (x, i) -> CASE WHEN i IN (${mask.mkString(", ")}) THEN CAST(0.0 AS DOUBLE) ELSE x END)"))
    var v: Seq[Double] = Seq.fill(64)(0.125)
    (1 to 2).foreach { _ =>
      val w = masked
        .withColumn("d", GraftFunctions.vecDot(col("xm"), typedlit(v)))
        .select(col("d"), posexplode(col("xm")).as(Seq("i", "xi")))
        .groupBy(col("i")).agg(sum(col("d") * col("xi")).as("w"))
      val nrmW = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      v = w.withColumn("nrm", sqrt(sum(col("w") * col("w")).over(nrmW)))
        .select(col("i"), round(col("w") / col("nrm") + lit(1e-9), 6).as("vi"))
        .orderBy(col("i")).collect().map(_.getDouble(1)).toSeq
    }
    v
  }

  /** Reflect a centered frame's `xc` in place with Householder vector u
    * (6dp-pinned, the family's rotation arithmetic), every other column
    * carried through — the composable stage [[opq3Rotated]] and the
    * residual-rotation trainer chain. */
  private def opqRotateXc(frame: DataFrame, u: Seq[Double]): DataFrame =
    frame
      .withColumn("du", GraftFunctions.vecDot(col("xc"), typedlit(u)))
      .withColumn("uu", typedlit(u))
      .withColumn("xc", expr(
        "transform(xc, (x, i) -> round(x - 2 * du * element_at(uu, i + 1) + 1e-9, 6))"))
      .drop("du", "uu")

  /** RANK-3 deflated OPQ rotation (round-17 verdict task 2): compose
    * three Householder reflections, each trained by deflated power
    * iteration — stage 1 maps the dominant principal direction onto
    * coordinate 0 (subspace 0, exactly e_knn_opq's reflection), stage 2
    * iterates with coordinate 0 masked and maps the second direction
    * onto coordinate 8 (subspace 1), stage 3 masks {0, 8} and targets
    * coordinate 16 (subspace 2). The single-reflection form can only
    * concentrate ONE direction; when cluster identity spans a 2-3-dim
    * subspace (the multi-spanning fixture of BASELINE.md "Round 17: OPQ
    * beyond rank-1") the remaining identity directions stay smeared
    * across every codebook — this chain hands each of the top three to
    * its OWN subspace. Frames are
    * pinned between stages so each power iteration scans a
    * materialized input, not a growing expression tree. Cost: the
    * rank-1 calibration + 2 extra pinned-frame scans per added stage;
    * every model object is a bounded 64-row collect. */
  private[graft] def opq3Rotated(s: SparkSession, dir: String): Option[DataFrame] =
    calibMemo(s, dir, "opq3")(
      opq3RotatedUncached(s, dir))

  private def opq3RotatedUncached(s: SparkSession,
      dir: String): Option[DataFrame] =
    abttCalibrateFull(s, dir).map { case (model, centered) =>
      var frame = opqRotateXc(centered, opqHouseholderAt(model.component, 0))
        .transform(graft.Checkpoints.pin(_))
      frame = opqRotateXc(frame, opqHouseholderAt(opqPowerIterate(frame, Seq(0)), 8))
        .transform(graft.Checkpoints.pin(_))
      frame = opqRotateXc(frame, opqHouseholderAt(opqPowerIterate(frame, Seq(0, 8)), 16))
      frame.select(col("vec_id"), col("xc").as("ed"))
    }

  /** The OPQ-rotated trained-residual-IVF-PQ model: ABTT calibration →
    * Householder → [[ivfPqTrainPartsFrom]] on the rotated frame. The
    * rotation is an (approximate-to-6dp) isometry, so residual L2
    * geometry — and with it every downstream contract (ADC ranking,
    * drift-monitor residual norms) — carries over unchanged; what
    * changes is that ONE codebook owns the dominant direction instead
    * of all 8 redundantly encoding correlated shares of it (the
    * [[opqHouseholder]] decorrelation receipt). None when the corpus
    * is empty or lacks the model rows. */
  private[graft] def opqIvfPqTrainParts(s: SparkSession,
      dir: String): Option[(OpqModel, IvfPqParts)] =
    abttCalibrateFull(s, dir).flatMap { case (model, centered) =>
      val u = opqHouseholder(model.component)
      val rotated = opqRotate(centered.withColumn("uu", typedlit(u)), u)
        .withColumn("nrm", sqrt(GraftFunctions.vecDot(col("ed"), col("ed"))))
      ivfPqTrainPartsFrom(rotated).map(p => (OpqModel(model.mean, u), p))
    }

  /** The OPQ index's query-side probe frame: rotate the corpus' query
    * vectors (vec_id < 10) with the FROZEN model, then the standard
    * nprobe assignment — [[ivfPqQueryFrame]] one rotation earlier. */
  private[graft] def opqIvfPqQueryFrame(s: SparkSession, dir: String,
      om: OpqModel, cents: DataFrame, nprobe: Int): DataFrame =
    ivfAssign(
      opqApplyRotation(prepped(s, dir).filter(col("vec_id") < 10), om.mean, om.u),
      cents, maxRank = nprobe)
      .select(col("vec_id").as("qid"), col("cell"), col("rv").as("qr"))

  /** In-query OPQ-rotated trained-residual IVF-PQ — the re-training
    * sibling of the PERSISTED e_knn_opq_indexed, spec-pinned bit-equal
    * to it (IvfPqIndexSpec), exactly the e_knn_ivfpq_trained /
    * e_knn_ivfpq_indexed relationship one rotation earlier. */
  private[graft] def opqIvfPqTrainedResidual(s: SparkSession, dir: String,
      nprobe: Int, k: Int): DataFrame =
    opqIvfPqTrainParts(s, dir) match {
      case None => ivfPqEmpty(s, dir)
      case Some((om, p)) =>
        ivfPqProbeWith(opqIvfPqQueryFrame(s, dir, om, p.cents, nprobe),
          p.coded, p.cb, k)
    }

  // OPQ ANN top-5 (round 16) — rotation-then-PQ, the standard public
  // lever when ADC resolution (not coverage) binds recall: e_knn_pq
  // quantizes each 8-dim subspace INDEPENDENTLY, so a dominant
  // direction that spans subspaces is encoded redundantly by every
  // codebook it touches (perfectly correlated shares the quantizer
  // cannot exploit). The Householder reflection above concentrates that
  // direction into coordinate 0 before the exact e_knn_pq_trained
  // trajectory runs — same seeds, same two Lloyd steps, same integer
  // ADC, on the rotated frame. Distances live in the rotated space
  // (reflection ≈ isometry; centering is an exact L2 isometry), so
  // ranks are comparable to the sibling's and the recall delta isolates
  // the rotation's contribution. Scale shape: calibrate = mean + 2
  // power iterations (three corpus scans, 64-row collects); rotate = a
  // codegen'd map with the 64-double u as a literal; then the sibling's
  // cost.
  /** The OPQ rotation, DuckDB side: calibration mean, two power
    * iterations, Householder u, rotated frame — the CTE chain ending in
    * `$out AS (SELECT vec_id, … AS ed …)` over duckPrep's `n`. The ONE
    * source of the rotation SQL, shared by e_knn_opq and
    * e_knn_opq_indexed so the two oracles cannot drift. */
  private def duckOpqRotate(out: String): String =
    s"""mm AS (SELECT i, round(avg(ed[i + 1]) + 1e-9, 6) AS m FROM n, range(64) t(i) GROUP BY 1),
ml AS (SELECT list(m ORDER BY i) AS mv FROM mm),
cx AS (SELECT vec_id, list_transform(range(64), i -> ed[i + 1] - mv[i + 1]) AS xc FROM n, ml),
v0 AS (SELECT list_transform(range(64), i -> 0.125) AS v),
pd1 AS (SELECT vec_id, xc,
          list_aggregate(list_transform(range(64), i -> xc[i + 1] * v[i + 1]), 'sum') AS d
        FROM cx, v0),
pw1 AS (SELECT i, sum(d * xc[i + 1]) AS w FROM pd1, range(64) t(i) GROUP BY 1),
pv1 AS (SELECT list(round(w / nrm + 1e-9, 6) ORDER BY i) AS v
        FROM pw1, (SELECT sqrt(sum(w * w)) AS nrm FROM pw1)),
pd2 AS (SELECT vec_id, xc,
          list_aggregate(list_transform(range(64), i -> xc[i + 1] * v[i + 1]), 'sum') AS d
        FROM cx, pv1),
pw2 AS (SELECT i, sum(d * xc[i + 1]) AS w FROM pd2, range(64) t(i) GROUP BY 1),
pv2 AS (SELECT list(round(w / nrm + 1e-9, 6) ORDER BY i) AS v
        FROM pw2, (SELECT sqrt(sum(w * w)) AS nrm FROM pw2)),
uv AS (SELECT CASE WHEN den < 1e-6 THEN list_transform(range(64), i -> 0e0)
                   ELSE list_transform(range(64), i -> round(dv[i + 1] / den + 1e-9, 6)) END AS u
       FROM (SELECT dv, sqrt(list_aggregate(list_transform(range(64),
                i -> dv[i + 1] * dv[i + 1]), 'sum')) AS den
             FROM (SELECT list_transform(range(64),
                i -> v[i + 1] - (CASE WHEN i = 0 THEN 1e0 ELSE 0e0 END)) AS dv FROM pv2))),
$out AS (SELECT vec_id,
        list_transform(range(64), i -> round(xc[i + 1] - 2 * du * u[i + 1] + 1e-9, 6)) AS ed
      FROM (SELECT vec_id, xc, u,
              list_aggregate(list_transform(range(64), i -> u[i + 1] * xc[i + 1]), 'sum') AS du
            FROM cx, uv))"""

  /** The centering CTEs shared by the multi-stage rotation oracles:
    * per-dimension pinned mean over duckPrep's `n`, then the centered
    * frame `cx` (vec_id, xc) — textually the head of [[duckOpqRotate]],
    * extracted so the rank-3 chain can splice stages after it. */
  private val duckOpqCenter: String =
    """mm AS (SELECT i, round(avg(ed[i + 1]) + 1e-9, 6) AS m FROM n, range(64) t(i) GROUP BY 1),
ml AS (SELECT list(m ORDER BY i) AS mv FROM mm),
cx AS MATERIALIZED (SELECT vec_id, list_transform(range(64), i -> ed[i + 1] - mv[i + 1]) AS xc FROM n, ml)"""

  /** One deflated-reflection stage, DuckDB side — the oracle twin of
    * [[opqPowerIterate]] + [[opqHouseholderAt]] + [[opqRotateXc]]: mask
    * the already-targeted coordinates out of the iteration, two pinned
    * power iterations from the 0.125 start, Householder u against
    * e_`target`, reflect `in`'s xc into `out` (6dp per stage, exactly
    * where the Spark chain rounds). `ids` are the pass-through key
    * columns (vec_id, or vec_id + cell on the residual trainer);
    * `sfx` uniquifies the stage's internal CTE names. The Householder
    * CTE is exposed as uv`sfx` so a caller can re-apply the FROZEN u to
    * a second frame (the residual oracle's query side). */
  private def duckOpqStageXc(in: String, out: String, target: Int,
      mask: Seq[Int], sfx: String, ids: String = "vec_id"): String = {
    val xmExpr =
      if (mask.isEmpty) "xc"
      else s"list_transform(range(64), i -> CASE WHEN i IN (${mask.mkString(", ")}) THEN 0e0 ELSE xc[i + 1] END)"
    // MATERIALIZED on every multiply-referenced frame: DuckDB 1.0
    // inlines plain CTEs at each reference site, and a CHAIN of stages
    // (each referencing its input from two places, with the power
    // iterations referencing their own intermediates twice) would
    // otherwise re-evaluate the whole upstream pipeline exponentially —
    // the rank-3 oracle locked a core for minutes at sf0.001 before
    // this. Semantics are identical; only evaluation count changes.
    s"""xm$sfx AS MATERIALIZED (SELECT $ids, xc, $xmExpr AS xm FROM $in),
v0$sfx AS (SELECT list_transform(range(64), i -> 0.125) AS v),
pd1$sfx AS (SELECT $ids, xm,
          list_aggregate(list_transform(range(64), i -> xm[i + 1] * v[i + 1]), 'sum') AS d
        FROM xm$sfx, v0$sfx),
pw1$sfx AS MATERIALIZED (SELECT i, sum(d * xm[i + 1]) AS w FROM pd1$sfx, range(64) t(i) GROUP BY 1),
pv1$sfx AS (SELECT list(round(w / nrm + 1e-9, 6) ORDER BY i) AS v
        FROM pw1$sfx, (SELECT sqrt(sum(w * w)) AS nrm FROM pw1$sfx)),
pd2$sfx AS (SELECT $ids, xm,
          list_aggregate(list_transform(range(64), i -> xm[i + 1] * v[i + 1]), 'sum') AS d
        FROM xm$sfx, pv1$sfx),
pw2$sfx AS MATERIALIZED (SELECT i, sum(d * xm[i + 1]) AS w FROM pd2$sfx, range(64) t(i) GROUP BY 1),
pv2$sfx AS (SELECT list(round(w / nrm + 1e-9, 6) ORDER BY i) AS v
        FROM pw2$sfx, (SELECT sqrt(sum(w * w)) AS nrm FROM pw2$sfx)),
uv$sfx AS MATERIALIZED (SELECT CASE WHEN den < 1e-6 THEN list_transform(range(64), i -> 0e0)
                   ELSE list_transform(range(64), i -> round(dv[i + 1] / den + 1e-9, 6)) END AS u
       FROM (SELECT dv, sqrt(list_aggregate(list_transform(range(64),
                i -> dv[i + 1] * dv[i + 1]), 'sum')) AS den
             FROM (SELECT list_transform(range(64),
                i -> v[i + 1] - (CASE WHEN i = $target THEN 1e0 ELSE 0e0 END)) AS dv FROM pv2$sfx))),
$out AS MATERIALIZED (SELECT $ids,
        list_transform(range(64), i -> round(xc[i + 1] - 2 * du * u[i + 1] + 1e-9, 6)) AS xc
      FROM (SELECT $ids, xc, u,
              list_aggregate(list_transform(range(64), i -> u[i + 1] * xc[i + 1]), 'sum') AS du
            FROM $in, uv$sfx))"""
  }

  /** The e_knn_pq_trained oracle BODY over any (vec_id, ed) source CTE
    * `src` — seeds 10..25, two Lloyd steps, integer ADC, top-`k`. One
    * string shared by e_knn_opq (rank-1 rotated frame) and e_knn_opq3
    * (rank-3 chain), so the flat-PQ trajectory the rotation oracles
    * replay cannot drift between them. */
  private def duckFlatTrainedPq(src: String, k: Int): String =
    s"""c0 AS (SELECT CAST(cc.vec_id - 10 AS INT) AS c, j, cc.ed[8*j+1:8*j+8] AS cv
       FROM $src cc, range(8) t(j) WHERE cc.vec_id BETWEEN 10 AND 25),
sub AS (SELECT vec_id, j, ed[8*j+1:8*j+8] AS sv FROM $src, range(8) t(j)),
d1 AS (SELECT s.vec_id, s.j, c0.c,
         round(list_aggregate(list_transform(range(8),
           i -> (s.sv[i+1] - c0.cv[i+1]) * (s.sv[i+1] - c0.cv[i+1])), 'sum'), 6) AS d
       FROM sub s JOIN c0 ON s.j = c0.j),
a1 AS (SELECT vec_id, j, c FROM (
         SELECT vec_id, j, c, row_number() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rn
         FROM d1) WHERE rn = 1),
m1 AS (SELECT a.j, a.c, i, round(avg(s.sv[i+1]) + 1e-9, 6) AS v
       FROM a1 a JOIN sub s ON a.vec_id = s.vec_id AND a.j = s.j, range(8) t(i)
       GROUP BY 1, 2, 3),
c1 AS (SELECT c0.j, c0.c, coalesce(mv.cv, c0.cv) AS cv
       FROM c0 LEFT JOIN (SELECT j, c, list(v ORDER BY i) AS cv FROM m1 GROUP BY 1, 2) mv
         ON c0.j = mv.j AND c0.c = mv.c),
d2 AS (SELECT s.vec_id, s.j, c1.c,
         round(list_aggregate(list_transform(range(8),
           i -> (s.sv[i+1] - c1.cv[i+1]) * (s.sv[i+1] - c1.cv[i+1])), 'sum'), 6) AS d
       FROM sub s JOIN c1 ON s.j = c1.j),
a2 AS (SELECT vec_id, j, c FROM (
         SELECT vec_id, j, c, row_number() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rn
         FROM d2) WHERE rn = 1),
m2 AS (SELECT a.j, a.c, i, round(avg(s.sv[i+1]) + 1e-9, 6) AS v
       FROM a2 a JOIN sub s ON a.vec_id = s.vec_id AND a.j = s.j, range(8) t(i)
       GROUP BY 1, 2, 3),
c2 AS (SELECT c1.j, c1.c, coalesce(mv.cv, c1.cv) AS cv
       FROM c1 LEFT JOIN (SELECT j, c, list(v ORDER BY i) AS cv FROM m2 GROUP BY 1, 2) mv
         ON c1.j = mv.j AND c1.c = mv.c),
dist AS (SELECT s.vec_id, s.j, c2.c,
           round(list_aggregate(list_transform(range(8),
             i -> (s.sv[i+1] - c2.cv[i+1]) * (s.sv[i+1] - c2.cv[i+1])), 'sum'), 6) AS d
         FROM sub s JOIN c2 ON s.j = c2.j),
code AS (SELECT vec_id, j, c FROM (
           SELECT vec_id, j, c,
                  row_number() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rn
           FROM dist) WHERE rn = 1),
q AS (SELECT vec_id AS qid, ed AS qe FROM $src WHERE vec_id < 10),
qd AS (SELECT q.qid, co.vec_id,
         CAST(round(list_aggregate(list_transform(range(8),
             i -> (q.qe[8*co.j+i+1] - c2.cv[i+1]) * (q.qe[8*co.j+i+1] - c2.cv[i+1])), 'sum')
           * 1000000.0 + 1e-9) AS BIGINT) AS ds
       FROM code co JOIN c2 ON c2.j = co.j AND c2.c = co.c, q
       WHERE co.vec_id <> q.qid),
adc AS (SELECT qid, vec_id, CAST(sum(ds) AS BIGINT) AS ad FROM qd GROUP BY 1, 2)
SELECT qid, vec_id, round(ad / 1000000.0, 6) AS approx_d2, rnk
FROM (SELECT qid, vec_id, ad,
             row_number() OVER (PARTITION BY qid ORDER BY ad, vec_id) AS rnk
      FROM adc) WHERE rnk <= $k"""

  // Spectrum-decay diagnostic (round 17) — the DECISION INPUT for the
  // round's pinned rotation-rank lesson: rank-3 OPQ doubled recall on
  // the organic corpus (slow spectral decay — three comparable
  // directions worth three subspaces) and COST recall on every
  // single-dominant-direction synthetic (fast decay — reflections 2-3
  // moved noise onto coordinates 8/16). This query measures the decay
  // so an operator can choose the rank BEFORE training an index, the
  // way e_ivf_balance reads cell skew before choosing to recluster.
  // Machinery is the e_knn_opq3 chain itself: after the three deflated
  // reflections, the top-3 eigenvalue estimates are simply the
  // VARIANCES OF COORDINATES 0/8/16 of the rotated frame (each
  // reflection parks its deflated principal direction on its target
  // axis; the chain is an isometry so total variance is preserved).
  // One extra 64-row aggregation over the chain's final frame — no scan
  // beyond what e_knn_opq3 already pays. rec_rank operationalizes the
  // lesson: count directions with lambda >= 0.3 x lambda_1 (the lanes'
  // empirical threshold: organic lambda2/lambda1 cleared it, spanning
  // did not).
  private val eSpectrumDecay = GQuery(
    "e_spectrum_decay",
    (s, dir) => opq3Rotated(s, dir) match {
      case None =>
        prepped(s, dir).limit(0).selectExpr("cast(1 AS int) AS rnk",
          "cast(0.0 AS double) AS lambda", "cast(0.0 AS double) AS frac",
          "cast(1 AS int) AS rec_rank")
      case Some(rotated) =>
        val coordVar = rotated
          .select(posexplode(col("ed")).as(Seq("i", "x")))
          .groupBy(col("i"))
          .agg(round(avg(col("x") * col("x")) - avg(col("x")) * avg(col("x"))
            + lit(1e-9), 6).as("v"))
        val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        val rankOf = when(col("i") === 0, 1)
          .when(col("i") === 8, 2).otherwise(3)
        coordVar
          .withColumn("total", sum(col("v")).over(w))
          .withColumn("l1", max(when(col("i") === 0, col("v"))).over(w))
          .withColumn("rec_rank", sum(when(col("i").isin(8, 16) &&
            col("v") >= col("l1") * 0.3, 1).otherwise(0)).over(w).cast("int") + 1)
          .filter(col("i").isin(0, 8, 16))
          .select(rankOf.as("rnk"), col("v").as("lambda"),
            round(col("v") / col("total") + lit(1e-9), 6).as("frac"),
            col("rec_rank"))
    },
    Some(s"""$duckPrep,
$duckOpqCenter,
${duckOpqStageXc("cx", "s1", 0, Nil, "a")},
${duckOpqStageXc("s1", "s2", 8, Seq(0), "b")},
${duckOpqStageXc("s2", "s3", 16, Seq(0, 8), "c")},
cv AS MATERIALIZED (SELECT i, round(avg(xc[i + 1] * xc[i + 1]) - avg(xc[i + 1]) * avg(xc[i + 1]) + 1e-9, 6) AS v
      FROM s3, range(64) t(i) GROUP BY 1),
tot AS (SELECT sum(v) AS total, max(CASE WHEN i = 0 THEN v END) AS l1 FROM cv),
rr AS (SELECT CAST(1 + sum(CASE WHEN cv.i IN (8, 16) AND cv.v >= tot.l1 * 0.3
                           THEN 1 ELSE 0 END) AS INT) AS rec_rank
       FROM cv, tot)
SELECT CASE WHEN i = 0 THEN 1 WHEN i = 8 THEN 2 ELSE 3 END AS rnk,
       v AS lambda, round(v / total + 1e-9, 6) AS frac, rec_rank
FROM cv, tot, rr WHERE i IN (0, 8, 16)"""),
    "Embedding spectrum decay: top-3 eigenvalue estimates via the deflated-reflection chain (variance of the rotated frame's target coordinates), with the recommended OPQ rotation rank (count of directions above 0.3 x lambda_1).")

  private val eKnnOpq = GQuery(
    "e_knn_opq",
    (s, dir) => abttCalibrateFull(s, dir) match {
      case None =>
        prepped(s, dir).limit(0).selectExpr("vec_id AS qid", "vec_id",
          "cast(0.0 AS double) AS approx_d2", "cast(1 AS int) AS rnk")
      case Some((model, centered)) =>
        val u = opqHouseholder(model.component)
        val rotated = opqRotate(
          centered.withColumn("uu", typedlit(u)), u)
        trainedPqTopK(s, rotated, 5)
    },
    Some(s"""$duckPrep,
${duckOpqRotate("r")},
${duckFlatTrainedPq("r", 5)}"""),
    "OPQ ANN top-5: Householder rotation concentrating the dominant component into one axis (the decorrelating OPQ move), then the trained-PQ trajectory on the rotated frame.")

  /** Rank-3 OPQ ANN — the deflated-reflection chain ahead of the same
    * trained-PQ trajectory; see [[opq3Rotated]]. */
  private val eKnnOpq3 = GQuery(
    "e_knn_opq3",
    (s, dir) => opq3Rotated(s, dir) match {
      case None =>
        prepped(s, dir).limit(0).selectExpr("vec_id AS qid", "vec_id",
          "cast(0.0 AS double) AS approx_d2", "cast(1 AS int) AS rnk")
      case Some(rotated) => trainedPqTopK(s, rotated, 5)
    },
    Some(s"""$duckPrep,
$duckOpqCenter,
${duckOpqStageXc("cx", "s1", 0, Nil, "a")},
${duckOpqStageXc("s1", "s2", 8, Seq(0), "b")},
${duckOpqStageXc("s2", "s3", 16, Seq(0, 8), "c")},
r AS MATERIALIZED (SELECT vec_id, xc AS ed FROM s3),
${duckFlatTrainedPq("r", 5)}"""),
    "Rank-3 deflated OPQ ANN top-5: three composed Householder reflections allocate the top three principal directions to three different PQ subspaces (coordinates 0/8/16), then the trained-PQ trajectory on the rotated frame.")


  /** One eval-set embedding for the semantic-decontamination model —
    * id + double vector + norm, frozen at calibrate time. */
  private[graft] final case class EvalVec(id: Long, ed: Seq[Double], nrm: Double)

  /** CALIBRATE half of semantic decontamination: the eval/benchmark
    * embeddings (the corpus' query rows, vec_id < 10 — the family's
    * standing eval-set convention), collected as a bounded ≤10-row
    * model. Real eval benchmarks are thousands of rows — still a
    * broadcast-sized model next to a 100 TB corpus, the same size
    * argument as d_decontaminate's eval-gram literal. */
  private[graft] def embedEvalModel(s: SparkSession, dir: String): Seq[EvalVec] =
    prepped(s, dir).filter(col("vec_id") < 10)
      .select(col("vec_id"), col("ed"), col("nrm")).collect()
      .map(r => EvalVec(r.getLong(0), r.getSeq[Double](1).toSeq, r.getDouble(2)))
      .sortBy(_.id).toSeq

  /** APPLY half, shared verbatim by the batch query and the streaming
    * dual ([[graft.streaming.StreamingPipelines.embedDecontaminate]]):
    * score a frame's `ed`/`nrm` against every frozen eval vector (one
    * codegen'd dot product per eval row, the model riding as literals),
    * take the max, resolve argmax ties to the SMALLEST eval id (the
    * first-match `when` chain below is in ascending-id order — exactly
    * the oracle's `ORDER BY cos DESC, eval_id` row_number). Pure
    * stateless map: no shuffle, no state, no join — which is what makes
    * the ingest-side dual legal in a streaming plan. */
  private[graft] def embedDecontaminateApply(df: DataFrame,
      eval: Seq[EvalVec], tau: Double = 0.4): DataFrame = {
    val cosCols = eval.map(ev =>
      round(GraftFunctions.vecDot(col("ed"), typedlit(ev.ed)) /
        (col("nrm") * lit(ev.nrm)), 6))
    val top = if (cosCols.length == 1) cosCols.head else greatest(cosCols: _*)
    val argmax = eval.zip(cosCols).foldRight(lit(-1L): Column) {
      case ((ev, c), acc) => when(c === col("top_cos"), lit(ev.id)).otherwise(acc)
    }
    df.withColumn("top_cos", top)
      .withColumn("top_eval", argmax)
      .withColumn("quarantined", col("top_cos") >= tau)
  }

  // Semantic EVAL decontamination (round 17) — the embedding-space
  // counterpart of the 13-gram d_decontaminate: a corpus document whose
  // embedding is too close to an eval/benchmark item leaks the
  // benchmark into training even when no 13-gram matches (paraphrase,
  // translation, re-formatting — exactly what lexical decontamination
  // misses and published contamination studies flag). Report form: one
  // row per corpus document with its nearest eval item and cosine, plus
  // the quarantine flag at the family's 0.4 threshold — consumers drop
  // or review the flagged tail. 100 TB shape: the eval model is a
  // bounded broadcast-sized literal (never corpus-sized); the corpus
  // pays ONE equi-join documents⋈embeddings on the shared id (both
  // sides co-scale, shuffle-hash/SMJ territory — never broadcast) and a
  // pure scoring map; no window, no all-pairs anything.
  private val dEmbedDecontaminate = GQuery(
    "d_embed_decontaminate",
    (s, dir) => {
      val eval = embedEvalModel(s, dir)
      if (eval.isEmpty)
        graft.Tables.t(s, dir, "documents").limit(0).selectExpr("doc_id",
          "source", "cast(-1 AS bigint) AS top_eval",
          "cast(0.0 AS double) AS top_cos",
          "cast(false AS boolean) AS quarantined")
      else {
        val corpus = graft.Tables.t(s, dir, "documents")
          .select(col("doc_id"), col("source"))
          .join(prepped(s, dir).filter(col("vec_id") >= 10)
            .select(col("vec_id"), col("ed"), col("nrm")),
            col("doc_id") === col("vec_id"))
        embedDecontaminateApply(corpus, eval)
          .select(col("doc_id"), col("source"), col("top_eval"),
            col("top_cos"), col("quarantined"))
      }
    },
    Some(s"""$duckPrep,
ev AS (SELECT vec_id AS eval_id, ed AS qe, nrm AS qn FROM n WHERE vec_id < 10),
cp AS (SELECT d.doc_id, d.source, n.ed, n.nrm
       FROM documents d JOIN n ON d.doc_id = n.vec_id AND n.vec_id >= 10),
sc AS (SELECT doc_id, source, eval_id,
         round(list_aggregate(list_transform(range(64), i -> ed[i+1] * qe[i+1]), 'sum') / (nrm * qn), 6) AS cos_sim
       FROM cp, ev)
SELECT doc_id, source, eval_id AS top_eval, cos_sim AS top_cos,
       cos_sim >= 0.4 AS quarantined
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY cos_sim DESC, eval_id) AS rn
      FROM sc) WHERE rn = 1"""),
    "Semantic eval decontamination: each corpus document's nearest eval/benchmark embedding and cosine (broadcast eval model, one scoring map), quarantine flag at cos >= 0.4 — catches the paraphrase-level leakage 13-gram decontamination misses.")

  /** Cosine near-dup pairs (cos >= 0.4) within LSH buckets — the pair
    * stage shared by `e_neardup_cosine` (listing) and
    * `e_semantic_dedup` (cluster representatives). */
  private def neardupPairs(s: SparkSession, dir: String): DataFrame = {
    val base = prepped(s, dir).withColumn("bkt", GraftFunctions.lshBucket(col("ed"), planes))
    val a = base.select(col("vec_id").as("vec_a"), col("ed").as("qe"), col("nrm").as("qn"), col("bkt"))
    val b = base.select(col("vec_id").as("vec_b"), col("ed"), col("nrm"), col("bkt"))
    a.join(b, Seq("bkt"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos_sim", cosCol)
      .filter(col("cos_sim") >= 0.4)
      .select(col("vec_a"), col("vec_b"), col("cos_sim"))
  }

  /** Same pair stage, DuckDB side (CTEs `b`, `p`; threshold applied by
    * the consumer). */
  private val neardupPairsDuck: String =
    s"""b AS (SELECT vec_id, ed, nrm, $bucketD AS bkt FROM n),
p AS (SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
        round(list_aggregate(list_transform(range(64), i -> x.ed[i + 1] * y.ed[i + 1]), 'sum') / (x.nrm * y.nrm), 6) AS cos_sim
      FROM b x JOIN b y ON x.bkt = y.bkt AND x.vec_id < y.vec_id)"""

  // Embedding-cosine near-dup pairs inside LSH buckets, threshold 0.4.
  private val eNeardup = GQuery(
    "e_neardup_cosine",
    (s, dir) => neardupPairs(s, dir),
    Some(s"""$duckPrep,
$neardupPairsDuck
SELECT vec_a, vec_b, cos_sim FROM p WHERE cos_sim >= 0.4"""),
    "Embedding near-dup pairs (cos >= 0.4) within LSH buckets.")

  // Semantic dedup: the actionable stage on top of the pair listing —
  // connected components over the cosine near-dup graph (the shared
  // min-label propagation from TextOps), keep each cluster's min-id
  // representative. A vector not in any pair is its own representative,
  // so the survivor set is universe MINUS component losers (the same
  // anti-join shape as d_curate_corpus's near-dup stage). Scale: the
  // component loop runs on the PAIR list (orders of magnitude smaller
  // than the corpus), losers broadcast into the anti-join.
  private val eSemanticDedup = GQuery(
    "e_semantic_dedup",
    (s, dir) => {
      val losers = TextOps.minLabelComponents(
          neardupPairs(s, dir).select(col("vec_a").as("src"), col("vec_b").as("dst")))
        .filter(col("comp") =!= col("doc_id"))
        .select(col("doc_id").as("vec_id"))
      prepped(s, dir).select(col("vec_id"))
        .join(broadcast(losers), Seq("vec_id"), "left_anti")
    },
    Some(s"""WITH RECURSIVE ${duckPrep.stripPrefix("WITH ")},
$neardupPairsDuck,
g AS (SELECT vec_a AS src, vec_b AS dst FROM p WHERE cos_sim >= 0.4
      UNION SELECT vec_b, vec_a FROM p WHERE cos_sim >= 0.4),
r(src, dst) AS (SELECT src, dst FROM g
                UNION SELECT r.src, g.dst FROM r JOIN g ON r.dst = g.src),
losers AS (SELECT src FROM r GROUP BY src HAVING least(src, min(dst)) <> src)
SELECT vec_id FROM n WHERE vec_id NOT IN (SELECT src FROM losers)"""),
    "Semantic dedup survivors: min-id representative per cosine near-dup cluster.")

  // IVF-style ANN top-3: 16 fixed coarse centroids (vec_id 10..25 — a
  // training-free deterministic codebook), every vector assigned to its
  // nearest centroid cell, queries probe ONLY their own cell (nprobe=1).
  // At 100 TB: centroid set broadcasts, assignment is one scan + map-side
  // partial agg, candidate generation touches 1/16th of the corpus per
  // query — the standard IVF recall/cost tradeoff next to e_knn_lsh's
  // hyperplane variant.
  /** Append the top-1 coarse cell to every row of `base` via the
    * codegen'd rounded-cosine argmax kernel
    * ([[GraftFunctions.coarseAssignTop1]]) over the family's fixed
    * centroid model (rows 10..25, a bounded collect) — the round-19
    * replacement for the historical 16x broadcast-join explosion +
    * (vec_id) window sort in every IVF diagnostic's corpus-side top-1
    * (guide §2.4: the (vec_id) exchange + sort of the 16x frame
    * disappears; the trajectory — 6dp-rounded cosine, smallest-cid
    * tiebreak — is the kernel's pinned contract, PqAssignKernelSpec).
    * Query-side nprobe > 1 rankings keep their window: they run on
    * query-count rows. An empty model yields the empty frame, exactly
    * the old join-with-empty-broadcast behavior. */
  /** The family's fixed coarse model (rows 10..25) as collected
    * (cid, ce, cn) triples, in ascending-cid order — one bounded
    * pushed-filter collect shared by the corpus-side kernel and the
    * query-side literal probe frame. */
  private def coarseModelRows(base: DataFrame): Array[(Long, Seq[Double], Double)] =
    base.filter(col("vec_id").between(10, 25)).orderBy(col("vec_id"))
      .select(col("vec_id"), col("ed"), col("nrm")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq, r.getDouble(2)))

  private def coarseCellsTop1From(base: DataFrame,
      rows: Array[(Long, Seq[Double], Double)]): DataFrame =
    if (rows.isEmpty) base.limit(0).withColumn("cell", lit(null).cast("long"))
    else {
      val cids: Seq[Long] = rows.map(_._1).toSeq
      val ces: Seq[Seq[Double]] = rows.map(_._2).toSeq
      val cns: Seq[Double] = rows.map(_._3).toSeq
      base.withColumn("__p",
          GraftFunctions.coarseAssignTop1(col("ed"), col("nrm"), ces, cns))
        .withColumn("cell", element_at(typedlit(cids), col("__p") + 1))
        .drop("__p")
    }

  private def coarseCellsTop1(base: DataFrame): DataFrame =
    coarseCellsTop1From(base, coarseModelRows(base))

  /** Query-side nprobe ranking over the COLLECTED model as a plan-time
    * literal: explode the (cid, ce, cn) struct array against the <= 10
    * query rows, rank by the 6dp-rounded cosine with the cid tiebreak —
    * identical per-row ranking to the historical
    * `base.join(broadcast(cents))` window (the window partitions by
    * vec_id, so restricting its input to the query rows changes no
    * rank), without re-scanning the corpus for the centroid frame or
    * paying a broadcast-exchange job for it. */
  private def queryProbeRanked(base: DataFrame,
      rows: Array[(Long, Seq[Double], Double)], nprobe: Int): DataFrame = {
    val assignW = Window.partitionBy("vec_id").orderBy(col("c_cos").desc, col("cid"))
    base.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("ed"), col("nrm"),
        explode(typedlit(rows.toSeq)).as("c"))
      .select(col("vec_id"), col("ed"), col("nrm"),
        col("c._1").as("cid"), col("c._2").as("ce"), col("c._3").as("cn"))
      .withColumn("c_cos",
        round(GraftFunctions.vecDot(col("ce"), col("ed")) / (col("cn") * col("nrm")), 6))
      .withColumn("arn", row_number().over(assignW))
      .filter(col("arn") <= nprobe)
  }

  private val eKnnIvf = GQuery(
    "e_knn_ivf",
    (s, dir) => {
      val base = prepped(s, dir)
      val assigned = coarseCellsTop1(base)
        .select(col("vec_id"), col("ed"), col("nrm"), col("cell"))
      val q = assigned.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("ed").as("qe"), col("nrm").as("qn"), col("cell"))
      val rankW = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("vec_id"))
      assigned.join(broadcast(q), Seq("cell"))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("cos_sim", cosCol)
        .select(col("qid"), col("vec_id"), col("cos_sim"))
        .withColumn("rnk", row_number().over(rankW))
        .filter(col("rnk") <= 3)
    },
    Some(s"""$duckPrep,
c AS (SELECT vec_id AS cid, ed AS ce, nrm AS cn FROM n WHERE vec_id BETWEEN 10 AND 25),
asg AS (
  SELECT vec_id, ed, nrm, cid AS cell FROM (
    SELECT n.vec_id, n.ed, n.nrm, c.cid,
           row_number() OVER (PARTITION BY n.vec_id ORDER BY
             round(list_aggregate(list_transform(range(64), i -> c.ce[i + 1] * n.ed[i + 1]), 'sum') / (c.cn * n.nrm), 6) DESC, c.cid) AS arn
    FROM n, c)
  WHERE arn = 1),
q AS (SELECT vec_id AS qid, ed AS qe, nrm AS qn, cell FROM asg WHERE vec_id < 10),
p AS (SELECT q.qid, a.vec_id,
        round(list_aggregate(list_transform(range(64), i -> q.qe[i + 1] * a.ed[i + 1]), 'sum') / (q.qn * a.nrm), 6) AS cos_sim
      FROM q JOIN asg a ON q.cell = a.cell AND a.vec_id <> q.qid)
SELECT qid, vec_id, cos_sim, rnk
FROM (SELECT qid, vec_id, cos_sim, row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rnk FROM p)
WHERE rnk <= 3"""),
    "IVF ANN: fixed coarse codebook, nprobe=1 cell probe, top-3.")

  // Multi-probe IVF (nprobe=2): identical index, queries probe their TWO
  // nearest cells — the standard recall/cost knob (nprobe=1 misses
  // neighbors that fall just across a Voronoi boundary; probing the
  // runner-up cell recovers most of them for 2x the candidate volume,
  // still 1/8th of the corpus here). Same plan as e_knn_ivf: centroid
  // model broadcasts, corpus assigned in one scan, candidates from an
  // equi-join on cell — a candidate lives in ONE cell and the two probed
  // cells are distinct, so no pair dedup is needed.
  private val eKnnIvfMp = GQuery(
    "e_knn_ivf_mp",
    (s, dir) => {
      val base = prepped(s, dir)
      // ONE bounded model collect: corpus-side top-1 via the kernel,
      // query-side nprobe=2 ranking over the model as a literal
      val model = coarseModelRows(base)
      val assigned = coarseCellsTop1From(base, model)
        .select(col("vec_id"), col("ed"), col("nrm"), col("cell"))
      val q = queryProbeRanked(base, model, nprobe = 2)
        .select(col("vec_id").as("qid"), col("ed").as("qe"),
          col("nrm").as("qn"), col("cid").as("cell"))
      val rankW = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("vec_id"))
      assigned.join(broadcast(q), Seq("cell"))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("cos_sim", cosCol)
        .select(col("qid"), col("vec_id"), col("cos_sim"))
        .withColumn("rnk", row_number().over(rankW))
        .filter(col("rnk") <= 3)
    },
    Some(s"""$duckPrep,
c AS (SELECT vec_id AS cid, ed AS ce, nrm AS cn FROM n WHERE vec_id BETWEEN 10 AND 25),
r AS (
  SELECT n.vec_id, n.ed, n.nrm, c.cid,
         row_number() OVER (PARTITION BY n.vec_id ORDER BY
           round(list_aggregate(list_transform(range(64), i -> c.ce[i + 1] * n.ed[i + 1]), 'sum') / (c.cn * n.nrm), 6) DESC, c.cid) AS arn
  FROM n, c),
asg AS (SELECT vec_id, ed, nrm, cid AS cell FROM r WHERE arn = 1),
q AS (SELECT vec_id AS qid, ed AS qe, nrm AS qn, cid AS cell FROM r WHERE vec_id < 10 AND arn <= 2),
p AS (SELECT q.qid, a.vec_id,
        round(list_aggregate(list_transform(range(64), i -> q.qe[i + 1] * a.ed[i + 1]), 'sum') / (q.qn * a.nrm), 6) AS cos_sim
      FROM q JOIN asg a ON q.cell = a.cell AND a.vec_id <> q.qid)
SELECT qid, vec_id, cos_sim, rnk
FROM (SELECT qid, vec_id, cos_sim, row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rnk FROM p)
WHERE rnk <= 3"""),
    "Multi-probe IVF ANN: nprobe=2 cells per query, the recall/cost knob beside e_knn_ivf.")

  // IVF cell-balance diagnostic (round 16) — FAISS's imbalance_factor
  // for the family's shared coarse quantizer: per-cell assignment
  // counts plus imb = nlist * sum(sz^2) / n^2 (1.0 = perfectly
  // balanced; k = everything in one of k cells). The number every IVF
  // deployment watches before trusting nprobe math: probe cost is
  // E[probed rows] = nprobe * n * imb / nlist, so a skewed index
  // silently multiplies every query's scan by imb — this is the
  // operator that decides "recluster / retrain nlist" BEFORE latency
  // regressions do. Same assignment trajectory as e_knn_ivf (centroids
  // = vec 10..25, cosine, 6dp pin, cid tiebreak) so the diagnostic can
  // never drift from the index it grades; nlist is the fixed 16 of the
  // family. Scale shape: centroid broadcast, ONE corpus scan + map-side
  // partial agg into a 16-row frame; both window sums run over those 16
  // rows, never the corpus.
  private val eIvfBalance = GQuery(
    "e_ivf_balance",
    (s, dir) => {
      val base = prepped(s, dir)
      val sizes = coarseCellsTop1(base)
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("sz"))
      val w = Window.partitionBy()
      // sumsq in DECIMAL(38,0): a LongType sz*sz wraps (or throws under
      // ANSI) past ~3e9 rows in one cell — the multi-billion-vector
      // scale this diagnostic is FOR. The oracle's HUGEINT product sums
      // exactly too; both engines then pay one double division each on
      // the same exact integers, so the 6dp round cannot straddle.
      sizes
        .withColumn("n_total", sum(col("sz")).over(w))
        .withColumn("sumsq", sum(col("sz").cast("decimal(19,0)")
          * col("sz").cast("decimal(19,0)")).over(w))
        .select(col("cell"), col("sz"),
          round(col("sz") / col("n_total").cast("double") + lit(1e-9), 6).as("share"),
          round(lit(16.0) * col("sumsq").cast("double")
            / (col("n_total").cast("double") * col("n_total").cast("double"))
            + lit(1e-9), 6).as("imb"))
    },
    Some(s"""$duckPrep,
c AS (SELECT vec_id AS cid, ed AS ce, nrm AS cn FROM n WHERE vec_id BETWEEN 10 AND 25),
asg AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT n.vec_id, c.cid,
           row_number() OVER (PARTITION BY n.vec_id ORDER BY
             round(list_aggregate(list_transform(range(64), i -> c.ce[i + 1] * n.ed[i + 1]), 'sum') / (c.cn * n.nrm), 6) DESC, c.cid) AS arn
    FROM n, c)
  WHERE arn = 1),
sz AS (SELECT cell, CAST(count(*) AS BIGINT) AS sz FROM asg GROUP BY 1)
SELECT cell, sz,
       round(sz / ((sum(sz) OVER ())::DOUBLE) + 1e-9, 6) AS share,
       round(16.0 * ((sum(sz::HUGEINT * sz) OVER ())::DOUBLE)
         / (((sum(sz) OVER ())::DOUBLE) * ((sum(sz) OVER ())::DOUBLE))
         + 1e-9, 6) AS imb
FROM sz"""),
    "IVF cell-balance report: per-cell sizes, shares, and FAISS's imbalance factor nlist*sum(sz^2)/n^2 over the family's shared coarse assignment.")

  // IVF+PQ ANN top-3 (round 13) — the composition the two index halves
  // exist for, and the architecture production ANN systems actually
  // deploy at 100 TB (FAISS IVFPQ): the IVF coarse quantizer restricts
  // each query to its nprobe=2 nearest cells (candidate volume = 1/8th
  // of the corpus), and WITHIN those cells ranking runs entirely on
  // 32-bit PQ codes via integer-exact ADC — so the scan is
  // simultaneously compute-bound-cheap (few candidates) and
  // memory-bound-cheap (4 bytes per candidate instead of 512). Both
  // model sides are the exact artifacts of the standalone queries:
  // e_knn_ivf's cosine centroids (vec 10..25) and e_knn_pq's 8x16
  // subspace codebook (same rows), so this query also pins that the two
  // indexes compose without re-deriving anything. Plan shape: centroid
  // + codebook broadcast, ONE corpus scan assigns and encodes, the
  // candidate join is cell-equi (never all-pairs), ranking sorts
  // integer ADC with vec_id tiebreak — no stage grows faster than the
  // probed cells' row count.
  /** e_knn_ivfpq's machinery with parametrized `nprobe`/`k` (round 14):
    * the registered query is exactly `ivfPqUntrained(_, _, 2, 3)`; the
    * recall-vs-nprobe sweep (BASELINE.md "Round-14: trained residual
    * IVF-PQ + the recall-vs-nprobe sweep") drove nprobe 1/2/4 over the
    * SAME implementation, so the published frontier grades this operator. */
  private[graft] def ivfPqUntrained(s: SparkSession, dir: String,
      nprobe: Int, k: Int): DataFrame = {
    val base = prepped(s, dir)
    // one bounded model collect feeds the PQ codebook slices, the
    // corpus-side kernel AND the query-side literal probe
    val model = coarseModelRows(base)
    if (model.length < 16) {
      base.limit(0).selectExpr("vec_id AS qid", "vec_id",
        "cast(0.0 AS double) AS approx_d2", "cast(1 AS int) AS rnk")
    } else {
      val cb: Seq[Seq[Seq[Double]]] =
        Seq.tabulate(8)(j => Seq.tabulate(16)(c => model(c)._2.slice(8 * j, 8 * j + 8)))
      val assigned = coarseCellsTop1From(base, model)
        .select(col("vec_id"), col("cell"),
          GraftFunctions.pqCodes(col("ed"), cb).as("codes"))
      val q = queryProbeRanked(base, model, nprobe)
        .select(col("vec_id").as("qid"), col("ed").as("qe"), col("cid").as("cell"))
      assigned.join(broadcast(q), Seq("cell"))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("ad", GraftFunctions.pqAdcScaled(col("qe"), col("codes"), cb))
        .withColumn("approx_d2", expr("round(cast(ad AS double) / 1000000.0, 6)"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("qid").orderBy(col("ad"), col("vec_id"))))
        .filter(col("rnk") <= k)
        .select(col("qid"), col("vec_id"), col("approx_d2"), col("rnk"))
    }
  }

  private val eKnnIvfPq = GQuery(
    "e_knn_ivfpq",
    (s, dir) => ivfPqUntrained(s, dir, nprobe = 2, k = 3),
    Some(s"""$duckPrep,
c AS (SELECT vec_id AS cid, ed AS ce, nrm AS cn FROM n WHERE vec_id BETWEEN 10 AND 25),
r AS (
  SELECT n.vec_id, n.ed, n.nrm, c.cid,
         row_number() OVER (PARTITION BY n.vec_id ORDER BY
           round(list_aggregate(list_transform(range(64), i -> c.ce[i + 1] * n.ed[i + 1]), 'sum') / (c.cn * n.nrm), 6) DESC, c.cid) AS arn
  FROM n, c),
asg AS (SELECT vec_id, cid AS cell FROM r WHERE arn = 1),
qp AS (SELECT vec_id AS qid, ed AS qe, cid AS cell FROM r WHERE vec_id < 10 AND arn <= 2),
cb AS (SELECT cc.vec_id - 10 AS c, j, cc.ed[8*j+1:8*j+8] AS cv
       FROM n cc, range(8) t(j) WHERE cc.vec_id BETWEEN 10 AND 25),
sub AS (SELECT vec_id, j, ed[8*j+1:8*j+8] AS sv FROM n, range(8) t(j)),
dist AS (SELECT s.vec_id, s.j, cb.c,
           list_aggregate(list_transform(range(8),
             i -> (s.sv[i+1] - cb.cv[i+1]) * (s.sv[i+1] - cb.cv[i+1])), 'sum') AS d
         FROM sub s JOIN cb ON s.j = cb.j),
code AS (SELECT vec_id, j, c FROM (
           SELECT vec_id, j, c,
                  row_number() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rn
           FROM dist) WHERE rn = 1),
qd AS (SELECT q.qid, a.vec_id,
         CAST(round(list_aggregate(list_transform(range(8),
             i -> (q.qe[8*co.j+i+1] - cb.cv[i+1]) * (q.qe[8*co.j+i+1] - cb.cv[i+1])), 'sum')
           * 1000000.0 + 1e-9) AS BIGINT) AS ds
       FROM qp q JOIN asg a ON q.cell = a.cell AND a.vec_id <> q.qid
       JOIN code co ON co.vec_id = a.vec_id
       JOIN cb ON cb.j = co.j AND cb.c = co.c),
adc AS (SELECT qid, vec_id, CAST(sum(ds) AS BIGINT) AS ad FROM qd GROUP BY 1, 2)
SELECT qid, vec_id, round(ad / 1000000.0, 6) AS approx_d2, rnk
FROM (SELECT qid, vec_id, ad,
             row_number() OVER (PARTITION BY qid ORDER BY ad, vec_id) AS rnk
      FROM adc) WHERE rnk <= 3"""),
    "IVF+PQ ANN top-3: nprobe=2 cell probe, integer-exact ADC on 32-bit codes within cells.")

  /** Trained residual IVF-PQ (round 14) — the FAISS IVFPQ composition
    * proper, closing the round-13 recall table's open thread: e_knn_ivfpq
    * still ADC-ranks RAW vectors against the untrained sampled codebook
    * (recall@3 0.033, near-chance), while e_knn_pq_trained proved two
    * Lloyd iterations are worth 3x. This composes them the way FAISS
    * does: the coarse quantizer (e_knn_ivf's cosine centroids, vecs
    * 10..25) restricts each query to its `nprobe` nearest cells, and PQ
    * is trained ON RESIDUALS (vector − its cell centroid) — the point of
    * residual encoding is that residuals concentrate near the origin
    * regardless of where cells sit, so one shared 8x16 codebook tiles
    * ALL cells' local geometry instead of wasting its 4 bits/subspace on
    * coarse position the cell id already encodes. ADC is then computed
    * per (query, probed cell): the query's residual AGAINST THAT CELL
    * vs the candidate's coded residual — approximating
    * ||q − (centroid + coded_residual)||², the real IVF-PQ distance.
    *
    * Determinism: residuals are exact double differences of parquet
    * values (identical on both engines); training walks the
    * e_knn_pq_trained trajectory pins (6dp-rounded assignment distances
    * with centroid-index tiebreak, 6dp+1e-9-rounded means, empty cells
    * keep their previous centroid); the PQ seed is the residual
    * subvectors of vecs 26..41 — NOT 10..25, whose residuals are
    * identically zero (each coarse centroid is its own nearest cell), a
    * degenerate all-zero seed. Encode argmin is unrounded with
    * smallest-index tiebreak, exactly the [[GraftFunctions.pqCodes]]
    * kernel's scan; ADC rounds each subspace contribution to an exact
    * 1e-6 integer before the 8-term sum.
    *
    * Scale shape: identical to e_knn_ivfpq plus the two training scans —
    * each Lloyd step is one subspace-exploded corpus scan against a
    * broadcast 128-row codebook + one tiny (j,c,i) partial agg; model
    * sides are bounded collects (16 cells / 128 codebook rows) feeding
    * broadcast joins; the candidate join stays cell-equi, never
    * all-pairs. */
  /** The trained IVF-PQ model + coded corpus — everything a persisted
    * index stores (FAISS's train + add output): the 16 coarse centroids,
    * the residual-trained codebook, and every corpus vector's (cell,
    * packed codes) row. One definition shared by the in-query sibling
    * (e_knn_ivfpq_trained) and the index BUILDER
    * ([[IvfPqIndex.build]]), so the persisted artifact can never drift
    * from the oracle-checked training trajectory. */
  private[graft] final case class IvfPqParts(
      cents: DataFrame, // cid, ce array<double>, cn
      coded: DataFrame, // vec_id, cell, codes (4-bit-packed int)
      cb: Seq[Seq[Seq[Double]]], // codebook: cb(j)(c) = 8-double centroid
      assigned: DataFrame) // the PINNED (vec_id, cell, rv) assignment —
                           // derived stats (drift baseline) read it
                           // instead of re-running the corpus join

  /** Assign each vector of `vecs` (needs ed/nrm) to its nearest coarse
    * cell — 6dp-rounded cosine, centroid-index tiebreak — and emit the
    * residual: (vec_id, cell, rv). The ONE assignment definition, used
    * by training, by the index builder's incremental add, and (with
    * `maxRank` = nprobe) by the query-side probe. */
  private[graft] def ivfAssign(vecs: DataFrame, cents: DataFrame,
      maxRank: Int, keepEd: Boolean = false,
      carryCols: Seq[String] = Nil): DataFrame = {
    // maxRank = 1 (training / index add — the corpus-sized path) runs
    // the codegen'd argmax kernel over the bounded centroid model
    // instead of the 16x broadcast-join explosion + (vec_id) window
    // sort: one pure map, zero exchanges before the caller's next
    // operation. Trajectory identical by the kernel's contract
    // (6dp-rounded cosine, smallest-cid tiebreak — PqAssignKernelSpec
    // pins it against this very window formulation). The probe path
    // (maxRank = nprobe > 1) keeps the ranked window — it runs on
    // query-sized frames where the explosion is the cheap part.
    val centRows = if (maxRank == 1) {
      val r = cents.select(col("cid").cast("long"), col("ce"), col("cn")).collect()
      require(r.length <= 64,
        s"ivfAssign: ${r.length} coarse centroids — the bounded-model collect " +
          "contract (<= 64 cells) is broken; use the ranked path for large models")
      r.sortBy(_.getLong(0))
    } else Array.empty[org.apache.spark.sql.Row]
    if (maxRank == 1 && centRows.nonEmpty) {
      val cids: Seq[Long] = centRows.map(_.getLong(0)).toSeq
      val ces: Seq[Seq[Double]] = centRows.map(_.getSeq[Double](1).toSeq).toSeq
      val cns: Seq[Double] = centRows.map(_.getDouble(2)).toSeq
      val withP = vecs.withColumn("__p",
        GraftFunctions.coarseAssignTop1(col("ed"), col("nrm"), ces, cns))
      // r20 (ADVICE): pin the kernel path's cell to the MODEL's cid type
      // so both branches (and any persisted index parquet) keep one
      // schema — a no-op cast whenever cid is already LongType, which
      // every current model is; the ranked branch below emits cid as-is.
      val cidType = cents.schema("cid").dataType
      val cols = Seq(col("vec_id"),
        element_at(typedlit(cids), col("__p") + 1).cast(cidType).as("cell"),
        zip_with(col("ed"),
          element_at(typedlit(ces), col("__p") + 1), (x, y) => x - y).as("rv")) ++
        (if (keepEd) Seq(col("ed")) else Nil) ++ carryCols.map(col)
      withP.select(cols: _*)
    } else {
      val assignW = Window.partitionBy("vec_id").orderBy(col("c_cos").desc, col("cid"))
      val ranked = vecs.join(broadcast(cents))
        .withColumn("c_cos",
          round(GraftFunctions.vecDot(col("ce"), col("ed")) / (col("cn") * col("nrm")), 6))
        .withColumn("arn", row_number().over(assignW))
        .filter(col("arn") <= maxRank)
      // carryCols: pass-through payload columns the caller needs beside the
      // assignment (the OPQ index carries the PRE-rotation embedding for
      // its raw ledger while assigning in rotated space)
      val cols = Seq(col("vec_id"), col("cid").as("cell"),
        expr("zip_with(ed, ce, (x, y) -> x - y)").as("rv")) ++
        (if (keepEd) Seq(col("ed")) else Nil) ++ carryCols.map(col)
      ranked.select(cols: _*)
    }
  }

  /** One spherical-Lloyd refinement of the COARSE centroids (round-15
    * verdict task 7; sweep/receipt-only — every registered query keeps
    * the fixed seed rows, `coarseSteps = 0`): cosine-assign every vector
    * to its nearest cell ([[ivfAssign]]'s exact trajectory), recompute
    * each cell's per-dimension mean with the family's 6dp + 1e-9 pins,
    * keep the previous centroid for cells that attracted nothing. One
    * corpus scan + a 16-row-bounded agg per step — full FAISS-style
    * coarse training, priced on the misaligned fixture (BASELINE.md
    * "Recall lane: trained coarse quantizer"). */
  private[graft] def coarseLloydStep(base: DataFrame, cents: DataFrame): DataFrame = {
    // assignment IS ivfAssign (the one definition — training, add,
    // probe, and this refinement must walk the same trajectory)
    val asg = ivfAssign(base, cents, maxRank = 1, keepEd = true)
      .select(col("cell").as("cid"), col("ed"))
    val means = asg.select(col("cid"), posexplode(col("ed")).as(Seq("i", "x")))
      .groupBy(col("cid"), col("i"))
      .agg(round(avg(col("x")) + lit(1e-9), 6).as("v"))
      .groupBy(col("cid"))
      .agg(expr("transform(sort_array(collect_list(struct(i, v))), s -> s.v)").as("mce"))
    cents.select(col("cid"), col("ce")).join(means, Seq("cid"), "left")
      .select(col("cid"), coalesce(col("mce"), col("ce")).as("ce"))
      .withColumn("cn", sqrt(GraftFunctions.vecDot(col("ce"), col("ce"))))
      .transform(graft.Checkpoints.pin(_))
  }

  /** Train the residual IVF-PQ model on the corpus at `dir` and code
    * every vector — None when the corpus lacks the 16 centroid rows
    * (10..25) or 16 PQ seed rows (26..41). Two Lloyd steps with the 6dp
    * trajectory pins; bounded collects only (the 128-row codebook).
    * `coarseSteps` > 0 additionally Lloyd-refines the coarse centroids
    * before residual training (sweep-only; see [[coarseLloydStep]]) —
    * with the refined centroids the seed rows' residuals are no longer
    * identically zero, but the PQ seed stays at 26..41 so the trained
    * and untrained-coarse trajectories differ ONLY in the centroids. */
  private[graft] def ivfPqTrainParts(s: SparkSession, dir: String,
      coarseSteps: Int = 0): Option[IvfPqParts] =
    ivfPqTrainPartsFrom(prepped(s, dir), coarseSteps)

  /** [[ivfPqTrainParts]] over ANY (vec_id, ed, nrm) frame — the raw
    * corpus (plain index) or the OPQ-rotated frame
    * ([[opqIvfPqTrainParts]]); the trajectory is identical, so the two
    * flavors differ in exactly the input geometry. */
  private[graft] def ivfPqTrainPartsFrom(base: DataFrame,
      coarseSteps: Int = 0): Option[IvfPqParts] =
    ivfCoarseStage(base, coarseSteps).map { case (cents, assigned) =>
      pqTrainFromAssigned(assigned, cents)
    }

  /** The model-row guard + coarse-centroid + pinned-assignment prefix of
    * [[ivfPqTrainPartsFrom]], extracted so the residual-rotation trainer
    * ([[opqResidualTrainParts]]) can splice a reflection between the
    * assignment and the PQ training without duplicating the trajectory.
    * None when the corpus lacks the 16 centroid rows (10..25) or 16 PQ
    * seed rows (26..41). */
  private def ivfCoarseStage(base: DataFrame,
      coarseSteps: Int): Option[(DataFrame, DataFrame)] = {
    // one guard aggregation for both model-row counts (ADVICE r14: two
    // collect().length calls ran two full scans per invocation)
    val guard = base.agg(
      sum(when(col("vec_id").between(10, 25), 1L).otherwise(0L)).as("nc"),
      sum(when(col("vec_id").between(26, 41), 1L).otherwise(0L)).as("ns")).head()
    val nCents = if (guard.isNullAt(0)) 0L else guard.getLong(0)
    val nSeed = if (guard.isNullAt(1)) 0L else guard.getLong(1)
    if (nCents < 16 || nSeed < 16) None
    else {
      var cents = base.filter(col("vec_id").between(10, 25))
        .select(col("vec_id").as("cid"), col("ed").as("ce"), col("nrm").as("cn"))
      (1 to coarseSteps).foreach(_ => cents = coarseLloydStep(base, cents))
      val assigned = ivfAssign(base, cents, maxRank = 1)
        .transform(graft.Checkpoints.pin(_))
      Some((cents, assigned))
    }
  }

  /** Train the residual PQ codebook on an assigned (vec_id, cell, rv)
    * frame and code every row — the PQ half of [[ivfPqTrainPartsFrom]]
    * (two Lloyd steps, 6dp pins, seeds = rows 26..41's residuals),
    * shared verbatim by the plain trainer and the residual-rotated one
    * so the trajectory cannot fork. */
  private def pqTrainFromAssigned(assigned: DataFrame,
      cents: DataFrame): IvfPqParts = {
      // --- train PQ on residual subvectors (two Lloyd steps, 6dp pins)
      // via the rounded-assignment kernel — see [[lloydTrainCb]]; the
      // caller ([[ivfCoarseStage]]) guarantees the 16 seed rows 26..41,
      // so the None arm is unreachable by contract
      val cb = lloydTrainCb(assigned, "rv", 26).getOrElse(
        throw new IllegalStateException(
          "pqTrainFromAssigned: seed rows 26..41 missing — caller guard broken"))
      val coded = assigned.select(col("vec_id"), col("cell"),
        GraftFunctions.pqCodes(col("rv"), cb).as("codes"))
      IvfPqParts(cents, coded, cb, assigned)
  }

  /** OPQ-BY-RESIDUAL training (round-17 verdict task 2, option b —
    * FAISS's "train OPQ on residuals" ordering): coarse assignment runs
    * on the RAW corpus exactly as [[ivfPqTrainPartsFrom]] — the cells,
    * and with them everything residual training rescues on a noisy-seed
    * codebook, are untouched — and the Householder reflection is
    * trained on the pooled RESIDUALS' dominant component and applied to
    * residuals only, decorrelating what the PQ codebook actually
    * quantizes. This is the mechanical fix for the pinned round-16
    * harm: e_knn_opq_indexed's pre-coarse rotation reshaped the cosine
    * cells (misaligned recall 0.4333 → 0.2000) because the reflection
    * was trained on raw-corpus geometry the partition depended on;
    * rotating after assignment cannot touch the partition at all. The
    * reflection + centering is an L2 isometry (to the shared 6dp pins)
    * on residual space, so ADC ranks remain comparable and the recall
    * delta isolates the ordering. Cost: the plain trainer + one 64-row
    * residual-mean collect + two pinned-frame power-iteration scans +
    * a codegen'd map; query side adds one pure rotation map over the
    * ≤(10·nprobe)-row probe frame. */
  private[graft] def opqResidualTrainParts(s: SparkSession,
      dir: String): Option[(OpqModel, IvfPqParts)] =
    calibMemo(s, dir, "residual")(
      opqResidualTrainUncached(s, dir))

  private def opqResidualTrainUncached(s: SparkSession,
      dir: String): Option[(OpqModel, IvfPqParts)] =
    ivfCoarseStage(prepped(s, dir), coarseSteps = 0).map { case (cents, assigned) =>
      val meanRows = assigned.select(posexplode(col("rv")).as(Seq("i", "x")))
        .groupBy(col("i")).agg(round(avg(col("x")) + lit(1e-9), 6).as("m"))
        .orderBy(col("i")).collect()
      val m: Seq[Double] = meanRows.map(_.getDouble(1)).toSeq
      val centered = assigned
        .withColumn("xc", zip_with(col("rv"), typedlit(m), (x, mm) => x - mm))
        .select(col("vec_id"), col("cell"), col("xc"))
        .transform(graft.Checkpoints.pin(_))
      val u = opqHouseholderAt(opqPowerIterate(centered, Nil), 0)
      val assignedRot = opqRotateXc(centered, u)
        .select(col("vec_id"), col("cell"), col("xc").as("rv"))
      (OpqModel(m, u), pqTrainFromAssigned(assignedRot, cents))
    }

  /** Residual-geometry diagnostic (round-18 verdict task 4): the two
    * numbers the flavor choice needs, measured on the POOLED RESIDUALS
    * after coarse assignment — i.e. on exactly the frame a rotation
    * would be trained on:
    *  - `dominance` = λ̂₁ / total residual variance (the power-iterated
    *    dominant direction's share) — a rotation can only pay when
    *    there IS a dominant correlated direction to concentrate;
    *  - `alignment` = max over the 8 PQ subspaces of the dominant
    *    direction's energy inside that subspace — when the direction
    *    already lives in ONE subspace, one codebook already owns it and
    *    a reflection can only smear it across the others (the pinned
    *    anisotropic/misaligned harm); when it SPANS subspaces, every
    *    codebook redundantly encodes a correlated share and the
    *    reflection is exactly the fix (clustered/spanning/multispan).
    * Cost: the residual trainer's own calibration prefix (coarse assign
    * + mean + two power-iteration scans) + one variance aggregate —
    * bounded collects only. None when the corpus lacks model rows. */
  private[graft] final case class ResidualSpectrum(
      dominance: Double, alignment: Double)

  private[graft] def residualSpectrum(s: SparkSession,
      dir: String): Option[ResidualSpectrum] =
    ivfCoarseStage(prepped(s, dir), coarseSteps = 0).map { case (_, assigned) =>
      val meanRows = assigned.select(posexplode(col("rv")).as(Seq("i", "x")))
        .groupBy(col("i")).agg(round(avg(col("x")) + lit(1e-9), 6).as("m"))
        .orderBy(col("i")).collect()
      val m: Seq[Double] = meanRows.map(_.getDouble(1)).toSeq
      val centered = assigned
        .withColumn("xc", zip_with(col("rv"), typedlit(m), (x, mm) => x - mm))
        .select(col("vec_id"), col("cell"), col("xc"))
        .transform(graft.Checkpoints.pin(_))
      val v = opqPowerIterate(centered, Nil)
      val st = centered
        .withColumn("d", GraftFunctions.vecDot(col("xc"), typedlit(v)))
        .agg(avg(col("d") * col("d")).as("d2"),
          avg(GraftFunctions.vecDot(col("xc"), col("xc"))).as("tot"))
        .head()
      val lam1 = if (st.isNullAt(0)) 0.0 else st.getDouble(0)
      val tot = if (st.isNullAt(1)) 0.0 else st.getDouble(1)
      val vn = v.map(x => x * x).sum
      val align =
        if (vn < 1e-12) 1.0
        else (0 until 8).map(j => v.slice(j * 8, j * 8 + 8).map(x => x * x).sum / vn).max
      ResidualSpectrum(if (tot > 0) lam1 / tot else 0.0, align)
    }

  /** Center + reflect a vector column `c` in place with a FROZEN
    * residual-rotation model: c := round((c − m) − 2⟨c − m, u⟩u, 6) —
    * the one arithmetic the OPQ-by-residual family applies to corpus
    * residuals at train/add/ingest time and to query residuals at
    * probe time ([[opqResidualKnn]], [[IvfPqIndex]]'s opqres flavor),
    * shared so the two sides cannot drift. Pure codegen'd map; the
    * model rides in as two 64-double literals. */
  private[graft] def opqRotateColumn(df: DataFrame, c: String,
      m: Seq[Double], u: Seq[Double]): DataFrame =
    df.withColumn("xc", zip_with(col(c), typedlit(m), (x, mm) => x - mm))
      .withColumn("du", GraftFunctions.vecDot(col("xc"), typedlit(u)))
      .withColumn("uu", typedlit(u))
      .withColumn(c, expr(
        "transform(xc, (x, i) -> round(x - 2 * du * element_at(uu, i + 1) + 1e-9, 6))"))
      .drop("xc", "du", "uu")

  /** Search half of the OPQ-by-residual index: probe cells come from the
    * UNROTATED coarse centroids (the ordering's whole point), then the
    * query's per-cell residual is centered + reflected with the frozen
    * model before ADC — the same arithmetic its coded candidates went
    * through. */
  private[graft] def opqResidualKnn(s: SparkSession, dir: String,
      nprobe: Int, k: Int): DataFrame =
    opqResidualTrainParts(s, dir) match {
      case None => ivfPqEmpty(s, dir)
      case Some((om, p)) =>
        val q = opqRotateColumn(
          ivfPqQueryFrame(s, dir, p.cents, nprobe), "qr", om.mean, om.u)
        ivfPqProbeWith(q, p.coded, p.cb, k)
    }

  /** The SEARCH half: rank the corpus' query vectors (vec_id < 10)
    * against the coarse centroids, probe each query's `nprobe` nearest
    * cells, and ADC-rank that cell-equi candidate set — identical
    * whether cents/coded just came out of training (the in-query
    * sibling) or off a persisted index's parquet (doubles and ints
    * round-trip parquet losslessly, so the two paths are bit-equal by
    * construction). */
  private[graft] def ivfPqProbe(s: SparkSession, dir: String, cents: DataFrame,
      coded: DataFrame, cb: Seq[Seq[Seq[Double]]], nprobe: Int, k: Int): DataFrame =
    ivfPqProbeWith(ivfPqQueryFrame(s, dir, cents, nprobe), coded, cb, k)

  /** The probe's query side: the corpus' query vectors (vec_id < 10)
    * ranked against `cents`, one row per probed cell, with the query's
    * residual against THAT cell. Callers that also need the probed cell
    * list (manifest pruning) pin this frame and derive both from it —
    * one assignment job, not two. */
  private[graft] def ivfPqQueryFrame(s: SparkSession, dir: String,
      cents: DataFrame, nprobe: Int): DataFrame =
    ivfAssign(prepped(s, dir).filter(col("vec_id") < 10), cents, maxRank = nprobe)
      .select(col("vec_id").as("qid"), col("cell"), col("rv").as("qr"))

  /** ADC ranking of a prepared query frame against the coded corpus —
    * see [[ivfPqProbe]]. */
  private[graft] def ivfPqProbeWith(q: DataFrame, coded: DataFrame,
      cb: Seq[Seq[Seq[Double]]], k: Int): DataFrame = {
    coded.join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("ad", GraftFunctions.pqAdcScaled(col("qr"), col("codes"), cb))
      .withColumn("approx_d2", expr("round(cast(ad AS double) / 1000000.0, 6)"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("ad"), col("vec_id"))))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("vec_id"), col("approx_d2"), col("rnk"))
  }

  /** Empty result with e_knn_ivfpq*'s schema — the degenerate-corpus
    * contract (EmptyInputSpec). */
  private[graft] def ivfPqEmpty(s: SparkSession, dir: String): DataFrame =
    prepped(s, dir).limit(0).selectExpr("vec_id AS qid", "vec_id",
      "cast(0.0 AS double) AS approx_d2", "cast(1 AS int) AS rnk")

  private[graft] def ivfPqTrainedResidual(s: SparkSession, dir: String,
      nprobe: Int, k: Int, coarseSteps: Int = 0): DataFrame =
    ivfPqTrainParts(s, dir, coarseSteps) match {
      case None => ivfPqEmpty(s, dir)
      case Some(p) => ivfPqProbe(s, dir, p.cents, p.coded, p.cb, nprobe, k)
    }

  /** The trained-residual-IVF-PQ oracle BODY over any (vec_id, ed, nrm)
    * source CTE `src` — "n" for the raw corpus (e_knn_ivfpq_trained /
    * e_knn_ivfpq_indexed), the re-normed rotated frame for
    * e_knn_opq_indexed. One string, so the flavors' oracles replay the
    * identical trajectory on different geometry — exactly the Spark
    * side's [[ivfPqTrainPartsFrom]] factoring. */
  private def ivfPqTrainedBody(src: String): String =
    s"""${ivfPqCoarseBody(src)},
${ivfPqCodeBody("asg", "qp")}"""

  /** The coarse half of [[ivfPqTrainedBody]]: centroid rows, cosine
    * assignment, corpus residuals (`asg`) and nprobe=2 query residuals
    * (`qp`) — extracted so the residual-rotation oracle can reflect the
    * residual frames before the PQ half runs. */
  private def ivfPqCoarseBody(src: String, nprobe: Int = 2): String = s"""c AS (SELECT vec_id AS cid, ed AS ce, nrm AS cn FROM $src WHERE vec_id BETWEEN 10 AND 25),
r AS (
  SELECT n.vec_id, n.ed, n.nrm, c.cid, c.ce,
         row_number() OVER (PARTITION BY n.vec_id ORDER BY
           round(list_aggregate(list_transform(range(64), i -> c.ce[i + 1] * n.ed[i + 1]), 'sum') / (c.cn * n.nrm), 6) DESC, c.cid) AS arn
  FROM $src n, c),
asg AS MATERIALIZED (SELECT vec_id, cid AS cell,
          list_transform(range(64), i -> ed[i + 1] - ce[i + 1]) AS rv
        FROM r WHERE arn = 1),
qp AS MATERIALIZED (SELECT vec_id AS qid, cid AS cell,
         list_transform(range(64), i -> ed[i + 1] - ce[i + 1]) AS qr
       FROM r WHERE vec_id < 10 AND arn <= $nprobe)"""

  /** The PQ half of [[ivfPqTrainedBody]] over any residual frames
    * `$asg` (vec_id, cell, rv) and `$qp` (qid, cell, qr): seed rows
    * 26..41, two Lloyd steps, cell-equi candidate join, integer ADC,
    * top-3. `cand` (default = `$asg`) is the CANDIDATE frame of the
    * final probe join — the filtered-ANN oracle passes a
    * predicate-restricted subset there while training/encoding stay on
    * the full corpus (exactly the Spark side's split: codes are
    * f(corpus), the predicate only thins the probe's candidate set). */
  private def ivfPqCodeBody(asg: String, qp: String, cand: String = ""): String = {
    val candidates = if (cand.isEmpty) asg else cand
    s"""c0 AS (SELECT CAST(a.vec_id - 26 AS INT) AS c, j, a.rv[8*j+1:8*j+8] AS cv
       FROM $asg a, range(8) t(j) WHERE a.vec_id BETWEEN 26 AND 41),
sub AS (SELECT vec_id, j, rv[8*j+1:8*j+8] AS sv FROM $asg, range(8) t(j)),
d1 AS (SELECT s.vec_id, s.j, c0.c,
         round(list_aggregate(list_transform(range(8),
           i -> (s.sv[i+1] - c0.cv[i+1]) * (s.sv[i+1] - c0.cv[i+1])), 'sum'), 6) AS d
       FROM sub s JOIN c0 ON s.j = c0.j),
a1 AS (SELECT vec_id, j, c FROM (
         SELECT vec_id, j, c, row_number() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rn
         FROM d1) WHERE rn = 1),
m1 AS (SELECT a.j, a.c, i, round(avg(s.sv[i+1]) + 1e-9, 6) AS v
       FROM a1 a JOIN sub s ON a.vec_id = s.vec_id AND a.j = s.j, range(8) t(i)
       GROUP BY 1, 2, 3),
c1 AS (SELECT c0.j, c0.c, coalesce(mv.cv, c0.cv) AS cv
       FROM c0 LEFT JOIN (SELECT j, c, list(v ORDER BY i) AS cv FROM m1 GROUP BY 1, 2) mv
         ON c0.j = mv.j AND c0.c = mv.c),
d2 AS (SELECT s.vec_id, s.j, c1.c,
         round(list_aggregate(list_transform(range(8),
           i -> (s.sv[i+1] - c1.cv[i+1]) * (s.sv[i+1] - c1.cv[i+1])), 'sum'), 6) AS d
       FROM sub s JOIN c1 ON s.j = c1.j),
a2 AS (SELECT vec_id, j, c FROM (
         SELECT vec_id, j, c, row_number() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rn
         FROM d2) WHERE rn = 1),
m2 AS (SELECT a.j, a.c, i, round(avg(s.sv[i+1]) + 1e-9, 6) AS v
       FROM a2 a JOIN sub s ON a.vec_id = s.vec_id AND a.j = s.j, range(8) t(i)
       GROUP BY 1, 2, 3),
c2 AS (SELECT c1.j, c1.c, coalesce(mv.cv, c1.cv) AS cv
       FROM c1 LEFT JOIN (SELECT j, c, list(v ORDER BY i) AS cv FROM m2 GROUP BY 1, 2) mv
         ON c1.j = mv.j AND c1.c = mv.c),
dist AS (SELECT s.vec_id, s.j, c2.c,
           list_aggregate(list_transform(range(8),
             i -> (s.sv[i+1] - c2.cv[i+1]) * (s.sv[i+1] - c2.cv[i+1])), 'sum') AS d
         FROM sub s JOIN c2 ON s.j = c2.j),
code AS (SELECT vec_id, j, c FROM (
           SELECT vec_id, j, c,
                  row_number() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rn
           FROM dist) WHERE rn = 1),
qd AS (SELECT q.qid, a.vec_id,
         CAST(round(list_aggregate(list_transform(range(8),
             i -> (q.qr[8*co.j+i+1] - c2.cv[i+1]) * (q.qr[8*co.j+i+1] - c2.cv[i+1])), 'sum')
           * 1000000.0 + 1e-9) AS BIGINT) AS ds
       FROM $qp q JOIN $candidates a ON q.cell = a.cell AND a.vec_id <> q.qid
       JOIN code co ON co.vec_id = a.vec_id
       JOIN c2 ON c2.j = co.j AND c2.c = co.c),
adc AS (SELECT qid, vec_id, CAST(sum(ds) AS BIGINT) AS ad FROM qd GROUP BY 1, 2)
SELECT qid, vec_id, round(ad / 1000000.0, 6) AS approx_d2, rnk
FROM (SELECT qid, vec_id, ad,
             row_number() OVER (PARTITION BY qid ORDER BY ad, vec_id) AS rnk
      FROM adc) WHERE rnk <= 3"""
  }

  /** The trained-residual-IVF-PQ oracle — shared verbatim by
    * e_knn_ivfpq_trained and e_knn_ivfpq_indexed: the persisted index's
    * tables are a deterministic function of the corpus (pinned training
    * trajectory + lossless parquet round-trip of doubles/ints), so the
    * correct cross-engine statement for BOTH is "recompute the whole
    * train/encode/probe from `embeddings`". The oracle cannot read the
    * index's host-local parquet anyway: oracleSql is a STATIC map and
    * the driver's DuckDB sees only the fixture tables — and recomputing
    * is the stronger check (it re-derives the artifact the index claims
    * to have persisted; IvfPqIndexSpec separately pins persisted ==
    * retrained). */
  private val ivfPqTrainedOracle: String =
    s"$duckPrep,\n${ivfPqTrainedBody("n")}"

  /** e_knn_opq_indexed's oracle: the rotation CTEs, a re-norm of the
    * rotated frame, then the identical trained-residual-IVF-PQ body —
    * recomputing from `embeddings` the full model the persisted OPQ
    * index claims to have materialized (same recompute-the-artifact
    * argument as [[ivfPqTrainedOracle]]'s scaladoc). */
  private val opqIvfPqIndexedOracle: String = s"""$duckPrep,
${duckOpqRotate("rot")},
rn AS (SELECT vec_id, ed, sqrt(list_aggregate(list_transform(ed, x -> x * x), 'sum')) AS nrm FROM rot),
${ivfPqTrainedBody("rn")}"""

  private val eKnnIvfPqTrained = GQuery(
    "e_knn_ivfpq_trained",
    (s, dir) => ivfPqTrainedResidual(s, dir, nprobe = 2, k = 3),
    Some(ivfPqTrainedOracle),
    "Trained residual IVF-PQ top-3: PQ Lloyd-trained on (vector - cell centroid) residuals, per-cell query residual ADC — the FAISS IVFPQ composition.")

  /** e_knn_opq_residual's oracle: the shared coarse body on the raw
    * corpus, then the residual mean + power-iteration + Householder
    * chain over `asg`'s residuals (the stage generator with the frozen
    * uvr re-applied to the query residuals), then the identical PQ body
    * over the rotated frames — recomputing the whole OPQ-by-residual
    * trajectory from `embeddings`. */
  private val opqResidualOracle: String = s"""$duckPrep,
${ivfPqCoarseBody("n")},
rm AS (SELECT i, round(avg(rv[i + 1]) + 1e-9, 6) AS m FROM asg, range(64) t(i) GROUP BY 1),
rml AS MATERIALIZED (SELECT list(m ORDER BY i) AS mv FROM rm),
rcx AS MATERIALIZED (SELECT vec_id, cell, list_transform(range(64), i -> rv[i + 1] - mv[i + 1]) AS xc FROM asg, rml),
${duckOpqStageXc("rcx", "rrot", 0, Nil, "r", ids = "vec_id, cell")},
asgr AS MATERIALIZED (SELECT vec_id, cell, xc AS rv FROM rrot),
qpr AS (SELECT qid, cell,
          list_transform(range(64), i -> round(xc[i + 1] - 2 * du * u[i + 1] + 1e-9, 6)) AS qr
        FROM (SELECT qid, cell, xc, u,
                list_aggregate(list_transform(range(64), i -> u[i + 1] * xc[i + 1]), 'sum') AS du
              FROM (SELECT qid, cell, list_transform(range(64), i -> qr[i + 1] - mv[i + 1]) AS xc
                    FROM qp, rml) z, uvr)),
${ivfPqCodeBody("asgr", "qpr")}"""

  private val eKnnOpqResidual = GQuery(
    "e_knn_opq_residual",
    (s, dir) => opqResidualKnn(s, dir, nprobe = 2, k = 3),
    Some(opqResidualOracle),
    "OPQ-by-residual IVF-PQ top-3: coarse cells from the raw corpus (the partition residual training rescues stays untouched), Householder reflection trained on and applied to the pooled residuals ahead of PQ — the harm-free rotation ordering.")

  // Persisted-index variant (round 15) — the SAME search semantics as
  // e_knn_ivfpq_trained, but FAISS's real deployment lifecycle: the
  // first invocation per corpus trains once and materializes
  // (centroids, codebook, coded corpus) as committed lakehouse tables
  // ([[IvfPqIndex]]); every later invocation fingerprint-validates and
  // runs probe + ADC against the persisted artifact only — no training
  // scans in the query path. Results are bit-equal to the sibling by
  // construction (shared trajectory, lossless parquet round-trip), which
  // the shared oracle re-proves cross-engine every round and
  // IvfPqIndexSpec pins Spark-side. The bench's min-of-two-passes
  // protocol makes the receipt mechanical: pass 1 pays build+query,
  // pass 2 reuses -> the reported number IS the query-many cost.
  // Per-invocation cost note: the ensure() fingerprint is one narrow
  // (vec_id, embedding) aggregation per stamp of the embeddings file
  // (memoized in CorpusCache, so a warm ensure costs a stat) — the price
  // of the driver contract's self-containedness (any sf dir, any prior
  // state, still correct). A production deployment validates freshness
  // on its OWN schedule and calls IvfPqIndex.query directly, paying only
  // the 144-row model read + the pruned coded scan per search.
  private val eKnnIvfPqIndexed = GQuery(
    "e_knn_ivfpq_indexed",
    (s, dir) => {
      val root = IvfPqIndex.defaultRoot(dir)
      // pristineOnly: this query's oracle recomputes f(corpus) — a root
      // mutated by out-of-band adds/ingest/deletes must rebuild, not be
      // silently reused (ADVICE r15)
      IvfPqIndex.ensure(s, dir, root, pristineOnly = true) match {
        case None => ivfPqEmpty(s, dir) // corpus lacks model rows
        case Some(_) => IvfPqIndex.query(s, dir, root, nprobe = 2, k = 3)
      }
    },
    Some(ivfPqTrainedOracle),
    "Trained IVF-PQ against a PERSISTED index (build-once/query-many): probe + residual ADC on materialized centroids/codebook/coded tables, manifest-pruned by probed cell.")

  /** The filtered probe's predicate value — an arbitrary but fixed
    * metadata class ("WHERE lang = 'en'" stands); shared by the Spark
    * query and its oracle so they cannot drift. */
  private val FilteredAttr = 7

  /** e_knn_ivfpq_filtered's oracle: the shared trained-IVF-PQ trajectory
    * at nprobe=4, with the CANDIDATE frame (and only it) restricted to
    * label = [[FilteredAttr]] — training, coding, and the probe's cell
    * choice all stay f(full corpus), exactly what the index does with
    * its persisted attr column. */
  private val ivfPqFilteredOracle: String = s"""$duckPrep,
${ivfPqCoarseBody("n", nprobe = 4)},
asgf AS (SELECT a.vec_id, a.cell, a.rv FROM asg a JOIN n ON n.vec_id = a.vec_id WHERE n.label = $FilteredAttr),
${ivfPqCodeBody("asg", "qp", cand = "asgf")}"""

  // FILTERED persisted-index ANN (round-18 verdict task 3) — "top-k
  // WHERE attr = x", the predicate form every production vector store
  // serves. Same persisted artifact as e_knn_ivfpq_indexed (one root,
  // build-once, two query flavors); the v4 coded table carries the
  // metadata column inline, so the predicate reaches the parquet scan
  // as a pushed filter BESIDE the manifest's cell pruning, and
  // candidates are thinned BEFORE ADC ranking — a post-filtered
  // unfiltered top-k under-returns instead (IvfPqIndexSpec pins the
  // difference). nprobe=4 vs the sibling's 2: the cell-level overfetch
  // lever for selective predicates (cells are probed by geometry, not
  // by attr, so a 1-in-16 predicate thins each cell's pool ~16x).
  private val eKnnIvfPqFiltered = GQuery(
    "e_knn_ivfpq_filtered",
    (s, dir) => {
      val root = IvfPqIndex.defaultRoot(dir)
      IvfPqIndex.ensure(s, dir, root, pristineOnly = true) match {
        case None => ivfPqEmpty(s, dir) // corpus lacks model rows
        case Some(_) =>
          IvfPqIndex.queryFiltered(s, dir, root, nprobe = 4, k = 3,
            attrEq = FilteredAttr)
      }
    },
    Some(ivfPqFilteredOracle),
    "Filtered ANN on the persisted IVF-PQ index: attribute predicate pushed into the coded scan (inline metadata column), candidates thinned before ADC ranking, deeper nprobe as the selectivity overfetch.")

  // OPQ-rotated persisted index (round 16) — FAISS's full
  // "OPQ64,IVF16,PQ8" factory chain as lakehouse tables: the round-16
  // OPQ rotation becomes part of the PERSISTED model (stored beside
  // centroids/codebook, frozen per generation), so ingest, handoff
  // carry, and every query rotate novel vectors with the model the
  // codes were built under — the composition rule FAISS calls a
  // chained VectorTransform. Same lifecycle guarantees as
  // e_knn_ivfpq_indexed (build-once/query-many, pristine gate for the
  // oracle path, generation commit protocol); the oracle recomputes
  // rotation + training + coding + probe from `embeddings`.
  private val eKnnOpqIndexed = GQuery(
    "e_knn_opq_indexed",
    (s, dir) => {
      // flavor-specific root: the rotation changes the trajectory, so an
      // OPQ index can never be confused with the plain sibling's root
      // (the flavor is also baked into the stored fingerprint)
      val root = IvfPqIndex.defaultRoot(dir) + "_opq"
      IvfPqIndex.ensure(s, dir, root, pristineOnly = true,
        flavor = IvfPqIndex.Opq) match {
        case None => ivfPqEmpty(s, dir) // corpus lacks model rows
        case Some(_) => IvfPqIndex.query(s, dir, root, nprobe = 2, k = 3)
      }
    },
    Some(opqIvfPqIndexedOracle),
    "OPQ-rotated persisted IVF-PQ (the FAISS 'OPQ,IVF,PQ' chain): frozen Householder rotation stored with centroids/codebook; probe + rotated-residual ADC, manifest-pruned by probed cell.")

  // Persisted OPQ-BY-RESIDUAL index (round 17) — the SAME search
  // semantics as e_knn_opq_residual through the full IvfPqIndex
  // lifecycle (build-once/query-many, WAL'd ingest, tombstones,
  // handoff, maintenance — all shared paths, flavor-dispatched). The
  // round-17 recall lanes crowned this ordering on clustered geometry
  // (0.5333 vs 0.4667 plain-trained at nprobe=2), so it is the flavor a
  // production clustered corpus would actually deploy; the persisted
  // form is what makes it query-many-cheap. Bit-equal to the in-query
  // sibling by construction (shared trajectory, lossless parquet),
  // re-proven cross-engine by the SHARED oracle and Spark-side by
  // IvfPqIndexSpec.
  private val eKnnOpqResIndexed = GQuery(
    "e_knn_opqres_indexed",
    (s, dir) => {
      val root = IvfPqIndex.defaultRoot(dir) + "_opqres"
      IvfPqIndex.ensure(s, dir, root, pristineOnly = true,
        flavor = IvfPqIndex.OpqResidual) match {
        case None => ivfPqEmpty(s, dir) // corpus lacks model rows
        case Some(_) => IvfPqIndex.query(s, dir, root, nprobe = 2, k = 3)
      }
    },
    Some(opqResidualOracle),
    "Persisted OPQ-by-residual IVF-PQ: raw-corpus coarse cells, frozen residual-space Householder stored with centroids/codebook; probe + reflected-residual ADC, manifest-pruned by probed cell.")

  // Binary-Hamming ANN top-3 (round 14) — the 1-BIT quantization point
  // on the family's compression axis: each 64-dim vector collapses to
  // its sign pattern (bit j set iff component j > 0), packed into two
  // 32-bit halves, and candidates rank by Hamming distance
  // bit_count(xor) — for mean-centered embeddings, Hamming on sign
  // bits is a monotone proxy for angular distance (each agreeing sign
  // bit is one random hyperplane... exactly the e_knn_lsh geometry with
  // the 64 coordinate axes as planes). 256x smaller than the raw
  // doubles (8 bytes/vector) and the distance is two XOR+POPCNT ops —
  // the cheapest possible rerank prefilter at 100 TB, one compression
  // notch past e_knn_quant's int8. Two bigint halves, NOT one 64-bit
  // word: bit 63 as a sign bit would make the packed sum overflow
  // DuckDB's checked BIGINT arithmetic (Spark wraps, DuckDB throws —
  // a cross-engine trap, not a tie risk). Everything is exact integer
  // arithmetic end to end; ties break on vec_id.
  private val eKnnHamming = GQuery(
    "e_knn_hamming",
    (s, dir) => {
      // pack via the graft_sign_pack kernel (round 15): the first
      // formulation was a 32-step `aggregate(sequence(...))` SQL-HOF
      // lambda per half — the interpreted-per-element class the
      // graft_dsir kernels documented — and the pack IS this operator's
      // one full-corpus pass. Identical bit placement (disjoint powers
      // of two; OR == the fold's sum), so the oracle hash is unchanged.
      val packed = prepped(s, dir)
        .withColumn("lo", GraftFunctions.signPack(col("ed"), 0))
        .withColumn("hi", GraftFunctions.signPack(col("ed"), 32))
        .select(col("vec_id"), col("lo"), col("hi"))
      val q = packed.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("lo").as("qlo"), col("hi").as("qhi"))
      packed.join(broadcast(q), col("vec_id") =!= col("qid"))
        .withColumn("hd", expr(
          "cast(bit_count(qlo ^ lo) + bit_count(qhi ^ hi) AS bigint)"))
        .select(col("qid"), col("vec_id"), col("hd"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("qid").orderBy(col("hd"), col("vec_id"))))
        .filter(col("rnk") <= 3)
    },
    Some(s"""$duckPrep,
b AS (SELECT vec_id,
        list_aggregate(list_transform(range(32), j -> CASE WHEN ed[j + 1] > 0 THEN (1::BIGINT << j) ELSE 0::BIGINT END), 'sum') AS lo,
        list_aggregate(list_transform(range(32), j -> CASE WHEN ed[j + 33] > 0 THEN (1::BIGINT << j) ELSE 0::BIGINT END), 'sum') AS hi
      FROM n),
q AS (SELECT vec_id AS qid, lo AS qlo, hi AS qhi FROM b WHERE vec_id < 10),
p AS (SELECT q.qid, b.vec_id,
        CAST(bit_count(xor(q.qlo, b.lo)) + bit_count(xor(q.qhi, b.hi)) AS BIGINT) AS hd
      FROM q, b WHERE b.vec_id <> q.qid)
SELECT qid, vec_id, hd, rnk
FROM (SELECT qid, vec_id, hd, row_number() OVER (PARTITION BY qid ORDER BY hd, vec_id) AS rnk FROM p)
WHERE rnk <= 3"""),
    "Binary-Hamming ANN top-3: sign-bit packing (two 32-bit halves), XOR+popcount ranking — the 1-bit point on the quantization axis.")

  // Int8-quantized ANN top-3: per-vector symmetric scalar quantization
  // (scale = max|x|/127, q = round(x/scale)) then integer dot products.
  // The quantization stage is ONE implementation (quantized() + duckQuant)
  // shared by e_knn_quant and e_knn_rerank: the rerank contract requires
  // its coarse stage to be bit-identical to the quant query, so the
  // expressions must not be able to drift apart.
  // Cosine of quantized vectors needs NO descaling (scales cancel in the
  // normalization), so candidate scoring runs on int8 arrays — 4x less
  // memory/shuffle than float32 and SIMD-friendly integer math at 100 TB,
  // with exact re-ranking as the documented follow-up stage.
  /** Int8 quantization of the prepped frame: (vec_id, qv int8 array,
    * qzn quantized norm). The single source of truth for both queries. */
  private def quantized(s: SparkSession, dir: String): DataFrame =
    prepped(s, dir)
      .withColumn("sc", expr("greatest(array_max(transform(ed, x -> abs(x))), 1e-30d) / 127.0d"))
      .withColumn("qv", expr("transform(ed, x -> cast(round(x / sc) AS int))"))
      .withColumn("qzn", expr("sqrt(aggregate(qv, cast(0 as double), (acc, v) -> acc + cast(v AS double) * cast(v AS double)))"))
      .select(col("vec_id"), col("qv"), col("qzn"))

  /** Same quantization, DuckDB side (z + zn CTEs over duckPrep's n). */
  private val duckQuant =
    """z AS (SELECT vec_id,
        list_transform(ed, x -> round(x / (greatest(list_max(list_transform(ed, y -> abs(y))), 1e-30) / 127.0))::INTEGER) AS qv
      FROM n),
zn AS (SELECT vec_id, qv,
        sqrt(list_aggregate(list_transform(qv, v -> v::DOUBLE * v::DOUBLE), 'sum')) AS qzn
       FROM z)"""

  private val eKnnQuant = GQuery(
    "e_knn_quant",
    (s, dir) => {
      val qz = quantized(s, dir).withColumnRenamed("qzn", "qn")
      val q = qz.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("qv").as("qa"), col("qn").as("qan"))
      qz.join(broadcast(q), col("vec_id") =!= col("qid"))
        // integer dot via the codegen kernel — the HOF fold it replaces
        // ran interpreted per element in the corpus-x-queries hot stage;
        // long addition is exact, so the value is identical
        .withColumn("cos_q",
          round(GraftFunctions.intDotLong(col("qa"), col("qv"))
            / (col("qan") * col("qn")), 6))
        .select(col("qid"), col("vec_id"), col("cos_q"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("qid").orderBy(col("cos_q").desc, col("vec_id"))))
        .filter(col("rnk") <= 3)
    },
    Some(s"""$duckPrep,
$duckQuant,
q AS (SELECT vec_id AS qid, qv AS qa, qzn AS qan FROM zn WHERE vec_id < 10),
p AS (SELECT q.qid, zn.vec_id,
        round(list_aggregate(list_transform(range(64), i -> q.qa[i + 1]::BIGINT * zn.qv[i + 1]::BIGINT), 'sum') / (q.qan * zn.qzn), 6) AS cos_q
      FROM q, zn WHERE zn.vec_id <> q.qid)
SELECT qid, vec_id, cos_q, rnk
FROM (SELECT qid, vec_id, cos_q, row_number() OVER (PARTITION BY qid ORDER BY cos_q DESC, vec_id) AS rnk FROM p)
WHERE rnk <= 3"""),
    "Int8 scalar-quantized cosine top-3 (scales cancel in cosine).")

  // Two-stage retrieval: int8-quantized coarse scoring keeps each query's
  // top-10 candidates, then EXACT float cosine re-ranks them to top-3 —
  // the production ANN shape (cheap wide recall stage, expensive narrow
  // precision stage). At 100 TB the quantized pass is the only one that
  // scans the corpus (integer SIMD math, 4x less memory traffic); the
  // re-rank join touches 10 rows per query, so its exact float math is
  // free. Candidate truncation is part of the operator's CONTRACT (same
  // rnk<=10 in the oracle), not an approximation being hidden.
  private val eKnnRerank = GQuery(
    "e_knn_rerank",
    (s, dir) => {
      val base = prepped(s, dir)
      val qz = quantized(s, dir)
      val q = qz.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("qv").as("qa"), col("qzn").as("qan"))
      val cand = qz.join(broadcast(q), col("vec_id") =!= col("qid"))
        // same codegen integer-dot swap as e_knn_quant's scoring stage
        .withColumn("cos_q",
          round(GraftFunctions.intDotLong(col("qa"), col("qv"))
            / (col("qan") * col("qzn")), 6))
        .withColumn("crnk", row_number().over(
          Window.partitionBy("qid").orderBy(col("cos_q").desc, col("vec_id"))))
        .filter(col("crnk") <= 10)
        .select(col("qid"), col("vec_id"))
      val ex = base.select(col("vec_id"), col("ed"), col("nrm"))
      cand
        .join(ex, Seq("vec_id"))
        .join(broadcast(ex.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("ed").as("qe"), col("nrm").as("qn"))), Seq("qid"))
        .withColumn("cos_sim", cosCol)
        .select(col("qid"), col("vec_id"), col("cos_sim"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("vec_id"))))
        .filter(col("rnk") <= 3)
    },
    Some(s"""$duckPrep,
$duckQuant,
qq AS (SELECT vec_id AS qid, qv AS qa, qzn AS qan FROM zn WHERE vec_id < 10),
cand AS (SELECT qid, vec_id FROM (
    SELECT qq.qid, zn.vec_id,
           row_number() OVER (PARTITION BY qq.qid ORDER BY
             round(list_aggregate(list_transform(range(64), i -> qq.qa[i + 1]::BIGINT * zn.qv[i + 1]::BIGINT), 'sum') / (qq.qan * zn.qzn), 6) DESC, zn.vec_id) AS crnk
    FROM qq, zn WHERE zn.vec_id <> qq.qid)
  WHERE crnk <= 10),
p AS (SELECT c.qid, c.vec_id,
        round(list_aggregate(list_transform(range(64), i -> nq.ed[i + 1] * n.ed[i + 1]), 'sum') / (nq.nrm * n.nrm), 6) AS cos_sim
      FROM cand c JOIN n ON n.vec_id = c.vec_id JOIN n nq ON nq.vec_id = c.qid)
SELECT qid, vec_id, cos_sim, rnk
FROM (SELECT qid, vec_id, cos_sim, row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rnk FROM p)
WHERE rnk <= 3"""),
    "Two-stage ANN: int8 coarse top-10 candidates, exact float re-rank to top-3.")

  // Matryoshka (truncated-dimension) two-stage retrieval: the coarse
  // stage scores on the FIRST 16 dimensions only — the nesting property
  // matryoshka-trained embedders guarantee — recalling top-10 candidates
  // per query, then exact 64-dim cosine re-ranks to top-3. Same contract
  // shape as e_knn_rerank, different recall stage: where quantization
  // shrinks bytes-per-dim, truncation shrinks dims (4x fewer multiplies
  // AND 4x less memory traffic in the corpus scan); production systems
  // pick per tier or stack both. Candidate truncation (crnk<=10) is the
  // operator's contract, mirrored in the oracle.
  private val eKnnMatryoshka = GQuery(
    "e_knn_matryoshka",
    (s, dir) => {
      val base = prepped(s, dir)
        .withColumn("ep", expr("slice(ed, 1, 16)"))
        .withColumn("pn", sqrt(GraftFunctions.vecDot(col("ep"), col("ep"))))
      val q = base.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("ep").as("qp"), col("pn").as("qpn"))
      val cand = base.join(broadcast(q), col("vec_id") =!= col("qid"))
        .withColumn("cos_p",
          round(GraftFunctions.vecDot(col("qp"), col("ep")) / (col("qpn") * col("pn")), 6))
        .withColumn("crnk", row_number().over(
          Window.partitionBy("qid").orderBy(col("cos_p").desc, col("vec_id"))))
        .filter(col("crnk") <= 10)
        .select(col("qid"), col("vec_id"))
      val ex = prepped(s, dir).select(col("vec_id"), col("ed"), col("nrm"))
      cand
        .join(ex, Seq("vec_id"))
        .join(broadcast(ex.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("ed").as("qe"), col("nrm").as("qn"))), Seq("qid"))
        .withColumn("cos_sim", cosCol)
        .select(col("qid"), col("vec_id"), col("cos_sim"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("vec_id"))))
        .filter(col("rnk") <= 3)
    },
    Some(s"""$duckPrep,
pp AS (SELECT vec_id, ed[1:16] AS ep,
        sqrt(list_aggregate(list_transform(ed[1:16], x -> x * x), 'sum')) AS pn FROM n),
qq AS (SELECT vec_id AS qid, ep AS qp, pn AS qpn FROM pp WHERE vec_id < 10),
cand AS (SELECT qid, vec_id FROM (
    SELECT qq.qid, pp.vec_id,
           row_number() OVER (PARTITION BY qq.qid ORDER BY
             round(list_aggregate(list_transform(range(16), i -> qq.qp[i + 1] * pp.ep[i + 1]), 'sum') / (qq.qpn * pp.pn), 6) DESC, pp.vec_id) AS crnk
    FROM qq, pp WHERE pp.vec_id <> qq.qid)
  WHERE crnk <= 10),
p AS (SELECT c.qid, c.vec_id,
        round(list_aggregate(list_transform(range(64), i -> nq.ed[i + 1] * n.ed[i + 1]), 'sum') / (nq.nrm * n.nrm), 6) AS cos_sim
      FROM cand c JOIN n ON n.vec_id = c.vec_id JOIN n nq ON nq.vec_id = c.qid)
SELECT qid, vec_id, cos_sim, rnk
FROM (SELECT qid, vec_id, cos_sim, row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rnk FROM p)
WHERE rnk <= 3"""),
    "Matryoshka ANN: 16-dim truncated coarse top-10, exact 64-dim re-rank to top-3.")

  // ABTT projection (round 14; Mu & Viswanath 2018, "All-but-the-Top") —
  // the standard embedding post-processing: find the corpus' DOMINANT
  // principal component with power iteration and report, per vector,
  // its projection onto it plus the residual norm after removal (the
  // downstream pipeline subtracts proj*v; these two numbers fully
  // characterize that rewrite). Trajectory pins, the Lloyd discipline:
  // the per-dimension mean and each iteration's normalized component
  // round at 6dp (+1e-9) IN-ENGINE before the next scan, so both
  // engines walk bit-identical v_1, v_2; v_0 is the exact rational
  // all-ones/8 unit vector (64 dims). Two fixed iterations — the same
  // unrolled-fixpoint form as e_knn_pq_trained, chosen over
  // convergence-test loops because the iteration COUNT is part of the
  // cross-engine contract. Scale shape: each iteration is ONE corpus
  // scan (dot against the broadcast 64-double component, posexplode,
  // (i)-keyed partial agg to 64 rows) + a bounded 64-row collect; the
  // projection pass is a pure map against the broadcast final
  // component. residual² = ||xc||² − proj² clamps at 0 before sqrt —
  // 6dp rounding can push the difference epsilon-negative on vectors
  // parallel to v.
  /** ABTT calibration model: per-dimension corpus mean + dominant
    * principal component — the two literals the apply stage broadcasts.
    * A case class (not a Tuple2) so the offline calibrate doesn't read
    * as a streaming transform to DualTwinInvariantSpec's reflection. */
  final case class AbttModel(mean: Seq[Double], component: Seq[Double])

  // --- Shared calibration cache (round-19 verdict task 3) ---------------
  //
  // e_spectrum_decay, e_knn_opq3, e_knn_opq and e_knn_opq_residual each
  // replay the SAME expensive training trajectory (mean collect + power
  // iterations + pinned rotations / Lloyd steps) from scratch on every
  // invocation — by design each query's ORACLE replays its own
  // trajectory, but within one session the Spark side was recomputing
  // ~10.5 s of identical calibration per bench sample (the r18 verdict's
  // three biggest compute-lane lines). The calibration products are
  // therefore memoized in CorpusCache per (session, embeddings file,
  // slot), guarded by the file's stamp: a fixture rewritten at the same
  // path misses and retrains, so no oracle can ever see a stale
  // trajectory — the cache changes WHEN the work happens, never what any
  // query returns. The cached frames are Checkpoints-pinned (executor-
  // memory blocks, tiny next to the corpus: vec_id + 64 doubles/row),
  // exactly the pins the uncached path already held.
  private def calibMemo[T](s: SparkSession, dir: String, slot: String)(
      compute: => T): T =
    graft.CorpusCache.stamped(s, Tables.path(dir, "embeddings"), s"calib.$slot")(compute)

  /** ABTT CALIBRATE — the offline half of the calibrate/apply split
    * (dsirScore / perplexityBand convention): per-dimension 6dp-pinned
    * mean, then the two pinned power iterations for the dominant
    * component. None on an empty corpus. Bounded collects only (64 rows
    * per step); each iteration is ONE corpus scan. Memoized per
    * (session, embeddings file stamp) — see the cache note above. */
  private def abttCalibrateFull(s: SparkSession,
      dir: String): Option[(AbttModel, DataFrame)] =
    calibMemo(s, dir, "abtt")(
      abttCalibrateUncached(s, dir))

  private def abttCalibrateUncached(s: SparkSession,
      dir: String): Option[(AbttModel, DataFrame)] = {
    val base = prepped(s, dir)
    val meanRows = base.select(posexplode(col("ed")).as(Seq("i", "x")))
      .groupBy(col("i")).agg(round(avg(col("x")) + lit(1e-9), 6).as("m"))
      .orderBy(col("i")).collect()
    if (meanRows.isEmpty) None
    else {
      val m: Seq[Double] = meanRows.map(_.getDouble(1)).toSeq
      val centered = base
        .withColumn("xc", zip_with(col("ed"), typedlit(m), (x, mm) => x - mm))
        .select(col("vec_id"), col("xc"))
        .transform(graft.Checkpoints.pin(_))
      var v: Seq[Double] = Seq.fill(64)(0.125)
      (1 to 2).foreach { _ =>
        val w = centered
          .withColumn("d", GraftFunctions.vecDot(col("xc"), typedlit(v)))
          .select(col("d"), posexplode(col("xc")).as(Seq("i", "xi")))
          .groupBy(col("i")).agg(sum(col("d") * col("xi")).as("w"))
        val nrmW = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        v = w.withColumn("nrm", sqrt(sum(col("w") * col("w")).over(nrmW)))
          .select(col("i"), round(col("w") / col("nrm") + lit(1e-9), 6).as("vi"))
          .orderBy(col("i")).collect().map(_.getDouble(1)).toSeq
      }
      Some((AbttModel(m, v), centered))
    }
  }

  private[graft] def abttCalibrate(s: SparkSession, dir: String): Option[AbttModel] =
    abttCalibrateFull(s, dir).map(_._1)

  /** The ONE projection expression, over a pre-centered frame
    * (vec_id, xc): proj onto the broadcast component + residual norm
    * after removal. + 0.0 normalizes IEEE negative zero: a projection
    * in (-5e-7, 0) rounds to -0.0 in DuckDB but 0.0 in Spark (the
    * t_dsir_score sf0.1 lesson). */
  private def abttProjectCentered(centered: DataFrame,
      component: Seq[Double]): DataFrame =
    centered
      .withColumn("proj",
        round(GraftFunctions.vecDot(col("xc"), typedlit(component)) + lit(1e-9), 6) + lit(0d))
      .withColumn("resid_norm", round(sqrt(greatest(lit(0d),
        GraftFunctions.vecDot(col("xc"), col("xc")) - col("proj") * col("proj"))) + lit(1e-9), 6))
      .select(col("vec_id"), col("proj"), col("resid_norm"))

  /** ABTT APPLY — shared by the batch query and the streaming dual
    * ([[graft.streaming.StreamingPipelines.abttApply]]): center against
    * the broadcast mean, then [[abttProjectCentered]] (the one
    * projection expression, so the two paths cannot drift). Pure
    * stateless map — no shuffle, no state, no join; the model rides
    * into codegen as literals. Input needs an `ed` double-array column;
    * every other column is dropped. */
  private[graft] def abttApplyFrame(df: DataFrame, model: AbttModel): DataFrame =
    abttProjectCentered(
      df.withColumn("xc",
        zip_with(col("ed"), typedlit(model.mean), (x, mm) => x - mm)),
      model.component)

  private val eAbttProject = GQuery(
    "e_abtt_project",
    (s, dir) =>
      // projects the calibration's PINNED centered frame — the corpus
      // is scanned by the mean agg + two power iterations only, never a
      // fourth time for the projection pass (the streaming dual's
      // abttApplyFrame re-centers because its vectors are novel)
      abttCalibrateFull(s, dir) match {
        case Some((model, centered)) =>
          abttProjectCentered(centered, model.component)
        case None =>
          prepped(s, dir).limit(0).selectExpr("vec_id",
            "cast(0.0 AS double) AS proj", "cast(0.0 AS double) AS resid_norm")
      },
    Some(s"""$duckPrep,
mm AS (SELECT i, round(avg(ed[i + 1]) + 1e-9, 6) AS m FROM n, range(64) t(i) GROUP BY 1),
ml AS (SELECT list(m ORDER BY i) AS mv FROM mm),
c AS (SELECT vec_id, list_transform(range(64), i -> ed[i + 1] - mv[i + 1]) AS xc FROM n, ml),
v0 AS (SELECT list_transform(range(64), i -> 0.125) AS v),
d1 AS (SELECT vec_id, xc,
         list_aggregate(list_transform(range(64), i -> xc[i + 1] * v[i + 1]), 'sum') AS d
       FROM c, v0),
w1 AS (SELECT i, sum(d * xc[i + 1]) AS w FROM d1, range(64) t(i) GROUP BY 1),
v1 AS (SELECT list(round(w / nrm + 1e-9, 6) ORDER BY i) AS v
       FROM w1, (SELECT sqrt(sum(w * w)) AS nrm FROM w1)),
d2 AS (SELECT vec_id, xc,
         list_aggregate(list_transform(range(64), i -> xc[i + 1] * v[i + 1]), 'sum') AS d
       FROM c, v1),
w2 AS (SELECT i, sum(d * xc[i + 1]) AS w FROM d2, range(64) t(i) GROUP BY 1),
v2 AS (SELECT list(round(w / nrm + 1e-9, 6) ORDER BY i) AS v
       FROM w2, (SELECT sqrt(sum(w * w)) AS nrm FROM w2)),
p AS (SELECT vec_id,
        round(list_aggregate(list_transform(range(64), i -> xc[i + 1] * v[i + 1]), 'sum') + 1e-9, 6) + 0e0 AS proj,
        list_aggregate(list_transform(range(64), i -> xc[i + 1] * xc[i + 1]), 'sum') AS xsq
      FROM c, v2)
SELECT vec_id, proj,
       round(sqrt(greatest(0e0, xsq - proj * proj)) + 1e-9, 6) AS resid_norm
FROM p"""),
    "ABTT post-processing: dominant principal component by 2-step pinned power iteration, per-vector projection + residual norm.")

  // Per-label centroids: posexplode + partial/final hash agg, one shuffle.
  // avg re-associates across partials vs the oracle's sequential sum, so
  // the same +1e-9 pre-round nudge as a2b guards the rounding boundary.
  private val eCentroids = GQuery(
    "e_centroids",
    (s, dir) =>
      prepped(s, dir)
        .select(col("label"), posexplode(col("ed")).as(Seq("pos", "v")))
        .groupBy(col("label"), col("pos").cast("long").as("pos"))
        .agg(round(avg(col("v")) + lit(1e-9), 6).as("centroid"), count(lit(1)).as("cnt")),
    Some(s"""$duckPrep
SELECT label, i AS pos, round(avg(ed[i + 1]) + 1e-9, 6) AS centroid, count(*) AS cnt
FROM n, range(64) t(i) GROUP BY 1, 2"""),
    "Per-label mean vector, one dimension per output row.")

  // Nearest-centroid assignment (the k-means E-step) + confusion matrix
  // against the true labels — the clustering-based curation pattern
  // (assign -> inspect purity -> filter). Centroids are the ROUNDED
  // per-label means (same 6-decimal pin as e_centroids) so both engines
  // classify against bit-identical model vectors; squared-L2 uses one
  // sequential fold per (vector, centroid) — identical order both sides —
  // and is rounded before the argmin with a label tiebreak, so rank
  // boundaries can't flip on 1e-15 noise. Scale shape: the 10x64 centroid
  // table is a broadcast (two tiny aggregations), the corpus is scanned
  // ONCE against it (constant-size nested-loop build side — the e_knn
  // shape), and the confusion matrix is a (label, assigned) partial agg.
  // The same plan is one k-means iteration at any corpus size; iterating
  // re-runs it with the previous assignment as the label.
  /** Per-label centroid model as (c_label, cv array) — the broadcast side
    * of the E-step, the OOD scorer, and anything else that classifies
    * against the label means. ONE implementation so the model vectors are
    * bit-identical wherever they're consumed. */
  private def centroidVectors(s: SparkSession, dir: String): DataFrame =
    // localCheckpoint: consumers reference the model in more than one
    // join subtree (e_centroid_drift uses it as both the assignment
    // model and the drift baseline), and Catalyst cannot share
    // subtrees — the pin makes the model-building corpus scan run once.
    // The pinned frame is one row per label (10 rows of 64 doubles).
    prepped(s, dir)
      .select(col("label").as("c_label"), posexplode(col("ed")).as(Seq("pos", "v")))
      .groupBy(col("c_label"), col("pos"))
      .agg(round(avg(col("v")) + lit(1e-9), 6).as("c"))
      .groupBy(col("c_label"))
      .agg(expr("transform(sort_array(collect_list(struct(pos, c))), x -> x.c)").as("cv"))
      .transform(graft.Checkpoints.pin(_))

  /** Public handle on the E-step centroid model — the streaming IVF
    * ingest ([[graft.streaming.StreamingPipelines.ivfIngestAssign]])
    * calibrates from this, so ingest-time assignment classifies against
    * bit-identical model vectors to the batch e_assign_confusion. */
  def centroidModel(s: SparkSession, dir: String): DataFrame =
    centroidVectors(s, dir)

  /** Nearest-label-centroid assignment (the shared E-step argmin) via
    * the rounded-argmin kernel over the collected bounded model: appends
    * `c_label` (the winning label) and `d2` (its 6dp-rounded distance)
    * to every row of `df`. Round-19 replacement for the historical
    * crossJoin(broadcast(cent)) + (vec_id) window-sort top-1 — the
    * kernel is [[GraftFunctions.pqAssignRounded]] with ONE 64-wide
    * "subspace" whose centroids are the label means in ascending-label
    * order, so the argmin semantics (6dp-rounded distance, smallest
    * label on ties) are bit-identical to the window formulation
    * (PqAssignKernelSpec pins the kernel contract; the <= 16-label
    * bound is the kernel's 4-bit code domain, asserted loudly). The
    * winner's d2 recomputes via the same sequential-fold kernel +
    * `round(..., 6)` the old plan evaluated. Empty model -> empty
    * frame (the old crossJoin-with-empty behavior). */
  private def assignNearestLabelCentroid(df: DataFrame, cent: DataFrame): DataFrame = {
    val rows = cent.select(col("c_label").cast("long"), col("cv")).collect()
      .sortBy(_.getLong(0))
    if (rows.isEmpty)
      df.limit(0)
        .withColumn("c_label", lit(null).cast(cent.schema("c_label").dataType))
        .withColumn("d2", lit(null).cast("double"))
    else {
      require(rows.length <= 16,
        s"assignNearestLabelCentroid: ${rows.length} labels — the kernel packs " +
          "4-bit codes (<= 16 centroids); widen the kernel before adding labels")
      val labels: Seq[Long] = rows.map(_.getLong(0)).toSeq
      val cvs: Seq[Seq[Double]] = rows.map(_.getSeq[Double](1).toSeq).toSeq
      // cast back to the model's own label type (int32 in the fixtures)
      // so the output schema is bit-identical to the window formulation
      val labelType = cent.schema("c_label").dataType
      df.withColumn("__p", GraftFunctions.pqAssignRounded(col("ed"), Seq(cvs)))
        .withColumn("c_label",
          element_at(typedlit(labels), col("__p") + 1).cast(labelType))
        .withColumn("d2", round(GraftFunctions.vecL2Sq(col("ed"),
          element_at(typedlit(cvs), col("__p") + 1)), 6))
        .drop("__p")
    }
  }

  /** Same model, DuckDB side: cent + cvec CTEs over duckPrep's n. */
  private val duckCentroids =
    """cent AS (SELECT label AS c_label, i AS pos, round(avg(ed[i + 1]) + 1e-9, 6) AS c
         FROM n, range(64) t(i) GROUP BY 1, 2),
cvec AS (SELECT c_label, list(c ORDER BY pos) AS cv FROM cent GROUP BY 1)"""

  private val eAssign = GQuery(
    "e_assign_confusion",
    (s, dir) =>
      assignNearestLabelCentroid(prepped(s, dir), centroidVectors(s, dir))
        .groupBy(col("label"), col("c_label").as("assigned"))
        .agg(count(lit(1)).as("n")),
    Some(s"""$duckPrep,
$duckCentroids,
d AS (SELECT vec_id, label, c_label,
             round(list_aggregate(list_transform(range(64),
               i -> (ed[i + 1] - cv[i + 1]) * (ed[i + 1] - cv[i + 1])), 'sum'), 6) AS d2
      FROM n CROSS JOIN cvec),
a AS (SELECT vec_id, label, c_label,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rn
      FROM d)
SELECT label, c_label AS assigned, count(*) AS n FROM a WHERE rn = 1 GROUP BY 1, 2"""),
    "Nearest-centroid assignment (k-means E-step) with label confusion matrix.")

  // Embedding outlier detection: distance to the NEAREST label centroid
  // as an out-of-distribution score, top-20 farthest vectors — the
  // data-quality sweep that surfaces mislabeled / garbage / off-manifold
  // embeddings before they poison retrieval or training. Same broadcast
  // centroid model and rounded-distance argmin as e_assign_confusion
  // (shared centroidVectors/duckCentroids, so scorer and E-step classify
  // against bit-identical vectors); the global top-20 is a TakeOrdered
  // with a vec_id tiebreak on the 6-decimal-rounded distance — no global
  // sort, no float-noise cut line. The trailing rank window runs over 20
  // rows, input-size-independent.
  private val eOodScore = GQuery(
    "e_ood_score",
    (s, dir) => {
      assignNearestLabelCentroid(prepped(s, dir), centroidVectors(s, dir))
        .select(col("vec_id"), col("label"), col("c_label").as("nearest_label"),
          col("d2").as("ood_score"))
        .orderBy(col("ood_score").desc, col("vec_id"))
        .limit(20)
        // rank over the 20 TakeOrdered survivors; pmod(.,1) is the
        // constant-but-not-foldable partition key (the pack-sequences
        // trick) so the bounded frame doesn't trip the global-window
        // warning
        .withColumn("rnk", row_number().over(
          Window.partitionBy(pmod(col("vec_id"), lit(1)))
            .orderBy(col("ood_score").desc, col("vec_id"))))
    },
    Some(s"""$duckPrep,
$duckCentroids,
d AS (SELECT vec_id, label, c_label,
             round(list_aggregate(list_transform(range(64),
               i -> (ed[i + 1] - cv[i + 1]) * (ed[i + 1] - cv[i + 1])), 'sum'), 6) AS d2
      FROM n CROSS JOIN cvec),
near AS (SELECT vec_id, label, c_label, d2,
                row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rn
         FROM d)
SELECT vec_id, label, c_label AS nearest_label, d2 AS ood_score,
       row_number() OVER (ORDER BY d2 DESC, vec_id) AS rnk
FROM near WHERE rn = 1
ORDER BY d2 DESC, vec_id LIMIT 20"""),
    "Top-20 farthest-from-nearest-centroid vectors: OOD / label-noise sweep.")

  // Per-dimension mean/std over the whole corpus — the whitening /
  // normalization QC pass every embedding pipeline runs before indexing
  // (detects dead dimensions, scale drift between model versions).
  // Determinism: each component is scaled to a 1e-6 integer IN the scan
  // (the BM25 pattern), so the per-dimension sums are EXACT integer
  // arithmetic on both engines; mean and std then come from identical
  // double divisions of identical integers — bit-reproducible regardless
  // of partial-aggregation order. Scale shape: posexplode is pure row
  // expansion (no shuffle), then ONE partial-agg shuffle on the 64-value
  // dim key; sum/sumsq fit BIGINT up to ~1e13 rows at |x|<=1. The
  // variance subtraction happens on exact integers divided once, so no
  // catastrophic cancellation beyond what the data itself carries.
  private val eDimStats = GQuery(
    "e_dim_stats",
    (s, dir) =>
      emb(s, dir)
        .select(posexplode(
          expr("transform(embedding, x -> cast(round(cast(x AS double) * 1000000.0 + 1e-9) AS bigint))"))
          .as(Seq("pos", "v")))
        .groupBy(col("pos").cast("long").as("dim"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("s"), sum(expr("v * v")).as("ss"))
        .select(col("dim"), col("n"),
          round(col("s") / col("n") / lit(1e6) + lit(1e-9), 6).as("mean"),
          round(sqrt(greatest(
            col("ss") / col("n") - (col("s") / col("n")) * (col("s") / col("n")),
            lit(0.0d))) / lit(1e6) + lit(1e-9), 6).as("std")),
    Some("""WITH x AS (
  SELECT i AS dim, CAST(round(embedding[i + 1]::DOUBLE * 1000000e0 + 1e-9) AS BIGINT) AS v
  FROM embeddings, range(64) t(i)
),
a AS (SELECT dim, count(*) AS n, CAST(sum(v) AS BIGINT) AS s, CAST(sum(v * v) AS BIGINT) AS ss
      FROM x GROUP BY 1)
SELECT dim, n,
  round(s / n / 1000000e0 + 1e-9, 6) AS mean,
  round(sqrt(greatest(ss / n - (s / n) * (s / n), 0e0)) / 1000000e0 + 1e-9, 6) AS std
FROM a"""),
    "Per-dimension mean/std (whitening QC), exact integer-scaled sums.")

  // ANN quality harness: recall@3 of the IVF index (nprobe=1) against the
  // exact brute-force top-3, per query — the measurement loop you run
  // before trading recall for cost at 100 TB. Reuses the EXACT brute and
  // IVF pipelines (same impls, same oracles), so the metric can never
  // drift from the queries it grades. LEFT join from the exact side keeps
  // zero-hit queries in the report. Scale shape: both inputs end at
  // <=3 rows per query vector; the join and the per-qid count are
  // negligible next to the scans they grade.
  private val eRecallEval = GQuery(
    "e_recall_eval",
    (s, dir) => {
      val exact3 = eKnnBrute.impl(s, dir).filter(col("rnk") <= 3)
        .select(col("qid"), col("vec_id"))
      val ivf3 = eKnnIvf.impl(s, dir)
        .select(col("qid").as("iqid"), col("vec_id").as("ivid"), lit(1).as("hit"))
      exact3.join(ivf3,
          col("qid") === col("iqid") && col("vec_id") === col("ivid"), "left")
        .groupBy(col("qid"))
        .agg(count(col("hit")).as("n_hits"))
        .select(col("qid"), col("n_hits"),
          round(col("n_hits") / lit(3.0d) + lit(1e-9), 6).as("recall"))
    },
    Some(s"""$duckPrep,
q0 AS (SELECT vec_id AS qid, ed AS qe, nrm AS qn FROM n WHERE vec_id < 10),
bp AS (SELECT q0.qid, n.vec_id,
        round(list_aggregate(list_transform(range(64), i -> q0.qe[i + 1] * n.ed[i + 1]), 'sum') / (q0.qn * n.nrm), 6) AS cos_sim
      FROM q0, n WHERE n.vec_id <> q0.qid),
ex AS (SELECT qid, vec_id FROM (
        SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rnk FROM bp)
       WHERE rnk <= 3),
c AS (SELECT vec_id AS cid, ed AS ce, nrm AS cn FROM n WHERE vec_id BETWEEN 10 AND 25),
asg AS (
  SELECT vec_id, ed, nrm, cid AS cell FROM (
    SELECT n.vec_id, n.ed, n.nrm, c.cid,
           row_number() OVER (PARTITION BY n.vec_id ORDER BY
             round(list_aggregate(list_transform(range(64), i -> c.ce[i + 1] * n.ed[i + 1]), 'sum') / (c.cn * n.nrm), 6) DESC, c.cid) AS arn
    FROM n, c)
  WHERE arn = 1),
qi AS (SELECT vec_id AS qid, ed AS qe, nrm AS qn, cell FROM asg WHERE vec_id < 10),
ip AS (SELECT qi.qid, a.vec_id,
        round(list_aggregate(list_transform(range(64), i -> qi.qe[i + 1] * a.ed[i + 1]), 'sum') / (qi.qn * a.nrm), 6) AS cos_sim
      FROM qi JOIN asg a ON qi.cell = a.cell AND a.vec_id <> qi.qid),
iv AS (SELECT qid, vec_id FROM (
        SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rnk FROM ip)
       WHERE rnk <= 3)
SELECT e.qid, count(i.vec_id) AS n_hits,
       round(count(i.vec_id) / 3e0 + 1e-9, 6) AS recall
FROM ex e LEFT JOIN iv i ON i.qid = e.qid AND i.vec_id = e.vec_id
GROUP BY 1"""),
    "Recall@3 of IVF (nprobe=1) vs exact top-3, per query vector.")

  // Cluster-quality report: within-cluster sum of squared distances
  // (inertia, the k-means objective) + mean distance + size per assigned
  // centroid — the convergence/quality metric a clustering-based
  // curation loop watches between iterations. Same broadcast centroid
  // model and rounded-distance argmin as e_assign_confusion (shared
  // centroidVectors/duckCentroids). Determinism: the 6-decimal-rounded
  // distances integer-scale x1e6 into exact long sums (the BM25
  // pattern), so the per-cluster SSE is bit-identical on both engines
  // regardless of summation order; the two emitted floats are single
  // divisions rounded once. Scale shape: one corpus scan against the
  // constant-size broadcast model, then a k-row partial agg.
  private val eInertia = GQuery(
    "e_cluster_inertia",
    (s, dir) => {
      assignNearestLabelCentroid(prepped(s, dir), centroidVectors(s, dir))
        .withColumn("d2i", expr("CAST(round(d2 * 1000000e0) AS BIGINT)"))
        .groupBy(col("c_label").as("cluster"))
        .agg(count(lit(1)).as("n"), sum(col("d2i")).as("ssei"))
        .select(col("cluster"), col("n"),
          round(expr("CAST(ssei AS DOUBLE) / 1000000e0") + lit(1e-9), 4).as("sse"),
          round(expr("CAST(ssei AS DOUBLE) / (n * 1000000e0)") + lit(1e-9), 4).as("mean_d2"))
    },
    Some(s"""$duckPrep,
$duckCentroids,
d AS (SELECT vec_id, c_label,
             round(list_aggregate(list_transform(range(64),
               i -> (ed[i + 1] - cv[i + 1]) * (ed[i + 1] - cv[i + 1])), 'sum'), 6) AS d2
      FROM n CROSS JOIN cvec),
a AS (SELECT vec_id, c_label, CAST(round(d2 * 1000000e0) AS BIGINT) AS d2i,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rn
      FROM d)
SELECT c_label AS cluster, count(*) AS n,
       round(CAST(sum(d2i) AS DOUBLE) / 1000000e0 + 1e-9, 4) AS sse,
       round(CAST(sum(d2i) AS DOUBLE) / (count(*) * 1000000e0) + 1e-9, 4) AS mean_d2
FROM a WHERE rn = 1 GROUP BY 1"""),
    "Per-cluster inertia (SSE), mean distance, and size — the k-means objective report.")

  // One full Lloyd iteration, model out: assign every vector to its
  // nearest label-mean centroid (the shared rounded-distance argmin),
  // then recompute the per-cluster mean per dimension — the M-step whose
  // output is the NEXT iteration's broadcast model. Chained with
  // e_assign_confusion/e_cluster_inertia this is the full k-means loop:
  // each iteration is one corpus scan against a constant broadcast,
  // one (cluster, dim) partial agg, at any corpus size. Means follow
  // the exact e_centroids pattern (same rounding pin), so the emitted
  // model is bit-identical across engines and safe to feed back in.
  /** One Lloyd iteration's NEW model — (cluster, pos, centroid, cnt) —
    * shared by e_kmeans_step (emits it) and e_centroid_drift (compares it
    * to the previous model). One corpus scan against a broadcast
    * constant, one (cluster, dim) partial agg. */
  private def kmeansNewCentroids(s: SparkSession, dir: String): DataFrame = {
    assignNearestLabelCentroid(prepped(s, dir), centroidVectors(s, dir))
      .select(col("c_label").as("cluster"), posexplode(col("ed")).as(Seq("pos", "v")))
      .groupBy(col("cluster"), col("pos").cast("long").as("pos"))
      .agg(round(avg(col("v")) + lit(1e-9), 6).as("centroid"), count(lit(1)).as("cnt"))
  }

  /** Matching DuckDB CTEs (d = rounded distances, a = argmin rank, nc =
    * the new model) over duckPrep's n + duckCentroids' cvec. */
  private val duckKmeansStep =
    """d AS (SELECT vec_id, c_label,
             round(list_aggregate(list_transform(range(64),
               i -> (ed[i + 1] - cv[i + 1]) * (ed[i + 1] - cv[i + 1])), 'sum'), 6) AS d2
      FROM n CROSS JOIN cvec),
a AS (SELECT vec_id, c_label,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rn
      FROM d),
nc AS (SELECT a.c_label AS cluster, i AS pos,
              round(avg(n.ed[i + 1]) + 1e-9, 6) AS centroid, count(*) AS cnt
       FROM a JOIN n USING (vec_id), range(64) t(i)
       WHERE a.rn = 1 GROUP BY 1, 2)"""

  private val eKmeansStep = GQuery(
    "e_kmeans_step",
    (s, dir) => kmeansNewCentroids(s, dir),
    Some(s"""$duckPrep,
$duckCentroids,
$duckKmeansStep
SELECT cluster, pos, centroid, cnt FROM nc"""),
    "One Lloyd iteration: nearest-centroid assignment then recomputed per-cluster means.")

  // Centroid drift: per-cluster L2 distance between the current model and
  // the model after one Lloyd step — THE convergence monitor for the
  // clustering loop behind IVF/semantic-dedup index builds (stop when
  // max drift < tol). Both models carry the shared 6 dp rounding pin, so
  // the per-dimension deltas are exact 1e-6 integers; the sum of squares
  // runs in that integer domain (order-independent, cross-engine exact)
  // and only the final sqrt/scale returns to doubles. Scale: one corpus
  // scan (the Lloyd step) + two tiny model frames joined on (cluster,
  // dim) — the monitor costs nothing beyond the iteration it monitors.
  private val eCentroidDrift = GQuery(
    "e_centroid_drift",
    (s, dir) => {
      val next = kmeansNewCentroids(s, dir)
      val old = centroidVectors(s, dir)
        .select(col("c_label").as("cluster"),
          posexplode(col("cv")).as(Seq("pos", "oldc")))
        .withColumn("pos", col("pos").cast("long"))
      next.join(old, Seq("cluster", "pos"))
        .withColumn("di", expr("CAST(round((centroid - oldc) * 1000000e0, 0) AS BIGINT)"))
        .groupBy(col("cluster"))
        .agg(
          round(sqrt(sum(col("di") * col("di"))) / lit(1000000.0) + lit(1e-9), 6).as("drift"),
          max(col("cnt")).as("n_members"))
    },
    Some(s"""$duckPrep,
$duckCentroids,
$duckKmeansStep,
oc AS (SELECT c_label AS cluster, pos, c AS oldc FROM cent),
dd AS (SELECT cluster, CAST(round((nc.centroid - oc.oldc) * 1000000e0, 0) AS BIGINT) AS di, cnt
       FROM nc JOIN oc USING (cluster, pos))
SELECT cluster, round(sqrt(sum(di * di)) / 1000000.0 + 1e-9, 6) AS drift,
       max(cnt) AS n_members
FROM dd GROUP BY cluster"""),
    "Per-cluster centroid movement after one Lloyd step — the k-means convergence monitor.")

  // Hard-negative mining for contrastive training: for each query vector,
  // the most similar SAME-label neighbor (the positive) and the most
  // similar DIFFERENT-label neighbor (the hard negative), plus the margin
  // between them — the standard triplet-quality signal for embedding
  // curation. Same plan family as the brute kNN baseline: the <=10-row
  // query set broadcasts, the corpus scans ONCE, and the per-(query,
  // same/diff) argmax is a row_number over a rounded score with a vec_id
  // tiebreak (rank cuts can't sit on float noise). The final pivot is a
  // 20-row aggregate. 100 TB: scales exactly like e_knn_brute — the LSH/
  // IVF candidate pruning composes in front unchanged if the corpus scan
  // itself needs cutting.
  private val eHardNegatives = GQuery(
    "e_hard_negatives",
    (s, dir) => {
      val base = prepped(s, dir)
      val q = base.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("label").as("qlbl"),
          col("ed").as("qe"), col("nrm").as("qn"))
      base.join(broadcast(q), col("vec_id") =!= col("qid"))
        .withColumn("cos_sim", cosCol)
        .withColumn("is_pos", (col("label") === col("qlbl")).cast("int"))
        .select(col("qid"), col("vec_id"), col("cos_sim"), col("is_pos"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("qid", "is_pos").orderBy(col("cos_sim").desc, col("vec_id"))))
        .filter(col("rnk") === 1)
        .groupBy(col("qid"))
        .agg(
          max(when(col("is_pos") === 1, col("vec_id"))).as("pos_id"),
          max(when(col("is_pos") === 1, col("cos_sim"))).as("pos_sim"),
          max(when(col("is_pos") === 0, col("vec_id"))).as("neg_id"),
          max(when(col("is_pos") === 0, col("cos_sim"))).as("neg_sim"))
        .filter(col("pos_id").isNotNull && col("neg_id").isNotNull)
        .select(col("qid"), col("pos_id"), col("pos_sim"), col("neg_id"), col("neg_sim"),
          round(col("pos_sim") - col("neg_sim") + lit(1e-9), 6).as("margin"))
    },
    Some(s"""$duckPrep,
q AS (SELECT vec_id AS qid, label AS qlbl, ed AS qe, nrm AS qn FROM n WHERE vec_id < 10),
p AS (SELECT q.qid, n.vec_id,
        round(list_aggregate(list_transform(range(64), i -> q.qe[i + 1] * n.ed[i + 1]), 'sum') / (q.qn * n.nrm), 6) AS cos_sim,
        CASE WHEN n.label = q.qlbl THEN 1 ELSE 0 END AS is_pos
      FROM q, n WHERE n.vec_id <> q.qid),
r AS (SELECT qid, vec_id, cos_sim, is_pos,
        row_number() OVER (PARTITION BY qid, is_pos ORDER BY cos_sim DESC, vec_id) AS rnk
      FROM p),
piv AS (SELECT qid,
          max(CASE WHEN is_pos = 1 THEN vec_id END) AS pos_id,
          max(CASE WHEN is_pos = 1 THEN cos_sim END) AS pos_sim,
          max(CASE WHEN is_pos = 0 THEN vec_id END) AS neg_id,
          max(CASE WHEN is_pos = 0 THEN cos_sim END) AS neg_sim
        FROM r WHERE rnk = 1 GROUP BY qid)
SELECT qid, pos_id, pos_sim, neg_id, neg_sim,
       round(pos_sim - neg_sim + 1e-9, 6) AS margin
FROM piv WHERE pos_id IS NOT NULL AND neg_id IS NOT NULL"""),
    "Triplet mining: nearest same-label and nearest cross-label neighbor per query, with margin.")

  // Threshold calibration for semantic dedup: how many near-dup pairs
  // survive at each candidate cosine cutoff, computed in ONE pass over
  // the SAME LSH-bucketed pair stage as e_neardup_cosine (each pair
  // fans out to the rungs it clears — no per-threshold re-scan). This
  // is the knob-setting query run before committing to a dedup
  // threshold: the count curve shows where the pair mass falls off (an
  // absent rung = zero pairs cleared it, and empty input degrades to an
  // empty frame). Rungs are INTEGER permille cutoffs compared via
  // cos_sim * 1000 — cos_sim is the shared round(.,6) value on both
  // engines, so no boundary row can disagree. 100 TB: the pair stage
  // dominates (bucketed, never all-pairs); the ladder itself is a
  // <=5-row grouped aggregate with partial map-side combine.
  private val eThresholdSweep = GQuery(
    "e_threshold_sweep",
    (s, dir) =>
      neardupPairs(s, dir)
        .select(col("cos_sim"),
          explode(expr("array(400L, 500L, 625L, 750L, 875L)")).as("thr_permille"))
        .filter(col("cos_sim") * 1000.0 >= col("thr_permille"))
        .groupBy(col("thr_permille"))
        .agg(count(lit(1)).as("n_pairs")),
    Some(s"""$duckPrep,
$neardupPairsDuck
SELECT CAST(thr_permille AS BIGINT) AS thr_permille, count(*) AS n_pairs
FROM p, (VALUES (400), (500), (625), (750), (875)) t(thr_permille)
WHERE cos_sim >= 0.4 AND cos_sim * 1000.0 >= thr_permille
GROUP BY 1"""),
    "Pair-count ladder over candidate dedup thresholds (0.400..0.875, permille rungs).")

  val all: Seq[GQuery] =
    Seq(eKnnBrute, eKnnL2, eKnnLsh, eKnnIvf, eKnnIvfMp, eIvfBalance, eKnnIvfPq,
      eKnnIvfPqTrained, eKnnIvfPqIndexed, eKnnIvfPqFiltered,
      eKnnOpqIndexed, eKnnOpqResidual,
      eKnnOpqResIndexed, eKnnHamming, eKnnQuant, eKnnRerank,
      eKnnMatryoshka, eKnnPq, eKnnPqTrained, eKnnOpq, eKnnOpq3, eSpectrumDecay,
      dEmbedDecontaminate, eNeardup, eSemanticDedup, eCentroids, eAssign,
      eAbttProject,
      eDimStats, eRecallEval, eOodScore, eInertia, eKmeansStep, eCentroidDrift,
      eHardNegatives, eThresholdSweep)
}
