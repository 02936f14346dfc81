package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry.t
import graft.ops.{Similarity, TextAnalysis}
import OracleSql.{bm25CtesSql, lshPlanesSql, sqlDot, kmeansPrefixSql, ivfServeCtesSql, ivfSql}

/** Vector search and embedding analytics from [[graft.ops.Similarity]]:
  * brute force, LSH, IVF, PQ, their recall audits and incremental
  * indexes. */
object SimilarityQueries {

  /** Replay of [[Similarity.pcaTopComponents]]: exact fixed-point
    * covariance CTEs (integer product sums, the one shared cast
    * formula), then unrolled power-iteration rounds per component —
    * matvec folds over k ascending, norm folds over j ascending, all
    * 0.0-seeded list_reduce, eigenvalue = final pre-normalization
    * norm, deflation `c - (nrm * v_j) * v_k` — identical operand
    * order to the driver arithmetic. */
  private def pcaSql(dim: Int, comps: Int, rounds: Int,
      scaleBits: Int): String = {
    def d(x: Double) = s"CAST('${x.toString}' AS DOUBLE)"
    val sq = d((1L << scaleBits).toDouble * (1L << scaleBits).toDouble)
    val scale = d((1L << scaleBits).toDouble)
    val init = d(1.0 / math.sqrt(dim.toDouble))
    def fold(expr: String, ord: String) =
      s"list_reduce([CAST(0 AS DOUBLE)] || list($expr ORDER BY $ord), " +
        "(a, b) -> a + b)"
    val base =
      raw"""qv AS (SELECT list_transform(embedding,
           |                x -> CAST(floor(CAST(x AS DOUBLE) * $scale) AS BIGINT)) AS q
           |              FROM embeddings),
           |              nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM qv),
           |              sjv AS MATERIALIZED (
           |                SELECT j, CAST(sum(q[j]) AS BIGINT) AS sj
           |                FROM (SELECT q, unnest(range(1, ${dim + 1})) AS j FROM qv)
           |                GROUP BY j),
           |              sjk AS MATERIALIZED (
           |                SELECT j, k, CAST(sum(q[j] * q[k]) AS BIGINT) AS s
           |                FROM (SELECT q, j, unnest(range(1, ${dim + 1})) AS k
           |                      FROM (SELECT q, unnest(range(1, ${dim + 1})) AS j FROM qv))
           |                GROUP BY j, k),
           |              cov1 AS MATERIALIZED (
           |                SELECT s.j, s.k,
           |                       (CAST(s.s AS DOUBLE) / CAST(n.n AS DOUBLE)
           |                        - (CAST(a.sj AS DOUBLE) / CAST(n.n AS DOUBLE))
           |                          * (CAST(b.sj AS DOUBLE) / CAST(n.n AS DOUBLE))) / $sq AS c
           |                FROM sjk s, nn n, sjv a, sjv b
           |                WHERE a.j = s.j AND b.j = s.k),
           |              tr AS (SELECT ${fold("c", "j")} AS trace
           |                     FROM cov1 WHERE j = k)""".stripMargin
    val comp = (1 to comps).map { c =>
      val v0 =
        s"""c${c}v0 AS (SELECT j, $init AS v
           |                          FROM (SELECT unnest(range(1, ${dim + 1})) AS j))""".stripMargin
      val rs = (1 to rounds).map { r =>
        raw"""c${c}u$r AS MATERIALIZED (
             |                SELECT cv.j AS j,
             |                       ${fold("cv.c * v.v", "cv.k")} AS u
             |                FROM cov$c cv JOIN c${c}v${r - 1} v ON v.j = cv.k
             |                GROUP BY cv.j),
             |              c${c}n$r AS (SELECT sqrt(${fold("u * u", "j")}) AS nrm
             |                           FROM c${c}u$r),
             |              c${c}v$r AS MATERIALIZED (
             |                SELECT j, u / nrm AS v FROM c${c}u$r, c${c}n$r)""".stripMargin
      }.mkString(",\n              ")
      val defl = if (c == comps) "" else
        raw""",
             |              cov${c + 1} AS MATERIALIZED (
             |                SELECT cv.j, cv.k,
             |                       cv.c - ((SELECT nrm FROM c${c}n$rounds) * a.v) * b.v AS c
             |                FROM cov$c cv
             |                JOIN c${c}v$rounds a ON a.j = cv.j
             |                JOIN c${c}v$rounds b ON b.j = cv.k)""".stripMargin
      s"$v0,\n              $rs$defl"
    }.mkString(",\n              ")
    s"$base,\n              $comp"
  }

  /** The q_pca merge-table tail over [[pcaSql]]'s CTEs. */
  private def pcaSelectSql(comps: Int, rounds: Int): String =
    (1 to comps).map { c =>
      s"SELECT $c AS component, CAST(v.j AS INTEGER) AS coord, " +
        s"v.v AS loading, n.nrm AS lambda, n.nrm / t.trace AS share " +
        s"FROM c${c}v$rounds v, c${c}n$rounds n, tr t"
    }.mkString("\n         UNION ALL ") + "\n         ORDER BY component, coord"

  /** Shared body of q_ann_ivfpq / q_ann_ivfpq_residual — identical
    * train/serve/ground-truth pipeline so the two registrations are an
    * exact raw-codes vs residual-codes head-to-head: coarse k=16
    * spherical centroids, m=8/ks=16 PQ codebooks (trained on raw
    * vectors or on [[graft.ops.Similarity.ivfResiduals]]), ADC and
    * shortlist=100+exact-rerank serves at nprobe=8, per-query recall@5
    * vs brute-force ground truth. */
  private def ivfPqRecallQuery(s: SparkSession, dir: String,
      residual: Boolean): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val queries = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val cents = Similarity.trainCentroids(emb, "vec_id", "embedding",
      k = 16, iters = 5, sampleFraction = 0.1)
    val books =
      if (residual)
        Similarity.pqCodebooks(
          Similarity.ivfResiduals(emb, "vec_id", "embedding", cents),
          "vec_id", "resid", dim = 64, m = 8, ks = 16, iters = 5,
          sampleFraction = 0.1)
      else
        Similarity.pqCodebooks(emb, "vec_id", "embedding",
          dim = 64, m = 8, ks = 16, iters = 5, sampleFraction = 0.1)
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "qid", "qvec", k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val adc = Similarity.ivfPqTopKAdc(emb, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5, cents, nprobe = 8, books, residual)
      .select(col("query_id"), col("neighbor_id"))
    val rer = Similarity.ivfPqTopK(emb, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5, cents, nprobe = 8, books,
        shortlist = 100, residual)
      .select(col("query_id"), col("neighbor_id"))
    def hits(approx: DataFrame, name: String) =
      brute.join(broadcast(approx), Seq("query_id", "neighbor_id"),
          "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as(name))
    queries.select(col("qid").as("query_id"))
      .join(broadcast(hits(adc, "n_hits_adc")), Seq("query_id"), "left")
      .join(broadcast(hits(rer, "n_hits")), Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits_adc"), lit(0L)).as("n_hits_adc"),
        (coalesce(col("n_hits_adc"), lit(0L)).cast(DoubleType) / lit(5.0))
          .as("recall_adc"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast(DoubleType) / lit(5.0))
          .as("recall"))
      .orderBy("query_id")
  }

  /** DuckDB replay of [[graft.ops.Similarity.farthestPointSample]]:
    * `k-1` chained greedy rounds over prefix CTE `e` (vec_id, v as
    * DOUBLE lists). Round r scores every non-center against all prior
    * centers with the sequential-fold cosine (max() over center ROWS ==
    * Spark's greatest() over center literals — same double set), takes
    * the (ms ASC, vec_id ASC) top-1, and appends it to the running
    * center set with its selection index and radius. */
  private def fpsCtesSql(k: Int, dim: Int): String = {
    val dot = sqlDot(dim) _
    def cos(a: String, b: String) =
      s"(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})))"
    val head =
      """cen1 AS (SELECT 1 AS sel, vec_id, v, CAST(NULL AS DOUBLE) AS ms
        |         FROM e ORDER BY vec_id LIMIT 1)""".stripMargin
    val rounds = (2 to k).map { r =>
      s"""d$r AS (SELECT e.vec_id, max(${cos("e.v", "c.v")}) AS ms
         |        FROM e, cen${r - 1} c
         |        WHERE e.vec_id NOT IN (SELECT vec_id FROM cen${r - 1})
         |        GROUP BY e.vec_id),
         |s$r AS (SELECT vec_id, ms FROM d$r ORDER BY ms ASC, vec_id LIMIT 1),
         |cen$r AS (SELECT * FROM cen${r - 1} UNION ALL
         |          SELECT $r AS sel, e.vec_id, e.v, s$r.ms
         |          FROM e JOIN s$r USING (vec_id))""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  /** The `m` per-subspace PQ codebook chains + full-corpus encode +
    * codeword-concatenation reconstruction, assuming CTEs `e(vec_id, v)`
    * and `train(vec_id, v)` are ALREADY DEFINED (materialize them —
    * each chain references both ~10×). Emits the per-subspace
    * tr/in/c/en CTEs and `dec(vec_id, dv)`. Shared by the q_ann_pq and
    * q_ann_ivfpq oracles — ONE source of truth for the PQ replay. */
  private def pqChainsSql(m: Int, ks: Int, sub: Int, iters: Int,
      trainCte: String = "train", baseCte: String = "e",
      initCte: String = ""): String = {
    def l2(a: String, b: String): String =
      s"list_sum(list_transform(range(1, ${sub + 1}), ii -> ($a[ii] - $b[ii]) * ($a[ii] - $b[ii])))"
    // initCte: where the ks lowest-id seed vectors come from — the
    // TRAINING corpus (q_ann_incr trains on the history half, so seeds
    // must come from `eh`, not full `e`); empty = baseCte, the
    // original single-corpus text.
    val ic = if (initCte.isEmpty) baseCte else initCte
    val subspaceCtes = (0 until m).map { s =>
      val lo = s * sub + 1
      val hi = (s + 1) * sub
      val chain = (1 to iters).map { i =>
        val prev = s"c${s}_${i - 1}"
        s"""sc${s}_$i AS (SELECT t.vec_id, c.j, ${l2("t.v", "c.c")} AS d
           |       FROM tr$s t, $prev c),
           |as${s}_$i AS (SELECT vec_id, j AS cluster FROM (
           |         SELECT vec_id, j, row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, j) AS rn
           |         FROM sc${s}_$i) WHERE rn = 1),
           |su${s}_$i AS (SELECT a.cluster, p.pos,
           |              SUM(CAST(floor(t.v[p.pos] * 1000000.0 + 0.5) AS BIGINT)) AS sm,
           |              COUNT(*) AS n
           |       FROM tr$s t JOIN as${s}_$i a USING (vec_id), generate_series(1, $sub) p(pos)
           |       GROUP BY a.cluster, p.pos),
           |me${s}_$i AS (SELECT cluster AS j,
           |              list((CAST(sm AS DOUBLE) / CAST(n AS DOUBLE)) / 1000000.0 ORDER BY pos) AS mn
           |       FROM su${s}_$i GROUP BY cluster),
           |c${s}_$i AS MATERIALIZED (SELECT c.j, COALESCE(mn.mn, c.c) AS c
           |       FROM $prev c LEFT JOIN me${s}_$i mn ON mn.j = c.j)""".stripMargin
      }.mkString(",\n")
      s"""tr$s AS MATERIALIZED (SELECT vec_id, v[$lo:$hi] AS v FROM $trainCte),
         |in$s AS (SELECT vec_id, v[$lo:$hi] AS v FROM $ic ORDER BY vec_id LIMIT $ks),
         |c${s}_0 AS MATERIALIZED (SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS j, v AS c FROM in$s),
         |$chain,
         |en$s AS MATERIALIZED (SELECT vec_id, j AS code FROM (
         |       SELECT e.vec_id, c.j,
         |              row_number() OVER (PARTITION BY e.vec_id
         |                                 ORDER BY ${l2(s"(e.v[$lo:$hi])", "c.c")} ASC, c.j) AS rn
         |       FROM $baseCte e, c${s}_$iters c) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val decUnion = (0 until m).map { s =>
      s"SELECT en$s.vec_id, $s AS s, c.c AS cw FROM en$s JOIN c${s}_$iters c ON c.j = en$s.code"
    }.mkString("\n              UNION ALL ")
    s"""$subspaceCtes,
       |     dec AS MATERIALIZED (SELECT vec_id, flatten(list(cw ORDER BY s)) AS dv FROM (
       |              $decUnion)
       |            GROUP BY vec_id)""".stripMargin
  }

  /** q_ann_pq oracle: replay the FULL product-quantization pipeline —
    * `m` independent per-subspace plain-L2 k-means chains (min-distance
    * assignment with first-min tie-break, un-normalized fixed-point
    * means, the [[kmeansPrefixSql]] recipe minus the spherical
    * normalize), full-corpus encode, codeword-concatenation decode,
    * ADC cosine against full-precision queries, the shortlist + exact
    * rerank serve, and brute-force ground truth — then intersect for
    * the two recalls. Every multiply-referenced CTE MATERIALIZED (the
    * q_kcore inlining lesson; the codebook chains are referenced ~3×
    * each). L2 distance folds ascending like [[sqlDot]], matching the
    * kernel's accumulation order exactly. */
  private def pqAnnSql(m: Int, ks: Int, sub: Int, iters: Int, topk: Int,
      shortlist: Int, sampleFraction: Double, seed: Long): String = {
    import graft.ops.Similarity.{SampleMod, SampleMul}
    val keep = (sampleFraction * SampleMod).toLong
    val dim = m * sub
    val dot = sqlDot(dim) _
    def cos(a: String, b: String): String =
      s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"
    s"""WITH e AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |           FROM embeddings),
       |     train AS MATERIALIZED (SELECT vec_id, v FROM e
       |               WHERE ((vec_id % $SampleMod) * $SampleMul + $seed) % $SampleMod < $keep),
       |${pqChainsSql(m, ks, sub, iters)},
       |     q AS MATERIALIZED (SELECT vec_id, v FROM e WHERE vec_id < 10),
       |     adcrk AS MATERIALIZED (SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sc DESC, nid) AS rn
       |              FROM (SELECT q.vec_id AS qid, d.vec_id AS nid, ${cos("d.dv", "q.v")} AS sc
       |                    FROM dec d, q)
       |              WHERE sc IS NOT NULL),
       |     atop AS (SELECT qid, nid FROM adcrk WHERE rn <= $topk),
       |     rerrk AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sc DESC, nid) AS rn
       |               FROM (SELECT s.qid, s.nid, ${cos("e.v", "q.v")} AS sc
       |                     FROM (SELECT qid, nid FROM adcrk WHERE rn <= $shortlist) s
       |                     JOIN e ON e.vec_id = s.nid
       |                     JOIN q ON q.vec_id = s.qid)
       |               WHERE sc IS NOT NULL),
       |     rtop AS (SELECT qid, nid FROM rerrk WHERE rn <= $topk),
       |     btop AS (SELECT qid, nid FROM (
       |                SELECT q.vec_id AS qid, x.vec_id AS nid,
       |                       row_number() OVER (PARTITION BY q.vec_id ORDER BY ${cos("x.v", "q.v")} DESC, x.vec_id) AS rn
       |                FROM e x, q) WHERE rn <= $topk),
       |     ha AS (SELECT b.qid, count(*) AS n FROM btop b
       |            JOIN atop a ON a.qid = b.qid AND a.nid = b.nid GROUP BY b.qid),
       |     hr AS (SELECT b.qid, count(*) AS n FROM btop b
       |            JOIN rtop r ON r.qid = b.qid AND r.nid = b.nid GROUP BY b.qid)
       |SELECT q.vec_id AS query_id,
       |       CAST(COALESCE(ha.n, 0) AS BIGINT) AS n_hits_adc,
       |       CAST(COALESCE(ha.n, 0) AS DOUBLE) / $topk.0 AS recall_adc,
       |       CAST(COALESCE(hr.n, 0) AS BIGINT) AS n_hits,
       |       CAST(COALESCE(hr.n, 0) AS DOUBLE) / $topk.0 AS recall
       |FROM q LEFT JOIN ha ON ha.qid = q.vec_id
       |       LEFT JOIN hr ON hr.qid = q.vec_id
       |ORDER BY query_id""".stripMargin
  }

  /** q_ann_ivfpq oracle: the IVF-PQ COMPOSITION — [[kmeansPrefixSql]]'s
    * coarse train/assign replay (base MATERIALIZED: the PQ chains
    * reference e/train too) + [[pqChainsSql]]'s codebook/encode/
    * reconstruction replay + the probed-list-gated serve: candidates
    * are the casg rows in each query's `nprobe` probed clusters ONLY,
    * ADC-scored against the PQ reconstruction, shortlisted, exact-
    * reranked, and intersected with brute-force ground truth for the
    * two recalls (the q_ann_pq artifact shape). Composes the two
    * already-proven replays; the gating join is the only new piece.
    * With `residual = true` (Jégou 2011's IVF-ADC proper) the PQ
    * chains train on and encode the coarse residuals `re` (e minus the
    * assigned cent$iters row, the exact elementwise subtraction the
    * Spark side does in zip_with), and the serve stage scores against
    * `recon` = dec + assigned centroid instead of dec. */
  private def ivfPqSql(kCoarse: Int, m: Int, ks: Int, sub: Int,
      iters: Int, nprobe: Int, topk: Int, shortlist: Int,
      sampleFraction: Double, seed: Long,
      residual: Boolean = false): String = {
    import graft.ops.Similarity.{SampleMod, SampleMul}
    val keep = (sampleFraction * SampleMod).toLong
    val dim = m * sub
    val dot = sqlDot(dim) _
    def cos(a: String, b: String): String =
      s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"
    val residCtes = if (!residual) "" else
      s"""     nrmv AS MATERIALIZED (SELECT vec_id,
         |            CASE WHEN sqrt(list_sum(list_transform(v, y -> y*y))) > 0
         |                 THEN list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y*y))))
         |                 ELSE v END AS v FROM e),
         |     re AS MATERIALIZED (SELECT n.vec_id,
         |            list_transform(range(1, ${dim + 1}), ii -> n.v[ii] - c.c[ii]) AS v
         |          FROM nrmv n JOIN casg a ON a.vec_id = n.vec_id
         |                 JOIN cent$iters c ON c.j = a.cluster),
         |     rtrain AS MATERIALIZED (SELECT vec_id, v FROM re
         |          WHERE ((vec_id % $SampleMod) * $SampleMul + $seed) % $SampleMod < $keep),
         |""".stripMargin
    val chains =
      if (residual) pqChainsSql(m, ks, sub, iters, "rtrain", "re")
      else pqChainsSql(m, ks, sub, iters)
    val reconCte = if (!residual) "" else
      s""",
         |     recon AS MATERIALIZED (SELECT d.vec_id,
         |            list_transform(range(1, ${dim + 1}), ii -> d.dv[ii] + c.c[ii]) AS dv
         |          FROM dec d JOIN casg a ON a.vec_id = d.vec_id
         |                 JOIN cent$iters c ON c.j = a.cluster)""".stripMargin
    val adcSrc = if (residual) "recon" else "dec"
    s"""WITH ${kmeansPrefixSql(kCoarse, iters, dim, sampleFraction, seed,
            materializeBase = true)},
       |$residCtes${chains}$reconCte,
       |     q AS MATERIALIZED (SELECT vec_id, v FROM e WHERE vec_id < 10),
       |     qprobe AS (SELECT qid, cluster FROM (
       |             SELECT q.vec_id AS qid, c.j AS cluster,
       |                    row_number() OVER (PARTITION BY q.vec_id
       |                                       ORDER BY ${dot("q.v", "c.c")} DESC, c.j) AS rn
       |             FROM q, cent$iters c) WHERE rn <= $nprobe),
       |     cand AS MATERIALIZED (SELECT qp.qid, ca.vec_id AS nid
       |              FROM casg ca JOIN qprobe qp ON ca.cluster = qp.cluster),
       |     adcrk AS MATERIALIZED (SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sc DESC, nid) AS rn
       |              FROM (SELECT cd.qid, cd.nid, ${cos("d.dv", "q.v")} AS sc
       |                    FROM cand cd JOIN $adcSrc d ON d.vec_id = cd.nid
       |                                 JOIN q ON q.vec_id = cd.qid)
       |              WHERE sc IS NOT NULL),
       |     atop AS (SELECT qid, nid FROM adcrk WHERE rn <= $topk),
       |     rerrk AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sc DESC, nid) AS rn
       |               FROM (SELECT sl.qid, sl.nid, ${cos("e.v", "q.v")} AS sc
       |                     FROM (SELECT qid, nid FROM adcrk WHERE rn <= $shortlist) sl
       |                     JOIN e ON e.vec_id = sl.nid
       |                     JOIN q ON q.vec_id = sl.qid)
       |               WHERE sc IS NOT NULL),
       |     rtop AS (SELECT qid, nid FROM rerrk WHERE rn <= $topk),
       |     btop AS (SELECT qid, nid FROM (
       |                SELECT q.vec_id AS qid, x.vec_id AS nid,
       |                       row_number() OVER (PARTITION BY q.vec_id ORDER BY ${cos("x.v", "q.v")} DESC, x.vec_id) AS rn
       |                FROM e x, q) WHERE rn <= $topk),
       |     ha AS (SELECT b.qid, count(*) AS n FROM btop b
       |            JOIN atop a ON a.qid = b.qid AND a.nid = b.nid GROUP BY b.qid),
       |     hr AS (SELECT b.qid, count(*) AS n FROM btop b
       |            JOIN rtop r ON r.qid = b.qid AND r.nid = b.nid GROUP BY b.qid)
       |SELECT q.vec_id AS query_id,
       |       CAST(COALESCE(ha.n, 0) AS BIGINT) AS n_hits_adc,
       |       CAST(COALESCE(ha.n, 0) AS DOUBLE) / $topk.0 AS recall_adc,
       |       CAST(COALESCE(hr.n, 0) AS BIGINT) AS n_hits,
       |       CAST(COALESCE(hr.n, 0) AS DOUBLE) / $topk.0 AS recall
       |FROM q LEFT JOIN ha ON ha.qid = q.vec_id
       |       LEFT JOIN hr ON hr.qid = q.vec_id
       |ORDER BY query_id""".stripMargin
  }

  /** q_ann_incr oracle: an INDEPENDENT FROM-SCRATCH rebuild — train
    * the coarse quantizer and PQ codebooks on the HISTORY half
    * (vec_id % 2 = 0: [[kmeansPrefixSql]] `histWhere` restricts the
    * sample and the init seeds, [[pqChainsSql]] `initCte` likewise),
    * then encode and serve the WHOLE corpus against those artifacts in
    * one shot. It never folds: if the Spark side's incremental append
    * (evens indexed once, odds encoded against the STORED artifacts
    * and unioned — old codes never recomputed) serves identically,
    * the `index(A) ∪ index(B) == index(A ∪ B)` claim is proven
    * end-to-end, the q_dedup_incr independent-recompute form.
    * `from_new` marks neighbors that arrived in the folded snapshot. */
  private def ivfPqIncrSql(kCoarse: Int, m: Int, ks: Int, sub: Int,
      iters: Int, nprobe: Int, topk: Int,
      sampleFraction: Double, seed: Long,
      corpusSelect: String = "", histSelect: String = "",
      flagSql: String = "(nid % 2 = 1) AS from_new"): String = {
    val dim = m * sub
    val dot = sqlDot(dim) _
    def cos(a: String, b: String): String =
      s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"
    s"""WITH ${kmeansPrefixSql(kCoarse, iters, dim, sampleFraction, seed,
            materializeBase = true, histWhere = "vec_id % 2 = 0",
            corpusSelect = corpusSelect, histSelect = histSelect)},
       |${pqChainsSql(m, ks, sub, iters, initCte = "eh")},
       |     q AS MATERIALIZED (SELECT vec_id, v FROM e WHERE vec_id < 10),
       |     qprobe AS (SELECT qid, cluster FROM (
       |             SELECT q.vec_id AS qid, c.j AS cluster,
       |                    row_number() OVER (PARTITION BY q.vec_id
       |                                       ORDER BY ${dot("q.v", "c.c")} DESC, c.j) AS rn
       |             FROM q, cent$iters c) WHERE rn <= $nprobe),
       |     cand AS (SELECT qp.qid, ca.vec_id AS nid
       |              FROM casg ca JOIN qprobe qp ON ca.cluster = qp.cluster),
       |     adcrk AS (SELECT qid, nid, sc, row_number() OVER (PARTITION BY qid ORDER BY sc DESC, nid) AS rn
       |              FROM (SELECT cd.qid, cd.nid, ${cos("d.dv", "q.v")} AS sc
       |                    FROM cand cd JOIN dec d ON d.vec_id = cd.nid
       |                                 JOIN q ON q.vec_id = cd.qid)
       |              WHERE sc IS NOT NULL)
       |SELECT qid AS query_id, nid AS neighbor_id, CAST(rn AS INTEGER) AS rank,
       |       round(sc, 6) AS score, $flagSql
       |FROM adcrk WHERE rn <= $topk ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB replay of [[graft.functions.Quantization]] round-tripped
    * over the corpus CTE `e`: `scale = max|x| / 127`, floor-based
    * half-up rounding clamped to [-127, 127], dequant = code * scale —
    * the kernel's exact arithmetic (small integers are exact doubles,
    * so the unstored byte codes cost nothing). Yields `dq(vec_id, v)`. */
  private val dequantCteSql: String =
    """qz AS (SELECT vec_id,
      |              list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
      |       FROM e),
      |     dq AS (SELECT e.vec_id,
      |              CASE WHEN q.scale > 0.0
      |                   THEN list_transform(e.v, x ->
      |                          greatest(-127.0, least(127.0,
      |                            floor(x / q.scale + 0.5))) * q.scale)
      |                   ELSE list_transform(e.v, x -> 0.0) END AS v
      |            FROM e JOIN qz q ON q.vec_id = e.vec_id)""".stripMargin

  /** q_ann_recall oracle: the IVF serve replay next to a brute-force
    * top-k replay over the same corpus, intersected per query. */
  private def annRecallSql(k: Int, iters: Int, nprobe: Int, topk: Int,
      dim: Int, sampleFraction: Double, seed: Long): String = {
    val dot = sqlDot(dim) _
    s"""WITH ${kmeansPrefixSql(k, iters, dim, sampleFraction, seed)},
       |${ivfServeCtesSql(iters, nprobe, dim)},
       |     itop AS (SELECT qid, nid FROM ranked WHERE rn <= $topk),
       |     bscored AS (SELECT q.vec_id AS qid, x.vec_id AS nid,
       |                        ${dot("x.v", "q.v")}
       |                        / (sqrt(${dot("x.v", "x.v")})
       |                         * sqrt(${dot("q.v", "q.v")})) AS s
       |                 FROM e x, (SELECT vec_id, v FROM e WHERE vec_id < 10) q),
       |     branked AS (SELECT qid, nid,
       |                        row_number() OVER (PARTITION BY qid ORDER BY s DESC, nid) AS rn
       |                 FROM bscored WHERE s IS NOT NULL),
       |     btop AS (SELECT qid, nid FROM branked WHERE rn <= $topk),
       |     hits AS (SELECT b.qid, count(*) AS n_hits
       |              FROM btop b JOIN itop i ON i.qid = b.qid AND i.nid = b.nid
       |              GROUP BY b.qid)
       |SELECT q.vec_id AS query_id,
       |       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       |       CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / $topk.0 AS recall
       |FROM (SELECT vec_id FROM e WHERE vec_id < 10) q
       |LEFT JOIN hits h ON h.qid = q.vec_id
       |ORDER BY query_id""".stripMargin
  }

  /** q_ann_ivf_int8 oracle: float AND int8 IVF serves (same probes,
    * neighbor side dequantized via [[dequantCteSql]]) each intersected
    * with the brute-force top-k per query — the quantization cost as
    * an exact number. */
  private def annRecallInt8Sql(k: Int, iters: Int, nprobe: Int,
      topk: Int, dim: Int, sampleFraction: Double, seed: Long): String = {
    val dot = sqlDot(dim) _
    s"""WITH ${kmeansPrefixSql(k, iters, dim, sampleFraction, seed)},
       |     $dequantCteSql,
       |${ivfServeCtesSql(iters, nprobe, dim)},
       |${ivfServeCtesSql(iters, nprobe, dim, corpusCte = "dq", suffix = "8")},
       |     itop AS (SELECT qid, nid FROM ranked WHERE rn <= $topk),
       |     itop8 AS (SELECT qid, nid FROM ranked8 WHERE rn <= $topk),
       |     bscored AS (SELECT q.vec_id AS qid, x.vec_id AS nid,
       |                        ${dot("x.v", "q.v")}
       |                        / (sqrt(${dot("x.v", "x.v")})
       |                         * sqrt(${dot("q.v", "q.v")})) AS s
       |                 FROM e x, (SELECT vec_id, v FROM e WHERE vec_id < 10) q),
       |     branked AS (SELECT qid, nid,
       |                        row_number() OVER (PARTITION BY qid ORDER BY s DESC, nid) AS rn
       |                 FROM bscored WHERE s IS NOT NULL),
       |     btop AS (SELECT qid, nid FROM branked WHERE rn <= $topk),
       |     hits AS (SELECT b.qid, count(*) AS n
       |              FROM btop b JOIN itop i ON i.qid = b.qid AND i.nid = b.nid
       |              GROUP BY b.qid),
       |     hits8 AS (SELECT b.qid, count(*) AS n
       |               FROM btop b JOIN itop8 i ON i.qid = b.qid AND i.nid = b.nid
       |               GROUP BY b.qid)
       |SELECT q.vec_id AS query_id,
       |       CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hits_f32,
       |       CAST(COALESCE(h.n, 0) AS DOUBLE) / $topk.0 AS recall_f32,
       |       CAST(COALESCE(h8.n, 0) AS BIGINT) AS n_hits_i8,
       |       CAST(COALESCE(h8.n, 0) AS DOUBLE) / $topk.0 AS recall_i8
       |FROM (SELECT vec_id FROM e WHERE vec_id < 10) q
       |LEFT JOIN hits h ON h.qid = q.vec_id
       |LEFT JOIN hits8 h8 ON h8.qid = q.vec_id
       |ORDER BY query_id""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_topk_per_group", (s, dir) => {
      // Per-group top-k WITHOUT a window sort: reuses the ANN path's
      // bounded-heap TypedImperativeAggregate, so every partition keeps
      // at most k (id, score) pairs per group map-side. The window
      // row_number() shape (q_window) sorts whole partitions to keep 3
      // rows each — this keeps O(k) state instead. Contract: top-3
      // customers per nation by (acctbal DESC, custkey ASC) — total
      // order, replayed by the oracle's window exactly.
      Similarity.topKPerKey(
        t(s, dir, "customer")
          .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal")),
        "c_nationkey", "c_custkey", "c_acctbal", k = 3)
        .withColumnRenamed("rank", "rk")
        .orderBy("c_nationkey", "rk")
    },
    () =>
      """SELECT c_nationkey, c_custkey, c_acctbal, rk FROM (
           SELECT c_nationkey, c_custkey, c_acctbal,
                  CAST(row_number() OVER (PARTITION BY c_nationkey
                         ORDER BY c_acctbal DESC, c_custkey) AS INTEGER) AS rk
           FROM customer)
         WHERE rk <= 3 ORDER BY c_nationkey, rk"""),
    QuerySpec("q_pca", (s, dir) => {
      // Deterministic PCA (Similarity.pcaTopComponents): top-2
      // principal directions + eigenvalue share of the embedding
      // corpus — exact fixed-point covariance (2^14 quantization, all
      // sums provably < 2^53), then 8 fixed-order power-iteration
      // rounds with deflation on the driver over the collected 64x64
      // matrix (the fsEmWeights contract); the oracle replays every
      // fold via list_reduce in pinned order.
      Similarity.pcaTopComponents(t(s, dir, "embeddings"), "embedding",
          dim = 64, components = 2, rounds = 8)
        .orderBy("component", "coord")
    },
    // PCA replay: generated covariance + unrolled power rounds.
    () =>
      raw"""WITH ${pcaSql(64, 2, 8, 14)}
         ${pcaSelectSql(2, 8)}"""),
    QuerySpec("q_pca_project", (s, dir) => {
      // Serving side of q_pca (Similarity.pcaFit + pcaProject): every
      // embedding projected onto the two trained components — per-row
      // ascending-coordinate folds, no shuffle; the oracle re-derives
      // means/loadings through the same chain (full-pipeline replay).
      val emb = t(s, dir, "embeddings")
      val (means, comps, _) =
        Similarity.pcaFit(emb, "embedding", dim = 64, components = 2,
          rounds = 8)
      Similarity.pcaProject(emb, "vec_id", "embedding",
          means.toSeq, comps.map(_._1.toSeq))
        .orderBy("vec_id")
    },
    // Projection replay: the SAME trained chain, means/loadings packed
    // into lists, then the identical per-row ascending-coordinate fold
    // (full-pipeline replay, no stamped loadings).
    () =>
      raw"""WITH ${pcaSql(64, 2, 8, 14)},
              ml AS (SELECT list((CAST(s.sj AS DOUBLE) / CAST(n.n AS DOUBLE))
                                   / CAST('16384.0' AS DOUBLE)
                                 ORDER BY s.j) AS m
                     FROM sjv s, nn n),
              vl1 AS (SELECT list(v ORDER BY j) AS v FROM c1v8),
              vl2 AS (SELECT list(v ORDER BY j) AS v FROM c2v8)
         SELECT e.vec_id,
                list_reduce([CAST(0 AS DOUBLE)] || list_transform(range(1, 65),
                  j -> (CAST(e.embedding[j] AS DOUBLE) - m.m[j]) * v1.v[j]),
                  (a, b) -> a + b) AS pc1,
                list_reduce([CAST(0 AS DOUBLE)] || list_transform(range(1, 65),
                  j -> (CAST(e.embedding[j] AS DOUBLE) - m.m[j]) * v2.v[j]),
                  (a, b) -> a + b) AS pc2
         FROM embeddings e, ml m, vl1 v1, vl2 v2
         ORDER BY e.vec_id"""),
    QuerySpec("q_ann_brute", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          queries, "qid", "qvec", k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("score"), 6).as("score"))
        .orderBy("query_id", "rank")
    },
    () =>
      """WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 10),
              scored AS (
                SELECT q.qid, e.vec_id AS nid,
                       list_sum(list_transform(range(1, len(e.embedding)+1),
                                i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qvec[i] AS DOUBLE)))
                       / (sqrt(list_sum(list_transform(range(1, len(e.embedding)+1),
                                        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
                        * sqrt(list_sum(list_transform(range(1, len(q.qvec)+1),
                                        i -> CAST(q.qvec[i] AS DOUBLE) * CAST(q.qvec[i] AS DOUBLE))))) AS s
                FROM embeddings e, q),
              ranked AS (
                SELECT qid, nid, s,
                       row_number() OVER (PARTITION BY qid ORDER BY s DESC, nid) AS rn
                FROM scored WHERE s IS NOT NULL)
         SELECT qid AS query_id, nid AS neighbor_id, CAST(rn AS INTEGER) AS rank,
                round(s, 6) AS score
         FROM ranked WHERE rn <= 5 ORDER BY query_id, rank"""),
    QuerySpec("q_hybrid_retrieval", (s, dir) => {
      // HYBRID retrieval via reciprocal-rank fusion (Similarity
      // .rrfFuse): the q_bm25 lexical ranking and a semantic cosine
      // ranking (doc 0's embedding as the query; embeddings align
      // with doc ids) merged on RANKS alone — the scale-free combiner
      // for rankers whose scores are incomparable. Everything past
      // the two proven rankers is k-sized; the fused score is a
      // fixed-order sum of exact divisions and replays bit-for-bit.
      val lex = TextAnalysis.bm25TopDocs(t(s, dir, "documents"),
          "doc_id", "text", Seq("dup", "merge", "vector"),
          k1 = 1.2, b = 0.75, k = 25)
        .select(col("doc_id"), col("rk").as("rank"))
      val emb = t(s, dir, "embeddings")
      val sem = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          emb.where(col("vec_id") === 0)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          "qid", "qvec", k = 25)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      Similarity.rrfFuse(Seq("lex" -> lex, "sem" -> sem),
          "doc_id", "rank", kRrf = 60, topN = 20)
        .select(col("fused_rank"), col("doc_id"), col("rank_lex"),
          col("rank_sem"), round(col("rrf_score"), 6).as("rrf_score"))
        .orderBy("fused_rank")
    },
    // Hybrid replay: the shared BM25 CTEs + the brute cosine ranking
    // vs doc 0's embedding, full-outer on doc_id, fixed-order RRF sum.
    () =>
      s"""WITH $bm25CtesSql,
              lex AS (SELECT doc_id, CAST(rk AS BIGINT) AS rank_lex
                      FROM r WHERE rk <= 25),
              qv AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
              semsc AS (
                SELECT e.vec_id AS doc_id,
                       list_sum(list_transform(range(1, len(e.embedding)+1),
                                i -> CAST(e.embedding[i] AS DOUBLE) * CAST(qv.qvec[i] AS DOUBLE)))
                       / (sqrt(list_sum(list_transform(range(1, len(e.embedding)+1),
                                        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
                        * sqrt(list_sum(list_transform(range(1, len(qv.qvec)+1),
                                        i -> CAST(qv.qvec[i] AS DOUBLE) * CAST(qv.qvec[i] AS DOUBLE))))) AS s
                FROM embeddings e, qv),
              semr AS (SELECT doc_id,
                              CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS BIGINT) AS rank_sem
                       FROM semsc WHERE s IS NOT NULL),
              sem AS (SELECT doc_id, rank_sem FROM semr WHERE rank_sem <= 25),
              j AS (SELECT coalesce(l.doc_id, m.doc_id) AS doc_id,
                           l.rank_lex, m.rank_sem
                    FROM lex l FULL OUTER JOIN sem m ON m.doc_id = l.doc_id),
              f AS (SELECT doc_id, rank_lex, rank_sem,
                           coalesce(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + CAST(rank_lex AS DOUBLE)), CAST(0.0 AS DOUBLE))
                         + coalesce(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + CAST(rank_sem AS DOUBLE)), CAST(0.0 AS DOUBLE)) AS rrf
                    FROM j),
              fz AS (SELECT doc_id, rank_lex, rank_sem, rrf,
                            CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INTEGER) AS fused_rank
                     FROM f)
         SELECT fused_rank, doc_id, rank_lex, rank_sem,
                round(rrf, 6) AS rrf_score
         FROM fz WHERE fused_rank <= 20 ORDER BY fused_rank"""),
    QuerySpec("q_hard_negatives", (s, dir) => {
      // HARD-NEGATIVE mining (Similarity.hardNegatives): per query,
      // the 5 closest corpus vectors BELOW the corpus's near-dup
      // threshold (0.3 — q_embed_neardup's band) — random negatives
      // teach nothing, near-dups are false negatives; this band is
      // what contrastive training wants. Self-matches fall out with
      // the dup band (cosine 1.0 >= 0.3). Band filtered BEFORE the
      // bounded heap, queries broadcast, one corpus scan, no Window.
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.hardNegatives(emb, "vec_id", "embedding",
          queries, "qid", "qvec", k = 5, maxScore = 0.3)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("score"), 6).as("score"))
        .orderBy("query_id", "rank")
    },
    // Hard-negative replay: the q_ann_brute scorer with the band
    // filter applied before ranking (s in [-1, 0.3)).
    () =>
      """WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 10),
              scored AS (
                SELECT q.qid, e.vec_id AS nid,
                       list_sum(list_transform(range(1, len(e.embedding)+1),
                                i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qvec[i] AS DOUBLE)))
                       / (sqrt(list_sum(list_transform(range(1, len(e.embedding)+1),
                                        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
                        * sqrt(list_sum(list_transform(range(1, len(q.qvec)+1),
                                        i -> CAST(q.qvec[i] AS DOUBLE) * CAST(q.qvec[i] AS DOUBLE))))) AS s
                FROM embeddings e, q),
              ranked AS (
                SELECT qid, nid, s,
                       row_number() OVER (PARTITION BY qid ORDER BY s DESC, nid) AS rn
                FROM scored
                WHERE s IS NOT NULL AND s >= -1.0 AND s < CAST(0.3 AS DOUBLE))
         SELECT qid AS query_id, nid AS neighbor_id, CAST(rn AS INTEGER) AS rank,
                round(s, 6) AS score
         FROM ranked WHERE rn <= 5 ORDER BY query_id, rank"""),
    QuerySpec("q_ann_lsh", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.lshTopK(emb, "vec_id", "embedding", queries, "qid", "qvec",
          k = 5, dim = 64, numTables = 8, planesPerTable = 6)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("score"), 6).as("score"))
        .orderBy("query_id", "rank")
    },
    () =>
      s"""WITH p AS (SELECT $lshPlanesSql AS pl),
              e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
              cb AS (SELECT vec_id, t,
                            CAST(list_sum(list_transform(range(0, 6), j ->
                              CASE WHEN list_sum(list_transform(range(1, 65),
                                     i -> v[i] * pl[CAST(t AS INTEGER) + 1][CAST(j AS INTEGER) + 1][CAST(i AS INTEGER)])) > 0.0
                                   THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS bucket
                     FROM e, generate_series(0, 7) s(t), p),
              qb AS (SELECT vec_id AS qid, t, bucket FROM cb WHERE vec_id < 10),
              cand AS (SELECT DISTINCT cb.vec_id AS nid, qb.qid
                       FROM cb JOIN qb ON cb.t = qb.t AND cb.bucket = qb.bucket),
              scored AS (SELECT cand.qid, cand.nid,
                                list_sum(list_transform(range(1, 65), i -> ev.v[i] * qv.v[i]))
                                / (sqrt(list_sum(list_transform(range(1, 65), i -> ev.v[i] * ev.v[i])))
                                 * sqrt(list_sum(list_transform(range(1, 65), i -> qv.v[i] * qv.v[i])))) AS s
                         FROM cand JOIN e ev ON ev.vec_id = cand.nid
                                   JOIN e qv ON qv.vec_id = cand.qid),
              ranked AS (SELECT qid, nid, s,
                                row_number() OVER (PARTITION BY qid ORDER BY s DESC, nid) AS rn
                         FROM scored WHERE s IS NOT NULL)
         SELECT qid AS query_id, nid AS neighbor_id, CAST(rn AS INTEGER) AS rank,
                round(s, 6) AS score
         FROM ranked WHERE rn <= 5 ORDER BY query_id, rank"""),
    QuerySpec("q_ann_ivf", (s, dir) => {
      // IVF scale path: spherical k-means inverted lists + nprobe
      // probing. Approximate vs brute-force ground truth (recall ~0.9
      // on these near-uniform synthetic embeddings) but fully
      // DETERMINISTIC: the training sample is an id-hash filter and the
      // Lloyd means are exact fixed-point sums, so the DuckDB oracle
      // replays the whole train+serve pipeline bit-for-bit (ivfSql).
      // SimilaritySpec additionally pins exact brute-force equality
      // under full probing and self-match under partial probing.
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      // Train on a seeded 10% sample, cached across the Lloyd
      // iterations — the 100 TB shape (full-corpus k-means training is
      // the documented anti-pattern; centroid quality saturates far
      // below corpus size). Serving still probes the FULL corpus.
      val cents = Similarity.trainCentroids(emb, "vec_id", "embedding",
        k = 16, iters = 5, sampleFraction = 0.1)
      Similarity.ivfTopK(emb, "vec_id", "embedding", queries, "qid", "qvec",
          k = 5, cents, nprobe = 4)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("score"), 6).as("score"))
        .orderBy("query_id", "rank")
    },
    () => ivfSql(k = 16, iters = 5, nprobe = 4, topk = 5,
      dim = 64, sampleFraction = 0.1, seed = 42L)),
    QuerySpec("q_ann_recall", (s, dir) => {
      // ANN self-evaluation: recall@5 of the IVF serving path against
      // the brute-force ground truth, per query — the artifact that
      // tunes the nprobe/k trade. Both pipelines are deterministic
      // (seeded sampled training, fixed-point sums, tie-broken ranks),
      // so "approximate recall" is an EXACT, oracle-able number — the
      // oracle replays BOTH pipelines and intersects. At 100 TB this
      // runs on a held-out query sample; the brute side stays cheap
      // because queries broadcast and the corpus is scanned once.
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val cents = Similarity.trainCentroids(emb, "vec_id", "embedding",
        k = 16, iters = 5, sampleFraction = 0.1)
      val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding",
          queries, "qid", "qvec", k = 5, cents, nprobe = 4)
        .select(col("query_id"), col("neighbor_id"))
      val hits = brute.join(ivf, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
      queries.select(col("qid").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)).cast(DoubleType) / lit(5.0))
            .as("recall"))
        .orderBy("query_id")
    },
    () => annRecallSql(k = 16, iters = 5, nprobe = 4,
      topk = 5, dim = 64, sampleFraction = 0.1, seed = 42L)),
    QuerySpec("q_ann_pq", (s, dir) => {
      // PRODUCT QUANTIZATION serving (Similarity.pqCodebooks/pqTopK/
      // pqTopKReranked): 8 independent per-subspace plain-k-means
      // codebooks (m=8, ks=16) compress each 64-dim vector to EIGHT
      // BYTES of codes — 32x vs fp32 — and serving scores candidates
      // by asymmetric distance (cosine against the reconstruction,
      // query at full precision). The artifact puts the compression
      // cost NEXT TO its cure on one row per query: recall@5 of the
      // raw ADC top-5 (~0.44 mean — 8 bytes is brutal on near-uniform
      // synthetic embeddings) and of the standard shortlist-100 ADC +
      // exact-rerank serve (~0.92) vs brute-force ground truth. All
      // three pipelines deterministic (seeded hash-sampled training,
      // fixed-point means, first-min tie-breaks), so both recalls are
      // EXACT oracle-able numbers — the oracle replays train, encode,
      // ADC, rerank, and ground truth.
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val books = Similarity.pqCodebooks(emb, "vec_id", "embedding",
        dim = 64, m = 8, ks = 16, iters = 5, sampleFraction = 0.1)
      val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val adc = Similarity.pqTopK(emb, "vec_id", "embedding",
          queries, "qid", "qvec", k = 5, books)
        .select(col("query_id"), col("neighbor_id"))
      val rer = Similarity.pqTopKReranked(emb, "vec_id", "embedding",
          queries, "qid", "qvec", k = 5, shortlist = 100, books)
        .select(col("query_id"), col("neighbor_id"))
      def hits(approx: DataFrame, name: String) =
        brute.join(broadcast(approx), Seq("query_id", "neighbor_id"),
            "left_semi")
          .groupBy(col("query_id")).agg(count(lit(1)).as(name))
      queries.select(col("qid").as("query_id"))
        .join(broadcast(hits(adc, "n_hits_adc")), Seq("query_id"), "left")
        .join(broadcast(hits(rer, "n_hits")), Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hits_adc"), lit(0L)).as("n_hits_adc"),
          (coalesce(col("n_hits_adc"), lit(0L)).cast(DoubleType) / lit(5.0))
            .as("recall_adc"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)).cast(DoubleType) / lit(5.0))
            .as("recall"))
        .orderBy("query_id")
    },
    () => pqAnnSql(m = 8, ks = 16, sub = 8, iters = 5, topk = 5,
      shortlist = 100, sampleFraction = 0.1, seed = 42L)),
    QuerySpec("q_ann_ivfpq", (s, dir) => {
      // IVF-PQ COMPOSED SERVING (Similarity.ivfPqTopKAdc/ivfPqTopK) —
      // the production ANN layout at 100 TB: PQ codes INSIDE the IVF
      // inverted lists, so serving scans `~ corpus * nprobe / k` m-byte
      // codes per query and the fp vectors are touched only
      // |queries|*shortlist times at rerank — the only layout that
      // works when neither fp32 vectors nor a flat code table fit.
      // Artifact shape = q_ann_pq's: per query, recall@5 of the probed
      // ADC top-5 and of the shortlist+exact-rerank serve vs
      // brute-force ground truth. Measured nprobe × shortlist recall@5
      // curve on this corpus (m=8/ks=16 codes, coarse k=16 — mean over
      // the 10-query panel, sf0.01): nprobe=4: ADC .36 / rerank sl=50
      // .60, sl=100 .62; nprobe=8: ADC .44 / sl=50 .72, sl=100 .76;
      // nprobe=16 (all lists ≡ q_ann_pq): ADC .44 / sl=50 .80,
      // sl=100 .92. The rerank column is capped by the IVF probe
      // recall (q_ann_recall_tuned's .80 at nprobe=8): sl=100 lands at
      // .76 of that .80 ceiling, so past sl≈100 the PROBES are the
      // binding constraint, not the shortlist — exactly the diagnostic
      // this artifact exists to expose. Serving point: nprobe=8,
      // sl=100 (the knee on both axes).
      ivfPqRecallQuery(s, dir, residual = false)
    },
    () => ivfPqSql(kCoarse = 16, m = 8, ks = 16, sub = 8,
      iters = 5, nprobe = 8, topk = 5, shortlist = 100,
      sampleFraction = 0.1, seed = 42L)),
    QuerySpec("q_ann_ivfpq_residual", (s, dir) => {
      // RESIDUAL-encoded IVF-PQ (Jégou 2011's IVF-ADC proper,
      // Similarity.ivfPqTopKAdc residual=true): codebooks train on the
      // coarse residuals x/|x| − centroid(x), codes quantize them,
      // serving adds the assigned centroid back before ADC — same
      // artifact shape and serving point (nprobe=8, sl=100) as
      // q_ann_ivfpq so the two are an exact head-to-head. Measured
      // nprobe × shortlist recall@5 curve with residual codes (mean
      // over the 10-query panel, sf0.01): nprobe=4: ADC .28 / sl=50
      // .54, sl=100 .64; nprobe=8: ADC .28 / sl=50 .60, sl=100 .72;
      // nprobe=16: ADC .28 / sl=50 .66, sl=100 .84 — BELOW q_ann_ivfpq's
      // raw codes (.44/.72/.76 at nprobe=8) on THIS corpus, and the
      // artifact exists to say why: a unit residual's energy is
      // 2 − 2·cos(x, c), above the unit vector's 1 whenever
      // cos(x, c) < 0.5, and these structureless synthetic embeddings
      // sit at mean assigned-centroid cosine 0.27 (energy ≈ 1.46) — the
      // coarse quantizer explains nothing, so residual coding spends
      // the same 8 bytes on a WIDER distribution. On clustered corpora
      // the inequality flips and residual wins (SimilaritySpec pins
      // that with a controlled clustered corpus) — which of the two
      // layouts to ship is a measured, corpus-dependent choice, and
      // this pair of queries is the measurement.
      ivfPqRecallQuery(s, dir, residual = true)
    },
    () => ivfPqSql(residual = true,
      kCoarse = 16, m = 8, ks = 16, sub = 8,
      iters = 5, nprobe = 8, topk = 5, shortlist = 100,
      sampleFraction = 0.1, seed = 42L)),
    QuerySpec("q_ann_incr", (s, dir) => {
      // INCREMENTAL ANN INDEX MAINTENANCE (Similarity.ivfPqIndex /
      // ivfPqIndexAppend / ivfPqServeAdc) — the ANN member of the
      // persistence trilogy (hllRegisters -> lshDedupIndex ->
      // incrementalClusters): the even-id half stands in for the
      // STORED index (coarse centroids + PQ codebooks trained on it,
      // rows encoded once as (id, cluster, codes)); the odd-id half is
      // tonight's snapshot, encoded against the STORED artifacts and
      // appended — no retrain, old codes never recomputed. Serving is
      // plain ADC from the folded index. Because encoding is a pure
      // per-row function of (vector, artifacts), the fold must equal a
      // from-scratch full-corpus build with the same artifacts — and
      // the oracle IS that from-scratch rebuild (it never sees the
      // fold), the q_dedup_incr independent-recompute form. Whether
      // the stored artifacts still FIT the new snapshot is the
      // separate q_embed_shift gate (reuse-or-retrain).
      val emb = t(s, dir, "embeddings")
      val evens = emb.where(pmod(col("vec_id"), lit(2)) === 0)
      val odds = emb.where(pmod(col("vec_id"), lit(2)) === 1)
      val cents = Similarity.trainCentroids(evens, "vec_id", "embedding",
        k = 16, iters = 5, sampleFraction = 0.1)
      val books = Similarity.pqCodebooks(evens, "vec_id", "embedding",
        dim = 64, m = 8, ks = 16, iters = 5, sampleFraction = 0.1)
      val stored = Similarity.ivfPqIndex(evens, "vec_id", "embedding",
        cents, books)
      val folded = Similarity.ivfPqIndexAppend(stored, odds,
        "vec_id", "embedding", cents, books)
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.ivfPqServeAdc(folded, "vec_id", queries, "qid", "qvec",
          k = 5, cents, nprobe = 8, books)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("score"), 6).as("score"),
          (pmod(col("neighbor_id"), lit(2)) === 1).as("from_new"))
        .orderBy("query_id", "rank")
    },
    () => ivfPqIncrSql(kCoarse = 16, m = 8, ks = 16, sub = 8,
      iters = 5, nprobe = 8, topk = 5, sampleFraction = 0.1, seed = 42L)),
    QuerySpec("q_ann_upsert", (s, dir) => {
      // ANN INDEX UPSERT (Similarity.ivfPqIndexUpsert) — the
      // re-embedding path q_ann_incr's disjoint-id contract excludes:
      // tonight's snapshot carries the odd-id half PLUS re-embedded
      // versions of known history docs (vec_id ≡ 0 mod 10, their
      // vectors deterministically changed — reversed — standing in for
      // an encoder re-run), so the stored code rows for those ids must
      // retire before the append or the index would serve both
      // versions. One anti-join on the arriving id set + the same
      // O(|snapshot|) encode against the STORED artifacts. Because
      // encoding is a pure per-row function of (vector, artifacts),
      // the upserted index EQUALS the from-scratch build over the
      // FINAL vector per id — and the oracle IS that independent
      // rebuild (trains on the ORIGINAL history, encodes the final
      // corpus, never sees the upsert). Queries come from the FINAL
      // corpus, so query 0 probes with its re-embedded vector.
      val emb = t(s, dir, "embeddings")
      val evens = emb.where(pmod(col("vec_id"), lit(2)) === 0)
      val odds = emb.where(pmod(col("vec_id"), lit(2)) === 1)
      val cents = Similarity.trainCentroids(evens, "vec_id", "embedding",
        k = 16, iters = 5, sampleFraction = 0.1)
      val books = Similarity.pqCodebooks(evens, "vec_id", "embedding",
        dim = 64, m = 8, ks = 16, iters = 5, sampleFraction = 0.1)
      val stored = Similarity.ivfPqIndex(evens, "vec_id", "embedding",
        cents, books)
      val snapshot = odds.select(col("vec_id"), col("embedding"))
        .unionByName(evens.where(pmod(col("vec_id"), lit(10)) === 0)
          .select(col("vec_id"), reverse(col("embedding")).as("embedding")))
      val upserted = Similarity.ivfPqIndexUpsert(stored, snapshot,
        "vec_id", "embedding", cents, books)
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"),
          when(pmod(col("vec_id"), lit(10)) === 0,
            reverse(col("embedding"))).otherwise(col("embedding"))
            .as("qvec"))
      Similarity.ivfPqServeAdc(upserted, "vec_id", queries, "qid", "qvec",
          k = 5, cents, nprobe = 8, books)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("score"), 6).as("score"),
          (pmod(col("neighbor_id"), lit(10)) === 0).as("re_embedded"))
        .orderBy("query_id", "rank")
    },
    // Upsert replay: artifacts train on the ORIGINAL even history
    // (histSelect), the encode corpus carries the re-embedded
    // (reversed) vectors for vec_id % 10 = 0 (corpusSelect) — the
    // independent from-scratch rebuild over the FINAL vector per id;
    // it never sees the anti-join + append.
    () => ivfPqIncrSql(kCoarse = 16, m = 8, ks = 16, sub = 8,
      iters = 5, nprobe = 8, topk = 5, sampleFraction = 0.1, seed = 42L,
      corpusSelect = "SELECT vec_id, list_transform(CASE WHEN vec_id % 10 = 0 THEN list_reverse(embedding) ELSE embedding END, x -> CAST(x AS DOUBLE)) AS v\n           FROM embeddings",
      histSelect = "SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings WHERE vec_id % 2 = 0",
      flagSql = "(nid % 10 = 0) AS re_embedded")),
    QuerySpec("q_ann_compact", (s, dir) => {
      // ANN INDEX COMPACTION (Similarity.ivfPqIndexCompact) —
      // q_ann_incr served from the COMPACTED fold: after N nightly
      // appends the stored index fragments (every fold unions another
      // snapshot's files; a probed cluster's codes scatter across all
      // of them), so the artifact is rewritten range-partitioned by
      // cluster, sorted within partitions — the layout the ADC serve
      // actually wants. Compaction is PURE layout (the row set is
      // untouched), so this query's results are byte-identical to
      // q_ann_incr's and the SAME independent from-scratch oracle
      // gates both — that equality, oracle-checked end to end, is the
      // compact(fold(...)) == fold(...) proof at query level
      // (SimilaritySpec pins it row-for-row too).
      val emb = t(s, dir, "embeddings")
      val evens = emb.where(pmod(col("vec_id"), lit(2)) === 0)
      val odds = emb.where(pmod(col("vec_id"), lit(2)) === 1)
      val cents = Similarity.trainCentroids(evens, "vec_id", "embedding",
        k = 16, iters = 5, sampleFraction = 0.1)
      val books = Similarity.pqCodebooks(evens, "vec_id", "embedding",
        dim = 64, m = 8, ks = 16, iters = 5, sampleFraction = 0.1)
      val stored = Similarity.ivfPqIndex(evens, "vec_id", "embedding",
        cents, books)
      val folded = Similarity.ivfPqIndexAppend(stored, odds,
        "vec_id", "embedding", cents, books)
      val compacted = Similarity.ivfPqIndexCompact(folded, "vec_id")
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.ivfPqServeAdc(compacted, "vec_id", queries, "qid", "qvec",
          k = 5, cents, nprobe = 8, books)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("score"), 6).as("score"),
          (pmod(col("neighbor_id"), lit(2)) === 1).as("from_new"))
        .orderBy("query_id", "rank")
    },
    // Compaction is pure layout, so the q_ann_incr oracle gates the
    // compacted serve unchanged — that equality IS the
    // compact(fold()) == fold() proof at query level.
    () => ivfPqIncrSql(kCoarse = 16, m = 8, ks = 16, sub = 8,
      iters = 5, nprobe = 8, topk = 5, sampleFraction = 0.1, seed = 42L)),
    QuerySpec("q_embed_shift", (s, dir) => {
      // EMBEDDING DISTRIBUTION SHIFT (Similarity.embeddingShift):
      // per label, the first-moment drift between the even-id and
      // odd-id halves of the embedding corpus standing in for two
      // snapshots — cos_means ≈ 1 / small l2_means when a group's
      // semantic center held still; the monitor read before reusing
      // ANN indexes or semantic-dedup thresholds trained on the old
      // snapshot. Exact fixed-point per-dimension means (the
      // trainCentroids recipe), fixed ascending folds — replays
      // verbatim.
      val emb = t(s, dir, "embeddings")
      Similarity.embeddingShift(
          emb.where(pmod(col("vec_id"), lit(2)) === 0),
          emb.where(pmod(col("vec_id"), lit(2)) === 1),
          "label", "embedding")
        .orderBy("label")
    },
    // Incremental HLL: ONE splitmix chain over the per-half distinct
    // (event_type, half, user_id) universe, per-half register builds,
    // per-bucket max merge, a single-pass full build (duplicate pairs
    // hash identically, so max absorbs them), the null-safe register
    // diff, and the same pinned fold + estimator on both paths.
    // Embedding-shift replay: the kmeansPrefixSql fixed-point mean
    // recipe per (label, side), list-packed means ordered by pos, the
    // shared dot/cos form, ascending L2 fold.
    () => {
      val dot = sqlDot(64) _
      def cos(a: String, b: String): String =
        s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"
      def side(name: String, par: Int): String =
        s"""x$name AS (SELECT label, p.pos,
           |       SUM(CAST(floor(v[p.pos] * 1000000.0 + 0.5) AS BIGINT)) AS s,
           |       COUNT(*) AS n
           |     FROM e, generate_series(1, 64) p(pos)
           |     WHERE vec_id % 2 = $par GROUP BY 1, 2),
           |m$name AS (SELECT label, CAST(max(n) AS BIGINT) AS n_$name,
           |       list((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / 1000000.0
           |            ORDER BY pos) AS m
           |     FROM x$name GROUP BY label)""".stripMargin
      raw"""WITH e AS MATERIALIZED (SELECT vec_id, label,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                 FROM embeddings),
              ${side("ref", 0)},
              ${side("cur", 1)}
         SELECT mref.label, n_ref, n_cur,
                ${cos("mref.m", "mcur.m")} AS cos_means,
                sqrt(list_sum(list_transform(range(1, 65),
                  ii -> (mref.m[ii] - mcur.m[ii]) * (mref.m[ii] - mcur.m[ii]))))
                  AS l2_means
         FROM mref JOIN mcur USING (label)
         ORDER BY mref.label"""
    }),
    QuerySpec("q_ann_recall_tuned", (s, dir) => {
      // The TUNED serving point the recall artifact exists to pick.
      // Measured curve on this corpus (mean recall@5 over the 10-query
      // panel, k=16 lists): nprobe=4 -> 0.64, 6 -> 0.74, 8 -> 0.80,
      // 12 -> 0.94. These synthetic embeddings are near-uniform (no
      // real cluster structure), so the curve is close to the
      // probed-fraction diagonal — the worst case for IVF; clustered
      // production embeddings sit far above it at the same nprobe.
      // nprobe=8 is the knee-adjacent point that keeps the serve cost
      // at half the lists; q_ann_recall keeps the cheap default (4) so
      // both ends of the trade stay measured. Plan shape is identical
      // (probes are a pushed-down cluster-id semi-filter), only the
      // probed fraction changes.
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val cents = Similarity.trainCentroids(emb, "vec_id", "embedding",
        k = 16, iters = 5, sampleFraction = 0.1)
      val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding",
          queries, "qid", "qvec", k = 5, cents, nprobe = 8)
        .select(col("query_id"), col("neighbor_id"))
      val hits = brute.join(ivf, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
      queries.select(col("qid").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)).cast(DoubleType) / lit(5.0))
            .as("recall"))
        .orderBy("query_id")
    },
    () => annRecallSql(k = 16, iters = 5, nprobe = 8,
      topk = 5, dim = 64, sampleFraction = 0.1, seed = 42L)),
    QuerySpec("q_ann_ivf_int8", (s, dir) => {
      // INT8-quantized IVF serving at the tuned nprobe=8 point, recall
      // vs the same brute-force ground truth NEXT TO float serving —
      // so the 4x candidate-memory/IO cut's accuracy cost is an exact,
      // measured number in the artifact (quantization is floor-based
      // half-up rounding: deterministic, so the oracle replays the
      // whole int8 path bit-for-bit). On this corpus int8 recall
      // matches f32 at every query — dequantization error (<= scale/2
      // per element) is far below the neighbor score gaps.
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val cents = Similarity.trainCentroids(emb, "vec_id", "embedding",
        k = 16, iters = 5, sampleFraction = 0.1)
      val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      def hitsOf(serve: org.apache.spark.sql.DataFrame, name: String) =
        brute.join(serve.select(col("query_id"), col("neighbor_id")),
            Seq("query_id", "neighbor_id"), "left_semi")
          .groupBy(col("query_id")).agg(count(lit(1)).as(name))
      val f32 = Similarity.ivfTopK(emb, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5, cents, nprobe = 8)
      val i8 = Similarity.ivfTopKInt8(emb, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5, cents, nprobe = 8)
      queries.select(col("qid").as("query_id"))
        .join(hitsOf(f32, "h32"), Seq("query_id"), "left")
        .join(hitsOf(i8, "h8"), Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("h32"), lit(0L)).as("n_hits_f32"),
          (coalesce(col("h32"), lit(0L)).cast(DoubleType) / lit(5.0))
            .as("recall_f32"),
          coalesce(col("h8"), lit(0L)).as("n_hits_i8"),
          (coalesce(col("h8"), lit(0L)).cast(DoubleType) / lit(5.0))
            .as("recall_i8"))
        .orderBy("query_id")
    },
    () => annRecallInt8Sql(k = 16, iters = 5, nprobe = 8,
      topk = 5, dim = 64, sampleFraction = 0.1, seed = 42L)),
    QuerySpec("q_quantize", (s, dir) => {
      // int8 scalar quantization digest: scale + code sum + max
      // reconstruction error per vector (scalars, so the oracle can
      // hash-compare; the codes array itself is covered by the spec).
      val q = graft.functions.Quantization.quantize(col("embedding"))
      t(s, dir, "embeddings").select(col("vec_id"),
          q.getField("scale").as("scale"),
          aggregate(transform(q.getField("codes"), c => c.cast(LongType)),
            lit(0L), (acc, x) => acc + x).as("code_sum"),
          array_max(zip_with(col("embedding").cast(ArrayType(DoubleType)),
            q.getField("codes"),
            (x, c) => abs(x - c.cast(DoubleType) * q.getField("scale"))))
            .as("max_abs_err"))
        .orderBy("vec_id")
    },
    () =>
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
              s AS (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale FROM v),
              c AS (SELECT vec_id, scale, e,
                           CASE WHEN scale = 0 THEN list_transform(e, x -> 0)
                                ELSE list_transform(e, x -> CAST(greatest(-127, least(127, floor(x / scale + 0.5))) AS INTEGER))
                           END AS codes
                    FROM s)
         SELECT vec_id, scale,
                CAST(list_sum(codes) AS BIGINT) AS code_sum,
                list_max(list_transform(range(1, len(e)+1),
                                        i -> abs(e[i] - codes[i] * scale))) AS max_abs_err
         FROM c ORDER BY vec_id"""),
    QuerySpec("q_coreset", (s, dir) => {
      // Farthest-point diversity coreset: 8 greedy k-center picks over
      // the embedding corpus — the max-spread seed/eval-set builder
      // (hash samples follow corpus density; this fights it). Output
      // includes the coverage-radius curve `ms` (max cosine to prior
      // centers at pick time). Every pick is argmin of kernel cosines
      // with id tiebreak, so the oracle replays the whole greedy chain
      // bit-for-bit (same sequential-fold dot recipe as the ANN
      // family). k rounds x one narrow scan + map-side top-1; only k
      // rows reach the driver.
      Similarity.farthestPointSample(
        t(s, dir, "embeddings"), "vec_id", "embedding", k = 8)
        .orderBy("sel")
    },
    () =>
      raw"""WITH e AS (SELECT vec_id,
                              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                       FROM embeddings),
               ${fpsCtesSql(8, 64)}
          SELECT sel, vec_id, ms FROM cen8 ORDER BY sel""")
  )
}
