package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry.t
import graft.ops.{Multimodal, Similarity}

/** Multimodal plumbing from [[graft.ops.Multimodal]]. */
object MultimodalQueries {

  /** The q_multimodal_neardup perceptual-hash planes (1 table × 64
    * planes, dim 64, seed 42 — [[graft.ops.Multimodal.perceptualHash]])
    * as a 2-level DuckDB list literal, Double.toString round-trip. */
  private lazy val phashPlanesSql: String =
    graft.ops.Similarity.hyperplanes(64, 1, 64, 42L)(0)
      .map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_multimodal_meta", (s, dir) => {
      val media = Multimodal.fakeMediaFrame(s, dir)
      Multimodal.withMediaMeta(media, "media_id", col("media_type"),
          col("payload"))
        .orderBy("media_id")
    },
    () =>
      """SELECT doc_id AS media_id,
                CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
                CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
                sha256(text) AS sha256,
                CAST(640 + octet_length(encode(text)) % 1280 AS INTEGER) AS width,
                CAST(360 + octet_length(encode(text)) % 720 AS INTEGER) AS height,
                CAST(1 + octet_length(encode(text)) % 30 AS INTEGER) AS n_frames
         FROM documents ORDER BY media_id"""),
    QuerySpec("q_multimodal_ann", (s, dir) => {
      // media payload -> feature vector -> exact top-k: the full
      // multimodal-to-similarity pipeline on one plan. Restricted to
      // ASCII payloads so the kernel's BYTE histogram stays
      // reproducible by the oracle's character-code SQL (for non-ASCII
      // media there is no SQL equivalent of raw byte access).
      val media = t(s, dir, "documents")
        .where(octet_length(col("text")) === length(col("text")))
        .select(col("doc_id").as("media_id"),
          Multimodal.featureVector(col("text").cast(BinaryType)).as("feat"))
      val queries = media.where(col("media_id") < 5)
        .select(col("media_id").as("qid"), col("feat").as("qvec"))
      Similarity.bruteForceTopK(media, "media_id", "feat",
          queries, "qid", "qvec", k = 3)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("score"), 6).as("score"))
        .orderBy("query_id", "rank")
    },
    () =>
      """WITH codes AS (SELECT doc_id AS media_id,
                               list_transform(range(1, length(text)+1),
                                              i -> unicode(substr(text, CAST(i AS INTEGER), 1)) % 64) AS cs
                        FROM documents
                        WHERE octet_length(encode(text)) = length(text)),
              h AS (SELECT media_id,
                           list_transform(range(0, 64), b -> len(list_filter(cs, c -> c = b))) AS counts
                    FROM codes),
              f AS (SELECT media_id,
                           CASE WHEN list_sum(list_transform(counts, c -> c*c)) > 0
                                THEN list_transform(counts, c -> CAST(c AS DOUBLE)
                                       / sqrt(CAST(list_sum(list_transform(counts, c2 -> c2*c2)) AS DOUBLE)))
                                ELSE list_transform(counts, c -> 0.0) END AS feat
                    FROM h),
              q AS (SELECT media_id AS qid, feat AS qvec FROM f WHERE media_id < 5),
              scored AS (SELECT q.qid, f.media_id AS nid,
                                list_sum(list_transform(range(1, 65), i -> f.feat[i] * q.qvec[i]))
                                / (sqrt(list_sum(list_transform(range(1, 65), i -> f.feat[i] * f.feat[i])))
                                 * sqrt(list_sum(list_transform(range(1, 65), i -> q.qvec[i] * q.qvec[i])))) AS s
                         FROM f, q),
              ranked AS (SELECT qid, nid, s,
                                row_number() OVER (PARTITION BY qid ORDER BY s DESC, nid) AS rn
                         FROM scored WHERE s IS NOT NULL)
         SELECT qid AS query_id, nid AS neighbor_id, CAST(rn AS INTEGER) AS rank,
                round(s, 6) AS score
         FROM ranked WHERE rn <= 3 ORDER BY query_id, rank"""),
    QuerySpec("q_multimodal_neardup", (s, dir) => {
      // PERCEPTUAL-HASH multimodal near-dup (Multimodal
      // .mediaNearDupPairs): payload -> byte-histogram feature ->
      // corpus-mean centering (exact fixed point; load-bearing — raw
      // content histograms all sit at cosine ~1, see the op scaladoc)
      // -> 64-plane Charikar sign signature -> the q_dedup_simhash
      // chunk-bucket hamming machinery. Finds the re-encoded duplicate
      // with zero codec dependency; same ASCII framing as
      // q_multimodal_ann so the byte histogram replays as
      // character-code SQL. Unrelated payloads land ~32/64 bits apart
      // (centered deviations are near-orthogonal), so hamming <= 3
      // isolates the genuine near-dup families.
      val media = t(s, dir, "documents")
        .where(octet_length(col("text")) === length(col("text")))
        .select(col("doc_id").as("media_id"),
          col("text").cast(BinaryType).as("payload"))
      Multimodal.mediaNearDupPairs(media, "media_id", col("payload"),
          maxDistance = 3)
        .select(col("id_a"), col("id_b"), col("hamming"))
        .orderBy("id_a", "id_b")
    },
    // Perceptual-hash multimodal near-dup: the q_multimodal_ann
    // feature replay (character-code byte histogram, ASCII framing) →
    // fixed-point quantize → per-bin corpus mean (exact integer
    // sum // n) → centered deviations → 64 seeded plane-sign bits
    // (exact double literals, ascending fold, > 0.0 — the PlaneSigns
    // kernel's arithmetic) → all-pairs hamming <= 3 in UBIGINT
    // (pigeonhole-equivalent to the Spark chunk join, the
    // q_dedup_simhash precedent).
    () =>
      s"""WITH codes AS (SELECT doc_id AS id,
                           list_transform(range(1, length(text)+1),
                                          i -> unicode(substr(text, CAST(i AS INTEGER), 1)) % 64) AS cs
                    FROM documents
                    WHERE octet_length(encode(text)) = length(text)),
              h AS (SELECT id,
                           list_transform(range(0, 64), b -> len(list_filter(cs, c -> c = b))) AS counts
                    FROM codes),
              f AS (SELECT id,
                           CASE WHEN list_sum(list_transform(counts, c -> c*c)) > 0
                                THEN list_transform(counts, c -> CAST(c AS DOUBLE)
                                       / sqrt(CAST(list_sum(list_transform(counts, c2 -> c2*c2)) AS DOUBLE)))
                                ELSE list_transform(counts, c -> 0.0) END AS feat
                    FROM h),
              qf AS (SELECT id, list_transform(feat, x -> CAST(floor(x * 1048576.0) AS BIGINT)) AS q
                     FROM f),
              mn AS (SELECT i, SUM(q[CAST(i AS INTEGER)]) // count(*) AS m
                     FROM qf, generate_series(1, 64) t(i) GROUP BY i),
              ml AS (SELECT list(m ORDER BY i) AS ms FROM mn),
              cf AS (SELECT id,
                            list_transform(range(1, 65),
                              i -> CAST(q[CAST(i AS INTEGER)] - ms[CAST(i AS INTEGER)] AS DOUBLE)) AS c
                     FROM qf, ml),
              p AS (SELECT $phashPlanesSql AS pl),
              fp AS (SELECT id,
                            CAST(list_sum(list_transform(range(0, 64), j ->
                              CASE WHEN list_sum(list_transform(range(1, 65),
                                     i -> c[CAST(i AS INTEGER)] * pl[CAST(j AS INTEGER) + 1][CAST(i AS INTEGER)])) > 0.0
                                   THEN CAST(1 AS UBIGINT) << CAST(j AS INTEGER)
                                   ELSE CAST(0 AS UBIGINT) END)) AS HUGEINT) AS v
                     FROM cf, p)
         SELECT a.id AS id_a, b.id AS id_b,
                CAST(bit_count(xor(CAST(a.v AS UBIGINT), CAST(b.v AS UBIGINT))) AS INTEGER) AS hamming
         FROM fp a JOIN fp b ON a.id < b.id
         WHERE bit_count(xor(CAST(a.v AS UBIGINT), CAST(b.v AS UBIGINT))) <= 3
         ORDER BY id_a, id_b"""),
    QuerySpec("q_frame_offsets", (s, dir) => {
      val media = Multimodal.fakeMediaFrame(s, dir)
      media.select(col("media_id"),
          posexplode(Multimodal.frameOffsets(col("payload"), 5))
            .as(Seq("pos", "off")))
        .select(col("media_id"), col("pos").cast(IntegerType).as("pos"),
          col("off"))
        .orderBy("media_id", "pos")
    },
    () =>
      """SELECT doc_id AS media_id, CAST(i AS INTEGER) AS pos,
                CAST((i * octet_length(encode(text))) // 5 AS BIGINT) AS off
         FROM documents, generate_series(0, 4) t(i)
         WHERE octet_length(encode(text)) > 0
         ORDER BY media_id, pos""")
  )
}
