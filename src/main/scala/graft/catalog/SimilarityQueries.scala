package graft.catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model.MediaGen
import graft.operators.{Multimodal, Similarity}

/** Similarity search over `embeddings` (exact and approximate top-k,
  * recall of the ANN tiers) and the multimodal binary-column queries
  * over generated images and videos. */
object SimilarityQueries extends Queries {

  private val queryIds = Seq(0L, 1L, 2L, 3L, 4L)

  /** Per-query recall@5 of an ANN result against exact brute force:
    * left-join brute's top-5 to the ANN top-5 on (qid, vid) and count
    * hits, so a query with zero overlap still emits recall 0.0. The ANN
    * frame is at most |queries|·k rows — Catalyst broadcasts it. */
  private def annRecall(emb: DataFrame,
      ann: (DataFrame, Seq[Long]) => DataFrame): DataFrame = {
    val hits = ann(emb, queryIds)
      .select(col("qid"), col("vid"), lit(1).as("hit"))
    Similarity.bruteForceTopK(emb, "vec_id", "embedding", queryIds, k = 5)
      .join(hits, Seq("qid", "vid"), "left")
      .groupBy(col("qid"))
      .agg(round(sum(coalesce(col("hit"), lit(0))) / 5.0, 4)
        .as("recall_at_5"))
  }

  val all: Seq[Query] = Seq(
    query("sim_topk_bruteforce", (s, d) => Similarity.bruteForceTopK(
      t(s, d, "embeddings"), "vec_id", "embedding", queryIds = queryIds, k = 5),
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
          q AS (SELECT vec_id AS qid, vec AS qvec FROM v WHERE vec_id < 5),
          scored AS (SELECT qid, vec_id AS vid, ${Sql.cosine("qvec", "vec")} AS sim
            FROM v CROSS JOIN q WHERE vec_id <> qid),
          ranked AS (SELECT qid, vid, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vid ASC) AS rank FROM scored)
          SELECT qid, rank, vid, sim FROM ranked WHERE rank <= 5"""),
    query("sim_norms", (s, d) => {
      // vector norm via the native codegen vec_dot expression
      graft.functions.VectorOps.register(s)
      val v = col("embedding").cast("array<double>")
      t(s, d, "embeddings").select(col("vec_id"), col("label"),
        round(sqrt(graft.functions.VectorOps.dot(v, v)), 4).as("norm"))
    },
      "SELECT vec_id, label, round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 4) AS norm FROM embeddings"),
    query("sim_ann_lsh", (s, d) => // approximate — rows-only check
      Similarity.lshTopK(t(s, d, "embeddings"), "vec_id", "embedding",
        queryIds = queryIds, dim = 64, k = 5, planes = 6)),
    query("sim_ann_ivf", (s, d) => // approximate — rows-only check
      Similarity.ivfTopK(t(s, d, "embeddings"), "vec_id", "embedding",
        queryIds = queryIds, nLists = 16, nProbe = 4, k = 5)),
    query("sim_ann_lsh_recall", (s, d) =>
      // recall@5 of the sign-sketch LSH ANN vs exact brute force — the
      // ANN tier's VALUE check: both sides are deterministic, and the
      // oracle reproduces the splitmix64 hyperplanes and sign bucketing
      // over 6 planes (Sql.signBuckets), the in-bucket exact re-rank and
      // DuckDB's own brute-force top-k, so the recall numbers themselves
      // are hash-compared, not just row shape. Low recall at planes=6
      // over uniform-random embeddings is the honest measurement the
      // sim_ann_lsh scaladoc promises for mid-similarity neighbors — the
      // sketch only guarantees recall near cos ≈ 1.
      annRecall(t(s, d, "embeddings"),
        (emb, qids) => Similarity.lshTopK(emb, "vec_id", "embedding",
          qids, dim = 64, k = 5, planes = 6)),
      s"""WITH ${Sql.signBuckets(6, dropNull = false)},
          q AS (SELECT vec_id AS qid, vec AS qvec, bucket AS qb FROM c WHERE vec_id < 5),
          scored AS (SELECT qid, c.vec_id AS vid, ${Sql.cosine("qvec", "vec")} AS sim
            FROM c JOIN q ON c.bucket = q.qb AND c.vec_id <> q.qid),
          lsh AS (SELECT qid, vid FROM (SELECT qid, vid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vid ASC) AS rank FROM scored) WHERE rank <= 5),
          brute AS (
            SELECT qid, vid FROM (
              SELECT q2.qid, v.vec_id AS vid,
                row_number() OVER (PARTITION BY q2.qid ORDER BY ${Sql.cosine("q2.qvec", "v.vec")} DESC, v.vec_id ASC) AS rank
              FROM v CROSS JOIN (SELECT vec_id AS qid, vec AS qvec FROM v WHERE vec_id < 5) q2
              WHERE v.vec_id <> q2.qid) WHERE rank <= 5)
          SELECT b.qid, round(sum(CASE WHEN l.vid IS NOT NULL THEN 1 ELSE 0 END) / 5.0, 4) AS recall_at_5
          FROM brute b LEFT JOIN lsh l ON b.qid = l.qid AND b.vid = l.vid
          GROUP BY b.qid"""),
    query("sim_ann_ivf_recall", (s, d) =>
      // recall@5 of IVF-flat vs exact brute force. Rows-only by
      // contract (reproducing 8 Lloyd iterations of spherical k-means
      // in SQL is not practical) but the per-query values are pinned
      // exactly in QueriesSpec — deterministic sample, deterministic
      // farthest-point init, deterministic tie-breaks.
      annRecall(t(s, d, "embeddings"),
        (emb, qids) => Similarity.ivfTopK(emb, "vec_id", "embedding",
          qids, nLists = 16, nProbe = 4, k = 5))),

    // ---------------- multimodal binary columns (image/video; real
    // PNG/JPEG via javax.imageio + MPNG video + GIMG/GVID raw raster —
    // the generator emits the full format mix, see codec/Image)
    query("mm_image_features", (s, _) =>
      Multimodal.imageFeatures(MediaGen.images(s, 2000L,
        partitions = s.sparkContext.defaultParallelism)).toDF()),
    query("mm_resize", (s, _) =>
      Multimodal.resize(MediaGen.images(s, 1000L,
        partitions = s.sparkContext.defaultParallelism), 8, 8)
        .toDF().select(col("img_id"), col("width"), col("height"),
          col("channels"), col("format"), length(col("bytes")).as("n_bytes"))),
    query("mm_video_frame_sample", (s, _) =>
      Multimodal.sampleFrames(MediaGen.videos(s, 500L,
        partitions = s.sparkContext.defaultParallelism), everyN = 4)
        .toDF().select(col("video_id"), col("frame_idx"), col("width"),
          col("height"), col("mean_brightness"))))
}
