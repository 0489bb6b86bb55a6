package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.llm.{Dedup, Multimodal, Similarity}

/** Embedding and multimodal-payload gates: per-label and per-dimension
  * embedding statistics, embedding drift (batch and streamed), and the
  * multimodal metadata, sampled video frames, frame clusters and audio
  * energy profiles. Integer-exact arithmetic is shared
  * constant-for-constant with the DuckDB SQL.
  */
object EmbeddingQueries {
  import RetrievalQueries.quantDuck

  def gates: Seq[Gate] = Seq(
    Gate("emb_label_stats", (s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("label"), Similarity.quantize(col("embedding")).as("qv"))
        .withColumn("vsum", expr("aggregate(qv, 0L, (a, v) -> a + v)"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"), sum("vsum").as("sum_q")),
      s"""SELECT label, count(*) AS n,
         |  CAST(sum(CAST(list_sum($quantDuck) AS BIGINT)) AS BIGINT) AS sum_q
         |FROM embeddings GROUP BY label""".stripMargin.replace("\n", " ")),

    Gate("multimodal_meta", (s, dir) =>
      Multimodal.metadata(Tables.documents(s, dir), "doc_id", "text"),
      """SELECT doc_id, octet_length(text::BLOB) AS n_bytes,
        |  lower(hex(substr(text, 1, 8)::BLOB)) AS header_hex,
        |  octet_length(text::BLOB) % 640 + 1 AS width,
        |  octet_length(text::BLOB) * 7 % 480 + 1 AS height,
        |  octet_length(text::BLOB) % 30 + 1 AS n_frames,
        |  CASE WHEN octet_length(text::BLOB) % 3 = 0 THEN 'img'
        |       WHEN octet_length(text::BLOB) % 3 = 1 THEN 'audio'
        |       ELSE 'video' END AS media_type
        |FROM documents""".stripMargin.replace("\n", " ")),

    // frame-extraction fan-out: every 5th frame of each "video" payload
    Gate("multimodal_frames", (s, dir) =>
      Multimodal.frameSample(Tables.documents(s, dir), "doc_id", "text", stride = 5),
      // range(0, n, 5) exclusive-end ≡ Spark sequence(0, n-1, 5) inclusive;
      // frame_id fingerprint = first 8 md5 hex chars as a decimal bigint
      // (the established cross-engine conv/CAST '0x' idiom)
      """WITH meta AS (SELECT doc_id, octet_length(text::BLOB) % 30 + 1 AS n_frames
        |  FROM documents WHERE octet_length(text::BLOB) % 3 = 2)
        |SELECT doc_id, n_frames, u.i AS frame_idx,
        |  CAST(concat('0x', substr(md5(concat(doc_id, ':', u.i)), 1, 8)) AS BIGINT) AS frame_id
        |FROM meta, UNNEST(range(0, n_frames, 5)) u(i)""".stripMargin.replace("\n", " ")),

    // audio leg: windowed energy + silence trim over the stub PCM —
    // (doc, n_voiced, first/last voiced window, total energy)
    Gate("multimodal_audio_energy", (s, dir) =>
      Multimodal.audioEnergyProfile(Tables.documents(s, dir), "doc_id", "text"),
      Multimodal.audioEnergySqlDuck()),

    // per-dimension embedding statistics — the feature-drift monitor for
    // an embedding pipeline: explode inflates rows ×Dim but partial
    // aggregation collapses each task to ≤Dim rows before the exchange,
    // so the shuffle carries tasks×Dim rows at any corpus size
    Gate("emb_dim_stats", (s, dir) => {
      val v = Tables.embeddings(s, dir)
        .select(Similarity.quantize(col("embedding")).as("qv"))
      Dedup.widen(v)
        .select(posexplode(col("qv")).as(Seq("dim", "x")))
        .groupBy("dim")
        .agg(count(lit(1)).as("n"), sum("x").as("sum_q"),
          min("x").as("min_q"), max("x").as("max_q"),
          sum(when(col("x") > 0, 1L).otherwise(0L)).as("n_pos"))
    },
      s"""WITH v AS (SELECT ${Similarity.quantizeSqlDuck} AS qv FROM embeddings),
         |e AS (SELECT generate_subscripts(qv, 1) - 1 AS dim, unnest(qv) AS x FROM v)
         |SELECT dim, CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sum_q,
         |  min(x) AS min_q, max(x) AS max_q,
         |  CAST(sum(CASE WHEN x > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
         |FROM e GROUP BY dim""".stripMargin.replace("\n", " ")),

    // Frame near-dup clusters: transitive closure of the phash pair
    // graph; cluster id = representative frame (min-label).
    Gate("multimodal_frame_clusters", (s, dir) =>
      graft.llm.Multimodal.frameDupClusters(
        graft.llm.Multimodal.frameAHash(Tables.documents(s, dir),
          "doc_id", "text", stride = 5), maxHd = 2),
      // the phash-pair CTEs (multimodal_phash_dedup) + recursive closure
      {
        val hash = graft.llm.Multimodal.aHashSqlDuck("text", "u.i", "n_px")
        s"""WITH RECURSIVE meta AS (SELECT doc_id, text, length(text) AS n_px,
           |    length(text) % 30 + 1 AS n_frames
           |  FROM documents WHERE length(text) % 3 = 2),
           |fr AS (SELECT doc_id * 64 + u.i AS fkey, $hash AS phash
           |  FROM meta, UNNEST(range(0, n_frames, 5)) u(i)),
           |bl AS (SELECT fkey, phash, 0 AS ci, phash % 32 AS cv FROM fr
           |  UNION ALL SELECT fkey, phash, 1, (phash // 32) % 32 FROM fr
           |  UNION ALL SELECT fkey, phash, 2, phash // 1024 FROM fr),
           |pr AS (SELECT DISTINCT a.fkey AS frame_a, a.phash AS pa,
           |    b.fkey AS frame_b, b.phash AS pb
           |  FROM bl a JOIN bl b ON a.ci = b.ci AND a.cv = b.cv
           |    AND a.fkey < b.fkey
           |  WHERE a.fkey // 64 <> b.fkey // 64),
           |pp AS (SELECT frame_a, frame_b FROM pr
           |  WHERE bit_count(xor(pa, pb)) <= 2),
           |edges AS (SELECT frame_a AS src, frame_b AS dst FROM pp
           |  UNION ALL SELECT frame_b, frame_a FROM pp),
           |reach(v, r) AS (SELECT src, src FROM edges
           |  UNION SELECT e.src, rc.r FROM edges e JOIN reach rc ON rc.v = e.dst),
           |lab AS (SELECT v, min(r) AS cluster_id FROM reach GROUP BY v)
           |SELECT cluster_id, count(*) AS n_frames FROM lab GROUP BY cluster_id"""
          .stripMargin.replace("\n", " ")
      }),

    // Embedding drift between two snapshots: per label, the exact L1
    // distance of the per-dimension integer centroids — the encoder/
    // distribution drift monitor.
    Gate("embedding_drift", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.centroidDrift(
        emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 === 1), "label")
    },
      driftSqlDuck),

    // The drift panel's register identity in-plan: each snapshot's
    // per-(label, dim) component sums fold across batches (sums and
    // counts ADD), and the merged registers ride the SAME
    // centroidDriftFromSums join the batch panel runs — two vec_id-mod
    // batch legs per snapshot, oracle shared verbatim with
    // embedding_drift.
    Gate("embedding_drift_stream", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      def folded(snapPred: org.apache.spark.sql.Column) = {
        def leg(batchPred: org.apache.spark.sql.Column) =
          Similarity.centroidSums(emb.filter(snapPred && batchPred), "label")
        leg(col("vec_id") % 4 < 2).unionByName(leg(col("vec_id") % 4 >= 2))
          .groupBy("label", "_i")
          .agg(sum("_s").as("_s"), sum("_n").as("_n"))
      }
      Similarity.centroidDriftFromSums(
        folded(col("vec_id") % 2 === 0), folded(col("vec_id") % 2 === 1))
    },
      // the register identity: the batch-folded per-(label, dim) sums
      // must land on the ONE-PASS drift panel — oracle shared verbatim
      driftSqlDuck)
  )

  /** The one-pass centroid-drift oracle — shared verbatim by the batch
    * gate (`embedding_drift`) and the register fold
    * (`embedding_drift_stream`).
    */
  private val driftSqlDuck: String =
    s"""WITH va AS (SELECT CAST(label AS BIGINT) AS label, $quantDuck AS qv
       |  FROM embeddings WHERE vec_id % 2 = 0 AND label IS NOT NULL),
       |vb AS (SELECT CAST(label AS BIGINT) AS label, $quantDuck AS qv
       |  FROM embeddings WHERE vec_id % 2 = 1 AND label IS NOT NULL),
       |ea AS (SELECT label, generate_subscripts(qv, 1) AS i,
       |  unnest(qv) AS qe FROM va),
       |eb AS (SELECT label, generate_subscripts(qv, 1) AS i,
       |  unnest(qv) AS qe FROM vb),
       |sa AS (SELECT label, i, CAST(sum(qe) AS BIGINT) AS s,
       |  CAST(count(*) AS BIGINT) AS n FROM ea GROUP BY 1, 2),
       |sb AS (SELECT label, i, CAST(sum(qe) AS BIGINT) AS s,
       |  CAST(count(*) AS BIGINT) AS n FROM eb GROUP BY 1, 2),
       |j AS (SELECT coalesce(sa.label, sb.label) AS label,
       |    sa.s AS s_a, sa.n AS n_a0, sb.s AS s_b, sb.n AS n_b0
       |  FROM sa FULL OUTER JOIN sb
       |    ON sa.label = sb.label AND sa.i = sb.i)
       |SELECT label, coalesce(max(n_a0), 0) AS n_a,
       |  coalesce(max(n_b0), 0) AS n_b,
       |  CAST(sum(abs(s_a // n_a0 - s_b // n_b0)) AS BIGINT) AS drift_l1
       |FROM j GROUP BY 1""".stripMargin.replace("\n", " ")
}
