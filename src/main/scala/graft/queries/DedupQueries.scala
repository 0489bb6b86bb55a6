package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.llm.{Dedup, Multimodal, Sampling, Similarity}

/** Duplicate and near-duplicate detection over `documents` and
  * `embeddings`: exact, n-gram Jaccard, MinHash/LSH, SimHash, winnowing
  * and paragraph dedup, cluster resolution (incremental and
  * adversarial-diameter), keep-best selection, SemDeDup semantic dedup
  * and perceptual-hash image dedup.
  *
  * Oracles are generated from the same constants as the Spark
  * implementations (MinHash coefficients, LSH plane signs), so both
  * engines compute bit-identical integer signatures. The shingle and LSH
  * CTEs ([[shingleHashCte]], [[lshCtes]], [[lshPairSelect]]) are shared
  * with the curation, maintenance, audit and adversarial gates.
  *
  * `semantic_dedup` gates the Lloyd-REFINED codebook end to end: with
  * `iters` fixed at 2 the refinement has a closed SQL form (each round
  * unrolls to an assign-by-cosine CTE + a per-dimension integer mean,
  * `//` and Spark's `div` both truncating toward zero), so the gate
  * seeds with the hash-sampled codebook ([[Similarity.sampledCentroids]],
  * the closed-form seed) and oracles assignment, both Lloyd rounds, and
  * the within-cell prune. The production default
  * [[Similarity.semanticDedup]] differs only in seeding policy (greedy
  * farthest-point, spec-proven in `DedupSimilaritySpec` incl. parity
  * with the distributed variant); Lloyd and the prune are the SAME code
  * path the oracle gates.
  */
object DedupQueries {
  import CurationQueries.{builtParaDocs, permilleDuck}
  import RetrievalQueries.quantDuck

  /** Shared oracle fragments. */
  private val tokHashDuck = "CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT)"
  /** Token-hash CTE (SimHash input). */
  private val thCte =
    """th AS (SELECT DISTINCT doc_id, tok FROM
      |  (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)),
      |h AS (SELECT doc_id, HASHEXPR AS h FROM th)"""
      .stripMargin.replace("\n", " ").replace("HASHEXPR", tokHashDuck)

  private val shingleCte =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT doc_id, concat_ws(' ', t[i], t[i+1], t[i+2]) AS sh
      |  FROM toks, UNNEST(range(1, len(t)-1)) AS r(i) WHERE len(t) >= 3)"""
      .stripMargin.replace("\n", " ")

  /** Shingle-hash CTE (MinHash input + Jaccard postings key). DISTINCT at
    * the HASH level, mirroring `Dedup.shingleHashPostings`: the engine
    * dedups 8-byte (doc_id, h) rows, not shingle strings, so the exchange
    * moves fixed-width rows and the md5 stays in the parallel map stage.
    */
  private[queries] val shingleHashCte =
    shingleCte +
      ", shh AS (SELECT DISTINCT doc_id, CAST(concat('0x', substr(md5(sh), 1, 8)) AS BIGINT) AS h FROM sh)"

  private val minhashSigSelect: String = {
    val mins = Dedup.MinhashA.zip(Dedup.MinhashB).zipWithIndex.map { case ((a, b), i) =>
      s"min((h*$a + $b) % ${Dedup.MinhashP}) AS mh_$i"
    }.mkString(", ")
    s"SELECT doc_id, $mins FROM h GROUP BY doc_id"
  }

  /** Shared CTE chain + final select of the LSH candidate-pair oracle,
    * split so `dedup_clusters` can build its recursive closure on top of
    * the identical pair graph.
    */
  private[queries] val lshCtes: String = {
    val nBands = Dedup.MinhashA.length / Dedup.BandSize
    val bandSelects = (0 until nBands).map { j =>
      val cols = (0 until Dedup.BandSize).map(k => s"mh_${j * Dedup.BandSize + k}")
      s"SELECT doc_id, $j AS band_idx, concat_ws('_', ${cols.mkString(", ")}) AS band_val FROM sig"
    }.mkString(" UNION ALL ")
    s"$shingleHashCte, h AS (SELECT doc_id, h FROM shh), " +
      s"sig AS ($minhashSigSelect), bands AS ($bandSelects)"
  }

  private[queries] val lshPairSelect: String =
    """SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |FROM bands a JOIN bands b ON a.band_idx = b.band_idx
      |  AND a.band_val = b.band_val AND a.doc_id < b.doc_id"""
      .stripMargin.replace("\n", " ")

  private val MirrorIdOffset = 10000000L // the minted syndicated copy's
  // id offset (far above any fixture doc_id at every SF)

  /** The keep-best gates' shared scored corpus: fixture docs plus a
    * minted 'mirror0' syndicated copy of every doc (id-offset), so
    * every text is a real >=2-copy group decided by source score at
    * every SF.
    */
  private def keepBestCorpus(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"), col("source"))
    base.unionByName(base.select(
        (col("doc_id") + MirrorIdOffset).as("doc_id"), col("text"),
        lit("mirror0").as("source")))
      .withColumn("src_score", Sampling.hashPermille(col("source")))
  }

  def gates: Seq[Gate] = Seq(
    Gate("dedup_exact", (s, dir) =>
      Dedup.exactDuplicates(Tables.documents(s, dir), "doc_id", "text"),
      """SELECT md5(text) AS text_hash, min(doc_id) AS canonical_id, count(*) AS n_dups
        |FROM documents GROUP BY md5(text)""".stripMargin.replace("\n", " ")),

    // maxShingleDocFreq=50: hot-posting guard (the production knob against
    // quadratic blowup on stopword-like shingles), mirrored in the oracle.
    Gate("dedup_ngram_jaccard", (s, dir) =>
      Dedup.jaccardPairs(Tables.documents(s, dir), "doc_id", "text",
        n = 3, thresholdNum = 7, thresholdDen = 10, maxShingleDocFreq = 50),
      s"""WITH $shingleHashCte,
         |kept AS (SELECT doc_id, h FROM shh WHERE h IN
         |  (SELECT h FROM shh GROUP BY h HAVING count(*) <= 50)),
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY doc_id),
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |  FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT doc_a, doc_b, inter, sa.n_sh + sb.n_sh - inter AS uni
         |FROM pairs JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
         |WHERE inter * 10 >= (sa.n_sh + sb.n_sh - inter) * 7""".stripMargin.replace("\n", " ")),

    Gate("dedup_minhash_sig", (s, dir) =>
      Dedup.minhashSignatures(Tables.documents(s, dir), "doc_id", "text"),
      s"WITH $shingleHashCte, h AS (SELECT doc_id, h FROM shh) $minhashSigSelect"),

    Gate("dedup_lsh_pairs", (s, dir) =>
      Dedup.lshCandidatePairs(Tables.documents(s, dir), "doc_id", "text"),
      s"WITH $lshCtes $lshPairSelect"),

    // cluster resolution over the LSH candidate graph: component id =
    // min doc id, so canonical-doc selection is `doc_id = cluster_id`
    Gate("dedup_clusters", (s, dir) =>
      Dedup.connectedComponents(
        Dedup.lshCandidatePairs(Tables.documents(s, dir), "doc_id", "text"),
        "doc_a", "doc_b"),
      // transitive closure of the LSH pair graph: reach(v, r) = r reachable
      // from v; min reachable id per vertex = the component label the Spark
      // side's min-label propagation converges to
      s"""WITH RECURSIVE $lshCtes, prs AS ($lshPairSelect),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM prs
         |  UNION ALL SELECT doc_b, doc_a FROM prs),
         |reach(v, r) AS (SELECT src, src FROM edges
         |  UNION SELECT e.src, rc.r FROM edges e JOIN reach rc ON rc.v = e.dst)
         |SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v"""
        .stripMargin.replace("\n", " ")),

    // adversarial-diameter cluster resolution: 8 path graphs (each
    // residue class of doc_id chained in id order — diameter ~N/8, far
    // past min-label's O(diameter) reach) resolved by the alternating
    // large-star/small-star algorithm in O(log n) rounds
    Gate("dedup_clusters_chain", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), pmod(col("doc_id"), lit(8)).as("g"))
      val w = Window.partitionBy("g").orderBy("doc_id")
      val pairs = docs
        .withColumn("nxt", lead("doc_id", 1).over(w))
        .filter(col("nxt").isNotNull)
        .select(col("doc_id").as("doc_a"), col("nxt").as("doc_b"))
      // left join + coalesce: a residue class holding a single doc yields
      // no chain pair, but the oracle's window-min still emits that doc
      // labeled itself — singleton robustness must not depend on the
      // fixture filling every class
      docs.select("doc_id")
        .join(Dedup.connectedComponentsStars(pairs, "doc_a", "doc_b"),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    },
      // the chain fixture's closed form: every doc in residue class g
      // connects (transitively) to every other, so the component label is
      // the class minimum — no recursion needed in the oracle
      """SELECT doc_id, min(doc_id) OVER (PARTITION BY doc_id % 8) AS cluster_id
        |FROM documents""".stripMargin.replace("\n", " ")),

    Gate("dedup_simhash", (s, dir) =>
      Dedup.simhash16(Tables.documents(s, dir), "doc_id", "text"),
      {
        val sums = (0 until 16).map { j =>
          s"sum(CASE WHEN (h // ${1L << j}) % 2 = 1 THEN 1 ELSE -1 END) AS s_$j"
        }.mkString(", ")
        val sig = (0 until 16).map { j =>
          s"(CASE WHEN s_$j > 0 THEN ${1L << j} ELSE 0 END)"
        }.mkString(" + ")
        s"""WITH $thCte, agg AS (SELECT doc_id, $sums FROM h GROUP BY doc_id)
           |SELECT doc_id, $sig AS simhash16 FROM agg""".stripMargin.replace("\n", " ")
      }),

    // 64-bit/4×16-chunk pair path (replaces the 16-bit variant whose
    // constant 1/32 blocking selectivity went quadratic at scale).
    // maxChunkFreq=50 is the hot-block guard for mass-duplicated
    // template clusters (measured: keeps candidates ~linear in N on the
    // fixture corpus; exact-dup clusters are dedup_exact's job).
    Gate("dedup_simhash64_pairs", (s, dir) =>
      Dedup.simhash64Pairs(Tables.documents(s, dir), "doc_id", "text",
        maxHd = 2, maxChunkFreq = 50),
      {
        // Same construction as Dedup.simhash64Pairs, generated from the same
        // loop bounds: 64 signed bit-sums over two 32-bit md5 words, four
        // 16-bit chunk values, chunk-equality blocking, bit_count rerank.
        val sums = (0 until 64).map { g =>
          val (src, j) = if (g < 32) ("h1", g) else ("h2", g - 32)
          s"sum(CASE WHEN ($src // ${1L << j}) % 2 = 1 THEN 1 ELSE -1 END) AS s_$g"
        }.mkString(", ")
        val chunkExprs = (0 until 4).map { c =>
          (0 until 16).map { j =>
            s"(CASE WHEN s_${c * 16 + j} > 0 THEN ${1L << j} ELSE 0 END)"
          }.mkString(" + ") + s" AS c$c"
        }.mkString(", ")
        val blocks = (0 until 4).map { c =>
          s"SELECT doc_id, c0, c1, c2, c3, $c AS ci, c$c AS cv FROM sig"
        }.mkString(" UNION ALL ")
        val ham = (0 until 4).map(c => s"bit_count(xor(a_c$c, b_c$c))").mkString(" + ")
        s"""WITH th AS (SELECT DISTINCT doc_id, tok FROM
           |  (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)),
           |h AS (SELECT doc_id,
           |  CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS h1,
           |  CAST(concat('0x', substr(md5(tok), 9, 8)) AS BIGINT) AS h2 FROM th),
           |agg AS (SELECT doc_id, $sums FROM h GROUP BY doc_id),
           |sig AS (SELECT doc_id, $chunkExprs FROM agg),
           |blocked0 AS ($blocks),
           |blocked AS (SELECT b.* FROM blocked0 b JOIN
           |  (SELECT ci, cv FROM blocked0 GROUP BY ci, cv HAVING count(*) <= 50) ok
           |  ON b.ci = ok.ci AND b.cv = ok.cv),
           |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |    a.c0 AS a_c0, a.c1 AS a_c1, a.c2 AS a_c2, a.c3 AS a_c3,
           |    b.c0 AS b_c0, b.c1 AS b_c1, b.c2 AS b_c2, b.c3 AS b_c3
           |  FROM blocked a JOIN blocked b
           |    ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id)
           |SELECT doc_a, doc_b, $ham AS hamming
           |FROM cand WHERE $ham <= 2""".stripMargin.replace("\n", " ")
      }),

    Gate("doc_fingerprint", (s, dir) =>
      Dedup.winnowingFingerprints(Tables.documents(s, dir), "doc_id", "text", n = 3, w = 4),
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, i AS pos,
        |    CAST(concat('0x', substr(md5(concat_ws(' ', t[i], t[i+1], t[i+2])), 1, 8)) AS BIGINT) AS h
        |  FROM toks, UNNEST(range(1, len(t)-1)) AS r(i) WHERE len(t) >= 3),
        |win AS (SELECT doc_id, pos,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
        |    max(pos) OVER (PARTITION BY doc_id) AS maxpos FROM sh)
        |SELECT DISTINCT doc_id, fp FROM win WHERE pos <= maxpos - 3""".stripMargin.replace("\n", " ")),

    // Fifth dedup family: embedding-cosine near-dup pairs. The fixture
    // embeddings are uniform random (max pairwise cosine ≈ 0.51), so the
    // gate threshold 0.4 is what yields a non-trivial verified pair set;
    // a production near-dup run would use ~0.9+ on real embeddings.
    Gate("dedup_embedding_cosine", (s, dir) =>
      Similarity.cosineNearDupPairs(Tables.embeddings(s, dir), threshold = 0.4),
      {
        val tables = (0 until Similarity.TablesL).map(t =>
          s"SELECT vec_id, $t AS t, ${Similarity.tableBucketSql("qv", t, spark = false)} AS b FROM n")
          .mkString(" UNION ALL ")
        s"""WITH v AS (SELECT vec_id, $quantDuck AS qv FROM embeddings),
           |n AS (SELECT vec_id, qv, ${Similarity.dotQSqlDuck("qv", "qv")} AS nrm FROM v),
           |tb AS ($tables),
           |cand AS (SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
           |  FROM tb a JOIN tb b ON a.t = b.t AND a.b = b.b AND a.vec_id < b.vec_id),
           |s AS (SELECT doc_a, doc_b,
           |    CAST(${Similarity.dotQSqlDuck("na.qv", "nb.qv")} AS DOUBLE) /
           |      (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))) AS cos_sim
           |  FROM cand JOIN n na ON cand.doc_a = na.vec_id JOIN n nb ON cand.doc_b = nb.vec_id)
           |SELECT doc_a, doc_b, cos_sim FROM s WHERE cos_sim >= 0.4""".stripMargin.replace("\n", " ")
      }),

    // exact-substring dedup signal: fraction of each doc's 8-token
    // windows occurring verbatim in another doc (Lee et al. 2022)
    Gate("dedup_window_profile", (s, dir) =>
      graft.llm.Dedup.windowDupProfile(Tables.documents(s, dir), "doc_id",
        "text", n = 8),
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |w AS (SELECT doc_id, i AS start, array_to_string(t[i:i+7], ' ') AS w
        |  FROM toks, UNNEST(range(1, len(t) - 6)) AS r(i) WHERE len(t) >= 8),
        |wh AS (SELECT doc_id, start,
        |  CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT) AS h FROM w),
        |duph AS (SELECT h FROM wh GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        |tot AS (SELECT doc_id, count(*) AS n_windows FROM wh GROUP BY 1),
        |dup AS (SELECT doc_id, count(*) AS n_dup_windows,
        |    min(start) AS first_dup, max(start) AS last_dup
        |  FROM wh WHERE h IN (SELECT h FROM duph) GROUP BY 1)
        |SELECT t.doc_id, n_windows, coalesce(n_dup_windows, 0) AS n_dup_windows,
        |  first_dup, last_dup,
        |  coalesce(n_dup_windows, 0) * 1000 // n_windows AS dup_permille
        |FROM tot t LEFT JOIN dup d ON t.doc_id = d.doc_id"""
        .stripMargin.replace("\n", " ")),

    // the REMOVE half of exact-substring dedup: docs with the duplicated
    // 8-token-window range cut out (contiguous-range rule)
    Gate("dedup_trim_spans", (s, dir) =>
      graft.llm.Dedup.trimDupSpans(Tables.documents(s, dir), "doc_id",
        "text", n = 8)
        .select("doc_id", "source", "text"),
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |w AS (SELECT doc_id, i AS start, array_to_string(t[i:i+7], ' ') AS w
        |  FROM toks, UNNEST(range(1, len(t) - 6)) AS r(i) WHERE len(t) >= 8),
        |wh AS (SELECT doc_id, start,
        |  CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT) AS h FROM w),
        |duph AS (SELECT h FROM wh GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        |dup AS (SELECT doc_id, min(start) AS first_dup, max(start) AS last_dup
        |  FROM wh WHERE h IN (SELECT h FROM duph) GROUP BY 1),
        |trimmed AS (SELECT d.doc_id, d.source, dup.first_dup,
        |  CASE WHEN first_dup IS NULL THEN d.text
        |    ELSE array_to_string(list_concat(tk.t[1:first_dup - 1],
        |      tk.t[last_dup + 8:]), ' ') END AS text
        |  FROM documents d JOIN toks tk ON d.doc_id = tk.doc_id
        |  LEFT JOIN dup ON d.doc_id = dup.doc_id)
        |SELECT doc_id, source, text FROM trimmed
        |WHERE first_dup IS NULL OR len(text) > 0"""
        .stripMargin.replace("\n", " ")),

    // MAXIMAL duplicated spans with true boundaries (the full Lee et al.
    // 2022 operator — round-16 verdict #3): consecutive duplicated
    // 8-token windows coalesced by gaps-and-islands
    Gate("dedup_max_spans", (s, dir) =>
      graft.llm.Dedup.maxDupSpans(Tables.documents(s, dir), "doc_id",
        "text", n = 8),
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |w AS (SELECT doc_id, i AS start, array_to_string(t[i:i+7], ' ') AS w
        |  FROM toks, UNNEST(range(1, len(t) - 6)) AS r(i) WHERE len(t) >= 8),
        |wh AS (SELECT doc_id, start,
        |  CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT) AS h FROM w),
        |duph AS (SELECT h, count(DISTINCT doc_id) AS nd FROM wh
        |  GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        |dup AS (SELECT wh.doc_id, wh.start, duph.nd
        |  FROM wh JOIN duph ON wh.h = duph.h),
        |isl AS (SELECT doc_id, start, nd,
        |  start - row_number() OVER (PARTITION BY doc_id ORDER BY start) AS island
        |  FROM dup)
        |SELECT doc_id, min(start) AS span_start_tok,
        |  max(start) + 7 AS span_end_tok, min(nd) AS n_copies_ub
        |FROM isl GROUP BY doc_id, island"""
        .stripMargin.replace("\n", " ")),

    // the PRECISE remove half: every maximal span cut exactly, clean
    // text between spans preserved (the contiguous-range rule deletes it)
    Gate("dedup_trim_max_spans", (s, dir) =>
      graft.llm.Dedup.trimMaxSpans(Tables.documents(s, dir), "doc_id",
        "text", n = 8)
        .select("doc_id", "source", "text"),
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |w AS (SELECT doc_id, i AS start, array_to_string(t[i:i+7], ' ') AS w
        |  FROM toks, UNNEST(range(1, len(t) - 6)) AS r(i) WHERE len(t) >= 8),
        |wh AS (SELECT doc_id, start,
        |  CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT) AS h FROM w),
        |duph AS (SELECT h FROM wh GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        |isl AS (SELECT doc_id, start,
        |  start - row_number() OVER (PARTITION BY doc_id ORDER BY start) AS island
        |  FROM wh WHERE h IN (SELECT h FROM duph)),
        |spans AS (SELECT doc_id, min(start) AS s, max(start) + 7 AS e
        |  FROM isl GROUP BY doc_id, island),
        |sd AS (SELECT DISTINCT doc_id FROM spans),
        |tk AS (SELECT toks.doc_id, i AS pos, t[i] AS tok
        |  FROM toks JOIN sd ON toks.doc_id = sd.doc_id,
        |  UNNEST(range(1, len(t) + 1)) u(i)),
        |kept AS (SELECT tk.doc_id, tk.pos, tk.tok FROM tk
        |  WHERE NOT EXISTS (SELECT 1 FROM spans sp
        |    WHERE sp.doc_id = tk.doc_id AND tk.pos BETWEEN sp.s AND sp.e)),
        |trimmed AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, d.source,
        |  CASE WHEN sd.doc_id IS NULL THEN d.text ELSE tr.text END AS text
        |FROM documents d
        |LEFT JOIN sd ON d.doc_id = sd.doc_id
        |LEFT JOIN trimmed tr ON d.doc_id = tr.doc_id
        |WHERE sd.doc_id IS NULL OR (tr.text IS NOT NULL AND length(tr.text) > 0)"""
        .stripMargin.replace("\n", " ")),

    // SemDeDup at 16 cells, 2 Lloyd rounds, cosine >= 0.4 (the fixture's
    // non-trivial threshold — see dedup_embedding_cosine's rationale).
    // Hash-sampled seeds (the closed-form policy) so the ENTIRE pipeline
    // — seeding, both Lloyd rounds, assignment, within-cell prune — is
    // hash-oracled; the farthest-point-seeded production default runs
    // the identical kmeansCentroidsWith/semanticDedupWith path.
    Gate("semantic_dedup", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.semanticDedupWith(emb,
        Similarity.kmeansCentroidsWith(emb,
          Similarity.sampledCentroids(emb, 16), iters = 2),
        threshold = 0.4)
    },
      // the Lloyd-refined SemDeDup gate: hash-sampled seed codebook, then
      // the 2 configured Lloyd rounds UNROLLED — per round, one
      // assign-to-nearest CTE (exact-int cosine, ties by cent_id) and one
      // per-dimension integer mean (DuckDB `//` and Spark `div` both
      // truncate toward zero — verified on negatives; sums stay in int64:
      // |coord| <= 1e5 so even 1e13 rows fit). Cells that lose every
      // vector keep their previous centroid (the coalesce), mirroring
      // kmeansCentroidsWith. The prune CTEs are semantic_dedup_sampled's.
      {
        def cos(dot: String, n1: String, n2: String) =
          s"CAST($dot AS DOUBLE) / (sqrt(CAST($n1 AS DOUBLE)) * sqrt(CAST($n2 AS DOUBLE)))"
        val quantDuck = Similarity.quantizeSqlDuck
        def lloydRound(i: Int, cin: String, cout: String) =
          s"""a$i AS (SELECT vec_id, qv, cell FROM (
             |  SELECT n.vec_id, n.qv, c.cent_id AS cell, row_number() OVER (
             |    PARTITION BY n.vec_id ORDER BY
             |      ${cos(Similarity.dotQSqlDuck("n.qv", "c.centv"), "n.nrm", "c.ncent")} DESC,
             |      c.cent_id) AS rn
             |  FROM n, $cin c) WHERE rn = 1),
             |e$i AS (SELECT cell, i AS pos, CAST(sum(qv[i]) AS BIGINT) AS s,
             |    count(*) AS cnt
             |  FROM a$i, UNNEST(range(1, ${Similarity.Dim + 1})) AS r(i) GROUP BY 1, 2),
             |m$i AS (SELECT cell, list(s // cnt ORDER BY pos) AS centv FROM e$i GROUP BY cell),
             |x$i AS (SELECT p.cent_id, coalesce(m$i.centv, p.centv) AS centv
             |  FROM $cin p LEFT JOIN m$i ON m$i.cell = p.cent_id),
             |$cout AS (SELECT cent_id, centv,
             |  ${Similarity.dotQSqlDuck("centv", "centv")} AS ncent FROM x$i)""".stripMargin
        s"""WITH v AS (SELECT vec_id, $quantDuck AS qv FROM embeddings),
           |n AS (SELECT vec_id, qv, ${Similarity.dotQSqlDuck("qv", "qv")} AS nrm FROM v),
           |c0 AS (SELECT vec_id AS cent_id, qv AS centv, nrm AS ncent FROM
           |  (SELECT vec_id, qv, nrm FROM n ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16)),
           |${lloydRound(1, "c0", "c1")},
           |${lloydRound(2, "c1", "c2")},
           |ca AS (SELECT vec_id, qv, nrm, cell FROM (
           |  SELECT n.vec_id, n.qv, n.nrm, c.cent_id AS cell,
           |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
           |      ${cos(Similarity.dotQSqlDuck("n.qv", "c.centv"), "n.nrm", "c.ncent")} DESC,
           |      c.cent_id) AS crn
           |  FROM n, c2 c) WHERE crn = 1),
           |dropped AS (SELECT DISTINCT b.vec_id FROM ca a JOIN ca b
           |  ON a.cell = b.cell AND a.vec_id < b.vec_id
           |  WHERE ${cos(Similarity.dotQSqlDuck("a.qv", "b.qv"), "a.nrm", "b.nrm")} >= 0.4)
           |SELECT ca.vec_id, ca.cell,
           |  ca.vec_id IN (SELECT vec_id FROM dropped) AS is_dup
           |FROM ca""".stripMargin.replace("\n", " ")
      }),

    // SemDeDup against the hash-sampled codebook (no Lloyd): the variant
    // with a closed SQL form, so the whole prune is hash-oracle-gated —
    // the oracle reuses ann_ivf_topk's centroid/assignment CTEs
    Gate("semantic_dedup_sampled", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.semanticDedupWith(emb,
        graft.util.Materialize.stable(Similarity.sampledCentroids(emb, 16)),
        threshold = 0.4)
    },
      {
        def cos(dot: String, n1: String, n2: String) =
          s"CAST($dot AS DOUBLE) / (sqrt(CAST($n1 AS DOUBLE)) * sqrt(CAST($n2 AS DOUBLE)))"
        val quantDuck = Similarity.quantizeSqlDuck
        s"""WITH v AS (SELECT vec_id, $quantDuck AS qv FROM embeddings),
           |n AS (SELECT vec_id, qv, ${Similarity.dotQSqlDuck("qv", "qv")} AS nrm FROM v),
           |cents AS (SELECT vec_id AS cent_id, qv AS centv, nrm AS ncent FROM
           |  (SELECT vec_id, qv, nrm FROM n ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16)),
           |ca AS (SELECT vec_id, qv, nrm, cent_id AS cell FROM (
           |  SELECT n.vec_id, n.qv, n.nrm, c.cent_id,
           |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
           |      ${cos(Similarity.dotQSqlDuck("n.qv", "c.centv"), "n.nrm", "c.ncent")} DESC,
           |      c.cent_id) AS crn
           |  FROM n, cents c) WHERE crn = 1),
           |dropped AS (SELECT DISTINCT b.vec_id FROM ca a JOIN ca b
           |  ON a.cell = b.cell AND a.vec_id < b.vec_id
           |  WHERE ${cos(Similarity.dotQSqlDuck("a.qv", "b.qv"), "a.nrm", "b.nrm")} >= 0.4)
           |SELECT ca.vec_id, ca.cell,
           |  ca.vec_id IN (SELECT vec_id FROM dropped) AS is_dup
           |FROM ca""".stripMargin.replace("\n", " ")
      }),

    // paragraph-level exact dedup over synthetic 3-paragraph docs (doc
    // s's paragraphs are source texts s..s+2, so neighbors share two
    // paragraphs): keep first occurrence corpus-wide, reassemble
    Gate("dedup_paragraph", (s, dir) =>
      Dedup.paragraphDedup(builtParaDocs(Tables.documents(s, dir)),
        "doc_id", "text"),
      """WITH sh AS (SELECT d.doc_id - s.i AS doc_id, s.i AS para_no, d.text AS para
        |  FROM documents d, (SELECT unnest([0, 1, 2]) AS i) s),
        |built AS (SELECT doc_id,
        |    string_agg(para, chr(10) || chr(10) ORDER BY para_no) AS text
        |  FROM sh WHERE doc_id >= 0 GROUP BY doc_id),
        |paras AS (SELECT doc_id,
        |    generate_subscripts(string_split(text, chr(10) || chr(10)), 1) AS para_no,
        |    unnest(string_split(text, chr(10) || chr(10))) AS para
        |  FROM built),
        |r AS (SELECT doc_id, para_no, para,
        |    row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, para_no) AS rn
        |  FROM paras),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras,
        |    CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |    string_agg(CASE WHEN rn = 1 THEN para END, chr(10) || chr(10)
        |      ORDER BY para_no) AS text_kept
        |  FROM r GROUP BY doc_id)
        |SELECT doc_id, n_paras, n_kept, text_kept FROM agg WHERE n_kept >= 1"""
        .stripMargin.replace("\n", " ")),

    // winnowing blocking (Schleimer et al. 2003): docs sharing >=2
    // selected fingerprints, hot fingerprints (>50 docs) dropped
    Gate("dedup_winnow_pairs", (s, dir) =>
      Dedup.winnowCandidatePairs(Tables.documents(s, dir), "doc_id", "text",
        n = 3, w = 4, minShared = 2L, maxFpDocFreq = 50L),
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, i AS pos,
        |    CAST(concat('0x', substr(md5(concat_ws(' ', t[i], t[i+1], t[i+2])), 1, 8)) AS BIGINT) AS h
        |  FROM toks, UNNEST(range(1, len(t)-1)) AS r(i) WHERE len(t) >= 3),
        |win AS (SELECT doc_id, pos,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
        |    max(pos) OVER (PARTITION BY doc_id) AS maxpos FROM sh),
        |fps AS (SELECT DISTINCT doc_id, fp FROM win WHERE pos <= maxpos - 3),
        |kept AS (SELECT doc_id, fp FROM fps WHERE fp IN
        |  (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 50)),
        |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(count(*) AS BIGINT) AS n_shared
        |  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, n_shared FROM pr WHERE n_shared >= 2"""
        .stripMargin.replace("\n", " ")),

    // MinHash estimator calibration: per LSH candidate pair, the
    // signature-agreement estimate (agree × 125‰ — 8 hash functions, so
    // the estimate is integer-exact) alongside the exact shingle Jaccard
    // — the quality audit a MinHash deployment runs before trusting its
    // bands at scale. Pairs with zero shingle overlap (pure band
    // collisions) are excluded by the inner exact join.
    Gate("dedup_minhash_est", (s, dir) => {
      val docs = Tables.documents(s, dir)
      // ONE shingle-postings scan feeds BOTH legs (the r8 version
      // tokenized the corpus twice — once for the LSH candidates, once
      // for the exact join — and was the suite's heaviest query): the
      // materialized postings derive the MinHash signatures (→ bands →
      // candidates → agreement estimate) and the exact Jaccard join.
      val postings = graft.util.Materialize.stable(
        Dedup.shingleHashPostings(docs, "doc_id", "text", Dedup.MinhashShingleN))
      val sig = graft.util.Materialize.stable(
        Dedup.minhashSignaturesFromShingles(postings))
      val agree = (0 until Dedup.MinhashA.length)
        .map(i => when(col(s"sa.mh_$i") === col(s"sb.mh_$i"), 1L).otherwise(0L))
        .reduce(_ + _)
      val est = graft.util.Materialize.stable(
        Dedup.lshCandidatePairsFromSignatures(sig)
          .join(sig.as("sa"), col("doc_a") === col("sa.doc_id"))
          .join(sig.as("sb"), col("doc_b") === col("sb.doc_id"))
          .select(col("doc_a"), col("doc_b"),
            (agree * lit(1000L / Dedup.MinhashA.length)).as("est_permille")))
      // exact leg CANDIDATE-BOUNDED (Dedup.jaccardForPairs): intersections
      // only for the LSH candidate pairs, never the corpus-wide postings
      // self-join; zero-overlap band collisions drop out of the inner
      // join exactly as before (jaccardForPairs omits inter-0 pairs)
      est.join(
        Dedup.jaccardForPairs(postings, est.select("doc_a", "doc_b")),
        Seq("doc_a", "doc_b"))
    },
      {
        val perHash = 1000 / graft.llm.Dedup.MinhashA.length
        val agreeSum = (0 until graft.llm.Dedup.MinhashA.length)
          .map(i => s"(CASE WHEN a.mh_$i = b.mh_$i THEN $perHash ELSE 0 END)")
          .mkString(" + ")
        s"""WITH ${lshCtes}, prs AS (${lshPairSelect}),
           |sizes AS (SELECT doc_id, count(*) AS n_sh FROM shh GROUP BY doc_id),
           |ip AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
           |  FROM shh a JOIN shh b ON a.h = b.h AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2),
           |ex AS (SELECT ip.doc_a, ip.doc_b,
           |    CAST(ip.inter * 1000 // (sa.n_sh + sb.n_sh - ip.inter) AS BIGINT)
           |      AS jac_permille
           |  FROM ip JOIN sizes sa ON sa.doc_id = ip.doc_a
           |    JOIN sizes sb ON sb.doc_id = ip.doc_b),
           |est AS (SELECT p.doc_a, p.doc_b, CAST($agreeSum AS BIGINT) AS est_permille
           |  FROM prs p JOIN sig a ON a.doc_id = p.doc_a
           |    JOIN sig b ON b.doc_id = p.doc_b)
           |SELECT est.doc_a, est.doc_b, est.est_permille, ex.jac_permille
           |FROM est JOIN ex ON est.doc_a = ex.doc_a AND est.doc_b = ex.doc_b"""
          .stripMargin.replace("\n", " ")
      }),

    // incremental ingest dedup: the "new crawl" (every 2nd doc, re-keyed
    // +100000 so content dups exist across snapshots) admits only docs
    // whose hash is absent from the prior corpus AND first within itself
    Gate("dedup_incremental", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val prior = docs.filter(col("doc_id") % 3 =!= 0)
      val fresh = docs.filter(col("doc_id") % 2 === 0)
        .withColumn("doc_id", col("doc_id") + 100000L)
      Dedup.incrementalDedup(fresh, prior, "doc_id", "text")
    },
      // coalesce mirrors incrementalDedup's NULL-text sentinel
      """WITH prior AS (SELECT DISTINCT coalesce(md5(text), '<null>') AS text_hash
        |    FROM documents WHERE doc_id % 3 <> 0),
        |fresh AS (SELECT doc_id + 100000 AS doc_id,
        |    coalesce(md5(text), '<null>') AS text_hash
        |    FROM documents WHERE doc_id % 2 = 0),
        |nov AS (SELECT f.doc_id, f.text_hash FROM fresh f
        |    LEFT JOIN prior p ON f.text_hash = p.text_hash
        |    WHERE p.text_hash IS NULL),
        |r AS (SELECT doc_id, text_hash,
        |    row_number() OVER (PARTITION BY text_hash ORDER BY doc_id) AS rn
        |  FROM nov)
        |SELECT doc_id, text_hash FROM r WHERE rn = 1"""
        .stripMargin.replace("\n", " ")),

    // keep-best-per-cluster over the LSH near-dup graph: every cluster
    // (singletons included) elects its highest-n_chars member, ties to
    // the smallest id — the FineWeb-style canonical-doc selection
    Gate("dedup_cluster_rep", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val labels = docs.select("doc_id")
        .join(Dedup.connectedComponents(
          Dedup.lshCandidatePairs(docs, "doc_id", "text"), "doc_a", "doc_b"),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      Dedup.clusterRepresentatives(labels, docs, "doc_id", "n_chars")
    },
      s"""WITH RECURSIVE ${lshCtes}, prs AS (${lshPairSelect}),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM prs
         |  UNION ALL SELECT doc_b, doc_a FROM prs),
         |reach(v, r) AS (SELECT src, src FROM edges
         |  UNION SELECT e.src, rc.r FROM edges e JOIN reach rc ON rc.v = e.dst),
         |lab0 AS (SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v),
         |lab AS (SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN lab0 l ON d.doc_id = l.doc_id),
         |j AS (SELECT lab.cluster_id, lab.doc_id, CAST(d.n_chars AS BIGINT) AS q
         |  FROM lab JOIN documents d ON lab.doc_id = d.doc_id),
         |rk AS (SELECT cluster_id, doc_id, q,
         |    row_number() OVER (PARTITION BY cluster_id ORDER BY q DESC, doc_id) AS rn
         |  FROM j),
         |st AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
         |    CAST(sum(q) AS BIGINT) AS total_quality
         |  FROM j GROUP BY cluster_id)
         |SELECT st.cluster_id, st.n_members, st.total_quality,
         |  rk.doc_id AS rep_doc_id, rk.q AS rep_quality
         |FROM st JOIN rk ON st.cluster_id = rk.cluster_id AND rk.rn = 1"""
        .stripMargin.replace("\n", " ")),

    // Perceptual-hash (average-hash) dedup over the sampled video
    // frames: 16-bit integer aHash per frame, cross-doc near-dup pairs
    // at Hamming ≤ 2 via pigeonhole chunk blocking — the image-dedup
    // pass of a multimodal training pipeline, closed-form in both engines.
    Gate("multimodal_phash_dedup", (s, dir) =>
      Multimodal.phashNearDupPairs(
        Multimodal.frameAHash(Tables.documents(s, dir), "doc_id", "text",
          stride = 5),
        maxHd = 2),
      {
        val hash = Multimodal.aHashSqlDuck("text", "u.i", "n_px")
        s"""WITH meta AS (SELECT doc_id, text, length(text) AS n_px,
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
           |  WHERE a.fkey // 64 <> b.fkey // 64)
           |SELECT frame_a, frame_b, bit_count(xor(pa, pb)) AS hd
           |FROM pr WHERE bit_count(xor(pa, pb)) <= 2""".stripMargin.replace("\n", " ")
      }),

    // Winnow→verify: winnowing candidates confirmed by exact shingle
    // Jaccard from ONE positional-hash scan — the verification pass
    // completing the winnowing blocking family (same shared-scan
    // discipline as dedup_minhash_est).
    Gate("dedup_winnow_verified", (s, dir) =>
      Dedup.winnowVerifiedPairs(Tables.documents(s, dir), "doc_id", "text",
        n = 3, w = 4, minShared = 2L, maxFpDocFreq = 50L,
        minJacPermille = 200L),
      // the winnow-pairs CTEs + a Jaccard leg over the same distinct
      // n-gram postings
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, i AS pos,
        |    CAST(concat('0x', substr(md5(concat_ws(' ', t[i], t[i+1], t[i+2])), 1, 8)) AS BIGINT) AS h
        |  FROM toks, UNNEST(range(1, len(t)-1)) AS r(i) WHERE len(t) >= 3),
        |win AS (SELECT doc_id, pos,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
        |    max(pos) OVER (PARTITION BY doc_id) AS maxpos FROM sh),
        |fps AS (SELECT DISTINCT doc_id, fp FROM win WHERE pos <= maxpos - 3),
        |kept AS (SELECT doc_id, fp FROM fps WHERE fp IN
        |  (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 50)),
        |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(count(*) AS BIGINT) AS n_shared
        |  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |post AS (SELECT DISTINCT doc_id, h FROM sh),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM post GROUP BY doc_id),
        |intr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(count(*) AS BIGINT) AS inter
        |  FROM post a JOIN post b ON a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |jac AS (SELECT i.doc_a, i.doc_b,
        |    i.inter * 1000 // (sa.n_sh + sb.n_sh - i.inter) AS jac_permille
        |  FROM intr i JOIN sz sa ON i.doc_a = sa.doc_id
        |  JOIN sz sb ON i.doc_b = sb.doc_id)
        |SELECT p.doc_a, p.doc_b, p.n_shared, j.jac_permille
        |FROM pr p JOIN jac j ON p.doc_a = j.doc_a AND p.doc_b = j.doc_b
        |WHERE p.n_shared >= 2 AND j.jac_permille >= 200"""
        .stripMargin.replace("\n", " ")),

    // Per-source exact-duplication report: how much of each source is
    // copies (of anything in the corpus, cross-source included) — the
    // table that decides which ingest feed is worth its storage. A doc
    // is a duplicate iff its text hash occurs elsewhere AND it is not
    // the hash's first (min-id) occurrence.
    Gate("dedup_source_stats", (s, dir) => {
      val docs = Tables.documents(s, dir)
      // canonical rule REUSED from exactDuplicates (min-id first
      // occurrence) so n_dup can never drift from the dedup gates
      docs.select(col("doc_id"), col("source"),
          md5(col("text")).as("text_hash"))
        .join(Dedup.exactDuplicates(docs, "doc_id", "text"),
          Seq("text_hash"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("doc_id") =!= col("canonical_id"), 1L).otherwise(0L))
            .as("n_dup_docs"))
        .withColumn("dup_permille", expr("n_dup_docs * 1000 div n_docs"))
    },
      """WITH h AS (SELECT doc_id, source, md5(text) AS text_hash FROM documents),
        |f AS (SELECT text_hash, min(doc_id) AS first_id FROM h GROUP BY text_hash),
        |m AS (SELECT h.source,
        |    CASE WHEN h.doc_id <> f.first_id THEN 1 ELSE 0 END AS is_dup
        |  FROM h JOIN f ON h.text_hash = f.text_hash)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(is_dup) AS BIGINT) AS n_dup_docs,
        |  CAST(sum(is_dup) * 1000 // count(*) AS BIGINT) AS dup_permille
        |FROM m GROUP BY source""".stripMargin.replace("\n", " ")),

    // Curation-aware exact dedup: within each duplicate group keep the
    // copy from the BEST-scored source (ties → lowest id) instead of
    // the first id — firstOccurrences' single-exchange max_by shape
    // with the quality signal in the ordering key. The fixture corpus
    // has no exact dups below sf0.1, so the gate unions a 'mirror0'
    // syndicated copy of every doc (id-offset) — every text is then a
    // real ≥2-copy group and the winner is decided by source score at
    // EVERY scale, not just where the generator happened to collide.
    Gate("dedup_keep_best", (s, dir) =>
      Dedup.bestOccurrences(keepBestCorpus(s, dir), "doc_id", "text",
        col("src_score"))
        .select("doc_id", "source", "src_score"),
      keepBestSqlDuck),

    // Keep-best's register identity in-plan: per-group argmax survivors
    // MERGE (best-of(A ∪ B) == best-of(best-of A ∪ best-of B) per text
    // hash), so an ingest stream maintains the canonical set by
    // re-reducing each batch's winners against state — two doc_id-parity
    // legs of bestOccurrences re-reduced through the SAME operator,
    // oracle shared verbatim with dedup_keep_best.
    Gate("dedup_keep_best_stream", (s, dir) => {
      val docs = keepBestCorpus(s, dir)
      def leg(pred: org.apache.spark.sql.Column) =
        Dedup.bestOccurrences(docs.filter(pred), "doc_id", "text",
          col("src_score"))
      Dedup.bestOccurrences(
        leg(col("doc_id") % 2 === 0).unionByName(leg(col("doc_id") % 2 === 1)),
        "doc_id", "text", col("src_score"))
        .select("doc_id", "source", "src_score")
    },
      // the register identity: per-batch winners re-reduced must land on
      // the ONE-PASS canonical set — oracle shared verbatim
      keepBestSqlDuck),

    // Near-dup cluster canonicalization with the quality signal: LSH
    // candidate pairs → connected components → keep the BEST-scored doc
    // per cluster (singletons are their own cluster) — the fuzzy-dedup
    // twin of dedup_keep_best, composed from three audited operators.
    Gate("dedup_cluster_keep_best", (s, dir) => {
      val docs = Tables.documents(s, dir)
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("text"), col("source"),
          Sampling.hashPermille(col("source")).as("src_score"))
      val cc = Dedup.connectedComponents(
        Dedup.lshCandidatePairs(docs, "doc_id", "text"), "doc_a", "doc_b")
      val labeled = docs.join(cc, Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      Dedup.bestByKey(labeled, "doc_id", col("cluster_id"), col("src_score"))
        .select("cluster_id", "doc_id", "source", "src_score")
    },
      s"""WITH RECURSIVE ${lshCtes},
         |prs AS (${lshPairSelect}),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM prs
         |  UNION ALL SELECT doc_b, doc_a FROM prs),
         |reach(v, r) AS (SELECT src, src FROM edges
         |  UNION SELECT e.src, rc.r FROM edges e JOIN reach rc ON rc.v = e.dst),
         |cc AS (SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v),
         |docs AS (SELECT doc_id, source,
         |  ${permilleDuck("source")} AS src_score
         |  FROM documents WHERE text IS NOT NULL),
         |lab AS (SELECT d.doc_id,
         |    coalesce(cc.cluster_id, d.doc_id) AS cluster_id,
         |    d.source, d.src_score
         |  FROM docs d LEFT JOIN cc ON cc.doc_id = d.doc_id),
         |r2 AS (SELECT cluster_id, doc_id, source, src_score,
         |    row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY src_score DESC, doc_id) AS rn FROM lab)
         |SELECT cluster_id, doc_id, source, src_score FROM r2 WHERE rn = 1"""
        .stripMargin.replace("\n", " "))
  )

  /** The one-pass keep-best oracle — shared verbatim by the batch gate
    * (`dedup_keep_best`) and the per-batch-winners fold
    * (`dedup_keep_best_stream`).
    */
  private val keepBestSqlDuck: String =
      s"""WITH base AS (SELECT doc_id, text, source FROM documents
         |  WHERE text IS NOT NULL),
         |mirrored AS (SELECT * FROM base UNION ALL
         |  SELECT doc_id + $MirrorIdOffset, text, 'mirror0' FROM base),
         |sc AS (SELECT doc_id, text, source,
         |  ${permilleDuck("source")} AS src_score FROM mirrored),
         |r AS (SELECT doc_id, source, src_score, row_number() OVER (
         |    PARTITION BY md5(text)
         |    ORDER BY src_score DESC, doc_id) AS rn FROM sc)
         |SELECT doc_id, source, src_score FROM r WHERE rn = 1"""
        .stripMargin.replace("\n", " ")
}
