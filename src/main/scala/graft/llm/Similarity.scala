package graft.llm

import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity search: brute-force cosine top-k (the correctness
  * baseline) and a random-hyperplane-LSH bucketed variant (the 100 TB
  * path — candidates come from an equi-join on the bucket id, so the
  * quadratic scan shrinks to per-bucket blocks).
  *
  * Exactness strategy: embeddings are quantized to int64 (×1e5, round) so
  * dot products and norms are exact integers — order-independent, hence
  * bit-identical between Spark's parallel execution and the sequential
  * DuckDB oracle; the final cosine is one double division over identical
  * integer inputs. LSH planes use ±1 weights derived from md5 so both
  * engines share the same literal plane constants.
  */
object Similarity {

  val Scale = 100000L
  val Dim = 64
  /** Planes for the single-table (oracle-checked) bucket id. */
  val NumPlanes = 8
  /** Multi-table LSH (the recall knob): L tables × k bits each. */
  val TablesL = 8
  val BitsK = 4

  /** Quantized int64 vector from a float-array embedding column. */
  def quantize(embedding: Column): Column =
    transform(embedding, x => round(x.cast("double") * Scale, 0).cast("long"))

  val quantizeSqlDuck: String =
    s"list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * $Scale, 0) AS BIGINT))"

  /** Exact integer dot product of two quantized vectors (Spark side).
    * Backed by the codegen'd [[graft.functions.LongArrayDot]] expression —
    * the higher-order-function formulation (`aggregate(zip_with(...))`)
    * evaluates interpreted and measured ~250× slower on the brute-force
    * pair scan.
    */
  def dotQ(a: String, b: String): Column = {
    import org.apache.spark.sql.GraftExpressionBridge._
    column(graft.functions.LongArrayDot(expression(expr(a)), expression(expr(b))))
  }

  /** [[dotQ]] over Column operands — usable inside higher-order-function
    * lambdas (the map-side centroid assignment), where the operands are
    * lambda-variable fields, not named columns.
    */
  def dotQC(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftExpressionBridge._
    column(graft.functions.LongArrayDot(expression(a), expression(b)))
  }

  def dotQSqlDuck(a: String, b: String): String =
    s"CAST(list_sum(list_transform(list_zip($a, $b), s -> s[1] * s[2])) AS BIGINT)"

  /** cos = dot / (|a|·|b|), computed as double over exact ints — identical
    * operation sequence in both engines.
    */
  def cosineFromInts(dot: Column, normA: Column, normB: Column): Column =
    dot.cast("double") / (sqrt(normA.cast("double")) * sqrt(normB.cast("double")))

  /** ±1 plane weights, deterministic from md5 — shared with the oracle.
    * 64 planes generated: covers the single-table bucket (first
    * `NumPlanes`), the multi-table variant (`TablesL * BitsK` = 32), and
    * [[planesForCorpus]]'s full range (64 planes = 2^64 buckets, beyond
    * any corpus; the function clamps there).
    */
  val MaxPlanes = 64
  lazy val planeWeights: Array[Array[Int]] = {
    val md = MessageDigest.getInstance("MD5")
    Array.tabulate(MaxPlanes, Dim) { (j, d) =>
      val h = md.digest(s"plane:$j:$d".getBytes("UTF-8"))
      if ((h(0) & 1) == 1) 1 else -1
    }
  }

  /** Signed projection of a quantized vector column onto plane j, as a SQL
    * string — `mk(d)` renders the 1-based element access for the target
    * engine (DuckDB `qv[d]`). Oracle-side only: inlining 64 ±terms per
    * plane is fine for DuckDB's interpreter but NOT for Spark codegen —
    * see [[planeDotSpark]].
    */
  private def planeExpr(j: Int, mk: Int => String): String =
    planeWeights(j).zipWithIndex.map { case (w, d) =>
      (if (w > 0) " + " else " - ") + mk(d + 1)
    }.mkString("(", "", ")")

  /** Spark-side projection of plane j: `long_dot` against the ±1 weights
    * as a literal array. Catalyst constant-folds the all-literal
    * `array(...)` to a single Literal, so generated code per plane is one
    * tight loop — the inlined ±`element_at` chain instead emits
    * O(planes·dim) expression nodes in one generated method, which sends
    * Janino's stack-map computation superlinear (measured: a 32-plane
    * projection hung compilation for 5+ minutes; 8 planes already cost
    * seconds). Integer dot with ±1 weights is bit-identical to the
    * ±element_at sum, so the oracle's inlined form still matches.
    */
  private def planeDotSpark(vecExpr: String, j: Int): String =
    s"long_dot($vecExpr, array(${planeWeights(j).map(w => s"${w}L").mkString(",")}))"

  /** LSH bucket id (bit j set iff projection on plane j is positive).
    *
    * `nPlanes` must scale with the corpus: expected bucket occupancy is
    * N / 2^nPlanes, so a constant plane count makes per-bucket work
    * N²/2^nPlanes — quadratic at scale. Size it ~log₂(N / targetOccupancy)
    * via [[planesForCorpus]]; the oracle-checked queries pin `NumPlanes`
    * only so both engines share literal constants at one SF.
    */
  def bucketSql(vecExpr: String, spark: Boolean, nPlanes: Int = NumPlanes): String = {
    require(nPlanes <= planeWeights.length, s"only ${planeWeights.length} planes generated")
    (0 until nPlanes).map { j =>
      val proj =
        if (spark) planeDotSpark(vecExpr, j)
        else planeExpr(j, d => s"$vecExpr[$d]")
      s"(CASE WHEN $proj > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")
  }

  /** Plane count keeping expected bucket occupancy ≤ `targetOccupancy`
    * for an N-vector corpus: ceil(log₂(N / targetOccupancy)).
    */
  def planesForCorpus(n: Long, targetOccupancy: Long = 256L): Int =
    math.min(MaxPlanes, math.max(NumPlanes,
      math.ceil(math.log(math.max(1.0, n.toDouble / targetOccupancy)) / math.log(2)).toInt))

  /** Brute-force cosine top-k: every query vector against the whole corpus.
    * Correctness baseline — O(|Q|·|C|); keep |Q| bounded. The join is a
    * broadcast of the (small) query side against a single corpus scan, no
    * shuffle of the corpus; top-k is a per-query window over |Q|·k rows.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col("vec_id").as("qid"), quantize(col("embedding")).as("qv"))
      .withColumn("nq", dotQ("qv", "qv"))
    // widen: the quantize + per-row dot products against the broadcast
    // side must not inherit a single-file scan's one partition
    val c = Dedup.widen(corpus).select(col("vec_id").as("cid"), quantize(col("embedding")).as("cv"))
      .withColumn("nc", dotQ("cv", "cv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("cid") =!= col("qid"))
      .withColumn("dot", dotQ("qv", "cv"))
      .withColumn("cos_sim", cosineFromInts(col("dot"), col("nq"), col("nc")))
    val w = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "cid", "rank", "cos_sim")
  }

  /** HARD-NEGATIVE MINING for contrastive training — for each anchor,
    * the k most cosine-similar corpus vectors whose label DIFFERS: the
    * near-misses a contrastive or metric-learning objective learns the
    * most from (random negatives are trivially far; the hard ones sit
    * just across the decision boundary). The embedding-side counterpart
    * of the retrieval family's rerankers, and the standard mining step
    * of every two-tower / sentence-embedding training pipeline.
    *
    * Same audited plan shape as [[bruteForceTopK]] (a BROADCAST of the
    * bounded anchor set against one widened corpus scan — the corpus
    * never shuffles; per-anchor top-k as a WindowGroupLimit), with the
    * label-mismatch predicate fused into the join filter so excluded
    * same-label pairs never reach the sort. NULL-label rows are excluded
    * on BOTH sides ("differs from unknown" is unknowable, and a NULL
    * label must not silently mine as a negative). Scale path: swap the
    * broadcast scan for the IVF-bucketed candidate join
    * ([[ivfSearchAssigned]]) exactly as for positives — the mining
    * predicate stays a fused filter.
    * Output: (qid, q_label, cid, c_label, rank, cos_sim).
    */
  def hardNegatives(corpus: DataFrame, anchors: DataFrame,
      labelCol: String, k: Int,
      maxAnchors: Long = MaxBruteForceAnchors): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"k must be >= 1, got $k")
    val scored = labeledScored(corpus, anchors, labelCol, maxAnchors,
        "hardNegatives")
      .filter(col("c_label") =!= col("q_label"))
    val w = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "q_label", "cid", "c_label", "rank", "cos_sim")
  }

  /** Hard upper bound on the brute-force mining forms' anchor set: the
    * anchors are BROADCAST and scanned against every corpus row, so the
    * plan is sound only while the anchor count is register-sized. Past
    * this, use [[hardNegativesIvf]] — candidates come from the IVF index
    * and neither side is corpus-broadcast.
    */
  val MaxBruteForceAnchors = 100000L

  /** Shared (anchors, corpus, scored) construction for the brute-force
    * contrastive-mining legs ([[hardNegatives]], [[contrastiveTriples]]):
    * label-cast + NULL-guard both sides (the guard runs on the CASTED
    * label — a non-numeric label casts to NULL and must exclude the row,
    * not silently corrupt the mining), quantize + norm, then the
    * broadcast-anchor × widened-corpus scan with exact integer cosine.
    * One definition, so a fix to the prep cannot drift between the legs.
    *
    * The anchor bound is ENFORCED, not assumed (the
    * [[graft.ops.TableProfile]] `boundedScoreTable` idiom) — and
    * enforced IN-PLAN, not by an eager driver job: a one-row broadcast
    * guard aggregate counts the labeled anchors and `raise_error`s past
    * `maxAnchors`. Merely BUILDING the frame (Verify's dump loop,
    * [[graft.PlanLint]]'s static walk) therefore runs zero Spark jobs
    * (the round-15 advisor's finding); at EXECUTION the guard still
    * fires before any corpus task runs, because the consuming stage
    * cannot launch until its broadcast relations — the guard included —
    * have materialized. The production shape that mines for EVERY
    * document (|Q| ≈ N) is thus still refused loudly before the N²
    * scan, it just pays nothing at plan-construction time.
    */
  private def labeledScored(corpus: DataFrame, anchors: DataFrame,
      labelCol: String, maxAnchors: Long, who: String): DataFrame = {
    require(maxAnchors >= 1, s"$who: maxAnchors must be >= 1")
    val q = anchors
      .select(col("vec_id").as("qid"), col(labelCol).cast("long").as("q_label"),
        quantize(col("embedding")).as("qv"))
      .filter(col("q_label").isNotNull)
      .withColumn("nq", dotQ("qv", "qv"))
    val guard = broadcast(anchors
      .select(col(labelCol).cast("long").as("_l"))
      .filter(col("_l").isNotNull)
      .agg(count(lit(1)).as("_n_anchors"))
      .select(when(col("_n_anchors") <= maxAnchors, lit(true))
        .otherwise(raise_error(concat(
          lit(s"$who: "), col("_n_anchors").cast("string"),
          lit(s" anchors exceed the declared brute-force bound of " +
            s"$maxAnchors — the broadcast anchor scan is " +
            "O(|corpus|·|anchors|) and sound only for a register-sized " +
            "anchor set. Mine through the IVF index (hardNegativesIvf) " +
            "instead, or raise maxAnchors only if the anchor set " +
            "provably stays bounded at full scale."))))
        .as("_anchors_ok")))
    val c = Dedup.widen(corpus)
      .select(col("vec_id").as("cid"), col(labelCol).cast("long").as("c_label"),
        quantize(col("embedding")).as("cv"))
      .filter(col("c_label").isNotNull)
      .withColumn("nc", dotQ("cv", "cv"))
    c.crossJoin(broadcast(q)).crossJoin(guard)
      .filter(col("cid") =!= col("qid") && col("_anchors_ok"))
      .withColumn("cos_sim", cosineFromInts(dotQ("qv", "cv"), col("nq"), col("nc")))
      .drop("_anchors_ok")
  }

  /** INDEX-BACKED hard-negative mining — the production form of
    * [[hardNegatives]] for the |anchors| ≈ |corpus| regime (mining
    * negatives for EVERY training document), where the brute-force
    * broadcast scan is N² and the broadcast side no longer fits.
    * Candidates come from the IVF coarse quantizer instead: both sides
    * are cell-assigned against one broadcast centroid table (anchors
    * probe their `nprobe` nearest cells), candidates = same cell, the
    * label-mismatch predicate fused into the cell join's filter, exact
    * integer-cosine rerank within candidates. The [[semanticDedup]]
    * candidate-bounding argument applies verbatim: per-anchor work is
    * bounded by its probed cells' occupancy (N·nprobe/C expected), the
    * only shuffle is the cell-keyed equi-join, and NOTHING corpus-sized
    * is ever broadcast — so the plan survives anchors == corpus.
    *
    * Same mining semantics as [[hardNegatives]] (NULL labels excluded
    * both sides, ties break on smallest cid), approximate in exactly the
    * IVF sense: a negative outside the probed cells is missed, graded by
    * the same recall audit as the positive path ([[ivfRecall]]).
    * Output: (qid, q_label, cid, c_label, rank, cos_sim).
    */
  def hardNegativesIvf(corpus: DataFrame, anchors: DataFrame,
      labelCol: String, k: Int, numCentroids: Int, nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"k must be >= 1, got $k")
    val w = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("cid"))
    ivfLabeledScored(corpus, anchors, labelCol, numCentroids, nprobe)
      .filter(col("c_label") =!= col("q_label"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "q_label", "cid", "c_label", "rank", "cos_sim")
  }

  /** The IVF-candidate scored pair assembly shared by the index-backed
    * mining legs ([[hardNegativesIvf]], [[contrastiveTriplesIvf]]):
    * label-guard both sides, cell-assign against ONE broadcast centroid
    * table (anchors probe `nprobe` cells, labels carried through the
    * assignment), candidates = same cell, exact integer cosine. One
    * definition — the [[labeledScored]] anti-drift argument on the
    * index path.
    */
  private def ivfLabeledScored(corpus: DataFrame, anchors: DataFrame,
      labelCol: String, numCentroids: Int, nprobe: Int): DataFrame = {
    require(numCentroids >= 1, s"numCentroids must be >= 1, got $numCentroids")
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val lab = col(labelCol).cast("long")
    val corpusL = corpus.filter(lab.isNotNull)
    val cents = graft.util.Materialize.stable(
      sampledCentroids(corpusL, numCentroids))
    val c = assignCells(corpusL, cents, "cid", "cv", "nc", keep = 1,
      carry = Seq("c_label" -> lab))
    val q = assignCells(anchors.filter(lab.isNotNull), cents,
      "qid", "qv", "nq", keep = nprobe, carry = Seq("q_label" -> lab))
    c.join(q, Seq("cell"))
      .filter(col("cid") =!= col("qid"))
      .withColumn("cos_sim", cosineFromInts(dotQ("qv", "cv"), col("nq"), col("nc")))
  }

  /** INDEX-BACKED triple assembly — [[contrastiveTriples]] for the
    * |anchors| ≈ |corpus| regime: both the best positive and the
    * hardest negative are mined WITHIN the anchor's probed IVF cells
    * (the [[hardNegativesIvf]] candidate-bounding argument; both legs
    * share one candidate scan). Approximate in exactly the IVF sense on
    * both legs; anchors whose probed cells lack either a same-label or
    * different-label candidate drop — a triple needs both legs.
    * Output: (qid, q_label, pos_id, pos_cos, neg_id, neg_cos, margin).
    */
  def contrastiveTriplesIvf(corpus: DataFrame, anchors: DataFrame,
      labelCol: String, numCentroids: Int, nprobe: Int): DataFrame =
    triplesFromScored(
      ivfLabeledScored(corpus, anchors, labelCol, numCentroids, nprobe)
        .withColumn("_same", col("c_label") === col("q_label"))
        .select("qid", "q_label", "cid", "cos_sim", "_same"))

  /** CONTRASTIVE TRIPLE assembly — the step after [[hardNegatives]] in
    * a two-tower / sentence-embedding training pipeline: for each
    * anchor, ONE (anchor, positive, negative) training triple where the
    * positive is the most-similar SAME-label vector and the negative
    * the most-similar DIFFERENT-label vector, plus the triplet margin
    * `pos_cos − neg_cos`. A small or negative margin IS the signal
    * (triplet-loss semi-hard mining: the anchor's nearest impostor sits
    * closer than its nearest genuine match — exactly the triples the
    * loss moves); downstream filters on `margin` pick the mining band.
    *
    * Plan shape: the corpus is touched ONCE — [[bruteForceTopK]]'s
    * broadcast-anchor × widened-corpus map stage, then a SINGLE
    * (qid, same-label?) WindowGroupLimit (rank-1 per side; ties break
    * on smallest cid — the rank filter pushes into the sort, so no
    * anchor's full candidate list materializes) and one anchor-bounded
    * pivot agg that zips each anchor's two surviving rows into the
    * triple. Nothing corpus-sized is cached or exchanged twice.
    * Anchors missing either side (a label with no second member, or a
    * single-label corpus) drop via the post-pivot both-legs filter — a
    * triple needs both legs. NULL labels are excluded on both sides as
    * in [[hardNegatives]]. Scale path: swap the broadcast scan for the
    * IVF-bucketed candidate join, as for positives.
    * Output: (qid, q_label, pos_id, pos_cos, neg_id, neg_cos, margin).
    */
  def contrastiveTriples(corpus: DataFrame, anchors: DataFrame,
      labelCol: String,
      maxAnchors: Long = MaxBruteForceAnchors): DataFrame =
    triplesFromScored(
      labeledScored(corpus, anchors, labelCol, maxAnchors,
          "contrastiveTriples")
        .withColumn("_same", col("c_label") === col("q_label"))
        .select("qid", "q_label", "cid", "cos_sim", "_same"))

  /** The triple pivot shared by both candidate generators: ONE
    * (qid, same-label?) WindowGroupLimit (rank-1 per side, ties to the
    * smallest cid) and one anchor-bounded pivot agg zipping each
    * anchor's two surviving rows into the (pos, neg, margin) triple;
    * anchors missing either side drop.
    */
  private def triplesFromScored(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("qid", "_same")
      .orderBy(col("cos_sim").desc, col("cid"))
    scored.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .groupBy("qid", "q_label")
      .agg(
        max(when(col("_same"), col("cid"))).as("pos_id"),
        max(when(col("_same"), col("cos_sim"))).as("pos_cos"),
        max(when(!col("_same"), col("cid"))).as("neg_id"),
        max(when(!col("_same"), col("cos_sim"))).as("neg_cos"))
      .filter(col("pos_id").isNotNull && col("neg_id").isNotNull)
      .withColumn("margin", col("pos_cos") - col("neg_cos"))
      .select("qid", "q_label", "pos_id", "pos_cos", "neg_id", "neg_cos",
        "margin")
  }

  /** Matryoshka-truncated top-k (Kusupati et al. 2022, "Matryoshka
    * Representation Learning", arXiv:2205.13147): brute-force integer
    * cosine over only the FIRST `dim` dimensions of each vector — the
    * cheap first stage of MRL retrieval, where a 4× truncation cuts the
    * candidate-scan bandwidth 4× and a full-dim rerank (or
    * [[matryoshkaRecall]]'s audit) follows. Same plan shape as
    * [[bruteForceTopK]]; the truncation is a `slice` before the norm/dot,
    * so the scan moves `dim`-long arrays, not the full vectors.
    */
  def matryoshkaTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      dim: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(dim >= 1, s"dim must be >= 1, got $dim")
    val tq = slice(quantize(col("embedding")), 1, dim)
    val q = queries.select(col("vec_id").as("qid"), tq.as("qv"))
      .withColumn("nq", dotQ("qv", "qv"))
    val c = Dedup.widen(corpus).select(col("vec_id").as("cid"), tq.as("cv"))
      .withColumn("nc", dotQ("cv", "cv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("cid") =!= col("qid"))
      .withColumn("dot", dotQ("qv", "cv"))
      .withColumn("cos_sim", cosineFromInts(col("dot"), col("nq"), col("nc")))
    val w = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "cid", "rank", "cos_sim")
  }

  /** Per-query recall@k of the `dim`-truncated ranking against the
    * full-dimension ranking — the audit run before trusting a truncation
    * level in production. Both rankings are k-bounded per query, so the
    * overlap join carries Q·k rows however big the corpus.
    */
  def matryoshkaRecall(corpus: DataFrame, queries: DataFrame, k: Int,
      dim: Int): DataFrame =
    recallOverlap(bruteForceTopK(corpus, queries, k),
      matryoshkaTopK(corpus, queries, k, dim), queries, k)

  /** Single-table LSH bucket join (oracle-checked shape): candidates =
    * same bucket, ranked by exact cosine within bucket. Pass
    * `nPlanes = planesForCorpus(N)` at scale (see [[bucketSql]]).
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nPlanes: Int = NumPlanes): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // bucketSql's plane projections reference long_dot by NAME (SQL
    // string) — register on the session that owns the frames, not
    // SparkSession.active (a multi-session driver can interleave builds)
    graft.functions.ArrayFns.register(corpus.sparkSession)
    def prep(df: DataFrame, id: String, v: String, n: String) =
      df.select(col("vec_id").as(id), quantize(col("embedding")).as(v))
        .withColumn(n, dotQ(v, v))
        .withColumn("bucket", expr(bucketSql(v, spark = true, nPlanes)))
    val q = prep(queries, "qid", "qv", "nq")
    val c = prep(Dedup.widen(corpus), "cid", "cv", "nc")
    val scored = c.join(q, Seq("bucket"))
      .filter(col("cid") =!= col("qid"))
      .withColumn("dot", dotQ("qv", "cv"))
      .withColumn("cos_sim", cosineFromInts(col("dot"), col("nq"), col("nc")))
    val w = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "cid", "bucket", "rank", "cos_sim")
  }

  /** IVF-flat ANN: a coarse quantizer partitions the corpus into cells
    * (inverted lists); queries probe the `nprobe` nearest cells and pay
    * exact rerank only inside them.
    *
    * The centroid count is FIXED (`numCentroids`), independent of corpus
    * size: centroids are the `numCentroids` vectors minimizing a
    * deterministic hash of their id (md5 order — a uniform random sample
    * both engines can reproduce; Spark plans the orderBy+limit as a
    * linear TakeOrdered, not a full sort). A fractional sample
    * (`vec_id % m`) would make assignment O(N·N/m) = quadratic and grow
    * the broadcast with N; a fixed count keeps assignment O(N·C) and the
    * broadcast constant. Production would k-means this same bounded
    * sample — that changes only the centroid VALUES, not the plan shape.
    *
    * Scale shape: centroid table is tiny → broadcast to both assignment
    * scans; the only shuffle is the cell-keyed candidate join. Cell
    * assignment and rerank reuse the exact integer cosine.
    */
  /** Integer-exact LINEAR PROBE over an embedding column — the actual
    * FineWeb-Edu classifier mechanism (an embedding model + a tiny
    * learned head), with the head's training collapsed to its closed
    * form: the class-mean difference direction (Fisher's discriminant
    * with identity covariance). Per dimension i, the weight is
    * `floor(Σ_pos q_i / n_pos) − floor(Σ_neg q_i / n_neg)` over the
    * quantized embeddings, and each vector's score is the exact int64
    * dot with that weight vector, integer-divided by `scoreDiv` into
    * the bounded-cardinality score [[graft.ops.TableProfile.rocAuc]] /
    * `operatingPoints` consume. Probe sums GO NEGATIVE, so the
    * division semantics on negatives are load-bearing: Spark's `div`
    * and DuckDB's `//` BOTH truncate toward zero (verified — DuckDB's
    * `//` is not a floor), so plain `div` is the cross-engine-exact
    * form here; a floor-div formulation would diverge by one on
    * every negative quotient.
    *
    * Scale shape: one posexplode pass collapses the corpus to a
    * dim-sized weight table (partial-agg map-side combined, dim groups);
    * the dim-row weights fold into ONE broadcast array row; scoring is
    * a pure codegen'd map ([[dotQ]]'s LongArrayDot). Weight magnitude
    * is bounded by the quantization scale (per-mean form), NOT by
    * corpus size, so the dot stays in int64 at any N. Rows with a NULL
    * label are excluded; a single-class input raises in-path rather
    * than emitting a meaningless direction.
    * Output: (vec_id, y, score_pm).
    */
  def linearProbeScores(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: Column, scoreDiv: Long = 100000L): DataFrame = {
    require(scoreDiv >= 1, s"scoreDiv must be >= 1, got $scoreDiv")
    val v = graft.util.Materialize.stable(
      emb.select(col(idCol).as("vec_id"), labelCol.cast("boolean").as("_y"),
          quantize(col(vecCol)).as("_q"))
        .filter(col("_y").isNotNull))
    val w0 = v
      .select(col("_y"), posexplode(col("_q")).as(Seq("_i", "_qe")))
      .groupBy("_i").agg(
        sum(when(col("_y"), col("_qe")).otherwise(0L)).as("_sp"),
        sum(when(col("_y"), 1L).otherwise(0L)).as("_np"),
        sum(when(!col("_y"), col("_qe")).otherwise(0L)).as("_sn"),
        sum(when(!col("_y"), 1L).otherwise(0L)).as("_nn"))
    // truncating `div` matches DuckDB's `//` on negatives; the
    // single-class guard rides the expression so pruning can never
    // drop it
    val w = w0.select(col("_i"), expr(
      """CASE WHEN _np = 0 OR _nn = 0
        |  THEN raise_error('linearProbeScores: both classes required')
        |  ELSE _sp div _np - _sn div _nn END"""
        .stripMargin.replace("\n", " ")).as("_wi"))
    val wrow = w
      .agg(array_sort(collect_list(struct(col("_i"), col("_wi")))).as("_ws"))
      .select(expr("transform(_ws, s -> s._wi)").as("_wv"))
    v.crossJoin(broadcast(wrow))
      .withColumn("_d", dotQ("_q", "_wv"))
      .select(col("vec_id"), col("_y").as("y"),
        expr(s"_d div ${scoreDiv}L").as("score_pm"))
  }

  /** EMBEDDING DRIFT panel between two corpus snapshots: per label, the
    * L1 distance between the snapshots' per-dimension mean vectors —
    * the embedding-pipeline drift monitor ("did the upstream encoder or
    * the data distribution move?") that catches what per-document
    * checks cannot: a uniform small shift across every vector. All
    * exact integer arithmetic over the quantized embeddings: centroid
    * component = `Σq div n` (truncating — DuckDB `//` parity), drift =
    * `Σ_dims |meanA_i − meanB_i|`, so two engines land bit-identically
    * and two runs of the panel compare exactly.
    *
    * Scale shape: each snapshot is touched ONCE by a posexplode
    * partial-agg pass keyed by (label, dim) — the [[linearProbeScores]]
    * discipline — collapsing to a labels×dim register table; the join
    * and rollup run on registers only. Labels present in only one
    * snapshot are reported with NULL drift (n on the missing side 0) —
    * a vanished label IS drift. NULL labels are excluded both sides.
    * Output: (label, n_a, n_b, drift_l1).
    */
  def centroidDrift(snapA: DataFrame, snapB: DataFrame,
      labelCol: String): DataFrame =
    centroidDriftFromSums(centroidSums(snapA, labelCol),
      centroidSums(snapB, labelCol))

  /** One snapshot's drift registers: the per-(label, dim) `(_s, _n)`
    * component-sum table — the SUFFICIENT STATISTIC for
    * [[centroidDrift]], and it SUM-MERGES: per-batch tables fold by
    * `groupBy(label, _i).agg(sum, sum)`, so an incremental store keeps
    * the live drift panel current without rescanning embedded history
    * (the [[graft.streaming.StreamingCalibration]] register discipline
    * on the drift statistic). One posexplode partial-agg pass; output
    * is labels×dim rows.
    */
  def centroidSums(snap: DataFrame, labelCol: String): DataFrame = snap
    // guard on the CASTED label BEFORE the explode: a non-numeric label
    // casts to NULL and must exclude the row, never mint a label=NULL
    // register (and never pay the explode for a row that drops)
    .select(col(labelCol).cast("long").as("label"), col("embedding"))
    .filter(col("label").isNotNull)
    .select(col("label"),
      posexplode(quantize(col("embedding"))).as(Seq("_i", "_qe")))
    .groupBy("label", "_i")
    .agg(sum("_qe").as("_s"), count(lit(1)).as("_n"))

  /** The [[centroidDrift]] panel over two ALREADY-AGGREGATED register
    * tables `(label, _i, _s, _n)` — one code path with the batch entry,
    * so a folded store cannot drift from the one-pass panel. Rows must
    * be unique per (label, _i): merge registers before calling.
    */
  def centroidDriftFromSums(a: DataFrame, b: DataFrame): DataFrame = {
    val ra = a.select(col("label"), col("_i"),
      col("_s").as("_sa"), col("_n").as("_na"))
    val rb = b.select(col("label"), col("_i"),
      col("_s").as("_sb"), col("_n").as("_nb"))
    // ANY one-sided dimension row nulls the label's drift — both the
    // label-vanished case (every row one-sided) and the PARTIAL dim
    // mismatch (the encoder changed output width mid-stream): a sum
    // that silently skipped the NULL per-dim terms would understate
    // drift on exactly the structural change the panel exists to catch
    ra.join(rb, Seq("label", "_i"), "full_outer")
      .groupBy("label")
      .agg(
        coalesce(max("_na"), lit(0L)).as("n_a"),
        coalesce(max("_nb"), lit(0L)).as("n_b"),
        when(max(expr("_sa IS NULL OR _sb IS NULL").cast("int")) === 1,
          lit(null).cast("long"))
          .otherwise(sum(expr("abs(_sa div _na - _sb div _nb)")))
          .as("drift_l1"))
  }

  /** Deterministic hash-sampled centroid seed set: (cent_id, centv,
    * ncent), `numCentroids` rows.
    */
  def sampledCentroids(corpus: DataFrame, numCentroids: Int): DataFrame =
    corpus.select(col("vec_id"), quantize(col("embedding")).as("centv"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(numCentroids)
      .select(col("vec_id").as("cent_id"), col("centv"))
      .withColumn("ncent", dotQ("centv", "centv"))

  /** Assign each vector its `keep` nearest centroids by exact integer
    * cosine. `carry` rides extra named columns (evaluated against the
    * raw input) through the assignment — the labeled mining path
    * ([[hardNegativesIvf]]) carries the label so the mismatch predicate
    * can fuse into the downstream cell join.
    *
    * Round-18 shape (guide §2.4 — remove shuffles outright): the
    * previous form exploded the corpus × centroids with a broadcast
    * crossJoin and ranked per vector through a WindowExec — a FULL
    * corpus-sized exchange of the quantized vectors (≤ keep rows ×
    * ~1 KB qv array per vector after WindowGroupLimit) plus a sort,
    * per assignment pass. The centroid table is codebook-sized BY
    * CONSTRUCTION (a `limit numCentroids` sample or a Lloyd round's
    * ≤numCentroids-row aggregate), so it now folds into ONE array row
    * (a one-row collect_list aggregate — the PlanLint bnl-join bounded
    * class), broadcast-attached to every vector row, and the top-keep
    * selection is a doc-local `array_sort` + `slice` — the assignment
    * stage is now map-only: ZERO exchange at any corpus size.
    *
    * Ordering parity with the replaced window (`cos DESC, cent_id ASC`
    * via row_number): the sort key is ascending
    * `struct(-cos — with NaN mapped to -Infinity, since Spark's
    * descending double order places NaN FIRST — , cent_id)`; Spark
    * normalizes ±0.0 equal on both paths, and cent_id is unique so the
    * selection is deterministic and bit-identical.
    */
  private def assignCells(df: DataFrame, cents: DataFrame,
      id: String, v: String, n: String, keep: Int,
      carry: Seq[(String, Column)] = Nil): DataFrame = {
    val base = Dedup.widen(df).select(
        Seq(col("vec_id").as(id), quantize(col("embedding")).as(v)) ++
          carry.map { case (nm, c) => c.as(nm) }: _*)
      .withColumn(n, dotQ(v, v))
    val ca = cents.agg(
      collect_list(struct(col("cent_id"), col("centv"), col("ncent")))
        .as("_ca"))
    val keys = transform(col("_ca"), c => {
      val cos = cosineFromInts(dotQC(col(v), c.getField("centv")),
        col(n), c.getField("ncent"))
      struct(
        when(isnan(cos), lit(Double.NegativeInfinity)).otherwise(-cos)
          .as("_negcos"),
        c.getField("cent_id").as("cent_id"))
    })
    base.crossJoin(broadcast(ca))
      .select(Seq(col(id), col(v), col(n),
        explode(slice(array_sort(keys), 1, keep)).as("_top")) ++
        carry.map { case (nm, _) => col(nm) }: _*)
      .select(Seq(col(id), col(v), col(n),
        col("_top.cent_id").as("cell")) ++
        carry.map { case (nm, _) => col(nm) }: _*)
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame,
      numCentroids: Int, nprobe: Int, k: Int): DataFrame =
    ivfTopKWith(corpus, queries,
      graft.util.Materialize.stable(sampledCentroids(corpus, numCentroids)),
      nprobe, k)

  /** Public assignment seam: each corpus vector's single nearest cell
    * against a FIXED centroid table — the unit of incremental IVF
    * maintenance ([[graft.streaming.StreamingIvf]]): assignment is
    * per-row against broadcast centroids, so it distributes over any
    * batch decomposition of the corpus (union of per-batch assignments
    * == one-pass assignment, spec-pinned). Output (cid, cv, nc, cell)
    * — feed [[ivfSearchAssigned]].
    */
  def ivfAssign(corpus: DataFrame, cents: DataFrame): DataFrame =
    assignCells(corpus, cents, "cid", "cv", "nc", keep = 1)

  /** Public search seam over PRE-ASSIGNED corpus cells (the
    * [[ivfAssign]] output, one-pass or batch-folded): probe `nprobe`
    * query cells, exact integer cosine within candidates, top-k per
    * query. The index-build / search split every vector store ships.
    */
  def ivfSearchAssigned(corpusCells: DataFrame, queries: DataFrame,
      cents: DataFrame, nprobe: Int, k: Int): DataFrame =
    ivfSearchCells(corpusCells, queries, cents, nprobe, k)

  /** IVF search against a CALLER-SUPPLIED centroid table — the seam that
    * takes [[kmeansCentroids]]' refined centroids (or any external
    * codebook) without changing the plan shape.
    */
  def ivfTopKWith(corpus: DataFrame, queries: DataFrame, cents: DataFrame,
      nprobe: Int, k: Int): DataFrame =
    ivfSearchCells(assignCells(corpus, cents, "cid", "cv", "nc", keep = 1),
      queries, cents, nprobe, k)

  /** IVF search against PRE-ASSIGNED corpus cells — the seam the
    * recall curve shares one corpus assignment across operating points
    * through (assignment is the O(N·C) pass; probing is query-sized).
    */
  private def ivfSearchCells(corpusCells: DataFrame, queries: DataFrame,
      cents: DataFrame, nprobe: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = assignCells(queries, cents, "qid", "qv", "nq", keep = nprobe)
    val w = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("cid"))
    corpusCells.join(q, Seq("cell"))
      .filter(col("cid") =!= col("qid"))
      .withColumn("cos_sim", cosineFromInts(dotQ("qv", "cv"), col("nq"), col("nc")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "cid", "cell", "rank", "cos_sim")
  }

  /** Recall-vs-nprobe TUNING CURVE: mean recall@k per probe count, in
    * one pass over each expensive input — the brute-force reference is
    * computed ONCE and the corpus is cell-assigned ONCE (both
    * materialized), then each operating point pays only its query-sized
    * probe + Q·k-bounded overlap. This is the table a pipeline reads to
    * pick nprobe ("how much recall does the next probe buy?") — FAISS
    * publishes exactly this curve per index; the single-point
    * [[ivfRecall]] grades the shipped configuration, this grades the
    * configuration SPACE. Zero-recall queries count (left join from the
    * full query list), so the mean is honest.
    * Output per probe: (nprobe, n_queries, sum_common,
    * mean_recall_permille = 1000·Σcommon div (Q·k)).
    */
  def ivfRecallCurve(corpus: DataFrame, queries: DataFrame,
      numCentroids: Int, probes: Seq[Int], k: Int): DataFrame = {
    require(probes.nonEmpty && probes.forall(_ >= 1),
      s"probes must be >= 1, got $probes")
    require(probes.distinct.size == probes.size, s"duplicate probes: $probes")
    val cents = graft.util.Materialize.stable(
      sampledCentroids(corpus, numCentroids))
    val c = graft.util.Materialize.stable(
      assignCells(corpus, cents, "cid", "cv", "nc", keep = 1))
    val ref = graft.util.Materialize.stable(
      bruteForceTopK(corpus, queries, k).select("qid", "cid"))
    probes.sorted.map { p =>
      recallOverlap(ref, ivfSearchCells(c, queries, cents, p, k), queries, k)
        .agg(count(lit(1)).as("n_queries"),
          sum("n_common").as("sum_common"))
        .select(lit(p).cast("long").as("nprobe"), col("n_queries"),
          col("sum_common"),
          expr(s"sum_common * 1000 div (n_queries * $k)")
            .as("mean_recall_permille"))
    }.reduce(_ unionByName _)
  }

  /** Shared recall@k overlap: |reference ∩ approx| per query against
    * the full query list (a query the index returns NOTHING for must
    * appear with recall 0 — dropping it overstates the index). Both
    * inputs are k-bounded per query, so the join carries Q·k rows
    * however big the corpus.
    */
  private def recallOverlap(reference: DataFrame, approx: DataFrame,
      queries: DataFrame, k: Int): DataFrame = {
    val common = reference.select("qid", "cid")
      .join(approx.select("qid", "cid"), Seq("qid", "cid"), "left_semi")
      .groupBy("qid").agg(count(lit(1)).as("n_common"))
    queries.select(col("vec_id").as("qid"))
      .join(common, Seq("qid"), "left")
      .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
      .withColumn("recall_permille", expr(s"n_common * 1000 div $k"))
  }

  /** Exact integer-L2 brute-force top-k — the reference ranking for the
    * L2-metric indexes (PQ/SQ8 approximate L2, so their recall must be
    * judged against the exact L2 order, not the cosine one: the two
    * orders differ whenever norms differ). Same broadcast-query scan
    * shape as [[bruteForceTopK]]; `long_l2` is the fused codegen
    * expression.
    */
  def bruteForceL2TopK(corpus: DataFrame, queries: DataFrame,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col("vec_id").as("qid"),
      quantize(col("embedding")).as("qv"))
    val c = Dedup.widen(corpus).select(col("vec_id").as("cid"),
      quantize(col("embedding")).as("cv"))
    val w = Window.partitionBy("qid").orderBy(col("dist").asc, col("cid"))
    c.crossJoin(broadcast(q))
      .filter(col("cid") =!= col("qid"))
      .withColumn("dist", l2Q("qv", "cv"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "cid", "rank", "dist")
  }

  /** Per-query recall@k of the IVF search against the brute-force
    * ranking — the audit a pipeline runs before trusting a
    * (numCentroids, nprobe) operating point at scale (FAISS publishes
    * exactly this curve per index config). Same Q·k-bounded overlap
    * shape as [[matryoshkaRecall]]; zero-recall queries are kept via
    * the left join from the full query list (dropping them overstates
    * the index's quality).
    */
  def ivfRecall(corpus: DataFrame, queries: DataFrame,
      numCentroids: Int, nprobe: Int, k: Int): DataFrame =
    recallOverlap(bruteForceTopK(corpus, queries, k),
      ivfTopK(corpus, queries, numCentroids, nprobe, k), queries, k)

  /** Per-anchor recall@k of the INDEX-MINED hard negatives against the
    * brute-force mining (round-15 verdict #5): [[hardNegativesIvf]] is
    * approximate in exactly the IVF sense, but until this audit only the
    * POSITIVE search path had a gated recall number ([[ivfRecall]]) —
    * a training pipeline trusting index-mined negatives needs the same
    * overlap evidence, because a systematically missed hard negative
    * band silently softens the contrastive objective. Same Q·k-bounded
    * [[recallOverlap]] shape; the query list is the LABELED anchor set
    * (NULL-label anchors never mine on either path), so zero-recall
    * anchors are kept rather than dropped.
    */
  def hardNegativesRecall(corpus: DataFrame, anchors: DataFrame,
      labelCol: String, k: Int, numCentroids: Int, nprobe: Int,
      maxAnchors: Long = MaxBruteForceAnchors): DataFrame =
    recallOverlap(
      hardNegatives(corpus, anchors, labelCol, k, maxAnchors),
      hardNegativesIvf(corpus, anchors, labelCol, k, numCentroids, nprobe),
      anchors.filter(col(labelCol).cast("long").isNotNull), k)

  /** Per-query recall@k of the PQ (asymmetric-distance) search against
    * the EXACT-L2 brute-force ranking — the quantization-loss audit for
    * the lossiest index tier. Judged in PQ's own metric (L2), so the
    * number isolates code-approximation error from metric mismatch.
    */
  def pqRecall(corpus: DataFrame, queries: DataFrame, k: Int,
      m: Int = 8): DataFrame =
    recallOverlap(bruteForceL2TopK(corpus, queries, k),
      pqTopK(corpus, queries, k, m), queries, k)

  /** Recall@k of the Hamming-code two-stage search against the
    * brute-force COSINE ranking (the metric its sign codes approximate
    * and its rerank stage scores in). With this, every approximate tier
    * ships its recall audit: matryoshka, IVF, PQ, SQ8, Hamming.
    */
  def hammingRecall(corpus: DataFrame, queries: DataFrame, k: Int,
      nBits: Int = 32, candMult: Int = 4): DataFrame =
    recallOverlap(bruteForceTopK(corpus, queries, k),
      hammingTopK(corpus, queries, k, nBits, candMult), queries, k)

  /** Recall@k of the SQ8 scalar-quantized search against the EXACT-L2
    * ranking (its own metric — the [[pqRecall]] rationale).
    */
  def sq8Recall(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    recallOverlap(bruteForceL2TopK(corpus, queries, k),
      sq8TopK(corpus, queries, k), queries, k)

  /** IVF cell-balance audit: per-cell population plus its per-mille
    * share — the load-balance check run alongside [[ivfRecall]] before
    * trusting an IVF layout (a cell holding half the corpus makes nprobe
    * meaningless: every probe of it scans N/2). One broadcast-assign
    * scan and a ≤ numCentroids-row aggregate.
    */
  def ivfCellBalance(corpus: DataFrame, numCentroids: Int): DataFrame = {
    val cells = assignCells(corpus,
      graft.util.Materialize.stable(sampledCentroids(corpus, numCentroids)),
      "cid", "cv", "nc", keep = 1)
    val counts = cells.groupBy("cell").agg(count(lit(1)).as("n_vecs"))
    // 1-row broadcast total (the Q11 idiom) — no driver-side count action
    val total = counts.agg(sum("n_vecs").as("_total"))
    counts.crossJoin(broadcast(total))
      .withColumn("share_permille", expr("n_vecs * 1000 div _total"))
      .drop("_total")
  }

  /** Lloyd refinement of the IVF codebook: `iters` rounds of
    * assign-to-nearest (broadcast centroids, exact integer cosine) +
    * per-cell elementwise mean. The production step the fixed-sample
    * doc above deferred — it changes centroid VALUES, never plan shape.
    *
    * Scale shape per round: one broadcast-assign scan, one
    * (cell, dimension)-keyed partial-sum aggregate over the exploded
    * coordinates (N×d rows — the canonical distributed k-means shuffle,
    * map-side combined), one array rebuild per cell. Means stay in the
    * quantized int64 domain (sum div count), so results are deterministic
    * under any partitioning and engine-portable. A cell that loses every
    * vector keeps its previous centroid (no NaN drift, codebook size
    * constant). Lineage is truncated per round.
    */
  /** Deterministic farthest-point seeding (the greedy k-means++ variant):
    * seed 1 is the hash-min vector; each next seed is the vector with the
    * LOWEST maximum cosine to the chosen set (i.e. farthest from every
    * seed so far), ties by vec_id. Plain hash sampling can drop two seeds
    * into one true cluster, and Lloyd can never split them apart again —
    * farthest-point guarantees spread. Cost: k-1 broadcast scans, k
    * bounded and small.
    *
    * NOT the production path — [[farthestPointSeedsSampled]] (wired into
    * [[kmeansCentroids]]) computes the same greedy selection over a
    * bounded sample in ONE job instead of 2(k−1); this full-corpus
    * variant exists as the exactness reference for the parity test in
    * `DedupSimilaritySpec` ("sampled seeding equals full seeding on a
    * corpus smaller than the sample"). Reach for the sampled one.
    */
  def farthestPointSeeds(corpus: DataFrame, k: Int): DataFrame = {
    val base = graft.util.Materialize.stable(
      corpus.select(col("vec_id"), quantize(col("embedding")).as("centv"))
        .withColumn("ncent", dotQ("centv", "centv")))
    var seeds = base
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(1)
    for (_ <- 2 to k) {
      val s = broadcast(seeds.select(col("vec_id").as("sid"),
        col("centv").as("sv"), col("ncent").as("sn")))
      // exclude already-chosen ids: when every remaining vector is
      // cosine-1 to the chosen set (fewer distinct directions than k),
      // the argmin would otherwise re-select an existing seed and the
      // codebook would carry duplicate cent_id rows
      val next = base
        .join(seeds.select(col("vec_id")), Seq("vec_id"), "left_anti")
        .crossJoin(s)
        .groupBy("vec_id", "centv", "ncent")
        .agg(max(cosineFromInts(dotQ("centv", "sv"), col("ncent"), col("sn")))
          .as("_near"))
        .orderBy(col("_near").asc, col("vec_id"))
        .limit(1)
        .select("vec_id", "centv", "ncent")
      seeds = graft.util.Materialize.stable(seeds.unionByName(next))
    }
    seeds.select(col("vec_id").as("cent_id"), col("centv"), col("ncent"))
  }

  /** [[farthestPointSeeds]] run locally over a bounded hash-ordered
    * SAMPLE — the production seeding path. The fully-distributed variant
    * costs 2(k−1) sequential Spark jobs (one argmin + one barrier per
    * seed): correct, but k jobs of cluster-wide latency to choose k rows.
    * Seeding never needed the whole corpus — greedy farthest-point on a
    * few thousand sample vectors spreads seeds just as well (the
    * k-means‖ / scalable-k-means insight) — so this takes the
    * `sampleSize` hash-min vectors in ONE TakeOrdered job (deterministic:
    * md5 order, id ties), runs the identical greedy rule on the driver
    * (O(sampleSize·k·dim) — bounded, tiny), and returns the same seed
    * schema. When `sampleSize >= N` the result is IDENTICAL to the
    * distributed variant (spec-checked); below that it differs only in
    * which well-spread seeds it picks, which one Lloyd round washes out.
    */
  def farthestPointSeedsSampled(corpus: DataFrame, k: Int,
      sampleSize: Int = 4096): DataFrame = {
    require(sampleSize >= k, s"sample $sampleSize smaller than k=$k")
    val spark = corpus.sparkSession
    val samp = corpus
      .select(col("vec_id"), quantize(col("embedding")).as("centv"))
      .withColumn("ncent", dotQ("centv", "centv"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(sampleSize)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
    require(samp.nonEmpty, "cannot seed a codebook from an empty corpus")
    def cos(a: (Long, Array[Long], Long), b: (Long, Array[Long], Long)): Double = {
      var d = 0L; var i = 0
      while (i < a._2.length) { d += a._2(i) * b._2(i); i += 1 }
      d.toDouble / (math.sqrt(a._3.toDouble) * math.sqrt(b._3.toDouble))
    }
    // samp arrives in hash order, so samp(0) is the distributed
    // variant's first seed; thereafter the same argmin-of-max-cosine
    // greedy step with the same id tie-break
    val chosen = scala.collection.mutable.ArrayBuffer(samp.head)
    val rest = scala.collection.mutable.ArrayBuffer.from(samp.tail)
    while (chosen.size < k && rest.nonEmpty) {
      val next = rest.minBy(v => (chosen.map(cos(v, _)).max, v._1))
      chosen += next
      rest -= next
    }
    import spark.implicits._
    chosen.toSeq.toDF("cent_id", "centv", "ncent")
  }

  def kmeansCentroids(corpus: DataFrame, numCentroids: Int, iters: Int,
      metrics: Option[graft.ops.Metrics.Registry] = None,
      seedSampleSize: Int = 4096): DataFrame =
    kmeansCentroidsWith(corpus,
      farthestPointSeedsSampled(corpus, numCentroids, seedSampleSize),
      iters, metrics)

  /** Lloyd refinement against a CALLER-SUPPLIED seed codebook — the seam
    * that decouples seeding policy from refinement. [[kmeansCentroids]]
    * (the production default) seeds via greedy farthest-point;
    * [[sampledCentroids]] seeds give the whole pipeline a closed SQL
    * form, which is what the `semantic_dedup` gate oracles (each Lloyd
    * round unrolls to assign-by-cosine + per-dimension integer mean in
    * DuckDB). Seeds must carry (cent_id, centv, ncent).
    */
  def kmeansCentroidsWith(corpus: DataFrame, seeds: DataFrame, iters: Int,
      metrics: Option[graft.ops.Metrics.Registry] = None): DataFrame = {
    var cents = graft.util.Materialize.stable(seeds)
    var rounds = 0
    for (_ <- 1 to iters) {
      val assigned = assignCells(corpus, cents, "cid", "cv", "nc", keep = 1)
      val means = assigned
        .select(col("cell"), posexplode(col("cv")))
        .groupBy("cell", "pos").agg(sum("col").as("s"), count(lit(1)).as("n"))
        .groupBy("cell").agg(
          expr("transform(array_sort(collect_list(named_struct('p', pos, 'v', s div n)))," +
            " x -> x.v)").as("centv"))
      cents = graft.util.Materialize.stable(
        cents.select(col("cent_id"), col("centv").as("_old"), col("ncent").as("_oldn"))
          .join(means.withColumnRenamed("cell", "cent_id")
            .withColumnRenamed("centv", "_new"), Seq("cent_id"), "left")
          .withColumn("centv", coalesce(col("_new"), col("_old")))
          .select(col("cent_id"), col("centv"))
          .withColumn("ncent", dotQ("centv", "centv")))
      rounds += 1
    }
    // gauge reports EXECUTED rounds, set after the loop — reporting the
    // request up front would mislead ops if early-exit is ever added;
    // the codebook is barriered (tiny), so the k-label count is local
    metrics.foreach(m => m.setGauge("graft_kmeans_rounds", rounds.toDouble,
      Seq("k" -> cents.count().toString)))
    cents
  }

  /** Bucket id for multi-table LSH: table `t` uses planes
    * [t*bitsK, (t+1)*bitsK). Renders for either engine (Spark
    * `element_at`, DuckDB 1-based `[]`) so the oracle shares the exact
    * plane constants.
    */
  def tableBucketSql(vecExpr: String, t: Int, spark: Boolean = true,
      bitsK: Int = BitsK): String = {
    require(TablesL * bitsK <= MaxPlanes,
      s"bitsK=$bitsK needs ${TablesL * bitsK} planes; only $MaxPlanes generated")
    (0 until bitsK).map { j =>
      val proj =
        if (spark) planeDotSpark(vecExpr, t * bitsK + j)
        else planeExpr(t * bitsK + j, d => s"$vecExpr[$d]")
      s"(CASE WHEN $proj > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")
  }

  /** Per-table bit width for the multi-table LSH family, sized like
    * [[planesForCorpus]]: expected bucket occupancy is N / 2^bitsK, so
    * bitsK = ceil(log₂(N / targetOccupancy)) keeps per-bucket candidate
    * work (≈ occupancy² per bucket) CONSTANT as the corpus grows — a
    * pinned bitsK goes quadratic. Clamped to [BitsK, MaxPlanes/TablesL]
    * (the generated plane budget; 8 bits × 8 tables at the top).
    */
  def bitsForCorpus(n: Long, targetOccupancy: Long = 256L): Int =
    math.min(MaxPlanes / TablesL, math.max(BitsK,
      math.ceil(math.log(math.max(1.0, n.toDouble / targetOccupancy)) / math.log(2)).toInt))

  /** Multi-table LSH ANN (standard L×k construction — the production
    * recall/selectivity knob): a vector lands in one bucket per table;
    * candidates = pairs sharing any (table, bucket); distinct candidates
    * are scored once by exact cosine. Still strictly equi-join driven:
    * the explode multiplies rows by L (cheap ids, not payloads), the join
    * key is (table, bucket), and payload vectors are re-attached only for
    * surviving candidates.
    */
  /** Embedding-cosine near-duplicate pairs — the fifth dedup family
    * (alongside exact / n-gram Jaccard / MinHash-LSH / SimHash): all
    * pairs with cosine ≥ `threshold`, blocked by multi-table LSH so the
    * candidate set is per-bucket, never all-pairs. A pair at cosine c
    * survives blocking with probability 1-(1-(1-acos(c)/π)^BitsK)^TablesL
    * (≈0.75 at c=0.4 for 8×4) — the standard recall/selectivity trade of
    * an LSH near-dup join; raise TablesL for recall, `bitsK` for
    * selectivity — pass `bitsK = bitsForCorpus(N)` at scale so per-bucket
    * occupancy (and with it per-bucket candidate work) stays constant as
    * the corpus grows. The default pins the oracle's literal constants.
    *
    * Scale shape: the explode multiplies only (id, bucket) ids by L; the
    * single shuffle is the (t, b) equi-join; quantized payload vectors
    * are re-attached just for surviving candidates; exact integer cosine
    * reranks. Deterministic blocking (md5 planes) keeps the oracle
    * bit-identical.
    */
  def cosineNearDupPairs(corpus: DataFrame, threshold: Double,
      bitsK: Int = BitsK): DataFrame = {
    // tableBucketSql references long_dot by NAME (SQL string) — register
    // on the frame's own session
    graft.functions.ArrayFns.register(corpus.sparkSession)
    // both frames feed multiple plan branches (self-join sides + the two
    // payload re-joins) — materialize so AQE's concurrent branch launch
    // can't recompute the quantize + L×k plane projections per branch
    val v = graft.util.Materialize.stable(
      Dedup.widen(corpus).select(col("vec_id").as("vid"), quantize(col("embedding")).as("qv"))
        .withColumn("nv", dotQ("qv", "qv")))
    val bucketed = graft.util.Materialize.stable(
      v.select(col("vid"), explode(array((0 until TablesL).map(t =>
          struct(lit(t).as("t"), expr(tableBucketSql("qv", t, bitsK = bitsK)).as("b"))): _*)).as("tb"))
        .select(col("vid"), col("tb.t").as("t"), col("tb.b").as("b")))
    val cand = bucketed.as("a")
      .join(bucketed.as("b"),
        col("a.t") === col("b.t") && col("a.b") === col("b.b") &&
          col("a.vid") < col("b.vid"))
      .select(col("a.vid").as("doc_a"), col("b.vid").as("doc_b")).distinct()
    val pa = v.select(col("vid").as("doc_a"), col("qv").as("va"), col("nv").as("na"))
    val pb = v.select(col("vid").as("doc_b"), col("qv").as("vb"), col("nv").as("nb"))
    cand.join(pa, "doc_a").join(pb, "doc_b")
      .withColumn("cos_sim", cosineFromInts(dotQ("va", "vb"), col("na"), col("nb")))
      .filter(col("cos_sim") >= threshold)
      .select("doc_a", "doc_b", "cos_sim")
  }

  def lshMultiTableTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      bitsK: Int = BitsK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // tableBucketSql references long_dot by NAME (SQL string) — register
    // on the frames' own session
    graft.functions.ArrayFns.register(corpus.sparkSession)
    def prep(df: DataFrame, id: String, v: String, n: String) =
      df.select(col("vec_id").as(id), quantize(col("embedding")).as(v))
        .withColumn(n, dotQ(v, v))
    def bucketed(df: DataFrame, id: String, v: String) =
      df.select(col(id), explode(array((0 until TablesL).map(t =>
        struct(lit(t).as("t"), expr(tableBucketSql(v, t, bitsK = bitsK)).as("b"))): _*)).as("tb"))
        .select(col(id), col("tb.t").as("t"), col("tb.b").as("b"))
    val q = prep(queries, "qid", "qv", "nq")
    val c = prep(Dedup.widen(corpus), "cid", "cv", "nc")
    val cand = bucketed(q, "qid", "qv")
      .join(bucketed(c, "cid", "cv"), Seq("t", "b"))
      .filter(col("cid") =!= col("qid"))
      .select("qid", "cid").distinct()
    val scored = cand.join(q, "qid").join(c, "cid")
      .withColumn("dot", dotQ("qv", "cv"))
      .withColumn("cos_sim", cosineFromInts(col("dot"), col("nq"), col("nc")))
    val w = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "cid", "rank", "cos_sim")
  }

  /** Exact integer squared-L2 of two quantized vectors — the codegen'd
    * single-pass [[graft.functions.LongArrayL2]] expression (the
    * three-dot identity |a−b|² = a·a + b·b − 2a·b costs 3 traversals
    * where one suffices; this sits in the PQ/ADC hot loop at
    * rows × m × kCent evaluations). Identical integer result rendered
    * for the oracle by [[l2SqlDuck]].
    */
  def l2Q(a: String, b: String): Column = {
    import org.apache.spark.sql.GraftExpressionBridge._
    column(graft.functions.LongArrayL2(expression(expr(a)), expression(expr(b))))
  }

  def l2SqlDuck(a: String, b: String): String =
    s"(${dotQSqlDuck(a, a)} + ${dotQSqlDuck(b, b)} - 2 * ${dotQSqlDuck(a, b)})"

  /** Product-quantization codebooks (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search"): the d-dim quantized
    * space splits into `m` subspaces of d/m dims; subspace i's `kCent`
    * codewords are the i-th sub-vectors of the hash-ordered sample
    * vectors (the [[sampledCentroids]] rule per subspace — deterministic
    * and SQL-renderable, which Lloyd is not; [[kmeansCentroids]]-style
    * refinement would change codeword VALUES, not any plan below).
    * Output: (m, code, cv) — m·kCent rows, broadcast-sized by
    * construction.
    */
  def pqCodebooks(corpus: DataFrame, m: Int, kCent: Int): DataFrame = {
    require(m > 0 && Dim % m == 0, s"m=$m must divide dim $Dim")
    val w = Dim / m
    corpus.select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(kCent)
      .select(col("vec_id").as("code"), posexplode(array((0 until m).map(i =>
        expr(s"slice(qv, ${i * w + 1}, $w)")): _*)).as(Seq("m", "cv")))
  }

  /** PQ encoding: each vector compresses to `m` small codes —
    * code_i(x) = argmin_j |x_i − C[i][j]|², ties by code id. At 100 TB
    * this is THE storage/bandwidth lever: a 64-dim int64 vector (512 B)
    * becomes m=8 codes (8 B), so the candidate stream of a billion-vector
    * search moves 64× less data, and scoring never touches the original
    * vectors. One broadcast join against the m·kCent codebook + a
    * WindowGroupLimit argmin — no corpus-sized exchange.
    */
  def pqEncode(corpus: DataFrame, codebooks: DataFrame, m: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(m > 0 && Dim % m == 0, s"m=$m must divide dim $Dim")
    val w = Dim / m
    val subs = Dedup.widen(corpus)
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .select(col("vec_id"), posexplode(array((0 until m).map(i =>
        expr(s"slice(qv, ${i * w + 1}, $w)")): _*)).as(Seq("m", "sv")))
    val win = Window.partitionBy("vec_id", "m")
      .orderBy(col("d").asc, col("code"))
    subs.join(broadcast(codebooks), Seq("m"))
      .withColumn("d", l2Q("sv", "cv"))
      .withColumn("rn", row_number().over(win)).filter(col("rn") === 1)
      .select("vec_id", "m", "code")
  }

  /** Per-subspace Lloyd refinement of the PQ codebooks — the training
    * step that turns the hash-sampled seed codewords into real
    * quantizers (on unstructured data a sampled codeword is as far from
    * everything as everything else is; refinement is what makes PQ's
    * distance approximation usable). Same loop discipline as
    * [[kmeansCentroids]]: per round, one broadcast-assign over the
    * exploded sub-vectors + one (m, code, dim)-keyed partial-sum mean,
    * means in the integer domain, empty codewords keep their previous
    * value, lineage truncated per round. Changes codeword VALUES only —
    * every plan downstream ([[pqEncode]], [[pqTopK]] via `codebooks`)
    * is unchanged.
    */
  def pqCodebooksRefined(corpus: DataFrame, m: Int, kCent: Int,
      iters: Int): DataFrame = {
    require(m > 0 && Dim % m == 0, s"m=$m must divide dim $Dim")
    val w = Dim / m
    val subs = graft.util.Materialize.stable(
      Dedup.widen(corpus)
        .select(col("vec_id"), quantize(col("embedding")).as("qv"))
        .select(col("vec_id"), posexplode(array((0 until m).map(i =>
          expr(s"slice(qv, ${i * w + 1}, $w)")): _*)).as(Seq("m", "sv"))))
    lloydOnSubs(subs, pqCodebooks(corpus, m, kCent), iters)
  }

  /** The per-subspace Lloyd loop over ANY (vec_id, m, sv) sub-vector
    * frame — raw space ([[pqCodebooksRefined]]) or residual space
    * ([[residualCodebooksRefined]], what FAISS actually trains). Seeded
    * from `seed` (m, code, cv); per round one broadcast-assign + one
    * (m, code, dim)-keyed partial-sum mean in the integer domain; empty
    * codewords keep their previous value; lineage truncated per round.
    */
  private def lloydOnSubs(subs: DataFrame, seed: DataFrame,
      iters: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    var cb = graft.util.Materialize.stable(seed)
    for (_ <- 1 to iters) {
      val win = Window.partitionBy("vec_id", "m")
        .orderBy(col("d").asc, col("code"))
      val assigned = subs.join(broadcast(cb), Seq("m"))
        .withColumn("d", l2Q("sv", "cv"))
        .withColumn("rn", row_number().over(win)).filter(col("rn") === 1)
        .select(col("m"), col("code"), col("sv"))
      val means = assigned
        .select(col("m"), col("code"), posexplode(col("sv")))
        .groupBy("m", "code", "pos")
        .agg(sum("col").as("s"), count(lit(1)).as("c"))
        .groupBy("m", "code").agg(
          expr("transform(array_sort(collect_list(named_struct('p', pos, 'v', s div c)))," +
            " x -> x.v)").as("_new"))
      cb = graft.util.Materialize.stable(
        cb.join(means, Seq("m", "code"), "left")
          .select(col("m"), col("code"),
            coalesce(col("_new"), col("cv")).as("cv")))
    }
    cb
  }

  /** Lloyd-trained RESIDUAL codebooks — the full FAISS IVFPQ training
    * recipe: sub-vectors are residuals against the coarse centroids, the
    * hash-sampled residual codewords seed, and [[lloydOnSubs]] refines.
    * Feed the result to [[ivfPqResidualTopK]]'s `cbOverride` — values
    * change, no plan does.
    */
  def residualCodebooksRefined(corpus: DataFrame, coarse: DataFrame,
      numCentroids: Int, m: Int, kCent: Int, iters: Int): DataFrame = {
    require(m > 0 && Dim % m == 0, s"m=$m must divide dim $Dim")
    val w = Dim / m
    import org.apache.spark.sql.expressions.Window
    val cents = coarse.select(col("cent_id"), col("centv"), col("ncent"))
    val win = Window.partitionBy("vec_id").orderBy(col("_cos").desc, col("cent_id"))
    val subs = graft.util.Materialize.stable(
      Dedup.widen(corpus)
        .select(col("vec_id"), quantize(col("embedding")).as("qv"))
        .withColumn("nv", dotQ("qv", "qv"))
        .crossJoin(broadcast(cents))
        .withColumn("_cos", cosineFromInts(dotQ("qv", "centv"), col("nv"), col("ncent")))
        .withColumn("_rn", row_number().over(win)).filter(col("_rn") === 1)
        .withColumn("_r", expr("zip_with(qv, centv, (a, b) -> a - b)"))
        .select(col("vec_id"), posexplode(array((0 until m).map(i =>
          expr(s"slice(_r, ${i * w + 1}, $w)")): _*)).as(Seq("m", "sv"))))
    lloydOnSubs(subs,
      residualCodebooks(corpus, coarse, numCentroids, m, kCent), iters)
  }

  /** PQ asymmetric-distance top-k (the ADC construction): the query's
    * EXACT per-(subspace, codeword) distance table — Q·m·kCent rows,
    * bounded because the query set is — broadcasts into the corpus CODE
    * stream, and a candidate's approximate distance is the sum of m
    * table lookups: Σ_i |q_i − C[i][code_i(x)]|². All-integer (exact
    * sub-vector L2 in the quantized domain), so unlike the cosine family
    * this gate needs no double arithmetic at all. One broadcast join +
    * one (qid, cid)-keyed partial-agg sum + WindowGroupLimit top-k.
    * Output: (qid, cid, rank, approx_dist).
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int, m: Int = 8,
      kCent: Int = 16): DataFrame =
    pqTopKWith(corpus, queries,
      graft.util.Materialize.stable(pqCodebooks(corpus, m, kCent)), k, m)

  /** The query side's exact ADC lookup table: one row per
    * (query, subspace, codeword) with the exact integer sub-vector L2 —
    * Q·m·kCent rows, bounded because the query set is.
    */
  private def adcTable(queries: DataFrame, cb: DataFrame, m: Int): DataFrame = {
    val w = Dim / m
    queries
      .select(col("vec_id").as("qid"), quantize(col("embedding")).as("qv"))
      .select(col("qid"), posexplode(array((0 until m).map(i =>
        expr(s"slice(qv, ${i * w + 1}, $w)")): _*)).as(Seq("m", "sv")))
      .join(cb, Seq("m"))
      .withColumn("d", l2Q("sv", "cv"))
      .select("qid", "m", "code", "d")
  }

  /** [[pqTopK]] against a CALLER-SUPPLIED codebook table — the seam
    * that takes [[pqCodebooksRefined]]' trained codewords (the
    * [[ivfTopKWith]] pattern) without changing the plan shape.
    */
  def pqTopKWith(corpus: DataFrame, queries: DataFrame, cb: DataFrame,
      k: Int, m: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, s"k must be positive, got $k")
    val codes = pqEncode(corpus, cb, m)
    val win = Window.partitionBy("qid")
      .orderBy(col("approx_dist").asc, col("cid"))
    codes.withColumnRenamed("vec_id", "cid")
      .join(broadcast(adcTable(queries, cb, m)), Seq("m", "code"))
      .filter(col("cid") =!= col("qid"))
      .groupBy("qid", "cid").agg(sum("d").as("approx_dist"))
      .withColumn("rank", row_number().over(win)).filter(col("rank") <= k)
      .select("qid", "cid", "rank", "approx_dist")
  }

  /** IVF-PQ (the FAISS IVFPQ composition, Jégou et al. 2011 §V): the
    * coarse quantizer bounds the candidate set to the query's `nprobe`
    * cells (the IVF lever — work ∝ N·nprobe/numCentroids per query,
    * not N) and PQ codes score those candidates without ever touching
    * the original vectors (the bandwidth lever) — together, the
    * standard billion-vector search architecture. Non-residual
    * encoding: codes quantize the vectors themselves, so the codebook
    * seam is shared verbatim with [[pqTopK]]; residual encoding would
    * change codeword VALUES through the same plan. All-integer ADC
    * scoring, so the gate is hash-oracled end to end.
    *
    * Scale shape: one broadcast-assign per side (bounded centroid
    * table), the cell equi-join bounds candidates, then ONE broadcast
    * ADC join + (qid, cid)-keyed partial-agg sum + WindowGroupLimit —
    * the full-vector payload never moves after encoding.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      numCentroids: Int = 16, nprobe: Int = 3, m: Int = 8,
      kCent: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, s"k must be positive, got $k")
    val coarse = graft.util.Materialize.stable(
      sampledCentroids(corpus, numCentroids))
    val cb = graft.util.Materialize.stable(pqCodebooks(corpus, m, kCent))
    // a corpus vector lives in exactly one cell, so (qid, cid) pairs
    // from the cell join are already unique — no distinct needed
    val cand = assignCells(corpus, coarse, "cid", "cv", "nc", keep = 1)
      .select("cid", "cell")
      .join(assignCells(queries, coarse, "qid", "qv", "nq", keep = nprobe)
        .select("qid", "cell"), Seq("cell"))
      .filter(col("cid") =!= col("qid"))
      .select("qid", "cid")
    val codes = pqEncode(corpus, cb, m).withColumnRenamed("vec_id", "cid")
    val win = Window.partitionBy("qid")
      .orderBy(col("approx_dist").asc, col("cid"))
    cand.join(codes, Seq("cid"))
      .join(broadcast(adcTable(queries, cb, m)), Seq("qid", "m", "code"))
      .groupBy("qid", "cid").agg(sum("d").as("approx_dist"))
      .withColumn("rank", row_number().over(win)).filter(col("rank") <= k)
      .select("qid", "cid", "rank", "approx_dist")
  }

  /** Residual IVF-PQ (FAISS's default IVFPQ encoding, Jégou et al. 2011
    * §V.A): codes quantize the RESIDUAL x − centroid(cell(x)) instead of
    * x itself — within a coherent cell residuals are small, so the same
    * m×kCent codebook budget spends its resolution where the data
    * actually varies (spec: raw-space reconstruction error strictly
    * below non-residual PQ on clustered data). Residual codewords come
    * from the NEXT `kCent` hash-ordered sample vectors' residuals
    * (offset past the coarse sample — the coarse vectors' own residuals
    * are zero), keeping the whole construction closed-form SQL like the
    * plain variant.
    *
    * Plan shape: identical budget to [[ivfPqTopK]] — the per-(query,
    * probed-cell) residual ADC table is Q·nprobe·m·kCent rows (bounded),
    * broadcasts into the code stream, and the (cell, m, code) equi-join
    * IS the candidate bound (a corpus row only meets queries probing its
    * cell). Output: (qid, cid, rank, approx_dist), all-integer.
    */
  def ivfPqResidualTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      numCentroids: Int = 16, nprobe: Int = 3, m: Int = 8,
      kCent: Int = 16, cbOverride: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, s"k must be positive, got $k")
    val coarse = graft.util.Materialize.stable(
      sampledCentroids(corpus, numCentroids))
    // cbOverride: a trained codebook (residualCodebooksRefined) — the
    // values-only seam; the gate pins the sampled default for the oracle
    val cb = cbOverride.getOrElse(graft.util.Materialize.stable(
      residualCodebooks(corpus, coarse, numCentroids, m, kCent)))
    val cents = coarse.select(col("cent_id").as("cell"), col("centv"))
    def residualSubs(df: DataFrame, id: String, keep: Int) = {
      val w = Dim / m
      assignCells(df, coarse, id, "_v", "_n", keep)
        .join(broadcast(cents), Seq("cell"))
        .withColumn("_r", expr("zip_with(_v, centv, (a, b) -> a - b)"))
        .select(col(id), col("cell"), posexplode(array((0 until m).map(i =>
          expr(s"slice(_r, ${i * w + 1}, $w)")): _*)).as(Seq("m", "sv")))
    }
    val win0 = Window.partitionBy("cid", "m").orderBy(col("d").asc, col("code"))
    val codes = residualSubs(corpus, "cid", keep = 1)
      .join(broadcast(cb), Seq("m"))
      .withColumn("d", l2Q("sv", "cv"))
      .withColumn("rn", row_number().over(win0)).filter(col("rn") === 1)
      .select("cid", "cell", "m", "code")
    val qd = residualSubs(queries, "qid", keep = nprobe)
      .join(broadcast(cb), Seq("m"))
      .withColumn("d", l2Q("sv", "cv"))
      .select("qid", "cell", "m", "code", "d")
    val win = Window.partitionBy("qid")
      .orderBy(col("approx_dist").asc, col("cid"))
    codes.join(broadcast(qd), Seq("cell", "m", "code"))
      .filter(col("cid") =!= col("qid"))
      .groupBy("qid", "cid").agg(sum("d").as("approx_dist"))
      .withColumn("rank", row_number().over(win)).filter(col("rank") <= k)
      .select("qid", "cid", "rank", "approx_dist")
  }

  /** Residual PQ codebooks: the `kCent` hash-ordered sample vectors
    * AFTER the coarse sample, each residual-encoded against its own
    * nearest coarse centroid, sub-sliced per subspace. Output
    * (m, code, cv), code = the sample's vec_id.
    */
  def residualCodebooks(corpus: DataFrame, coarse: DataFrame,
      numCentroids: Int, m: Int, kCent: Int): DataFrame = {
    require(m > 0 && Dim % m == 0, s"m=$m must divide dim $Dim")
    val w = Dim / m
    val sv = corpus
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .offset(numCentroids).limit(kCent)
      .withColumn("nv", dotQ("qv", "qv"))
    val c = broadcast(coarse)
    import org.apache.spark.sql.expressions.Window
    val win = Window.partitionBy("vec_id").orderBy(col("_cos").desc, col("cent_id"))
    sv.crossJoin(c)
      .withColumn("_cos", cosineFromInts(dotQ("qv", "centv"), col("nv"), col("ncent")))
      .withColumn("_rn", row_number().over(win)).filter(col("_rn") === 1)
      .withColumn("_r", expr("zip_with(qv, centv, (a, b) -> a - b)"))
      .select(col("vec_id").as("code"), posexplode(array((0 until m).map(i =>
        expr(s"slice(_r, ${i * w + 1}, $w)")): _*)).as(Seq("m", "cv")))
  }

  /** Semantic deduplication (SemDeDup, Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with the
    * deterministic [[kmeansCentroids]] codebook, then prune
    * near-duplicate pairs WITHIN each cluster — a pair at cosine ≥
    * `threshold` keeps only its lower id. Clustering makes the pair
    * search per-cell instead of all-pairs: candidate work is
    * Σ|cell|² ≈ N²/k, so `numCentroids` plays the role
    * [[bitsForCorpus]] plays for LSH — size it ~N/targetCell
    * (paper: 50k clusters for LAION-440M) and per-cell work stays
    * constant as the corpus grows. Unlike LSH blocking the recall
    * loss is one-sided and interpretable: only CROSS-cluster
    * near-dups are missed, and SemDeDup's premise is that semantic
    * duplicates co-locate in embedding space.
    *
    * Scale shape: k-means is iters × (broadcast-assign scan +
    * (cell,dim)-keyed partial agg); the prune is ONE cell-keyed
    * equi-self-join of the assigned frame (ids + quantized vectors),
    * exact integer cosine on candidates only. Everything is
    * deterministic (integer centroid domain, md5 seeding, id
    * tie-breaks), so output is partitioning-invariant.
    *
    * Output: one row per input vector — (vec_id, cell, is_dup);
    * the curated kept set is `is_dup = false`.
    */
  def semanticDedup(corpus: DataFrame, numCentroids: Int, iters: Int,
      threshold: Double,
      metrics: Option[graft.ops.Metrics.Registry] = None): DataFrame =
    semanticDedupWith(corpus,
      kmeansCentroids(corpus, numCentroids, iters, metrics), threshold)

  /** The SemDeDup prune against a CALLER-SUPPLIED codebook (the
    * [[ivfTopKWith]] seam, same rationale): k-means refinement changes
    * centroid VALUES, never this plan. With [[sampledCentroids]] the
    * whole computation has a closed SQL form (hash-ordered seed pick +
    * argmax assignment + within-cell pairs), so that variant is
    * hash-oracle-gated; the Lloyd-refined default is rows-only gated +
    * spec-proven.
    */
  def semanticDedupWith(corpus: DataFrame, cents: DataFrame,
      threshold: Double): DataFrame = {
    // feeds the self-join's two sides plus the final re-join — one
    // materialization, same rationale as cosineNearDupPairs
    val assigned = graft.util.Materialize.stable(
      assignCells(corpus, cents, "vid", "v", "nv", keep = 1))
    val a = assigned.select(col("cell"), col("vid").as("id_a"),
      col("v").as("va"), col("nv").as("na"))
    val b = assigned.select(col("cell"), col("vid").as("id_b"),
      col("v").as("vb"), col("nv").as("nb"))
    val dropped = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(cosineFromInts(dotQ("va", "vb"), col("na"), col("nb")) >= threshold)
      .select(col("id_b").as("vid")).distinct()
    assigned
      .join(dropped.withColumn("_dup", lit(true)), Seq("vid"), "left")
      .select(col("vid").as("vec_id"), col("cell"),
        coalesce(col("_dup"), lit(false)).as("is_dup"))
  }

  // ──────────────────── SQ8 scalar quantization ────────────────────

  /** SQ8 training statistics (the FAISS `ScalarQuantizer` QT_8bit
    * rule): per-dimension min/max of the quantized corpus. ONE
    * partial-agg pass — the 2·Dim aggregate columns combine map-side,
    * no explode, no shuffle of vector payloads — producing a single
    * row of two Dim-arrays, broadcast-sized by construction.
    */
  def sq8Stats(corpus: DataFrame): DataFrame =
    Dedup.widen(corpus).select(quantize(col("embedding")).as("qv"))
      .agg(
        array((0 until Dim).map(i => min(col("qv")(i))): _*).as("mn"),
        array((0 until Dim).map(i => max(col("qv")(i))): _*).as("mx"))

  /** SQ8 encode: each vector compresses to Dim one-byte codes,
    * code_d = clamp((v_d − mn_d)·255 div (mx_d − mn_d), 0, 255)
    * (degenerate dimension → 0). All-integer arithmetic, identical in
    * both engines, so the whole family is hash-oracle-gated. At 100 TB
    * this is the MIDDLE tier of the quantization family: a narrow map
    * against the broadcast one-row stats turns the 512 B int64 vector
    * into 64 codes — 8× less candidate bandwidth at full dimensional
    * resolution, where PQ's m=8 codes are 64× smaller but sub-space
    * coarse. Corpus never exchanges.
    */
  def sq8Encode(corpus: DataFrame, stats: DataFrame): DataFrame =
    Dedup.widen(corpus)
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .crossJoin(broadcast(stats))
      .withColumn("codes", expr(
        """transform(arrays_zip(qv, mn, mx), s ->
          |greatest(0L, least(255L, CASE WHEN s.mx = s.mn THEN 0L
          |ELSE ((s.qv - s.mn) * 255) div (s.mx - s.mn) END)))"""
          .stripMargin.replace("\n", " ")))
      .select("vec_id", "codes")

  /** SQ8 search against STORED codes (the production read path —
    * [[sq8TopK]] composes train→encode→search for the gate): decode
    * v̂_d = mn_d + (code_d·(mx_d − mn_d)) div 255 in the integer
    * domain, then asymmetric exact-query-vs-decoded-corpus L2, ranked
    * per query. Scale shape: codes + broadcast stats decode in a
    * narrow map, queries broadcast (bounded side), WindowGroupLimit
    * top-k — no corpus-sized exchange anywhere.
    */
  def sq8Search(codes: DataFrame, stats: DataFrame, queries: DataFrame,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, s"k must be positive, got $k")
    val dec = codes.crossJoin(broadcast(stats))
      .withColumn("vhat", expr(
        """transform(arrays_zip(codes, mn, mx), s ->
          |s.mn + (s.codes * (s.mx - s.mn)) div 255)"""
          .stripMargin.replace("\n", " ")))
      .select(col("vec_id").as("cid"), col("vhat"))
    val q = queries.select(col("vec_id").as("qid"),
      quantize(col("embedding")).as("qv"))
    val win = Window.partitionBy("qid")
      .orderBy(col("approx_dist").asc, col("cid"))
    dec.crossJoin(broadcast(q))
      .filter(col("cid") =!= col("qid"))
      .withColumn("approx_dist", l2Q("qv", "vhat"))
      .withColumn("rank", row_number().over(win)).filter(col("rank") <= k)
      .select("qid", "cid", "rank", "approx_dist")
  }

  /** SQ8 ANN end to end: train stats, encode, search. The stats frame
    * feeds both encode and decode, so it is materialized once
    * (codebook-seam discipline, same as [[pqTopK]]).
    */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val st = graft.util.Materialize.stable(sq8Stats(corpus))
    sq8Search(sq8Encode(corpus, st), st, queries, k)
  }

  /** Binary-hash ANN (Charikar 2002 sign-random-projection / the FAISS
    * `IndexBinaryFlat` shape): stage 1 scans `nBits`-bit sign codes —
    * ONE long per vector, 64× less bandwidth than the float vectors —
    * ranking candidates by Hamming distance (`bit_count(xor)`, two
    * codegen'd ALU ops per pair); stage 2 exact-reranks only the
    * `candMult × k` Hamming survivors per query with the integer cosine.
    *
    * Scale shape: the code table is N × 8 bytes (100 TB of 768-dim
    * floats → ~0.3 TB of codes), scanned once per query batch with the
    * bounded query codes broadcast; the Hamming window pre-limits
    * per-query candidates map-side (WindowGroupLimit), so the rerank
    * join touches Q·C rows, never the corpus. Both stages are plain
    * codegen'd expressions — no UDF, no state.
    *
    * Output: (qid, cid, hd, rank, cos_sim) — rank by exact cosine within
    * the candidate set, ties to the smaller cid; `hd` is the candidate's
    * Hamming distance (diagnostic: how coarse stage 1 was).
    */
  /** Stage 1 of [[hammingTopK]] alone: the `nBits`-bit Hamming candidate
    * set (qid, cid, hd, hrank ≤ c) with NO rerank — the coarse-retrieval
    * feed for an external scorer (e.g. [[Retrieval.rerankBatched]]'s
    * cross-encoder seam, gated as `rerank_cross_topk`). Same plan shape
    * as the fused version: bounded query codes broadcast over one corpus
    * code scan, WindowGroupLimit pre-limits candidates map-side.
    */
  def hammingCandidates(corpus: DataFrame, queries: DataFrame, c: Int,
      nBits: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(c > 0, s"candidate count must be positive, got $c")
    require(nBits > 0 && nBits <= MaxPlanes, s"nBits must be in 1..$MaxPlanes")
    graft.functions.ArrayFns.register(corpus.sparkSession)
    def prep(df: DataFrame, id: String) =
      df.select(col("vec_id").as(id), quantize(col("embedding")).as("_qv"))
        .withColumn("code", expr(bucketSql("_qv", spark = true, nBits)))
        .select(col(id), col("code"))
    val hw = Window.partitionBy("qid").orderBy(col("hd").asc, col("cid"))
    prep(Dedup.widen(corpus), "cid")
      .crossJoin(broadcast(prep(queries, "qid").withColumnRenamed("code", "qcode")))
      .filter(col("cid") =!= col("qid"))
      .withColumn("hd", bit_count(col("code").bitwiseXOR(col("qcode"))))
      .select("qid", "cid", "hd")
      .withColumn("hrank", row_number().over(hw))
      .filter(col("hrank") <= c)
  }

  def hammingTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nBits: Int = 32, candMult: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0 && candMult > 0, s"need k, candMult > 0, got $k, $candMult")
    require(nBits > 0 && nBits <= MaxPlanes, s"nBits must be in 1..$MaxPlanes")
    // bucketSql's plane projections reference long_dot by NAME (SQL
    // string); register on the session that owns the frames
    graft.functions.ArrayFns.register(corpus.sparkSession)
    def prep(df: DataFrame, id: String, v: String) =
      df.select(col("vec_id").as(id), quantize(col("embedding")).as(v))
        .withColumn("code", expr(bucketSql(v, spark = true, nBits)))
    // both frames feed two stages each — materialize once
    val q = graft.util.Materialize.stable(prep(queries, "qid", "qv")
      .withColumn("nq", dotQ("qv", "qv")))
    val c = graft.util.Materialize.stable(prep(Dedup.widen(corpus), "cid", "cv")
      .withColumn("nc", dotQ("cv", "cv")))
    // stage 1: Hamming scan over codes only — the projection drops the
    // vectors BEFORE the window exchange so candidates travel as
    // (qid, cid, hd) triples
    val hw = Window.partitionBy("qid").orderBy(col("hd").asc, col("cid"))
    val cand = c.select(col("cid"), col("code"))
      .crossJoin(broadcast(q.select(col("qid"), col("code").as("qcode"))))
      .filter(col("cid") =!= col("qid"))
      .withColumn("hd", bit_count(col("code").bitwiseXOR(col("qcode"))))
      .select("qid", "cid", "hd")
      .withColumn("hrank", row_number().over(hw))
      .filter(col("hrank") <= k * candMult)
    // stage 2: exact integer-cosine rerank of the bounded candidates
    val rw = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("cid"))
    cand
      .join(c.select(col("cid"), col("cv"), col("nc")), Seq("cid"))
      .join(broadcast(q.select(col("qid"), col("qv"), col("nq"))), Seq("qid"))
      .withColumn("dot", dotQ("qv", "cv"))
      .withColumn("cos_sim", cosineFromInts(col("dot"), col("nq"), col("nc")))
      .withColumn("rank", row_number().over(rw))
      .filter(col("rank") <= k)
      .select("qid", "cid", "hd", "rank", "cos_sim")
  }
}
