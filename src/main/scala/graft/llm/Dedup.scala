package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Large-scale document deduplication: exact, n-gram Jaccard,
  * MinHash+LSH, SimHash, and winnowing fingerprints.
  *
  * Design for 100 TB:
  *  - Never all-pairs. Candidate pairs always come from an equi-join on a
  *    posting key (shingle, LSH band, fingerprint) so Spark executes them
  *    as one shuffle join; the quadratic blowup is bounded per posting
  *    list, and `maxShingleDocFreq` drops degenerate hot postings the way
  *    a text pipeline drops stopword shingles.
  *  - All hashing is expression-level (md5-prefix → int64), codegen'd, no
  *    UDFs, and engine-portable (the DuckDB oracle computes the identical
  *    signature).
  */
object Dedup {

  /** Deterministic 32-bit token hash shared with the DuckDB oracle:
    * first 8 hex chars of md5, as a long in [0, 2^32). Computed by the
    * native [[graft.functions.Md5Prefix64]] — bit-identical to the
    * composed `conv(substring(md5(tok), 1, 8), 16, 10)` form (same
    * digest, first 4 bytes as unsigned), without materializing the
    * 32-char hex string, the substring slice, and conv's string parse
    * per row (r18, guide §1.2 step 2 — this expression sits under every
    * shingle/minhash/bucket pipeline's explode head).
    */
  def tokenHash(tok: Column): Column = md5Slice(tok, 1, 8)

  /** [[tokenHash]] for inputs that are non-null BY CONSTRUCTION (explode
    * of split()/concat_ws() output — neither ever yields a null
    * element): identical values, but declared non-nullable via a
    * coalesce whose fallback is unreachable. Why it exists: when the
    * hash is a join key, constraint inference pushes an
    * `isnotnull(<hash expr>)` Filter BELOW the projection that computes
    * it, so the full md5→conv chain — the CPU-dominant expression of
    * every explode-head pipeline here — is evaluated TWICE per exploded
    * row (measured in the dsir_weights plan: the same 4-function chain
    * in both Filter(5) and Project(6); the optimization-guide §4.4
    * duplicated-evaluation shape, with built-ins instead of a UDF).
    * Non-nullable output ⇒ the constraint is never inferred ⇒ one
    * evaluation. MUST NOT be used where the input can be null — a null
    * would hash to 0 instead of propagating, silently joining with real
    * 0-hashes.
    */
  private[graft] def tokenHashNN(tok: Column): Column =
    coalesce(tokenHash(tok), lit(0L))

  /** General md5-hex-slice hash (the [[tokenHash]] family's other
    * widths): `md5Slice(c, start, len)` ==
    * `conv(substring(md5(c), start, len), 16, 10).cast("long")`, via the
    * native [[graft.functions.Md5Slice64]]. The cast-to-binary here is
    * the SAME implicit cast `md5()` applies to its input, so any input
    * type hashes the identical bytes.
    */
  private[graft] def md5Slice(c: Column, start: Int, len: Int): Column = {
    import org.apache.spark.sql.GraftExpressionBridge._
    column(graft.functions.Md5Slice64(expression(c.cast("binary")), start, len))
  }

  /** MinHash parameters: h_i(x) = (a_i * x + b_i) mod p over the token
    * hash. 8 hashes, 4 bands of 2 → Jaccard ~0.7+ pairs collide w.h.p.
    */
  val MinhashP: Long = 2147483647L
  val MinhashA: Seq[Long] = Seq(1103515245L, 1299709L, 15485863L, 32452843L,
    49979687L, 67867967L, 86028121L, 104395301L)
  val MinhashB: Seq[Long] = Seq(12345L, 7919L, 104729L, 1299721L,
    611953L, 919393L, 15487469L, 2750159L)
  val BandSize = 2

  /** Widen a narrow input to the session's parallelism before per-row
    * explode-heavy work. The fixture tables arrive as one small parquet
    * file → one input partition, so the shingle/token explode — the
    * CPU-dominant map stage of every dedup pipeline here — would run in a
    * single task (measured: 1.9 s of a 4 s query in one task). At real
    * scale the scan already has many partitions and this is a no-op, so
    * the round-robin shuffle only ever moves the small-input case.
    */
  private[graft] def widen(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // size-stats probe, not df.rdd.getNumPartitions: the RDD probe forced
    // full physical planning + RDD graph construction on EVERY dedup
    // pipeline entry. optimizedPlan.stats comes from the (cached)
    // QueryExecution and for file scans is just the file-size sum; a scan
    // under target × maxPartitionBytes would plan to fewer than `target`
    // input partitions — exactly the old probe's condition.
    val conf = df.sparkSession.sessionState.conf
    val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
    // sources without real statistics (LogicalRDD/localCheckpoint, JDBC,
    // stats-less DSv2) report defaultSizeInBytes — treating that as "big"
    // would silently skip the widening this function exists for; fall
    // back to the (more expensive) partition-count probe there
    val small =
      if (size >= BigInt(conf.defaultSizeInBytes))
        df.rdd.getNumPartitions < target
      else size < BigInt(conf.filesMaxPartitionBytes) * target
    if (small) df.repartition(target) else df
  }

  /** Exact dedup (hash-groupBy): one row per distinct text with the
    * canonical (minimum) doc id and the duplicate count. Single shuffle
    * on the text hash; at scale group on `md5(text)` not the text itself
    * to keep shuffle keys small.
    */
  def exactDuplicates(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_dups"))

  /** First-occurrence selection for exact dedup: keep only the row whose
    * `idCol` is the minimum within its md5(`textCol`) group, preserving
    * every input column. This is the row-selecting twin of
    * [[exactDuplicates]] and the ONLY sanctioned shape for it: a
    * `Window.partitionBy(md5(text))` puts a boilerplate text's entire
    * copy set (10⁶–10⁷ rows at 100 TB) on one unsplittable task, whereas
    * `min_by(struct(row), id)` is ONE hash-keyed exchange whose partial
    * aggregate combines map-side — a corpus-hot hash reaches the reducer
    * as at most one candidate row PER MAP TASK, never its copy set.
    * Assumes `idCol` is unique per row (a doc id); under duplicate ids
    * exactly one of the tied rows survives (which one is undefined).
    */
  def firstOccurrences(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    require(!docs.columns.contains("_fo_h") && !docs.columns.contains("_fo_row"),
      "input already contains an internal working column (_fo_h/_fo_row)")
    val cols = docs.columns
    docs.groupBy(md5(col(textCol)).as("_fo_h"))
      .agg(min_by(struct(cols.map(col): _*), col(idCol)).as("_fo_row"))
      .select(cols.map(c => col("_fo_row").getField(c).as(c)): _*)
  }

  /** Best-occurrence selection for exact dedup: within each
    * md5(`textCol`) group keep the row with the HIGHEST `scoreCol`
    * (ties → lowest `idCol`) — the curation-aware twin of
    * [[firstOccurrences]]. Duplicates usually differ in everything BUT
    * the text (source reputation, crawl freshness, quality score), and
    * "keep the first id" throws that signal away; a curation pipeline
    * keeps the best-scored copy and drops the rest (the canonical-
    * selection step of every large dedup run that follows a quality
    * model). Same 100 TB shape as firstOccurrences — ONE hash-keyed
    * exchange, `max_by` partial aggregate combines map-side, a
    * corpus-hot boilerplate text reaches the reducer as ≤1 candidate
    * row per map task. The tie-break rides inside the max_by ordering
    * key `struct(score, -id)` (struct comparison is lexicographic), so
    * the selection stays ONE aggregate, deterministic under duplicate
    * scores. NULL scores sort below every non-NULL score's (score, -id)
    * key only if the whole group is NULL-scored... which Spark's max_by
    * does not define — so NULL `scoreCol` rows are REQUIRED OUT: score
    * your corpus first (a NULL-quality doc has no business winning a
    * dedup group silently).
    */
  def bestOccurrences(docs: DataFrame, idCol: String, textCol: String,
      scoreCol: Column): DataFrame =
    bestByKey(docs, idCol, md5(col(textCol)), scoreCol)

  /** The generalized selection under [[bestOccurrences]]: keep the
    * highest-`scoreCol` row (ties → lowest `idCol`) within each group of
    * an ARBITRARY key expression — md5(text) gives exact dedup, a
    * connected-component label gives near-dup cluster canonicalization,
    * a (source, day) struct gives best-of-feed-per-day. Same shape
    * everywhere: ONE key-hashed exchange, `max_by` combines map-side, a
    * corpus-hot key reaches the reducer as ≤1 candidate row per map
    * task. NULL-scored rows are required out (see [[bestOccurrences]]).
    * The score competes at its NATIVE type (struct comparison is typed)
    * — a fractional double score is never silently truncated to a tie.
    */
  def bestByKey(docs: DataFrame, idCol: String, keyCol: Column,
      scoreCol: Column): DataFrame = {
    require(!docs.columns.contains("_bo_h") && !docs.columns.contains("_bo_row")
        && !docs.columns.contains("_bo_key"),
      "input already contains an internal working column (_bo_h/_bo_row/_bo_key)")
    // the tie-break rides an ORDER-REVERSED id inside the max_by key, so
    // the id must be integral: a string id would implicitly cast to
    // double (NULL on non-numeric — a silently nondeterministic
    // tie-break), so refuse it loudly here
    val idType = docs.schema(idCol).dataType
    require(Seq(org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType).contains(idType),
      s"bestByKey tie-breaks on the id and requires an integral id " +
        s"column; got $idCol: ${idType.simpleString}")
    val cols = docs.columns
    docs
      // bitwise NOT (~x = -x-1) is the overflow-free order reversal:
      // arithmetic negation maps Long.MinValue to itself, flipping that
      // one id from strongest to weakest tie-break
      .withColumn("_bo_key", struct(scoreCol.as("s"),
        bitwise_not(col(idCol)).as("negid")))
      .filter(col("_bo_key").getField("s").isNotNull)
      .groupBy(keyCol.as("_bo_h"))
      .agg(max_by(struct(cols.map(col): _*), col("_bo_key")).as("_bo_row"))
      .select(cols.map(c => col("_bo_row").getField(c).as(c)): _*)
  }

  /** Dedup-loss attribution: after exact dedup (canonical = minimum id
    * per text hash), how many docs does each SOURCE lose, and what
    * fraction of its corpus is that — the per-feed duplication report a
    * crawl operator reads to find mirror sites and syndicated feeds
    * before paying to fetch them again. Output: (source, n_docs,
    * n_lost, lost_permille).
    *
    * Scale shape: one partial-agg `groupBy` on the md5 hash (never the
    * text — shuffle keys stay 32 bytes), a hash-equi-join back that
    * reuses the same key (AQE-splittable if one boilerplate text is
    * corpus-hot), then one partial-agg rollup on source. No self-join,
    * no collect.
    */
  def exactDupLossBySource(docs: DataFrame, idCol: String, textCol: String,
      srcCol: String): DataFrame = {
    val hashed = docs.select(col(idCol).as("_id"), col(srcCol).as("source"),
      md5(col(textCol)).as("text_hash"))
    val reps = hashed.groupBy("text_hash").agg(min("_id").as("canonical_id"))
    hashed.join(reps, "text_hash")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("_id") =!= col("canonical_id"), lit(1L))
          .otherwise(lit(0L))).as("n_lost"))
      .withColumn("lost_permille", expr("n_lost * 1000 div n_docs"))
  }

  /** Cross-document duplicate-window profile — the exact-substring-dedup
    * signal (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better"): for each doc with ≥ `n` tokens, how many
    * of its n-token windows (stride 1) also occur verbatim in ANOTHER
    * doc. `dup_permille` is the per-doc fraction used to drop or trim
    * boilerplate-heavy docs; first/last_dup (1-based token positions,
    * NULL when clean) bound the affected region for span trimming.
    * Output: (doc_id, n_windows, n_dup_windows, first_dup, last_dup,
    * dup_permille).
    *
    * Scale shape: the same inverted-index discipline as the shingle
    * family — windows hash to int64 BEFORE any exchange, the
    * cross-doc-duplicated hash set comes from one partial-agg groupBy
    * (count(DISTINCT doc) ≥ 2 needs no postings self-join), membership is
    * a left-semi equi-join on the hash, and the profile is one per-doc
    * agg. Nothing is ever all-pairs; a corpus-wide boilerplate window
    * costs one hot aggregation key, not a quadratic join group.
    */
  /** Positional n-gram hash postings — the shared explode head of the
    * window-profile, span-trim, and winnowing operators: one row per
    * (doc_id, 0-based pos, int64 window hash), with `maxpos` (= the last
    * valid position, size − n) riding along from explode time. The
    * split stays below the widen exchange (the [[shingleHashPostings]]
    * rationale: CollapseProject would inline split into the lambda,
    * O(len²) per doc).
    */
  private[graft] def positionalWindowHashes(docs: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    require(n >= 2, s"window width must be >= 2 tokens, got $n")
    widen(docs.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("_toks")))
      .select(col("doc_id"), (size(col("_toks")) - n).as("maxpos"),
        posexplode(when(size(col("_toks")) >= n,
          expr(s"transform(sequence(1, size(_toks) - ${n - 1}), " +
               s"i -> concat_ws(' ', slice(_toks, i, $n)))"))
          .otherwise(array())))
      .select(col("doc_id"), col("maxpos"), col("pos"), tokenHashNN(col("col")).as("h"))
  }

  /** The postings rows whose window hash occurs in ≥2 distinct docs —
    * one partial-agg groupBy for the dup set + a left-semi membership
    * join, shared by the profile and the trimmer.
    */
  private def dupWindowRows(pm: DataFrame): DataFrame = {
    val dupH = pm.groupBy("h").agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select("h")
    pm.join(dupH, Seq("h"), "left_semi")
  }

  def windowDupProfile(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val postings = positionalWindowHashes(docs, idCol, textCol, n)
      .select(col("doc_id"), (col("pos") + 1).as("start"), col("h"))
    // feeds the dup-set agg, the totals agg, and the membership join
    val pm = graft.util.Materialize.stable(postings)
    val totals = pm.groupBy("doc_id").agg(count(lit(1)).as("n_windows"))
    val dups = dupWindowRows(pm)
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_dup_windows"),
        min("start").as("first_dup"),
        max("start").as("last_dup"))
    totals.join(dups, Seq("doc_id"), "left")
      .withColumn("n_dup_windows", coalesce(col("n_dup_windows"), lit(0L)))
      .withColumn("dup_permille", expr("n_dup_windows * 1000 div n_windows"))
      .select("doc_id", "n_windows", "n_dup_windows", "first_dup",
        "last_dup", "dup_permille")
  }

  /** MAXIMAL duplicated spans (the full Lee et al. 2022 operator,
    * completing [[windowDupProfile]]'s fixed-window signal): coalesce
    * each doc's CONSECUTIVE duplicated window starts into maximal
    * islands — a duplicated block of L tokens reports as ONE span with
    * its true boundaries `[start, start + L − 1]`, where the fixed
    * window profile under-reports it as L − n + 1 overlapping hits with
    * no boundary. Gaps-and-islands: duplicated starts are consecutive
    * iff `start − row_number()` is constant, so one per-doc window pass
    * + one (doc, island) aggregate yields the spans. Output:
    * (doc_id, span_start_tok, span_end_tok, n_copies_ub) — token indices
    * 1-based inclusive; `n_copies_ub` is the span's window support, the
    * MINIMUM cross-corpus doc count over its windows — an UPPER BOUND on
    * whole-span copies (exact when the duplicate is a genuine block
    * copy, the common boilerplate case), and the `_ub` suffix says so
    * (advice r17: an island coalescing windows from two distinct 2-doc
    * duplicates reports one span with support 2 even though no doc
    * carries the whole span — consumers must not read it as exact).
    *
    * Scale shape: one distinct-window aggregate (map-side combined) +
    * one postings equi-join — identical to the profile — plus a window
    * function partitioned BY DOC (per-partition state is doc-length
    * bounded, never corpus-shaped). No all-pairs anywhere.
    */
  def maxDupSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val postings = positionalWindowHashes(docs, idCol, textCol, n)
      .select(col("doc_id"), (col("pos") + 1).as("start"), col("h"))
    val pm = graft.util.Materialize.stable(postings)
    // carry the duplicate doc count (not just membership): the span's
    // support is the min over its windows
    val dupH = pm.groupBy("h").agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
    pm.join(dupH, Seq("h"))
      .withColumn("_island",
        col("start") - row_number().over(
          Window.partitionBy("doc_id").orderBy("start")))
      .groupBy(col("doc_id"), col("_island"))
      .agg(min("start").as("span_start_tok"),
        (max("start") + lit(n - 1)).as("span_end_tok"),
        min("nd").as("n_copies_ub"))
      .select("doc_id", "span_start_tok", "span_end_tok", "n_copies_ub")
  }

  /** Trim cross-document duplicated spans out of each doc: tokens
    * covered by [[windowDupProfile]]'s [first_dup, last_dup + n − 1]
    * window range are removed, keeping the clean prefix and suffix —
    * the REMOVE half of the exact-substring-dedup recipe (detecting is
    * the profile's job). Docs without a profile row (shorter than `n`
    * tokens) or with no duplicated window pass through unchanged.
    * Output: all input columns, `textCol` rewritten; docs trimmed to
    * zero tokens are dropped (an empty training doc is not a document).
    *
    * The conservative contiguous-range rule (one cut from first to last
    * duplicated window) is deliberate: precise multi-span surgery needs
    * per-window merging state, while corpora overwhelmingly carry
    * boilerplate as ONE leading/trailing block — the same trade
    * published trimmers make.
    */
  def trimDupSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    // only the span bounds are needed — not the profile's totals
    // aggregation, outer join, or permille arithmetic
    val postings = positionalWindowHashes(docs, idCol, textCol, n)
      .select(col("doc_id"), (col("pos") + 1).as("start"), col("h"))
    val bounds = dupWindowRows(graft.util.Materialize.stable(postings))
      .groupBy("doc_id").agg(
        min("start").as("first_dup"), max("start").as("last_dup"))
      .select(col("doc_id").as(idCol), col("first_dup"), col("last_dup"))
    docs.join(bounds, Seq(idCol), "left")
      .withColumn("_toks", split(col(textCol), " "))
      .withColumn(textCol,
        when(col("first_dup").isNull, col(textCol)).otherwise(concat_ws(" ",
          concat(
            expr("slice(_toks, 1, first_dup - 1)"),
            expr(s"slice(_toks, last_dup + $n, greatest(0, size(_toks) - (last_dup + ${n - 1})))")))))
      // drop only docs the TRIM emptied — an untouched doc passes through
      // even if its input text was already empty
      .filter(col("first_dup").isNull || length(col(textCol)) > 0)
      .drop("_toks", "first_dup", "last_dup")
  }

  /** PRECISE multi-span trimmer — the [[trimDupSpans]] cut discipline
    * upgraded from the conservative contiguous-range rule to exact
    * surgery on EVERY maximal span ([[maxDupSpans]]): tokens covered by
    * any duplicated span are removed, clean text between spans
    * SURVIVES (the contiguous rule deletes it). Shape: the span table
    * is doc-keyed and dup-bounded; the doc side explodes to (doc, pos,
    * token) — one row per corpus token, linear — and the coverage test
    * is a doc-keyed equi-join with a range predicate against that doc's
    * spans (per-doc span list is doc-length bounded); reassembly is a
    * per-doc `collect_list(struct(pos, tok))` + `array_sort` +
    * transform/join — ONE aggregate partitioned by doc, never
    * corpus-wide state. Docs trimmed to zero tokens drop (the
    * [[trimDupSpans]] rule); docs with no spans pass through unchanged
    * byte-for-byte.
    */
  def trimMaxSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val spans = maxDupSpans(docs, idCol, textCol, n)
      .groupBy(col("doc_id").as(idCol))
      .agg(collect_list(struct(col("span_start_tok").as("s"),
        col("span_end_tok").as("e"))).as("_spans"))
    docs.join(spans, Seq(idCol), "left")
      .withColumn("_toks", split(col(textCol), " "))
      .withColumn(textCol,
        when(col("_spans").isNull, col(textCol)).otherwise(
          // keep token i (1-based) iff NO span covers it; exists() is
          // per-row bounded by the doc's own span count
          expr("""concat_ws(' ', filter(
                 |  transform(sequence(1, size(_toks)),
                 |    i -> IF(exists(_spans, sp -> i >= sp.s AND i <= sp.e),
                 |            NULL, _toks[i - 1])),
                 |  t -> t IS NOT NULL))""".stripMargin.replace("\n", " "))))
      .filter(col("_spans").isNull || length(col(textCol)) > 0)
      .drop("_toks", "_spans")
  }

  /** Distinct (doc_id, shingle-HASH) postings — the shared head of the
    * Jaccard and MinHash pipelines. The distinct runs on the 8-byte hash,
    * not the shingle string: hashing before the exchange shrinks every
    * shuffle row to (long, long) and moves the md5 into the fully
    * parallel map stage (same result set — tokenHash collisions are
    * shared with the oracle either way). The token array is bound to a
    * column BEFORE the transform lambda — inlining `split(text)` inside
    * it re-splits the text once per element (O(len²) per doc; measured as
    * the dominant cost of the Jaccard join).
    */
  private[graft] def shingleHashPostings(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val sh = when(size(col("_toks")) >= n,
      expr(s"transform(sequence(1, size(_toks) - ${n - 1}), " +
           s"i -> concat_ws(' ', slice(_toks, i, $n)))"))
      .otherwise(array())
    // The split stays BELOW the widen exchange on purpose: the exchange is
    // an optimizer barrier that keeps `_toks` bound once per doc. Splitting
    // after it lets CollapseProject inline split() into the transform
    // lambda — O(len²) per doc (measured: jaccard 2.6 s → 10-18 s).
    widen(docs.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("_toks")))
      .select(col("doc_id"), explode(sh).as("sh"))
      .select(col("doc_id"), tokenHashNN(col("sh")).as("h"))
      .distinct()
  }

  /** N-gram Jaccard near-duplicate pairs via inverted-index join:
    * shingle → postings → per-pair intersection counts → integer
    * cross-multiplied threshold (inter/union ≥ num/den, no float).
    * `maxShingleDocFreq`: drop shingles appearing in more docs (hot-key
    * guard; 0 = keep all — the fixture oracle uses 0).
    */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String, n: Int,
      thresholdNum: Int, thresholdDen: Int, maxShingleDocFreq: Long = 0): DataFrame = {
    // Postings keyed by the int64 shingle hash, not the shingle string:
    // an 8-byte shuffle key instead of ~20 bytes, and the oracle hashes
    // identically so collision effects (negligible) are shared.
    val sh0 = shingleHashPostings(docs, idCol, textCol, n)
    val sh = {
      val base =
        if (maxShingleDocFreq <= 0) sh0
        else {
          val hot = sh0.groupBy("h").agg(count(lit(1)).as("df"))
            .filter(col("df") > maxShingleDocFreq).select("h")
          sh0.join(hot, Seq("h"), "left_anti")
        }
      // The postings feed four plan branches (join sides + sizes×2);
      // materialize exactly once — mode per spark.graft.materialize
      // (local[n] fast path vs cluster-durable persist/checkpoint).
      graft.util.Materialize.stable(base)
    }
    jaccardPairsFromPostings(sh, thresholdNum, thresholdDen)
  }

  /** [[jaccardPairs]] over an already-materialized postings frame
    * (doc_id, h) — callers that also need the postings for another
    * pipeline leg (e.g. the MinHash-estimate calibration, which derives
    * signatures AND the exact join from one scan) pass their own
    * [[graft.util.Materialize.stable]] frame here instead of paying a
    * second tokenization.
    */
  private[graft] def jaccardPairsFromPostings(sh: DataFrame,
      thresholdNum: Int, thresholdDen: Int): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val pairs = sh.as("a")
      .join(sh.as("b"), col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
      .withColumn("uni", col("n_a") + col("n_b") - col("inter"))
      .filter(col("inter") * thresholdDen >= col("uni") * thresholdNum)
      .select("doc_a", "doc_b", "inter", "uni")
  }

  /** Distinct (doc_id, token-hash) pairs — SimHash input. */
  /** No `widen` here: the bare token explode is too light to pay for a
    * repartition of the corpus (A/B at sf0.1: widened 2.4 s vs 1.4 s
    * direct, warm) — unlike the shingle pipelines, where the n-gram
    * concat work dominates and widening wins.
    */
  private def tokenHashes(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), explode(split(col(textCol), " ")).as("tok"))
      .distinct()
      .select(col("doc_id"), tokenHashNN(col("tok")).as("h"))

  /** MinHash feature set: distinct word-3-gram SHINGLE hashes, not bare
    * tokens. On small vocabularies token sets are near-identical across
    * unrelated docs (measured: token-level bands collided into 9.3M
    * candidate pairs on the 5k-doc fixture — effectively all-pairs);
    * shingles restore a sparse feature space, which is also the standard
    * MinHash construction.
    */
  private[graft] val MinhashShingleN = 3
  private def shingleHashes(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    shingleHashPostings(docs, idCol, textCol, MinhashShingleN)

  /** MinHash signatures: (doc_id, mh_0 .. mh_{k-1}). One explode + one
    * hash agg (k min() aggregates) — map-side partial mins keep the
    * shuffle tiny at any SF. Docs shorter than the shingle width have no
    * signature (no features), matching the oracle.
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    minhashSignaturesFromShingles(shingleHashes(docs, idCol, textCol))

  /** [[minhashSignatures]] over a precomputed shingle-hash postings frame
    * (doc_id, h) with n = [[MinhashShingleN]] — the shared-scan entry for
    * callers that reuse the postings elsewhere in the same plan.
    */
  private[graft] def minhashSignaturesFromShingles(th: DataFrame): DataFrame = {
    val mins = MinhashA.zip(MinhashB).zipWithIndex.map { case ((a, b), i) =>
      min((col("h") * a + b) % MinhashP).as(s"mh_$i")
    }
    th.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** LSH candidate pairs: docs sharing at least one band of their MinHash
    * signature. Band values become join keys → a single shuffle join on
    * (band_idx, band_val); no pairwise scan ever happens.
    */
  def lshCandidatePairs(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // signatures feed both sides of the band self-join — materialize once
    lshCandidatePairsFromSignatures(
      graft.util.Materialize.stable(minhashSignatures(docs, idCol, textCol)))
  }

  /** Band self-join over an already-materialized signature frame — the
    * shared-scan entry (signatures feed both join sides; the caller's
    * stable() is the single materialization).
    */
  private[graft] def lshCandidatePairsFromSignatures(sig: DataFrame): DataFrame = {
    val nBands = MinhashA.length / BandSize
    val bands = (0 until nBands).map { j =>
      val cols = (0 until BandSize).map(k => col(s"mh_${j * BandSize + k}"))
      struct(lit(j).as("band_idx"), concat_ws("_", cols: _*).as("band_val"))
    }
    val exploded = sig.select(col("doc_id"), explode(array(bands: _*)).as("band"))
      .select(col("doc_id"), col("band.band_idx"), col("band.band_val"))
    exploded.as("a")
      .join(exploded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_val") === col("b.band_val") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** 16-bit SimHash over token hashes: bit j of the signature is the sign
    * of Σ_tokens (±1 by bit j of the token hash). Pure aggregation — one
    * explode + one groupBy.
    */
  def simhash16(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val th = tokenHashes(docs, idCol, textCol)
    val bitSums = (0 until 16).map { j =>
      sum(when((col("h") / (1L << j)).cast("long") % 2 === 1, 1).otherwise(-1)).as(s"s_$j")
    }
    val agg = th.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until 16).map { j =>
      when(col(s"s_$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    agg.select(col("doc_id"), sig.as("simhash16"))
  }

  /** SimHash near-duplicate pairs with Hamming distance ≤ `maxHd`, found
    * by pigeonhole blocking: split the 16-bit signature into `maxHd + 1`
    * chunks — any pair within distance maxHd must agree on at least one
    * chunk, so candidates come from an equi-join on (chunk_idx, chunk_val)
    * and only candidates pay the exact bit_count rerank. Never all-pairs;
    * the scale path for signature-space dedup.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String, maxHd: Int = 2): DataFrame = {
    val sig = graft.util.Materialize.stable(simhash16(docs, idCol, textCol))
    val nChunks = maxHd + 1
    val bitsPer = 16 / nChunks
    val chunks = (0 until nChunks).map { c =>
      val width = if (c == nChunks - 1) 16 - bitsPer * (nChunks - 1) else bitsPer
      struct(lit(c).as("ci"),
        ((col("simhash16") / (1L << (c * bitsPer))).cast("long") % (1L << width)).as("cv"))
    }
    val blocked = sig.select(col("doc_id"), col("simhash16"),
      explode(array(chunks: _*)).as("ch"))
      .select(col("doc_id"), col("simhash16"), col("ch.ci"), col("ch.cv"))
    blocked.as("a")
      .join(blocked.as("b"),
        col("a.ci") === col("b.ci") && col("a.cv") === col("b.cv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.simhash16").as("sig_a"), col("b.simhash16").as("sig_b"))
      .distinct()
      .withColumn("hamming", expr("bit_count(sig_a ^ sig_b)"))
      .filter(col("hamming") <= maxHd)
  }

  /** 64-bit SimHash kept as four independent 16-bit chunk columns
    * (c0..c3): bit j of chunk c is the sign of Σ_tokens(±1 by bit
    * (16c + j) of the token's 64-bit hash, drawn from two 32-bit md5
    * words). Why chunks instead of one 64-bit column: (a) no signed-64
    * overflow anywhere (bit 63 would be the sign bit, and the two engines
    * disagree on negative `%`/`//`), and (b) the chunks ARE the
    * pigeonhole blocking key, so the pair join needs no re-splitting.
    *
    * This replaces the 16-bit pair path, whose chunk domains of 32/64
    * values gave a CONSTANT ~1/32 blocking selectivity — candidates
    * ≈ N²/32, quadratic at scale, and 48% of all pairs "near-duplicate"
    * at sf0.01 (the signature carried almost no information). A 2^16
    * chunk domain scales blocking selectivity with corpus entropy.
    */
  def simhash64(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val th = docs
      .select(col(idCol).as("doc_id"), explode(split(col(textCol), " ")).as("tok"))
      .distinct()
      .select(col("doc_id"),
        md5Slice(col("tok"), 1, 8).as("h1"),
        md5Slice(col("tok"), 9, 8).as("h2"))
    val bitSums = (0 until 64).map { g =>
      val (src, j) = if (g < 32) (col("h1"), g) else (col("h2"), g - 32)
      sum(when(shiftright(src, j).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"s_$g")
    }
    val agg = th.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val chunkCols = (0 until 4).map { c =>
      (0 until 16).map { j =>
        when(col(s"s_${c * 16 + j}") > 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _).as(s"c$c")
    }
    agg.select(col("doc_id") +: chunkCols: _*)
  }

  /** Near-duplicate pairs over the 64-bit SimHash, Hamming ≤ `maxHd` ≤ 3:
    * a pair within distance 3 must agree exactly on at least one of the 4
    * chunks (pigeonhole), so candidates come from one equi-join on
    * (chunk_idx, chunk_val) and only candidates pay the bit_count rerank.
    * Candidate volume stays ~linear in N as long as chunk values spread
    * over their 2^16 domain.
    */
  /** `maxChunkFreq`: the hot-block guard (same role as `maxShingleDocFreq`
    * in the Jaccard join) — a (chunk_idx, chunk_val) shared by more docs
    * is dropped from the blocking index. On a diverse corpus chunk values
    * spread over 2^16 and the cap never triggers; on a clustered corpus
    * (mass-duplicated templates) it bounds per-block candidate generation
    * to F·N instead of letting one giant cluster go quadratic. Pairs
    * inside such clusters are exact/near-exact duplicates — the job of
    * [[exactDuplicates]]/MinHash, not the Hamming rerank. 0 = no cap.
    */
  def simhash64Pairs(docs: DataFrame, idCol: String, textCol: String, maxHd: Int = 3,
      maxChunkFreq: Long = 0): DataFrame = {
    require(maxHd >= 1 && maxHd <= 3, "4-chunk pigeonhole guarantees recall only for 1 <= maxHd <= 3")
    val sig = graft.util.Materialize.stable(simhash64(docs, idCol, textCol))
    val chunkStructs = (0 until 4).map(c => struct(lit(c).as("ci"), col(s"c$c").as("cv")))
    val sigCols = (0 until 4).map(c => col(s"c$c"))
    val blocked0 = sig
      .select(col("doc_id") +: sigCols :+ explode(array(chunkStructs: _*)).as("ch"): _*)
      .select(col("doc_id") +: sigCols :+ col("ch.ci") :+ col("ch.cv"): _*)
    val blocked =
      if (maxChunkFreq <= 0) blocked0
      else {
        val hot = blocked0.groupBy("ci", "cv").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxChunkFreq).select("ci", "cv")
        blocked0.join(hot, Seq("ci", "cv"), "left_anti")
      }
    val cand = blocked.as("a")
      .join(blocked.as("b"),
        col("a.ci") === col("b.ci") && col("a.cv") === col("b.cv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(Seq(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b")) ++
        (0 until 4).map(c => col(s"a.c$c").as(s"a_c$c")) ++
        (0 until 4).map(c => col(s"b.c$c").as(s"b_c$c")): _*)
      .distinct()
    cand
      .withColumn("hamming",
        (0 until 4).map(c => expr(s"bit_count(a_c$c ^ b_c$c)")).reduce(_ + _))
      .filter(col("hamming") <= maxHd)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Connected components over a candidate-pair graph — the resolution
    * step every near-dup pipeline ends with: candidate pairs (from LSH,
    * SimHash blocking, or Jaccard) are EDGES; a duplicate CLUSTER is a
    * connected component, labeled by its minimum doc id, so "keep the
    * canonical doc per cluster" is a filter on `doc_id = cluster_id`.
    *
    * Min-label propagation: every vertex starts as its own label; each
    * round takes the min of its own and its neighbors' labels; fixpoint =
    * components. Scale shape per round: ONE hash equi-join of the edge
    * list with the label table + one min-aggregate (map-side partial).
    * Rounds needed = component diameter — near-dup clusters are dense and
    * shallow (a duplicate family collapses in 2-3 rounds); for
    * adversarially long path graphs the alternating large-star/small-star
    * variant (Kiveris et al., "Connected Components in MapReduce") bounds
    * rounds at O(log² n) with the same per-round join shape. Each round
    * ends on a checkpointed leaf ([[graft.util.Materialize.stable]],
    * released by `ContextCleaner`) — an iterative plan otherwise grows
    * exponentially and re-executes every prior round on each action.
    *
    * Convergence is detected with one tiny aggregate per round (labels
    * only ever decrease, so Σ labels strictly decreases iff any vertex
    * changed — summed as DECIMAL(38,0) so billion-scale id sums cannot
    * wrap). Only vertices that appear in `pairs` are emitted; singleton
    * docs are their own cluster by definition and need no join to know it.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25, strict: Boolean = true,
      metrics: Option[graft.ops.Metrics.Registry] = None): DataFrame = {
    // materialize the PAIR plan first: the bidirectional union branches it
    // twice, and an upstream pair generator (an LSH band join) must not
    // run twice to build the edge list
    val p = graft.util.Materialize.stable(
      pairs.select(col(aCol).as("src"), col(bCol).as("dst")))
    val edges = graft.util.Materialize.stable(
      p.union(p.select(col("dst").as("src"), col("src").as("dst"))))
    var labels = graft.util.Materialize.stable(
      edges.select(col("src").as("v")).distinct().withColumn("l", col("v")))
    // coalesce: sum over ZERO rows is NULL — an empty pair set (no
    // near-dups found) must converge immediately, not NPE the compare
    def checksum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("l").cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO))).head().getDecimal(0)
    var prev = checksum(labels)
    var done = false
    var i = 0
    while (!done && i < maxIter) {
      val viaNbr = edges.join(labels, col("dst") === col("v"))
        .select(col("src").as("v"), col("l"))
      val next = graft.util.Materialize.stable(
        labels.union(viaNbr).groupBy("v").agg(min("l").as("l")))
      val cur = checksum(next)
      done = cur.compareTo(prev) == 0
      prev = cur
      labels = next
      i += 1
    }
    recordConvergence(metrics, "minlabel", i, done)
    if (!done) {
      // partial propagation SPLITS components (labels diverge from the
      // exact closure); emitting them silently is a correctness hole at
      // scale, where nobody reads executor stderr
      val msg = s"connectedComponents(minlabel): fixpoint NOT reached " +
        s"after $maxIter rounds (component diameter exceeds maxIter); " +
        s"labels would split components — raise maxIter or use " +
        s"connectedComponentsStars"
      if (strict) throw new IllegalStateException(msg)
      else System.err.println(s"[graft] $msg")
    }
    labels.select(col("v").as("doc_id"), col("l").as("cluster_id"))
  }

  /** Iteration count + convergence flag for the iterative cluster
    * algorithms, surfaced through the same registry as the pipeline's RED
    * metrics (ops follow `graft_cc_converged`, not executor stderr).
    */
  private def recordConvergence(metrics: Option[graft.ops.Metrics.Registry],
      algo: String, rounds: Int, converged: Boolean): Unit =
    metrics.foreach { r =>
      r.setGauge("graft_cc_rounds", rounds.toDouble, Seq("algo" -> algo))
      r.setGauge("graft_cc_converged", if (converged) 1.0 else 0.0, Seq("algo" -> algo))
    }

  /** Connected components by alternating large-star/small-star (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC'14) —
    * the adversarial-diameter upgrade over [[connectedComponents]]'s
    * min-label propagation: rounds are O(log² n) in the WORST case
    * (a path graph converges in ~log rounds), not O(diameter), with the
    * same per-round scale shape (one shuffle on the grouping key + one
    * equi-join; no broadcast, no driver data).
    *
    * Phases over the symmetrized edge set (Γ(u) = u's neighbors):
    *  - large-star(u): for every neighbor v > u, emit (v, m) where
    *    m = min(Γ(u) ∪ {u}) — larger neighbors re-attach to u's minimum;
    *  - small-star(u): over S = {v ∈ Γ(u) : v < u}, emit (v, min S) for
    *    v ∈ S and (u, min S) — u and its smaller neighbors collapse onto
    *    their minimum.
    * Both phases provably preserve connectivity and only ever emit
    * (larger → smaller) edges, so the edge set stays canonical with no
    * extra normalization. Fixpoint = the edge set is a union of stars,
    * every vertex pointing at its component minimum — the SAME
    * (doc_id, cluster_id = min id) contract as min-label.
    *
    * Convergence is detected by an order-insensitive edge-set checksum
    * (count + Σ xxhash64(a,b) as decimal(38,0)): exact on count, hash-sum
    * collision odds are ~2⁻⁶⁴ per round — and `maxIter` backstops the
    * proven round bound, so a phantom "converged" cannot hide behind an
    * exhausted loop.
    *
    * Hybrid finish: when the current edge set (never larger than the
    * input pair set) has ≤ `localThreshold` rows and integral ids, the
    * remaining rounds are replaced by one collect + exact union-find on
    * the driver — a bounded ≤ ~16 MB transfer that saves ~log n
    * multi-stage rounds whose cost is scheduling, not data. Set
    * `localThreshold = 0` to force the pure distributed loop.
    */
  def connectedComponentsStars(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 50, strict: Boolean = true,
      metrics: Option[graft.ops.Metrics.Registry] = None,
      localThreshold: Long = 1L << 20): DataFrame = {
    val p0 = graft.util.Materialize.stable(
      pairs.select(col(aCol).as("a"), col(bCol).as("b")))
    var edges = graft.util.Materialize.stable(
      p0.filter(col("a") =!= col("b"))
        .select(greatest(col("a"), col("b")).as("a"), least(col("a"), col("b")).as("b"))
        .distinct())
    // vertices appearing ONLY in self-pairs: min-label emits them as
    // their own singleton cluster (its symmetrized edge (v,v) survives),
    // so this variant must too — the self-loop filter above would
    // otherwise silently drop them from the output contract
    val selfVerts = graft.util.Materialize.stable(
      p0.filter(col("a") === col("b")).select(col("a").as("doc_id")).distinct())
    def withSelfSingletons(labels: DataFrame): DataFrame =
      labels.union(
        selfVerts.join(labels.select("doc_id"), Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("doc_id").as("cluster_id")))

    def sym(e: DataFrame): DataFrame =
      e.union(e.select(col("b").as("a"), col("a").as("b")))

    def largeStar(e: DataFrame): DataFrame = {
      val s = sym(e)
      val m = s.groupBy("a").agg(min("b").as("mn"))
        .select(col("a"), least(col("mn"), col("a")).as("m"))
      s.join(m, "a").filter(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b")).distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      val s = sym(e).filter(col("b") < col("a"))
      val m = s.groupBy("a").agg(min("b").as("m"))
      s.join(m, "a").select(col("b").as("x"), col("m"))
        .union(m.select(col("a").as("x"), col("m")))
        .filter(col("x") =!= col("m"))
        .select(col("x").as("a"), col("m").as("b")).distinct()
    }

    def checksum(e: DataFrame): (Long, java.math.BigDecimal) = {
      val r = e.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("a"), col("b")).cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO))).head()
      (r.getLong(0), r.getDecimal(1))
    }

    // hybrid finish: star rounds preserve the vertex set and connectivity,
    // so ONCE the (monotonically non-growing) edge set fits the driver
    // threshold, an exact union-find finishes in one collect instead of
    // ~log n more distributed rounds — each of which costs several
    // scheduled stages regardless of data size. At 100 TB the early
    // rounds run distributed and the tail (or a small graph, immediately)
    // goes local; localThreshold=0 forces the pure distributed loop.
    val integralIds = {
      val dt = edges.schema.fields.map(_.dataType).toSet
      dt.subsetOf(Set[org.apache.spark.sql.types.DataType](
        org.apache.spark.sql.types.ByteType, org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType))
    }
    var prev = checksum(edges)
    var done = prev._1 == 0L // no edges at all: nothing to propagate
    var i = 0
    while (!done && i < maxIter &&
        !(integralIds && prev._1 <= localThreshold)) {
      val ls = graft.util.Materialize.stable(largeStar(edges))
      val next = graft.util.Materialize.stable(smallStar(ls))
      val cur = checksum(next)
      done = cur == prev
      prev = cur
      edges = next
      i += 1
    }
    if (!done && integralIds && prev._1 <= localThreshold) {
      recordConvergence(metrics, "stars", i, converged = true)
      return withSelfSingletons(localFinish(edges))
    }
    recordConvergence(metrics, "stars", i, done)
    if (!done && strict)
      throw new IllegalStateException(
        s"connectedComponentsStars: no fixpoint after $maxIter rounds — " +
          s"exceeds the O(log² n) bound; raise maxIter")
    // at fixpoint every edge is (vertex → its component minimum): labels
    // for non-roots read straight off the star edges; roots (targets that
    // are never sources — anti-join, cheap on the small root set) label
    // themselves. The anti-join also keeps doc_ids unique under
    // non-strict partial output, where a vertex can sit on both sides.
    val nonRoots = edges.groupBy("a").agg(min("b").as("cluster_id"))
    withSelfSingletons(
      nonRoots.select(col("a").as("doc_id"), col("cluster_id"))
        .union(edges.select(col("b")).distinct()
          .join(nonRoots.select(col("a")), col("b") === col("a"), "left_anti")
          .select(col("b").as("doc_id"), col("b").as("cluster_id"))))
  }

  /** Driver-side exact finish of [[connectedComponentsStars]]: union-find
    * with path compression over a BOUNDED collected edge set (integral
    * ids, ≤ localThreshold rows ⇒ ≤ ~16 B/row). Labels = component
    * minimum, identical to the distributed fixpoint's contract.
    */
  private def localFinish(edges: DataFrame): DataFrame = {
    val session = edges.sparkSession
    val aType = edges.schema("a").dataType
    val collected = edges
      .select(col("a").cast("long"), col("b").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      while (parent.getOrDefault(x, x) != x) {
        val p = parent.getOrDefault(x, x)
        parent.put(x, parent.getOrDefault(p, p)) // path halving
        x = parent.getOrDefault(x, x)
      }
      x
    }
    collected.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb)) // min root wins
    }
    // min-root union keeps every root the minimum of the roots merged into
    // it, and with path compression find() lands there directly; a final
    // pass maps each vertex to its root = component minimum
    val vertices = collected.iterator.flatMap(e => Iterator(e._1, e._2)).toArray.distinct
    val rows = vertices.map(v => (v, find(v))).toIndexedSeq
    import session.implicits._
    rows.toDF("doc_id", "cluster_id")
      .select(col("doc_id").cast(aType), col("cluster_id").cast(aType))
  }

  /** Incremental connected-components maintenance: fold a DELTA edge
    * batch into an existing (doc_id, cluster_id) label table without
    * re-running CC over the corpus — the cluster-state analog of the
    * incremental HLL/quantile/Bloom/CMS gates (maintenance cost scales
    * with the delta, not the corpus). Contract: the result EQUALS a
    * full recompute over (every edge the prior labels summarize) ∪
    * `deltaPairs`, provided the prior labels follow the engine's CC
    * contract (cluster_id = component-minimum doc_id — what
    * [[connectedComponents]] / [[connectedComponentsStars]] emit).
    *
    * Construction (cluster contraction): (1) each delta endpoint is
    * mapped onto its prior label (unknown vertices stay themselves —
    * new docs enter as their own id); (2) CC runs over the CONTRACTED
    * graph — delta-sized, never corpus-sized (star-contraction, so
    * merge chains across many prior clusters stay O(log n) rounds);
    * (3) the corpus state is touched by exactly ONE equi-join against
    * the root map (bounded by the touched clusters). Correctness of the
    * min-label: a prior label is ≤ every member of its cluster, so the
    * contracted component minimum IS the merged component's global
    * minimum — labels match the full recompute bit-for-bit.
    *
    * Replay-idempotent by construction: re-applying an already-folded
    * delta maps every endpoint to an already-merged label, the
    * contracted graph collapses to self-loops, and the root map is the
    * identity — at-least-once delivery needs no dedup guard.
    */
  def incrementalComponents(priorLabels: DataFrame, deltaPairs: DataFrame,
      aCol: String, bCol: String, maxIter: Int = 50): DataFrame = {
    val prior = graft.util.Materialize.stable(
      priorLabels.select(col("doc_id"), col("cluster_id")))
    val d0 = graft.util.Materialize.stable(
      deltaPairs.select(col(aCol).as("a"), col(bCol).as("b")))
    val mapped = d0
      .join(prior.select(col("doc_id").as("a"), col("cluster_id").as("_la")),
        Seq("a"), "left")
      .join(prior.select(col("doc_id").as("b"), col("cluster_id").as("_lb")),
        Seq("b"), "left")
      .select(coalesce(col("_la"), col("a")).as("a"),
        coalesce(col("_lb"), col("b")).as("b"))
    // roots of the contracted graph: (label → merged-component minimum)
    val roots = graft.util.Materialize.stable(
      connectedComponentsStars(mapped, "a", "b", maxIter))
    val updatedPrior = prior
      .join(roots.select(col("doc_id").as("cluster_id"),
        col("cluster_id").as("_new")), Seq("cluster_id"), "left")
      .select(col("doc_id"),
        coalesce(col("_new"), col("cluster_id")).as("cluster_id"))
    // delta vertices the prior table has never seen: labels straight off
    // the contracted CC (their contracted id is their own doc_id)
    val newVerts = d0.select(col("a").as("doc_id"))
      .union(d0.select(col("b")))
      .distinct()
      .join(prior.select("doc_id"), Seq("doc_id"), "left_anti")
    val newLabels = newVerts
      .join(roots.withColumnRenamed("cluster_id", "_new"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("_new"), col("doc_id")).as("cluster_id"))
    updatedPrior.union(newLabels)
  }

  /** Winnowing document fingerprints (Schleimer et al., SIGMOD'03 — the
    * standard rolling-hash fingerprint the reference's checksum validation
    * approximates per-row): hash every positional n-gram, keep the min of
    * each sliding window of `w` consecutive hashes, emit distinct mins.
    * Window function over (doc, position) — no state beyond the window.
    */
  def winnowingFingerprints(docs: DataFrame, idCol: String, textCol: String,
      n: Int, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // maxpos is knowable at explode time (#shingles − 1 = #tokens − n),
    // so it rides along from positionalWindowHashes instead of costing a
    // second whole-partition window pass over the exploded rows.
    val posSh = positionalWindowHashes(docs, idCol, textCol, n)
    val win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    posSh
      .withColumn("fp", min("h").over(win))
      .filter(col("pos") <= col("maxpos") - (w - 1))
      .select("doc_id", "fp").distinct()
  }

  /** Winnowing candidate pairs — the MOSS-style near-dup blocking
    * (Schleimer et al. 2003): docs sharing at least `minShared` selected
    * fingerprints are candidates. Fingerprints are already a ~1/w sample
    * of the window hashes, so the posting lists are w× smaller than the
    * shingle family's for the same n — the cheap first pass when w is
    * large. Same inverted-index discipline: ONE equi-join on the
    * fingerprint key, never all-pairs, with `maxFpDocFreq` dropping
    * degenerate boilerplate fingerprints before the join.
    */
  def winnowCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, w: Int, minShared: Long, maxFpDocFreq: Long = 0): DataFrame = {
    val fp0 = winnowingFingerprints(docs, idCol, textCol, n, w)
    val fp = graft.util.Materialize.stable(
      if (maxFpDocFreq <= 0) fp0
      else {
        val hot = fp0.groupBy("fp").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxFpDocFreq).select("fp")
        fp0.join(hot, Seq("fp"), "left_anti")
      })
    fp.as("a")
      .join(fp.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Winnow→verify: winnowing candidate pairs CONFIRMED by the exact
    * shingle Jaccard, both legs derived from ONE materialized
    * positional-hash scan (the [[winnowCandidatePairs]] +
    * [[jaccardPairs]] composition without the second corpus
    * tokenization — the same shared-scan discipline as the MinHash
    * estimator). The exact join runs over distinct postings of the same
    * n-gram hashes the fingerprints sampled, so "verified" means the
    * true Jaccard of exactly the blocked feature space. Output:
    * (doc_a, doc_b, n_shared, jac_permille), candidate-bounded.
    */
  def winnowVerifiedPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, w: Int, minShared: Long, maxFpDocFreq: Long,
      minJacPermille: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pos = graft.util.Materialize.stable(
      positionalWindowHashes(docs, idCol, textCol, n))
    val win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    val fp0 = pos
      .withColumn("fp", min("h").over(win))
      .filter(col("pos") <= col("maxpos") - (w - 1))
      .select("doc_id", "fp").distinct()
    val fp = graft.util.Materialize.stable(
      if (maxFpDocFreq <= 0) fp0
      else {
        val hot = fp0.groupBy("fp").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxFpDocFreq).select("fp")
        fp0.join(hot, Seq("fp"), "left_anti")
      })
    val cand = graft.util.Materialize.stable(
      fp.as("a")
        .join(fp.as("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= minShared))
    // exact Jaccard CANDIDATE-BOUNDED via [[jaccardForPairs]] — a shared
    // fingerprint IS a shared window hash, so every candidate pair has
    // inter ≥ 1 and the inner join loses nothing
    val post = graft.util.Materialize.stable(
      pos.select("doc_id", "h").distinct())
    cand.join(jaccardForPairs(post, cand.select("doc_a", "doc_b")),
        Seq("doc_a", "doc_b"))
      .filter(col("jac_permille") >= minJacPermille)
      .select("doc_a", "doc_b", "n_shared", "jac_permille")
  }

  /** Exact integer Jaccard for a GIVEN pair set only — the verification
    * leg of every blocking family (winnowing, MinHash calibration). The
    * corpus-wide alternative — the full postings self-join filtered to
    * the pairs afterwards — computes intersections for every
    * co-occurring pair in the corpus, which is exactly the quadratic
    * work the blocking stage exists to avoid. Here each candidate pair
    * pulls its two posting lists through equi-joins (a doc's postings
    * replicate once per candidate partner — degree is bounded by the
    * caller's hot-key caps), so exact work is proportional to the
    * candidate set at any corpus size.
    *
    * `post` is the distinct (doc_id, h) postings; `pairs` is
    * (doc_a, doc_b). Output: (doc_a, doc_b, jac_permille), pairs with
    * ZERO shared hashes omitted (no `inter` row — callers wanting them
    * left-join and coalesce to 0).
    */
  private[graft] def jaccardForPairs(post: DataFrame,
      pairs: DataFrame): DataFrame = {
    val sizes = post.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    post.as("a")
      .join(pairs, col("a.doc_id") === col("doc_a"))
      .join(post.as("b"),
        col("a.h") === col("b.h") && col("b.doc_id") === col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        expr("inter * 1000 div (n_a + n_b - inter)").as("jac_permille"))
  }

  /** Incremental exact dedup — the batch form of the streaming novelty
    * gate ([[StreamingDedup]]): admit a document from the new increment
    * iff its content hash appears neither in the prior corpus nor
    * earlier (by id) within the increment itself. This is how a
    * continuously-crawled corpus grows WITHOUT re-deduplicating 100 TB
    * per ingest: the prior side reduces to (hash) in its scan, the new
    * increment anti-joins it on the hash key, and within-increment
    * firsts come from the same md5-keyed aggregation shape as
    * [[exactDuplicates]].
    *
    * Output: the surviving new rows (id, text_hash) plus
    * `dup_of_prior` / `dup_within` counts are the caller's derivable
    * diagnostics — kept lean here so the survivors frame composes
    * directly into the curation pipeline.
    */
  def incrementalDedup(newDocs: DataFrame, priorDocs: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // NULL text hashes to a sentinel: a SQL-NULL key never matches in the
    // anti-join, so null-text rows could neither be suppressed by prior
    // null-text docs nor dedup against each other
    def h(c: Column) = coalesce(md5(c), lit("<null>"))
    val prior = priorDocs.select(h(col(textCol)).as("text_hash")).distinct()
    val fresh = newDocs
      .select(col(idCol).as("doc_id"), h(col(textCol)).as("text_hash"))
      .join(prior, Seq("text_hash"), "left_anti")
    val w = Window.partitionBy("text_hash").orderBy("doc_id")
    fresh.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("doc_id", "text_hash")
  }

  /** Per-document n-gram novelty vs a PRIOR corpus: for each incoming
    * doc, how many of its distinct word-`n`-gram hashes were never seen
    * in the prior corpus — the content-freshness score an incremental
    * ingest ranks new crawls by (a doc that is 95% previously-seen
    * n-grams adds little even if its exact text is new; the score
    * generalizes [[incrementalDedup]]'s whole-text hash to partial
    * overlap). Output: (doc_id, n_shingles, n_novel, novelty_permille),
    * one row per incoming doc with ≥ n tokens.
    *
    * Scale shape: the prior corpus reduces to its DISTINCT shingle-hash
    * set in its own scan (8-byte rows after the map-side md5 — the
    * [[shingleHashPostings]] discipline), the incoming postings LEFT-join
    * it on the hash (a big-big equi-join, hash-partitioned — the honest
    * shape when both sides are corpus-scale; no broadcast pretense), and
    * the per-doc counts partial-aggregate map-side. Nothing carries text
    * past the tokenize stage.
    */
  def noveltyProfile(newDocs: DataFrame, priorDocs: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    val prior = shingleHashPostings(priorDocs, idCol, textCol, n)
      .select("h").distinct().withColumn("_seen", lit(1L))
    shingleHashPostings(newDocs, idCol, textCol, n)
      .join(prior, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("_seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_permille", expr("n_novel * 1000 div n_shingles"))
  }

  /** Keep-best-per-cluster representative selection — the step after
    * fuzzy-dedup clustering in the published pipelines (FineWeb,
    * SlimPajama): each near-duplicate cluster contributes exactly ONE
    * document, chosen by a quality score instead of min-id, so dedup
    * removes redundancy without systematically preferring the earliest
    * crawl of a page. Deterministic total order: highest `qualityCol`,
    * ties to the smallest doc id.
    *
    * `labels` is (doc_id, cluster_id) from either connected-components
    * variant (singletons included by the caller's left-join+coalesce).
    * Output: one row per cluster — (cluster_id, n_members,
    * total_quality, rep_doc_id, rep_quality).
    *
    * Scale shape: one id-keyed join to attach the score, then one
    * cluster-keyed exchange reused by both the stats aggregation (map-
    * side partial) and the rank-1 window — whose filter compiles to
    * WindowGroupLimit, so each map task forwards one candidate row per
    * cluster, not the cluster's membership.
    */
  def clusterRepresentatives(labels: DataFrame, docs: DataFrame,
      idCol: String, qualityCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val joined = labels.join(
      docs.select(col(idCol).as("doc_id"), col(qualityCol).cast("long").as("q")),
      Seq("doc_id"))
    val w = Window.partitionBy("cluster_id").orderBy(col("q").desc, col("doc_id"))
    val rep = joined.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("rep_doc_id"),
        col("q").as("rep_quality"))
    joined.groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"), sum("q").as("total_quality"))
      .join(rep, Seq("cluster_id"))
  }

  /** Paragraph-level exact dedup (the sub-document granularity of
    * C4/CCNet/Dolma: boilerplate paragraphs — headers, footers, license
    * blocks — repeat across millions of documents that are NOT document-
    * level duplicates). Split on `sep`, keep each distinct paragraph's
    * FIRST occurrence corpus-wide (first = smallest (doc_id, position) —
    * a total, deterministic order), reassemble surviving paragraphs in
    * original order, and drop documents left empty.
    *
    * Scale shape — SKEW-ROBUST BY CONSTRUCTION: first-occurrence is a
    * partial-aggregated `min(struct(doc_id, para_no))` per paragraph
    * hash, NOT a `row_number` window. A boilerplate paragraph repeated
    * in 10% of documents (headers, license blocks — the common case)
    * makes the md5 key hot; a window sorts all its instances in ONE
    * task, while the min combines map-side so the agg exchange carries
    * one row per (input partition × distinct paragraph) regardless of
    * how hot the key is. The verdict then re-attaches via an equi-join
    * on the hash — a shuffle join AQE's skew handling can split, unlike
    * a window partition. Dedup state is never driver-side and never a
    * broadcast: at 100 TB the paragraph key space IS the corpus.
    * (SkewAuditSpec injects the hot paragraph and checks both the
    * verdicts and the plan shape.)
    *
    * DECIDE-SMALL/ATTACH-BIG evaluated and REJECTED (round 19, guide
    * §2.3/§8): a two-pass variant — verdict chain over (hash, doc_id,
    * para_no) metadata, per-doc kept-position arrays joined back onto
    * the input, reassembly as a doc-local position filter — halves the
    * text-bearing exchanges (2 → 1) but pays a second full input pass
    * and one more exchange; measured at sf0.1 it regressed
    * dedup_paragraph 1.35 → 2.10 s and corpus_curated_v2 3.0 → 4.0 s,
    * while the saved text shuffle is LINEAR in the corpus (BytesAudit
    * never flagged it). The single-pass shape below keeps the constant
    * extra text exchange; the plan pair for the rejected variant is
    * committed (`plans/r19/dedup_paragraph_{before,after}.txt`).
    */
  def paragraphDedup(docs: DataFrame, idCol: String, textCol: String,
      sep: String = "\n\n"): DataFrame = {
    // widen below the split: the md5 stages must not inherit a
    // single-file scan's partition count (the explode-head rationale)
    val paras = widen(docs.select(col(idCol).as("doc_id"),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("para_no", "para"))))
      .withColumn("_ph", md5(col("para")))
    val first = paras.groupBy("_ph")
      .agg(min(struct(col("doc_id"), col("para_no"))).as("_f"))
    paras.join(first, Seq("_ph"))
      .withColumn("_is_first",
        col("doc_id") === col("_f.doc_id") && col("para_no") === col("_f.para_no"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_paras"),
        sum(when(col("_is_first"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          expr("transform(array_sort(collect_list(CASE WHEN _is_first THEN " +
            "struct(para_no, para) END)), x -> x.para)"),
          sep).as("text_kept"))
      .filter(col("n_kept") >= 1L)
  }
}
