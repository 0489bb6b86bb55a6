package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Tables
import graft.sources.TextIngest

/** Raw-corpus ingest seam, gated: the documents fixture is re-serialized
  * to JSONL IN the query (to_json), a deterministic 10% of lines is
  * replaced with a malformed payload, and the [[TextIngest]] parse +
  * split runs over the result. The gate aggregates PARSED fields only —
  * per-language counts, id sums, and a text-content hash sum — so any
  * value the JSON round-trip corrupts (escaping, field order, type
  * coercion) moves a sum the oracle computes from the ORIGINAL columns.
  * Corrupt lines land in the `__corrupt__` bucket with NULL sums (no
  * parsed fields exist to aggregate).
  */
object IngestQueries {

  private val CorruptLine = "not json {{{"

  private val DocSchema =
    StructType.fromDDL("doc_id BIGINT, text STRING, lang STRING, source STRING")

  private def ingested(s: SparkSession, dir: String): DataFrame = {
    val lines = Tables.documents(s, dir)
      .select(when(pmod(col("doc_id"), lit(10L)) === 0, lit(CorruptLine))
        .otherwise(to_json(struct(col("doc_id"), col("text"), col("lang"),
          col("source")))).as("line"))
    TextIngest.parseJsonl(lines, DocSchema)
  }

  /** Deterministic per-doc URL over the fixture columns — subdomain
    * variants (www/news/none/two-level), three TLD shapes incl. a
    * multi-label public suffix, a port on every 5th doc, path + query:
    * the url shape zoo the eTLD+1 extractor must collapse correctly.
    * Identical expression rendered into the oracle (same CASE chain).
    */
  private def docUrl = concat(lit("https://"),
    expr("CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'www.' WHEN 1 THEN 'news.' " +
      "WHEN 2 THEN '' ELSE 'a.b.' END"),
    col("source"), lit("."),
    expr("CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'com' WHEN 1 THEN 'co.uk' " +
      "ELSE 'org' END"),
    expr("CASE WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END"),
    lit("/p/"), col("doc_id").cast("string"), lit("?q=1"))

  /** A decorated crawl-URL per doc over SHARED pages (doc_id % 50):
    * scheme flip, www variant, trailing slash, a real `id` param, utm/
    * fragment decorations — many raw URLs per canonical page, so the
    * canonicalizer has real collapsing to do. Identical CASE chain
    * rendered into the oracle.
    */
  private def docUrlDecorated = concat(
    expr("CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END"),
    expr("CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END"),
    col("source"), lit(".com/page/"),
    expr("CAST(doc_id % 50 AS STRING)"),
    expr("CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END"),
    expr("CASE WHEN doc_id % 4 = 0 THEN '?id=' || CAST(doc_id % 5 AS STRING) " +
      "|| '&utm_source=feed' WHEN doc_id % 2 = 0 " +
      "THEN '?utm_medium=rss' ELSE '' END"),
    expr("CASE WHEN doc_id % 9 = 0 THEN '#top' ELSE '' END"))

  private val docUrlDecoratedSqlDuck: String =
    """CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END
      |  || CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END
      |  || source || '.com/page/' || CAST(doc_id % 50 AS VARCHAR)
      |  || CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END
      |  || CASE WHEN doc_id % 4 = 0 THEN '?id=' || CAST(doc_id % 5 AS VARCHAR)
      |       || '&utm_source=feed' WHEN doc_id % 2 = 0
      |       THEN '?utm_medium=rss' ELSE '' END
      |  || CASE WHEN doc_id % 9 = 0 THEN '#top' ELSE '' END"""
      .stripMargin.replace("\n", " ")

  def gates: Seq[Gate] = Seq(
    // Canonical-URL dedup — URL-level exact dedup done RIGHT: raw crawl
    // URLs collapse to canonical page keys (scheme/www/port/fragment/
    // tracking-param/trailing-slash invariance), per source the raw vs
    // canonical distinct counts = the dedup win. Zero-shuffle
    // canonicalization; one countDistinct exchange.
    Gate("url_canonical_dedup", (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("url", docUrlDecorated)
        .withColumn("cu", graft.functions.Domains.canonicalUrl(col("url")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("url")).as("n_raw_distinct"),
          countDistinct(col("cu")).as("n_canon_distinct")),
      s"""WITH u AS (SELECT source, ($docUrlDecoratedSqlDuck) AS url
         |  FROM documents),
         |c AS (SELECT source, url,
         |  ${graft.functions.Domains.canonicalUrlSqlDuck("url")} AS cu
         |  FROM u)
         |SELECT source, count(*) AS n_docs,
         |  count(DISTINCT url) AS n_raw_distinct,
         |  count(DISTINCT cu) AS n_canon_distinct
         |FROM c GROUP BY source""".stripMargin.replace("\n", " ")),

    // Registrable-domain (eTLD+1) quality grouping — the FineWeb-style
    // domain-level reputation unit: hosts news.X.co.uk / www.X.co.uk /
    // a.b.X.co.uk collapse to X.co.uk while X.com stays separate; stats
    // per domain are the admission table sourceReputationFilter keys on
    // at crawl scale. Pure codegen extraction (regexp + split + IN) —
    // one partial-agg shuffle on the derived domain.
    Gate("domain_quality_stats", (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("domain", graft.functions.Domains.urlDomain(docUrl))
        .groupBy("domain")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("tot_chars"),
          expr("sum(size(array_distinct(split(text, ' '))) * 1000 div " +
            "size(split(text, ' '))) div count(1)").as("mean_diversity_permille")),
      {
        val urlSql =
          """'https://' ||
            |  CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'www.' WHEN 1 THEN 'news.'
            |    WHEN 2 THEN '' ELSE 'a.b.' END
            |  || source || '.' ||
            |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'com' WHEN 1 THEN 'co.uk'
            |    ELSE 'org' END
            |  || CASE WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END
            |  || '/p/' || CAST(doc_id AS VARCHAR) || '?q=1'"""
            .stripMargin.replace("\n", " ")
        s"""WITH u AS (SELECT doc_id, text, n_chars, ($urlSql) AS url
           |  FROM documents),
           |hh AS (SELECT *, ${graft.functions.Domains.hostSqlDuck("url")} AS h
           |  FROM u),
           |dd AS (SELECT *,
           |  ${graft.functions.Domains.registrableDomainSqlDuck("h")} AS domain
           |  FROM hh)
           |SELECT domain, count(*) AS n_docs,
           |  CAST(sum(n_chars) AS BIGINT) AS tot_chars,
           |  CAST(sum(len(list_distinct(string_split(text, ' '))) * 1000
           |    // len(string_split(text, ' '))) // count(*) AS BIGINT)
           |    AS mean_diversity_permille
           |FROM dd GROUP BY domain""".stripMargin.replace("\n", " ")
      }),

    Gate("jsonl_ingest_stats", (s, dir) => {
      val parsed = ingested(s, dir)
      val (valid, dlq) = TextIngest.split(parsed, Seq("doc_id", "text"))
      val v = valid.groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(col("doc_id")).as("sum_doc_id"),
          sum(graft.llm.Dedup.tokenHash(col("text"))).as("text_hash_sum"))
      val d = dlq.groupBy(lit("__corrupt__").as("lang"))
        .agg(count(lit(1)).as("n"),
          lit(null).cast("long").as("sum_doc_id"),
          lit(null).cast("long").as("text_hash_sum"))
      v.unionByName(d)
    },
      // the oracle never parses JSON — it partitions the ORIGINAL rows by
      // the same doc_id % 10 rule and aggregates the original columns, so
      // it checks that serialize → corrupt → parse → split is LOSSLESS on
      // the surviving 90% and routes exactly the other 10%
      """SELECT CASE WHEN doc_id % 10 = 0 THEN '__corrupt__' ELSE lang END AS lang,
        |  count(*) AS n,
        |  CAST(sum(CASE WHEN doc_id % 10 = 0 THEN NULL ELSE doc_id END)
        |    AS BIGINT) AS sum_doc_id,
        |  CAST(sum(CASE WHEN doc_id % 10 = 0 THEN NULL
        |    ELSE CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT) END)
        |    AS BIGINT) AS text_hash_sum
        |FROM documents
        |GROUP BY 1""".stripMargin.replace("\n", " "))
  )
}
