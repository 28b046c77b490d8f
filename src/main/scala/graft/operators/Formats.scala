package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.Tables.documents

/** Landing-format matrix (SURVEY.md §2.11): the interchange formats a
  * crawl/ingest pipeline actually receives and emits besides parquet —
  * JSON-lines (the crawl/annotation interchange default) and ORC (the
  * other columnar warehouse format Spark ships a vectorized reader
  * for). The gate writes the corpus through each format's Spark writer,
  * reads it back through the matching reader, and fingerprints the
  * result with an order-independent integer fold; the DuckDB oracle
  * computes the same fingerprint from the ORIGINAL parquet, so the hash
  * pins WRITER ∘ READER = identity per format — field quoting, escaping,
  * null handling, type mapping and all.
  *
  * 100 TB posture: both writers shard per partition (no single-file
  * funnel), the JSON read carries an EXPLICIT schema (inference is a
  * second full pass and can mistype on a 10⁹-line corpus), and the
  * fingerprint is a commutative BIGINT sum so the check itself is one
  * map-side-combined aggregate per format. */
object Formats {

  /** Order-independent per-row fingerprint: exact integer fold of the
    * first 8 md5 hex digits of `lang || '#' || source || '#' || text`
    * (16⁸ < 2³¹·2, summed in BIGINT — overflow-free past 10⁹ rows).
    * Exactly replayable in DuckDB digit arithmetic. */
  private[graft] def rowFp(lang: org.apache.spark.sql.Column,
      source: org.apache.spark.sql.Column,
      text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(concat_ws("#", lang, source, text)), 1, 8), 16, 10)
      .cast(LongType)

  /** DuckDB twin of [[rowFp]] (no conv() there — exact digit fold). */
  private def rowFpSql: String =
    """list_sum(list_transform(range(8),
      |  i -> (strpos('0123456789abcdef',
      |          substr(md5(lang || '#' || source || '#' || text),
      |                 CAST(i + 1 AS INT), 1)) - 1)
      |       * (CAST(1 AS BIGINT) << CAST(4 * (7 - i) AS INT))))""".stripMargin

  /** Write documents through each format's writer, read back through
    * its reader, fingerprint. Returns one row per format. */
  def formatRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val root = Artifacts.scratch(s, dir, "fmt_roundtrip")
    val docs = documents(s, dir)
      .select("doc_id", "lang", "source", "text")
    val schema = docs.schema
    docs.write.mode("overwrite").json(s"$root/jsonl")
    docs.write.mode("overwrite").orc(s"$root/orc")
    def fp(df: DataFrame, fmt: String): DataFrame = df
      .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"),
        sum(rowFp(col("lang"), col("source"), col("text"))).as("sum_fp"))
      .select(lit(fmt).as("format"), col("n_docs"), col("sum_ids"), col("sum_fp"))
    fp(s.read.schema(schema).json(s"$root/jsonl"), "jsonl")
      .unionByName(fp(s.read.schema(schema).orc(s"$root/orc"), "orc"))
      .orderBy("format")
  }

  /** This module's share of the driver-visible gate surface —
    * bump WITH any gate added here (RegistrySpec sums the
    * module-local declarations; no global count exists). */
  val declaredGates: Int = 1

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // writer∘reader = identity per landing format, pinned against the
    // ORIGINAL parquet by an order-independent exact fingerprint.
    "q_format_roundtrip" -> ((s, dir) => formatRoundtrip(s, dir))
  )

  val oracles: Map[String, String] = Map(
    // the same counts + fingerprint straight off the parquet table,
    // replicated per format label: any escaping/type/null divergence in
    // either engine's idea of the text breaks the BIGINT sum.
    "q_format_roundtrip" ->
      s"""WITH fp AS (
         |  SELECT count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS sum_ids,
         |         CAST(sum($rowFpSql) AS BIGINT) AS sum_fp
         |  FROM documents)
         |SELECT f.format, fp.n_docs, fp.sum_ids, fp.sum_fp
         |FROM (SELECT unnest(['jsonl', 'orc']) AS format) f, fp
         |ORDER BY format""".stripMargin
  )
}
