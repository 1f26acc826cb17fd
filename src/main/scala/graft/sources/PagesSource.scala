package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-format readers/writers for the `pages` table and the links
  * relation — the engine's source/sink surface (SURVEY.md S1/S3/S9/S10).
  * Parquet is the canonical format (columnar scan + pushdown), read and
  * written through Spark directly; CSV/JSON exist because the reference
  * consumes/produces them (config.py:37-58 format table; app_v5.py:629-637
  * CSV link export). The binary html column is hex-encoded in text formats
  * (CSV/JSON cannot carry raw bytes).
  */
object PagesSource {

  val pagesSchema: StructType = PagesDataSource.pagesSchema

  // text-format pages: html carried as hex (single-line, unlike Spark's
  // RFC-2045 base64 which inserts line breaks and shreds CSV rows).
  // encode() also NORMALIZES column order to textSchema: the CSV reader
  // maps columns by POSITION (a user schema with enforceSchema ignores the
  // header), so a caller passing a reordered frame would otherwise write
  // files the reader silently mis-assigns (round-5 review).
  private def encode(df: DataFrame): DataFrame =
    df.withColumn("html_hex", hex(col("html"))).drop("html")
      .select(textSchema.fieldNames.map(col): _*)
  private def decode(df: DataFrame): DataFrame =
    df.withColumn("html", unhex(col("html_hex"))).drop("html_hex")
      .select("url", "warc_ts", "html", "text", "lang")

  private def textSchema: StructType =
    StructType(pagesSchema.filterNot(_.name == "html") :+
      StructField("html_hex", StringType))

  def writeJson(df: DataFrame, path: String): Unit =
    encode(df).write.mode("overwrite").json(path)

  def readJson(spark: SparkSession, path: String): DataFrame =
    decode(spark.read.schema(textSchema).json(path))

  def writeCsv(df: DataFrame, path: String): Unit =
    encode(df).write.mode("overwrite")
      .option("header", "true").option("escape", "\"")
      // csv WRITE trims field whitespace by default — keep bytes exact
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(path)

  def readCsv(spark: SparkSession, path: String): DataFrame =
    decode(spark.read.schema(textSchema)
      .option("header", "true").option("escape", "\"")
      .option("multiLine", "true") // the text column carries newlines
      .csv(path))

  /** S10: links relation -> CSV download (app_v5.py:629-637 analog).
    * PDF-path anchors can carry newlines (X17 context windows), so the
    * reader needs multiLine and the writer must not trim. */
  def writeLinksCsv(links: DataFrame, path: String): Unit =
    links.select("url", "page", "anchor", "target") // positional reader (see encode)
      .write.mode("overwrite")
      .option("header", "true").option("escape", "\"")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(path)

  def readLinksCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(StructType(Seq(
      StructField("url", StringType), StructField("page", IntegerType),
      StructField("anchor", StringType), StructField("target", StringType))))
      .option("header", "true").option("escape", "\"")
      .option("multiLine", "true").csv(path)
}
