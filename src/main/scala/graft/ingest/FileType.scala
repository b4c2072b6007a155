package graft.ingest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The ingestible file types (A1–A8, A28's file_type branch): the one table
  * batch scans and streaming sources both read — a reader format, its
  * options, and whether A7's empty-row filter applies. `excel` is the native
  * SpreadsheetML source only (A4); CSV input is `csv`. */
sealed abstract class FileType(val name: String, val format: String,
    val options: Map[String, String], dropsEmptyRows: Boolean) {

  /** A7 (Excel semantics), where it applies: drop rows where every cell is
    * null/empty-string — they do not count toward progress. */
  def countedRows(df: DataFrame): DataFrame =
    if (!dropsEmptyRows) df
    else df.filter(df.columns
      .map(c => col(c).isNotNull && col(c).cast("string") =!= "")
      .reduce(_ || _))
}

object FileType {
  // top-level JSON array (A1) or JSONL; recursive dir glob (A2) and
  // s3a/gs/abfss/file URIs (A3) come free from the Hadoop FS layer
  case object Json extends FileType("json", "json", Map("multiLine" -> "true",
    "recursiveFileLookup" -> "true", "pathGlobFilter" -> "*.json"), false)
  case object Jsonl extends FileType("jsonl", "json",
    Map("recursiveFileLookup" -> "true"), false)
  case object Parquet extends FileType("parquet", "parquet", Map.empty, false)
  case object Excel extends FileType("excel", "xlsx", Map.empty, true)
  // header row = schema, short rows null-padded (A5–A6)
  case object Csv extends FileType("csv", "csv",
    Map("header" -> "true", "mode" -> "PERMISSIVE"), true)

  /** Case-insensitive (A28: `lower()` on file_type); an unknown type is
    * rejected like `ingestion_controllers.py:60-66`. */
  def parse(fileType: String): FileType =
    Seq(Json, Jsonl, Parquet, Excel, Csv).find(_.name == fileType.toLowerCase)
      .getOrElse(throw new IllegalArgumentException(s"Unsupported file type: $fileType"))
}
