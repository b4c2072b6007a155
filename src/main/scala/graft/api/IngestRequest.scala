package graft.api

import graft.canon.Identity
import graft.chunk.ChunkAssigner.ChunkBound
import graft.ingest.FileType

/** Ingestion request (SURVEY.md §2 A29 — `app/schemas/request_model.py:18-66`).
  *
  * Validation semantics reproduced exactly: `file_path`, `callback_url`,
  * `file_type` required (one of [[FileType]]'s, any case); EXACTLY ONE of
  * `chunkSizeByRecords` (1..4000) or `chunkSizeByMemory` (bytes) must be set;
  * `reIngestion` defaults to false.
  */
final case class IngestRequest(
    filePath: String,
    fileType: String,
    callbackUrl: String,
    chunkSizeByRecords: Option[Int] = None,
    chunkSizeByMemory: Option[Long] = None,
    reIngestion: Boolean = false) {

  require(filePath.nonEmpty, "file_path is required")
  require(callbackUrl.nonEmpty, "callback_url is required")
  require(fileType.nonEmpty, "file_type is required")
  val kind: FileType = FileType.parse(fileType) // any case: JSON = json
  require(chunkSizeByRecords.isDefined ^ chunkSizeByMemory.isDefined,
    "exactly one of chunk_size_by_records and chunk_size_by_memory must be provided")
  /** The chunk bound, checked on construction (A9/A10/A13). */
  val bound: ChunkBound = chunkSizeByRecords.map(ChunkBound.Records(_))
    .getOrElse(ChunkBound.Bytes(chunkSizeByMemory.get))

  /** The file identity batch runs and streams derive their ingestion ids
    * from — over the parsed type, so a JSON run resumes a json one rather
    * than minting a fresh id and re-sending all. */
  def fileId: String = Identity.fileId(filePath, kind.name)
}

/** Persistent per-ingestion progress row — the four columns of the
  * reference's `ingestion_state` table (`ingestion_state_store.py:26-33`). */
final case class IngestionState(
    ingestionId: String,
    lastChunk: Long,
    totalRecords: Long,
    status: String)

object IngestionState {
  val InProgress = "IN_PROGRESS"
  val Completed = "COMPLETED"
}
