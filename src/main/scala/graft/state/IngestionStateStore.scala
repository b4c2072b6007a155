package graft.state

import graft.api.IngestionState
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

/** Crash-safe ingestion progress store (SURVEY.md §2 A12/A21 — the Spark
  * stand-in for the reference's SQLite `ingestion_state` table,
  * `app/services/ingestion_state_store.py:26-68`).
  *
  * Contract (identical to the reference):
  *   - `lastChunk(id)` → -1 when unknown (`:36-42`), so the first chunk is 0;
  *   - `totalRecords(id)` → 0 when unknown (`:44-50`);
  *   - `ackChunk` upserts (id, last_chunk, total_records, IN_PROGRESS) and is
  *     called ONLY after a receiver ACK (`json_reader.py:190-191`); progress
  *     only moves forward: a `last_chunk` at or below the stored one (two
  *     runs of one id racing) fails instead of overwriting;
  *   - `markCompleted` flips status to COMPLETED (`:63-68`).
  */
trait IngestionStateStore {
  def get(ingestionId: String): Option[IngestionState]
  def lastChunk(ingestionId: String): Long =
    get(ingestionId).map(_.lastChunk).getOrElse(-1L)
  def totalRecords(ingestionId: String): Long =
    get(ingestionId).map(_.totalRecords).getOrElse(0L)
  def ackChunk(ingestionId: String, lastChunk: Long, totalRecords: Long): Unit
  def markCompleted(ingestionId: String): Unit
  /** Small auxiliary kv (streaming batch anchors — chunk numbering must
    * stay stable when a micro-batch replays after a mid-batch crash). */
  def putMeta(key: String, value: String): Unit
  def getMeta(key: String): Option[String]
}

/** Test-grade store. */
final class InMemoryStateStore extends IngestionStateStore {
  private val m = scala.collection.concurrent.TrieMap.empty[String, IngestionState]
  private val meta = scala.collection.concurrent.TrieMap.empty[String, String]
  override def get(id: String): Option[IngestionState] = m.get(id)
  override def ackChunk(id: String, lastChunk: Long, total: Long): Unit =
    synchronized {
      IngestionStateStore.requireForward(id, m.get(id), lastChunk)
      m.put(id, IngestionState(id, lastChunk, total, IngestionState.InProgress))
    }
  override def markCompleted(id: String): Unit = synchronized {
    m.get(id).foreach(s => m.put(id, s.copy(status = IngestionState.Completed)))
  }
  override def putMeta(key: String, value: String): Unit = meta.put(key, value)
  override def getMeta(key: String): Option[String] = meta.get(key)
}

/** Durable store: one small file per ingestion_id, written atomically
  * (temp + fsync + rename + directory fsync) so neither a crash mid-upsert
  * nor a power loss after it can corrupt or roll back progress — the
  * property the reference gets from SQLite's journal.
  *
  * Scale note: progress is one row per *ingestion* (not per record), written
  * once per ACKed chunk from the single driver-side commit loop — a local/
  * DFS file per ingestion is deliberately tiny. On a cluster this directory
  * lives on shared storage; a JDBC/Delta table is a drop-in replacement
  * behind the same trait.
  */
final class FileStateStore(dir: Path) extends IngestionStateStore {
  Files.createDirectories(dir)

  private def fileFor(id: String): Path = dir.resolve(s"$id.state")
  private def metaFor(key: String): Path =
    dir.resolve(s"${java.net.URLEncoder.encode(key, "UTF-8")}.meta")

  override def get(id: String): Option[IngestionState] = {
    val f = fileFor(id)
    if (!Files.exists(f)) None
    else {
      // line format: lastChunk|totalRecords|status
      val Array(lc, tr, st) =
        new String(Files.readAllBytes(f), StandardCharsets.UTF_8).trim.split("\\|", 3)
      Some(IngestionState(id, lc.toLong, tr.toLong, st))
    }
  }

  // each write stages in its own temp file, so two writers of one key never
  // rename each other's half-written bytes into place; the temp file's bytes
  // reach the disk before the rename, and the rename before this returns
  private def replace(target: Path, content: String): Unit = {
    val tmp = Files.createTempFile(dir, s"${target.getFileName}.", ".tmp")
    val out = FileChannel.open(tmp, StandardOpenOption.WRITE)
    try {
      val buf = ByteBuffer.wrap(content.getBytes(StandardCharsets.UTF_8))
      while (buf.hasRemaining) out.write(buf)
      out.force(true)
    } finally out.close()
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    val parent = FileChannel.open(dir, StandardOpenOption.READ)
    try parent.force(true) finally parent.close()
  }

  private def write(id: String, s: IngestionState): Unit =
    replace(fileFor(id), s"${s.lastChunk}|${s.totalRecords}|${s.status}")

  override def ackChunk(id: String, lastChunk: Long, total: Long): Unit =
    synchronized {
      IngestionStateStore.requireForward(id, get(id), lastChunk)
      write(id, IngestionState(id, lastChunk, total, IngestionState.InProgress))
    }

  override def markCompleted(id: String): Unit = synchronized {
    get(id).foreach(s => write(id, s.copy(status = IngestionState.Completed)))
  }

  override def putMeta(key: String, value: String): Unit =
    replace(metaFor(key), value)

  override def getMeta(key: String): Option[String] = {
    val f = metaFor(key)
    if (Files.exists(f))
      Some(new String(Files.readAllBytes(f), StandardCharsets.UTF_8))
    else None
  }
}

object IngestionStateStore {
  def file(path: String): IngestionStateStore = new FileStateStore(Paths.get(path))
  def inMemory(): IngestionStateStore = new InMemoryStateStore()

  private[state] def requireForward(id: String,
      stored: Option[IngestionState], lastChunk: Long): Unit =
    stored.foreach { s =>
      if (lastChunk <= s.lastChunk) throw new IllegalStateException(
        s"ingestion $id: last_chunk may only move forward, stored " +
          s"${s.lastChunk}, got $lastChunk")
    }
}
