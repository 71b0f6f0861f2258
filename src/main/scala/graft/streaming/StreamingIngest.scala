package graft.streaming

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.model.Schemas

/** Structured-streaming ingestion variant of the staged-file load
  * (SURVEY §2.11 ST1/ST2 streaming option): a
  * file-source `readStream` over a per-table inbox of staged TSV files,
  * drained with `Trigger.AvailableNow` into the same append-only raw
  * tables the batch path ([[graft.pipeline.Ingest]]) writes.
  *
  * What streaming buys over the batch loop's load-by-filename
  * (copy_data.sql:1-2 twin): EXACTLY-ONCE file tracking for free — the
  * checkpointed file-source log replaces the reference's convention that
  * each DAG run loads precisely the files it generated. A crashed drain
  * resumes without double-loading; a re-drain with no new files is a
  * no-op. The trigger maps the reference's fixed-interval schedule
  * (refresh_source_data.py:27,32): `AvailableNow` per tick, or
  * `Trigger.ProcessingTime` for a resident micro-batch loop.
  *
  * Scale notes: the inbox is listed incrementally (maxFilesPerTrigger
  * can bound a backlog drain), parsing is distributed over executors,
  * and the append is a parquet partition add — no rewrite of existing
  * data, same as the batch path.
  */
final class StreamingIngest(spark: SparkSession, db: String, streamRoot: Path) {

  private def inbox(t: String) = streamRoot.resolve("inbox").resolve(t)
  private def checkpoint(t: String) = streamRoot.resolve("_checkpoints").resolve(t)

  /** Stages one generated frame as TSV part files in the table's inbox
    * (S3 sink twin). Files are written to a scratch dir first and MOVED
    * in, so the file source never lists a half-written file; part names
    * carry a per-write UUID, so every staged file is new to the source's
    * tracking log.
    */
  def stage(table: String, df: DataFrame, batchId: String): Unit = {
    val tmp = Files.createTempDirectory(streamRoot, s"stage-$table-")
    df.coalesce(1).write // one staged file per table per batch, like the DAG
      .option("sep", "\t").option("header", "true")
      .mode(SaveMode.Overwrite)
      .csv(tmp.toString)
    Files.createDirectories(inbox(table))
    // Using(...) closes each directory stream — Files.list holds an open
    // file handle until closed, which leaks per staged table per batch on
    // a long-running driver.
    scala.util.Using.resource(Files.list(tmp)) { ls =>
      ls.filter(_.getFileName.toString.startsWith("part-"))
        .forEach { p =>
          Files.move(p, inbox(table).resolve(s"$batchId-${p.getFileName}"))
        }
    }
    scala.util.Using.resource(Files.list(tmp)) { ls =>
      ls.forEach(p => Files.deleteIfExists(p))
    }
    Files.deleteIfExists(tmp)
  }

  private def appliedMarker(t: String, batchId: Long) =
    streamRoot.resolve("_applied").resolve(t).resolve(s"batch-$batchId")

  /** Drains every pending staged file into the raw tables exactly once:
    * one `AvailableNow` streaming query per table, reading with the
    * DECLARED schema (no inference — the copy_data.sql contract), each
    * micro-batch appended via the same `insertInto` the batch path uses.
    *
    * Crash recovery: `foreachBatch` is at-least-once by contract — a
    * drain that dies after the append but before Spark records the batch
    * in the commit log re-runs that batchId on restart. The append is
    * therefore made IDEMPOTENT per (table, batchId) with an applied-
    * marker file created after the insert: a re-delivered batch whose
    * marker exists is skipped, so restart-after-crash appends nothing
    * twice (StreamingIngestSpec pins this with an injected mid-drain
    * failure). `_applied/` lives beside `_checkpoints/` and shares its
    * lifetime — deleting one without the other breaks the batchId
    * correspondence. Residual window: a crash BETWEEN insertInto and
    * marker creation still re-appends (two FS operations cannot be
    * atomic on a plain filesystem); closing it needs a transactional
    * table format, which the reference's plain-parquet model lacks too.
    *
    * @param maxFilesPerTrigger bound staged files per micro-batch (also
    *   what makes a multi-file backlog drain in several recoverable
    *   batches rather than one)
    * @param afterBatch test failpoint, invoked after a batch is applied
    *   and marked — a throw simulates a crash before the commit-log
    *   write, the exact window the marker protects
    */
  def drainOnce(
      tables: Seq[String] = Schemas.rawTables.map(_._1),
      maxFilesPerTrigger: Option[Int] = None,
      afterBatch: (String, Long) => Unit = (_, _) => ()): Unit =
    tables.foreach { t =>
      if (Files.exists(inbox(t))) {
        val schema = Schemas.rawTables.toMap.apply(t)
        val reader = spark.readStream
          .option("sep", "\t").option("header", "true")
          .schema(schema)
        maxFilesPerTrigger.foreach(n =>
          reader.option("maxFilesPerTrigger", n.toString))
        val q = reader
          .csv(inbox(t).toString)
          .writeStream
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", checkpoint(t).toString)
          .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
            val marker = appliedMarker(t, batchId)
            if (!Files.exists(marker)) {
              batch.write.mode(SaveMode.Append).insertInto(s"$db.$t")
              Files.createDirectories(marker.getParent)
              Files.createFile(marker)
            }
            afterBatch(t, batchId)
          }
          .start()
        q.awaitTermination()
        // foreachBatch runs on a CLONED session whose insertInto refreshes
        // the clone's relation cache, not this session's — refresh here so
        // callers reading the raw table on `spark` see the appended files.
        spark.catalog.refreshTable(s"$db.$t")
      }
    }
}
