package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

import graft.pipeline.Publish

/** Streaming incremental publication — the composition that makes the
  * reference's designed-but-disabled incremental mode (SURVEY.md §2.10)
  * fully live: a file stream feeds `foreachBatch`, and every micro-batch
  * runs the batch publish pipeline's resume path, which appends only
  * rows newer than each chunk file's recorded tail. Batch re-delivery
  * after a crash is therefore harmless: re-delivered rows are at or
  * before the tail and are skipped — the checkpoint gives at-least-once
  * delivery and the tail probe upgrades it to effectively-once output.
  *
  * CONTRACT (the strictly-newer tail makes this load-bearing, not
  * fine print): per chunk, event time must be monotone ACROSS batches
  * and every index-timestamp group fully contained in ONE batch — the
  * reference's own strictly-newer append semantics
  * (DatasetUtilities.py:537-565). A late row at-or-before a published
  * tail, or the second half of a timestamp group split across two
  * batches, is dropped by design (a split group would otherwise
  * publish a partial cell average that append can never amend — CSV
  * appends can't rewrite rows). Ingest that can't guarantee this
  * should land in a staging table and publish via the batch path.
  *
  * Each micro-batch is one `publishChunks` query: the batch is read
  * once, with no cache, each chunk's rows stay inside one partition,
  * and the published bytes cross the driver once.
  */
object StreamingPublish {

  /** Run `stream` to the publish pipeline until current end of input. */
  def run(stream: DataFrame, spec: Publish.ChunkSpec, outDir: String,
      headerFor: Seq[Any] => Seq[String], checkpoint: String): Unit = {
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Publish.publishChunks(batch.sparkSession, batch, spec, outDir,
          headerFor)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
