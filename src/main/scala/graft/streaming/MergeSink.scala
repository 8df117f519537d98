package graft.streaming

import graft.operators.Upsert
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming upsert sink — the production pattern for "a stream of
  * row versions maintains a keyed table": `foreachBatch` turns each
  * micro-batch into one commit against the manifested table
  * ([[Upsert.mergeIntoManifested]] / [[Upsert.deleteKeysFromManifested]]),
  * so the reference's load-upsert core (`2.2
  * loading-lambda-for-mysql.py:640-700` — staged batch merged into the
  * serving table per file) runs against a live stream.
  *
  * Only the batch's touched partitions are read and rewritten (manifest
  * dir-level pruning), and a concurrent reader flips atomically between
  * published snapshots: a crash MID-commit leaves the table serving the
  * previous manifest, not a half-written directory. Max-version-wins
  * makes a replayed micro-batch a no-op in content, so the sink is
  * effectively-once on top of foreachBatch's at-least-once contract.
  */
object MergeSink {

  /** CDC APPLY — the Debezium-shaped ingestion path: a stream of
    * change events carrying an op column (`"delete"` vs any other
    * non-null value = upsert; a null op is neither and is dropped)
    * maintains the manifested table. Per micro-batch:
    *
    *   1. reduce to the NET EFFECT per key (max `versionCol` wins; on a
    *      version tie the upsert, deterministically), checkpointed once
    *      so both halves read one materialization;
    *   2. ONE exchange-free ROUTING PASS over the net-effect rows
    *      returns the distinct (is delete, partition value) pairs,
    *      under the same predicates as the two halves' filters — it
    *      decides which halves run and hands each its touched
    *      partitions, so neither half collects them again;
    *   3. merge the surviving upserts ([[Upsert.mergeIntoManifested]] —
    *      op column dropped, so it never leaks into the table schema);
    *   4. remove the deleted keys ([[Upsert.deleteKeysFromManifested]]
    *      — partition-pruned straight from the key batch, no table
    *      scan).
    *
    * A batch with both upserts and deletes publishes TWO epochs, merge
    * then delete: each half is its own leased, fenced, replay-
    * idempotent commit, and change-feed consumers read each epoch as
    * one kind of change. A crash between them re-runs the merge as a
    * content no-op before the delete applies — so the sink stays
    * effectively-once on foreachBatch's at-least-once contract. A batch
    * with nothing to apply publishes nothing.
    *
    * Cross-batch, deletes carry the versioned-merge caveat
    * [[Upsert.deleteFromManifested]] documents: a redelivery of a
    * PRE-delete batch would re-insert its keys; Structured Streaming
    * replays whole batches by id (never older ones), which is exactly
    * the model this relies on. */
  def startCdc(events: DataFrame, targetDir: String, keys: Seq[String],
               partitionCol: String, versionCol: String, opCol: String,
               checkpointDir: String,
               trigger: Trigger = Trigger.AvailableNow(),
               preBatch: () => Unit = () => ()): StreamingQuery = {
    require(keys.nonEmpty, "cdc sink needs at least one key column")
    val spark = events.sparkSession
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // caller-supplied validity probe, run BEFORE the batch commits:
        // a throw here fails the query without advancing the
        // checkpoint, so the batch replays after the operator restarts
        // in a valid configuration (Replicate's mid-run rename guard)
        preBatch()
        val w = Window.partitionBy(keys.map(col): _*)
          .orderBy(col(versionCol).desc, col(opCol).desc)
        val latest = batch.withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1).drop("_rn")
          .localCheckpoint() // one materialization serves both halves
        val isDelete = col(opCol) === "delete"
        val isUpsert = col(opCol) =!= "delete"
        // the routing pass: null for a null op, so such rows route
        // nowhere, exactly as both filters below drop them
        val routes = Upsert.distinctRowsOneJob(latest
          .select(isDelete.as("_del"),
            col(partitionCol).cast("string").as("_part"))
          .filter(col("_del").isNotNull))
        def touched(del: Boolean): Seq[String] =
          routes.filter(_.getBoolean(0) == del).map(_.getString(1))
        val upsertParts = touched(false)
        val deleteParts = touched(true)
        if (upsertParts.nonEmpty)
          Upsert.mergeIntoManifestedTouched(spark, targetDir,
            latest.filter(isUpsert).drop(opCol), keys, partitionCol,
            versionCol, retain = 2, statsCols = Seq.empty,
            touched = Some(upsertParts))
        if (deleteParts.nonEmpty)
          Upsert.deleteKeysFromManifestedTouched(spark, targetDir,
            latest.filter(isDelete).select(keys.map(col): _*),
            keys, partitionCol, retain = 2, touched = Some(deleteParts))
      }
      .start()
  }
}
