package graft.streaming

import graft.pipeline.IngestPipeline
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** ST1-ST9 (SURVEY §2.9): the reference's S3→SQS→Lambda event loop as a
  * Structured Streaming file watch.
  *
  *  - at-least-once + retry (ST1): the checkpointed file-source replays
  *    unacknowledged batches after a crash; a failing batch rethrows and
  *    is retried, mirroring `batchItemFailures` re-queueing
  *    (`2.1 leader-lambda-for-mysql.py:370-386`).
  *  - idempotence (ST2/ST3): `IngestPipeline.load` consults the audit
  *    log's dedup window before touching the table, so replays are
  *    no-ops — exactly-once *effect* from at-least-once delivery.
  *  - re-entrancy guard (ST9): derived `converted` files are filtered out
  *    of the stream (`3. loading-lambda-for-dynamodb.py:150`) — a stream
  *    filter, not a glob, because Hadoop globs cannot express "does not
  *    start with a prefix" without also excluding unrelated names, and
  *    this keeps the guard identical to `checkRemainingFiles`'s.
  *  - poison files (ST6): a file failing `maxAttempts` times is recorded
  *    as quarantined in the audit log and skipped thereafter. Attempt
  *    counts are read back from the audit log's failure rows, so the
  *    retry/quarantine state survives a driver restart (the in-memory
  *    map is only a fast path over the durable counts).
  *  - sink/source disjointness (ST8): warehouse and watch dir must not
  *    overlap — enforced at construction.
  *
  * The stream carries file *metadata* (one row per file), not file bytes:
  * each discovered path is handed to the batch pipeline, which does the
  * distributed read. That is the Spark-native shape of the reference's
  * leader/loader split — tiny control-plane stream, heavy data-plane
  * batch jobs.
  */
final class Watch(spark: SparkSession, watchDir: String, warehouse: String,
                  maxAttempts: Int = 3,
                  freshnessMinutes: Long = 30,
                  onAllLoaded: () => Unit = () => (),
                  loadParallelism: Int = 4,
                  notifier: Notifier = Notifier.noop) {
  require(!watchDir.startsWith(warehouse) && !warehouse.startsWith(watchDir),
    "ST8: watch dir and warehouse must be disjoint")
  require(loadParallelism >= 1, "loadParallelism must be >= 1")

  val pipeline = new IngestPipeline(spark, warehouse, notifier = notifier)
  private val attempts = scala.collection.mutable.Map.empty[String, Int]

  /** Start the watch. `Trigger.AvailableNow` drains the backlog and stops
    * (the test/CI mode); pass `continuous=true` for a long-lived watch
    * polling the dir every `interval`. */
  def start(checkpoint: String, continuous: Boolean = false,
            interval: String = "10 seconds"): StreamingQuery = {
    val files = spark.readStream
      .format("text")
      .option("pathGlobFilter", "*.csv")
      .option("maxFilesPerTrigger", 8)
      .load(watchDir)
      .select(col("_metadata.file_path").as("path"))
      // ST9: skip converted_* derivatives — same substring guard as
      // checkRemainingFiles (a "[!c]*" glob would also drop cpi.csv etc.)
      .filter(!col("path").contains("converted"))
      .distinct()

    val writer = files.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val paths = batch.collect().map(_.getString(0))
        // Per-file loads go through a small driver thread pool: each load
        // is itself a distributed job, but a serial foreach makes a
        // backlog of N files N sequential jobs — at high ingest rates the
        // driver loop, not the cluster, becomes the bottleneck. Spark
        // sessions are thread-safe; the shared-table merge inside
        // `load` serializes on the pipeline's merge lock, so concurrency
        // here overlaps the heavy scan/validate stages only. Results are
        // drained in submission order — attempt counting, quarantine, and
        // the failure report are per-file and order-independent.
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(loadParallelism, math.max(paths.length, 1)))
        val failures =
          try {
            val futures = paths.map { p =>
              pool.submit(new java.util.concurrent.Callable[Option[String]] {
                override def call(): Option[String] = processFile(p)
              })
            }
            futures.toSeq.flatMap(_.get())
          } finally pool.shutdown()
        // ST5 completion detection (R22:344-375): when no pending files
        // remain in the watch dir, fire the downstream (report) stage
        val remaining = pipeline.checkRemainingFiles(watchDir,
          freshnessMinutes, System.currentTimeMillis())
        if (remaining.done) {
          pipeline.audit.append("loading: all files loaded", watchDir, 1,
            System.currentTimeMillis())
          // EP1 success channel (`R22:344-375` completion → report +
          // notify): one notification per drained backlog, not per file
          notifier.success(s"all files loaded from $watchDir")
          onAllLoaded()
        }
        // rethrow AFTER the whole batch is processed: files still under
        // maxAttempts get replayed (ST1), but one bad file no longer
        // blocks the rest of its batch from loading this pass
        if (failures.nonEmpty)
          throw new RuntimeException(failures.mkString("; "))
        ()
      }
    (if (continuous) writer.trigger(Trigger.ProcessingTime(interval))
     else writer.trigger(Trigger.AvailableNow())).start()
  }

  /** One file's attempt/quarantine/load protocol (ST1/ST6). Returns the
    * failure message to surface, if any. Runs on a pool thread; the
    * attempt map is the only state shared between loads and is accessed
    * under its own lock. */
  private def processFile(p: String): Option[String] = {
    val key = new org.apache.hadoop.fs.Path(p).getName
    // durable attempt state: audit failure rows survive restarts;
    // the in-memory map only avoids re-reading the log mid-run
    val n = attempts.synchronized {
      attempts.getOrElse(p, pipeline.audit.countFailures(key).toInt)
    }
    if (n >= maxAttempts || pipeline.audit.isQuarantined(key)) {
      if (!pipeline.audit.isQuarantined(key)) {
        pipeline.audit.append("quarantine", key, -1, System.currentTimeMillis())
        notifier.failure(s"quarantined $key after $n failed attempts")
      }
      None
    } else {
      val res = pipeline.load(p)
      if (res.status == 0) {
        attempts.synchronized { attempts(p) = n + 1 }
        if (n + 1 >= maxAttempts) {
          pipeline.audit.append("quarantine", key, -1, System.currentTimeMillis())
          notifier.failure(s"quarantined $key after ${n + 1} failed attempts",
            res.error)
          None
        } else {
          notifier.failure(s"load failed for $key (attempt ${n + 1})", res.error)
          Some(s"load failed for $p (attempt ${n + 1}): ${res.error}")
        }
      } else None
    }
  }
}
