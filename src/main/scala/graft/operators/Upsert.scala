package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** J1/S8 (SURVEY §2.1/§2.3): MERGE-style upsert — the reference's
  * `sp_loading_PriceIndex` temp→permanent "upsert instead of insert"
  * (`2.2 loading-lambda-for-mysql.py:209-217,304-316`) — as a pure-Spark
  * full-outer-join rewrite (no Delta jars in this env).
  *
  * Semantics: whole-row replace on the natural key; an update row wins over
  * the existing target row (MySQL `ON DUPLICATE KEY UPDATE` behavior);
  * target rows with no matching update pass through; update rows with no
  * match are inserts.
  *
  * Scale: a single equi-join on the key — Catalyst/AQE pick broadcast vs
  * sort-merge and handle skew. When the update set is small relative to the
  * target (the common incremental-load case), wrap it in
  * `broadcast(updates)` at the call site to avoid shuffling the target.
  */
object Upsert {

  /** Label the jobs `body` submits (guide §1.5) — the merge substrate
    * runs many small driver-sequenced actions per call, and without
    * labels a GateProfile/UI job census cannot attribute them. Thread-
    * local, restored on exit; measurement aid only. */
  private def labeled[T](spark: org.apache.spark.sql.SparkSession,
                         desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(prev)
  }

  /** Distinct rows of `df` as ONE exchange-free job (r22): the former
    * `.distinct().collect()` paid an AQE shuffle-stage job plus the
    * collect job for a control-plane-sized answer (2 jobs per
    * merge/delete, on every micro-batch of every stream gate). A
    * per-task distinct (mapPartitions) needs no exchange; the driver
    * dedups the ≤ tasks × |rows| leftovers — callers project onto
    * partition values (and flags), whose cardinality is
    * table-layout-bounded by contract, so the collect stays
    * control-plane sized at any input size. Nulls survive into the
    * result for the callers' own require/guard. */
  private[graft] def distinctRowsOneJob(df: DataFrame)
      : Seq[org.apache.spark.sql.Row] =
    df.mapPartitions { it =>
      val seen = new java.util.LinkedHashSet[org.apache.spark.sql.Row]()
      it.foreach(seen.add)
      scala.jdk.CollectionConverters.IteratorHasAsScala(seen.iterator())
        .asScala
    }(org.apache.spark.sql.Encoders.row(df.schema))
      .collect().toSeq.distinct

  /** A batch's distinct partition values in their string form — the
    * form dir names and a routing pass carry. */
  private def partitionStringsOneJob(df: DataFrame,
                                     partitionCol: String): Seq[String] =
    distinctRowsOneJob(df.select(col(partitionCol).cast("string")))
      .map(_.getString(0))

  /** Cluster `df` by the partition column before a partitioned epoch
    * write (same rationale as IvfIndex.writeAssigned): without it each
    * shuffle partition drops a fragment into every touched partition
    * dir — partitions × shuffle-partitions small files, paid by every
    * subsequent read's listing and per-file task overhead. The exchange
    * is sized to min(touched partitions, spark.sql.shuffle.partitions)
    * tasks: a by-column repartition left to AQE coalesces a small slice
    * into ONE task that writes every touched dir one after another,
    * while an explicit count is never coalesced. Hash clustering still
    * sends each partition value to exactly one task, so every touched
    * dir gets one file set. */
  private def clusteredForWrite(df: DataFrame, partitionCol: String,
                                touched: Int): DataFrame = {
    val shuffle = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    df.repartition(math.max(1, math.min(touched, shuffle)), col(partitionCol))
  }

  /** A batch's partition values (their string form) as the DIRECTORY
    * NAMES Spark writes for them. */
  private def partitionDirsOf(partitionCol: String,
                              values: Seq[String]): Set[String] =
    values.map { v =>
      require(v != null,
        s"null $partitionCol values are not supported by the " +
          "manifested layout")
      s"$partitionCol=" + org.apache.spark.sql.catalyst.catalog
        .ExternalCatalogUtils.escapePathName(v)
    }.toSet

  def merge(target: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame = {
    val u = updates.withColumn("_is_upd", lit(true)).alias("u")
    val t = target.alias("t")
    val cond = keys.map(k => col(s"u.$k") <=> col(s"t.$k")).reduce(_ && _)
    val merged = u.join(t, cond, "full_outer")
    val outCols = target.columns.toSeq.map { c =>
      when(col("_is_upd").isNotNull, col(s"u.$c")).otherwise(col(s"t.$c")).as(c)
    }
    merged.select(outCols: _*)
  }

  /** SCD2 (type-2 slowly changing dimension) merge — the
    * history-preserving sibling of [[merge]]: instead of replacing a
    * key's row, a change CLOSES the key's current row (its `validTo`
    * becomes the update's timestamp) and OPENS a new one
    * (`validFrom` = ts, `validTo` = null marks it current). An update
    * whose attributes <=> the current row is a no-op (idempotent under
    * replay — the reference's at-least-once delivery demands it); an
    * update for an unseen key is a plain insert; already-closed history
    * passes through untouched.
    *
    * Scale: ONE equi-join between the CURRENT slice and the updates
    * (closed history never joins — at 100 TB the history dwarfs the
    * current slice, so filtering it out of the join is the operator);
    * AQE picks broadcast/SMJ. The caller batches updates so one ts per
    * key per call (apply batches in ts order for multi-step history). */
  def scd2Merge(hist: DataFrame, updates: DataFrame, keys: Seq[String],
                attrs: Seq[String], tsCol: String,
                validFrom: String = "valid_from",
                validTo: String = "valid_to"): DataFrame = {
    val histCols = keys ++ attrs ++ Seq(validFrom, validTo)
    val cur = hist.filter(col(validTo).isNull).withColumn("_hc", lit(true))
    val closed = hist.filter(col(validTo).isNotNull)
      .select(histCols.map(col): _*)
    val u = updates.select(
      keys.map(col) ++ attrs.map(c => col(c).as(s"_u_$c"))
        :+ col(tsCol).as("_u_ts") :+ lit(true).as("_hu"): _*)
    val j = cur.join(u, keys, "full_outer")
    val hasCur = coalesce(col("_hc"), lit(false))
    val hasUpd = coalesce(col("_hu"), lit(false))
    val differs = attrs.map(c => !(col(c) <=> col(s"_u_$c"))).reduce(_ || _)
    val changed = hasCur && hasUpd && differs
    // current rows: closed when changed, untouched otherwise
    val curOut = j.filter(hasCur).select(
      keys.map(col) ++ attrs.map(col) :+ col(validFrom)
        :+ when(changed, col("_u_ts")).otherwise(col(validTo)).as(validTo): _*)
    // opened rows: changed keys and brand-new keys
    val opened = j.filter(hasUpd && (!hasCur || differs)).select(
      keys.map(col) ++ attrs.map(c => col(s"_u_$c").as(c))
        :+ col("_u_ts").as(validFrom)
        :+ lit(null).cast(hist.schema(validTo).dataType).as(validTo): _*)
    closed.unionByName(curOut).unionByName(opened)
  }

  /** Point-in-time (time-travel) view of an SCD2 history: the rows that
    * were current at `ts` — opened at or before it (`validFrom` <= ts)
    * and not yet closed (`validTo` null or > ts). Half-open on the
    * close side, matching [[scd2Merge]]'s convention that a change
    * closes at exactly the update's ts: querying AT the change instant
    * sees the NEW row. A pure scan-stage filter, so parquet min/max
    * stats on the validity columns skip row groups that closed before
    * `ts`: "the dimension as of last quarter" reads little of the deep
    * history. */
  def scd2AsOf(hist: DataFrame, ts: org.apache.spark.sql.Column,
               validFrom: String = "valid_from",
               validTo: String = "valid_to"): DataFrame =
    hist.filter(col(validFrom) <= ts &&
      (col(validTo).isNull || col(validTo) > ts))

  /** Last-write-wins: dedup `updates` to the latest row per key (by
    * `version`, ties broken arbitrarily — pass a unique version for full
    * determinism) before merging. Mirrors replayed-file idempotence (ST2).
    */
  def mergeLatest(target: DataFrame, updates: DataFrame, keys: Seq[String],
                  version: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(version).desc)
    val latest = updates.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
    merge(target, latest, keys)
  }

  /** COMMUTATIVE merge: resolve each natural key to its max-`version`
    * row across target ∪ updates, ties broken by the remaining columns
    * descending (fully deterministic for any input). Unlike [[merge]] /
    * [[mergeLatest]] — where an update row beats the target row
    * unconditionally, so the TABLE depends on the order concurrent
    * batches merged — the result here is a pure function of the SET of
    * rows ever merged: any merge order (and any redelivery) lands the
    * same table, and a stale redelivered batch (version below what the
    * table already holds) can never regress a key. This is the
    * scale-correct contract for concurrent loaders: the reference only
    * avoided the problem because MySQL serialized its upserts
    * (`2.2 loading-lambda-for-mysql.py:304-316`); with N parallel
    * writers, last-merge-wins is a race and max-version-wins is not.
    *
    * Both sides must carry `version` (a delivery sequence: file mtime,
    * source LSN, batch id). Cost: one shuffle on the key (window),
    * same order as the join [[merge]] does.
    */
  def mergeVersioned(target: DataFrame, updates: DataFrame,
                     keys: Seq[String], version: String): DataFrame = {
    require(target.columns.contains(version) &&
        updates.columns.contains(version),
      s"mergeVersioned needs the $version column on BOTH sides")
    val all = target.unionByName(updates.select(target.columns.map(col): _*))
    latestRowPerKey(all, keys, version)
  }

  /** The max-(version, rest…) row per key as ONE partial-aggregated
    * `max(struct(version, rest…))` instead of a row_number window
    * (r21, guide §2.3 "aggregate before you shuffle"): the window form
    * shuffles EVERY row of target ∪ updates and sorts each key
    * partition; the aggregate ships at most one candidate row per key
    * per map task and needs no sort. The winner is IDENTICAL: Spark's
    * struct comparison is the same field-wise total order (nulls
    * first, NaN largest) as the multi-column `version DESC, rest DESC,
    * NULLS LAST` sort — the lexicographically largest (version, rest…)
    * tuple either way, fully deterministic for any input. Types
    * without a total order (maps) would fail BOTH forms' comparisons;
    * the window fallback stays for them so error behavior is
    * unchanged. */
  private def latestRowPerKey(all: DataFrame, keys: Seq[String],
                              version: String): DataFrame = {
    val cols = all.columns.toSeq
    val rest = cols.filterNot(c => keys.contains(c) || c == version)
    val ordered = version +: rest
    val orderable = ordered.forall(c =>
      org.apache.spark.sql.catalyst.expressions.RowOrdering
        .isOrderable(all.schema(c).dataType))
    if (orderable)
      // plans as partial+final SortAggregate (struct buffers are not
      // hash-aggregable): one extra local sort of the already-deduped
      // partials vs the window form, in exchange for shuffling one
      // candidate row per key per map task instead of every input row
      // — the trade that matters at scale (guide §2.3)
      all.groupBy(keys.map(col): _*)
        .agg(max(struct(ordered.map(col): _*)).as("_w"))
        .select(cols.map(c =>
          if (keys.contains(c)) col(c) else col("_w." + c).as(c)): _*)
    else {
      val w = Window.partitionBy(keys.map(col): _*)
        .orderBy(col(version).desc +: rest.map(col(_).desc): _*)
      all.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1).drop("_rn")
    }
  }

  /** Materialize a merge slice that must be evaluated exactly once
    * before the actions that consume it — the staging barrier of
    * [[scd2MergeManifested]], its only caller, whose content token,
    * closed append and current write would each replay the full-outer
    * join otherwise. ([[mergeIntoPartitioned]] needs no barrier: its
    * dynamic overwrite swaps partition dirs in only after every task
    * has read.)
    *
    *   - `durable = false` — eager `localCheckpoint`: no parquet encode
    *     + re-list + decode round trip, but the staged slice lives in
    *     NON-REPLICATED block-manager storage. Under a local[*] master
    *     executor loss IS driver loss, so that gap is empty and the
    *     round trip would be pure overhead.
    *   - `durable = true` — tmp-parquet dir `tmpDir`: survives executor
    *     loss and is bounded by storage, at the cost of one extra
    *     write+read of the slice. A cluster merge must not ride on
    *     unreplicated checkpoint blocks.
    *
    * Returns the staged frame plus an idempotent cleanup to run ON
    * EVERY PATH, so a failed merge leaks neither checkpoint blocks nor
    * tmp dirs. */
  private[graft] def stageSlice(spark: org.apache.spark.sql.SparkSession,
                                df: DataFrame, tmpDir: String,
                                durable: Boolean): (DataFrame, () => Unit) =
    if (!durable) {
      val staged = df.localCheckpoint(true)
      (staged, () => { staged.unpersist(); () })
    } else {
      df.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(tmpDir)
      val fs = new org.apache.hadoop.fs.Path(tmpDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      (spark.read.parquet(tmpDir),
        () => { fs.delete(new org.apache.hadoop.fs.Path(tmpDir), true); () })
    }

  /** Partition-aware merge into a parquet table partitioned on
    * `partitionCol` (which must be a key prefix-compatible column —
    * here, one of the natural-key columns, so a key never moves between
    * partitions).
    *
    * At 100 TB a whole-table read-merge-rewrite per incremental load is
    * the difference between minutes and a day: an update batch touches
    * few partitions (the reference loads one file ≈ a few GEO/date
    * slices), so only those are read (partition-pruned scan via an IN
    * filter on the updates' distinct partition values — collected, they
    * are control-plane-sized) and only those are atomically replaced
    * (`partitionOverwriteMode=dynamic`). Untouched partitions are never
    * opened. This is the plain-parquet equivalent of Delta MERGE's
    * file-pruning.
    *
    * Resolution is [[mergeVersioned]] (max-`version`-wins), so the
    * on-disk table is merge-ORDER-INDEPENDENT: concurrent or redelivered
    * batches land one answer, and both sides must carry the `version`
    * column (the table stores it).
    */
  def mergeIntoPartitioned(spark: org.apache.spark.sql.SparkSession,
                           tablePath: String, updates: DataFrame,
                           keys: Seq[String], partitionCol: String,
                           version: String): Unit =
    mergeIntoPartitionedTouched(spark, tablePath, updates, keys,
      partitionCol, version, None)

  /** [[mergeIntoPartitioned]] for a caller that already knows the
    * batch's partition values (their string form, nulls kept — as
    * [[graft.pipeline.Ingest.reconcile]]'s counting pass returns them):
    * `touched` replaces the merge's own touched-partition collect job.
    * None collects them here. */
  private[graft] def mergeIntoPartitionedTouched(
      spark: org.apache.spark.sql.SparkSession, tablePath: String,
      updates: DataFrame, keys: Seq[String], partitionCol: String,
      version: String, touched: Option[Seq[String]]): Unit = {
    require(keys.contains(partitionCol),
      s"$partitionCol must be part of the merge key, or rows could move partitions")
    require(updates.columns.contains(version),
      s"mergeIntoPartitioned needs the $version column on the updates " +
        "(a delivery sequence — file mtime, batch id); the table stores it")
    val parts = touched.getOrElse(labeled(spark,
        s"merge: touched-partition collect ($tablePath)") {
      partitionStringsOneJob(updates, partitionCol)
    })
    val rows = partitionedSchema(spark, tablePath, partitionCol,
        updates.schema(partitionCol).dataType) match {
      // first write: the batch alone, still resolved per key below
      case None => updates
      case Some(schema) =>
        // schema given, so the read plans without Spark's footer job;
        // selecting the stored columns from the updates fails loudly
        // when the batch lacks one (an extra batch column is dropped,
        // as mergeVersioned does)
        val targetSlice = spark.read.schema(schema).parquet(tablePath)
          .filter(col(partitionCol).cast("string").isin(parts: _*))
        targetSlice.unionByName(
          updates.select(targetSlice.columns.map(col): _*))
    }
    // mergeVersioned's resolution, clustered by the partition column
    // FIRST: the key set contains it, so HashPartitioning(partitionCol)
    // already satisfies the aggregate — the aggregate and the
    // partitioned write share ONE exchange, and each touched partition
    // dir gets one file
    val merged = latestRowPerKey(
      clusteredForWrite(rows, partitionCol, parts.size), keys, version)
    // No staging before the overwrite. The merged slice reads the very
    // partitions the write replaces, but under
    // partitionOverwriteMode=dynamic Spark writes every task's output
    // under `<table>/.spark-staging-<job>` and swaps the partition dirs
    // in only in commitJob, after every task — and so every read of
    // the old files — has finished. A kill before the overwrite leaves
    // the table untouched and the replay re-merges (AuditChaosSpec's
    // merge_after_tmp_write site).
    graft.FailPoint.hit("merge_after_tmp_write")
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try
      merged.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy(partitionCol).parquet(tablePath)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    // a kill here = merge landed, caller's bookkeeping didn't; the
    // replay re-merges the same batch and mergeVersioned keeps the
    // table a pure function of the batch set
    graft.FailPoint.hit("merge_after_overwrite")
  }

  /** The stored schema of a parquet table partitioned (one level) on
    * `partitionCol`, without a Spark job: the data columns come from
    * ONE data file's footer, read on the driver the way Spark's own
    * inference reads it (Spark's row metadata first, else the parquet
    * schema under the session's conversion settings), and the partition
    * column is appended with the type the caller gives — a dir value
    * such as `01` stays the string it was written as instead of being
    * inferred to an int. `spark.read.parquet` without a schema runs a
    * footer-reading job per call. None when the table holds no data
    * file yet. */
  private[graft] def partitionedSchema(
      spark: org.apache.spark.sql.SparkSession, tablePath: String,
      partitionCol: String,
      partitionType: org.apache.spark.sql.types.DataType)
      : Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(tablePath)
    val fs = root.getFileSystem(conf)
    def visible(st: FileStatus): Boolean = {
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    val dataFile =
      if (!fs.exists(root)) None
      else fs.listStatus(root).iterator
        .filter(st => st.isDirectory && visible(st) &&
          st.getPath.getName.startsWith(s"$partitionCol="))
        .flatMap(d => fs.listStatus(d.getPath).find(f => f.isFile && visible(f)))
        .nextOption()
    dataFile.map { st =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
      val meta = try reader.getFooter.getFileMetaData finally reader.close()
      import org.apache.spark.sql.execution.datasources.parquet._
      val data = Option(meta.getKeyValueMetaData
          .get(ParquetReadSupport.SPARK_METADATA_KEY))
        .flatMap(j => scala.util.Try(org.apache.spark.sql.types.DataType
          .fromJson(j).asInstanceOf[org.apache.spark.sql.types.StructType])
          .toOption)
        .getOrElse(new ParquetToSparkSchemaConverter(spark.sessionState.conf)
          .convert(meta.getSchema))
      org.apache.spark.sql.types.StructType(
        data.filterNot(_.name.equalsIgnoreCase(partitionCol)))
        .add(partitionCol, partitionType)
    }
  }

  /** [[scd2Merge]] against an on-disk history table, with ATOMIC
    * reader visibility — the manifest pattern (VERDICT r12 depth item
    * #3): a merge READS only the current snapshot (closed history
    * dwarfs it at scale), APPENDS the newly-closed rows, and writes the
    * new current set; closed files are never opened, let alone
    * rewritten, and no crash leaves a key both closed-at-ts and
    * still-current.
    *
    * Layout (a deliberately minimal table format — epoch snapshots +
    * append-only log + one pointer, the Iceberg/Delta idea without the
    * dependency):
    *
    *   `<path>/current_e<N>/`  — immutable CURRENT snapshot per epoch;
    *                             each merge writes a FRESH dir N+1,
    *                             never touching the live one;
    *   `<path>/closed/`        — newly-closed spans as StagedCommit
    *                             appendOnce deltas (exactly-once per
    *                             content token);
    *   `<path>/_manifest_<N>`  — text pointer: visible closed tokens,
    *                             one per line. The ACTIVE state is the
    *                             highest-N manifest; each is created by
    *                             temp-write + atomic rename and never
    *                             modified.
    *
    * Crash matrix: before the manifest rename, readers resolve the old
    * manifest — old current snapshot, old token list — a CONSISTENT
    * pre-merge view (a committed-but-unlisted closed delta is
    * invisible; a partial current_e(N+1) dir is unreferenced). The
    * retry recomputes the same delta (token = epoch + content hash, so
    * appendOnce deduplicates), overwrites current_e(N+1), and only the
    * final rename publishes both. After the rename the merge is fully
    * visible. There is no state in which a reader sees half a merge.
    * Single writer assumed (the repo-wide artifact contract); epoch
    * dirs and manifests OLDER than the immediately-previous epoch are
    * swept best-effort after publish (one epoch is retained so a lazy
    * reader survives one concurrent merge), and so are closed deltas
    * the new manifest does not list — a killed merge's committed
    * delta, abandoned when a different batch took its epoch. */
  def scd2MergeManifested(spark: org.apache.spark.sql.SparkSession,
                          tablePath: String, updates: DataFrame,
                          keys: Seq[String], attrs: Seq[String],
                          tsCol: String,
                          validFrom: String = "valid_from",
                          validTo: String = "valid_to"): Unit = {
    import org.apache.spark.sql.SaveMode
    // writer lease — see withTableWriter; no `return` inside
    withTableWriter(spark, tablePath) { w =>
    w.active.map(r => (r.epoch, r.slice(EpochManifest.Want.All).lines)) match {
      case None =>
        updates.select(
          keys.map(col) ++ attrs.map(col) :+ col(tsCol).as(validFrom)
            :+ lit(null).cast(updates.schema(tsCol).dataType).as(validTo): _*)
          .write.mode(SaveMode.Overwrite)
          .parquet(s"$tablePath/current_e0")
        EpochManifest.publish(w.fs, w.root, 0, Nil)
      case Some((epoch, tokens)) =>
        val cur = spark.read.parquet(s"$tablePath/current_e$epoch")
        // stage the merge result ONCE: the downstream actions (content
        // token, closed append, current write) would each replay the
        // full-outer join otherwise. Staging follows the deployment:
        // localCheckpoint under a local[*] master (no parquet round
        // trip), durable tmp-parquet on a cluster (the staged slice must
        // survive executor loss mid-publish). A crash before publish
        // leaves the table untouched either way and the retry
        // recomputes. Cleanup runs
        // on success AND on Exception (a failed merge — fence trip,
        // write error — no longer leaks checkpoint blocks, ADVICE r21
        // low) but deliberately NOT on Error: the chaos FailPoints
        // below sit inside this region, and a `finally` would run the
        // durable-tmp delete on an injected kill — a cleanup no real
        // process kill performs (the FailPoint site-placement
        // constraint; leftover staging is restaged by the retry's
        // Overwrite either way).
        // refresh + fence around the long writes, same discipline as
        // commitEpoch (VERDICT r19 #6): a healthy merge whose
        // staging outlives the stale window must not be misjudged
        // crashed and clobbered by a lease-breaking competitor
        w.fence()
        w.refresh()
        val (merged, cleanupStaging) = stageSlice(spark,
          scd2Merge(cur, updates, keys, attrs, tsCol, validFrom, validTo),
          s"$tablePath/_merge_tmp", durable = !spark.sparkContext.isLocal)
        try {
        val newClosed = merged.filter(col(validTo).isNotNull)
        // token ties the delta to (epoch, FULL row content — keys,
        // attrs, and both validity bounds): a crash-retry of THIS
        // merge reuses it (appendOnce dedupes), while a DIFFERENT
        // abandoned-then-replaced batch at the same epoch that closes
        // the same keys still lands distinct rows (its valid_to
        // differs), so a stale committed delta can never be silently
        // republished as another batch's history. The token's
        // "empty_0" tail doubles as the emptiness probe — the former
        // separate isEmpty action re-read the slice for a fact the
        // token aggregation already establishes (r21).
        val token = s"e${epoch}_" +
          StagedCommit.idToken(newClosed, newClosed.columns.toSeq: _*)
        val landed =
          if (token.endsWith("_empty_0")) None
          else {
            StagedCommit.appendOnce(s"$tablePath/closed", token, Nil,
              newClosed)
            // record the SANITIZED form — the manifest is compared
            // against deltaToken() output, which sees file names built
            // from safeToken(token)
            Some(StagedCommit.safeToken(token))
          }
        graft.FailPoint.hit("scd2_after_closed_append")
        w.fence()
        w.refresh()
        merged.filter(col(validTo).isNull)
          .write.mode(SaveMode.Overwrite)
          .parquet(s"$tablePath/current_e${epoch + 1}")
        graft.FailPoint.hit("scd2_after_current_write")
        w.fence()
        EpochManifest.publish(w.fs, w.root, epoch + 1, tokens ++ landed)
        // best-effort GC, RETAINING the immediately-previous epoch: a
        // lazy reader that resolved manifest N must survive one
        // concurrent merge to N+1 (zero retention would delete the
        // files under its scan). Older garbage — and a crash here —
        // is swept by the next merge's publish.
        EpochManifest.sweep(w.fs, w.root, epoch, (tokens ++ landed).toSet)
        cleanupStaging()
        } catch { case e: Exception => cleanupStaging(); throw e }
    }
    }
  }

  /** RESOLVE-AND-ACT retry wrapper for the manifested readers'
    * staleness contract (VERDICT r14 #4): [[scd2ReadManifested]] /
    * [[readManifested]] resolve files at CALL time but scan at the
    * caller's ACTION, so a reader lagging the writer past the retained
    * epoch window can hit FileNotFoundException mid-scan when the
    * sweep reclaims its snapshot dir. The contractual recovery is
    * re-resolve-then-re-act — which cannot live inside the readers (the
    * DataFrame is lazy; the failure surfaces in caller code), but CAN
    * live at the action boundary, which is exactly where this wrapper
    * sits. `resolve` runs fresh on every attempt (re-reading the newest
    * manifest); any failure whose cause chain is a vanished file
    * retries, anything else propagates untouched. Retries are bounded:
    * each one lands on a strictly newer manifest, so more retries than
    * `maxRetries` concurrent merges means something else is wrong and
    * the last failure is rethrown. NOTE the action re-runs WHOLE — it
    * must be idempotent or side-effect-free (counts, collects, writes
    * to a fresh dir all qualify; appends do not). */
  def withManifestedRetry[T](spark: org.apache.spark.sql.SparkSession,
                             maxRetries: Int = 3)
                            (resolve: => DataFrame)
                            (action: DataFrame => T): T = {
    var attempt = 0
    while (true) {
      try return action(resolve)
      catch {
        case e: Throwable if isFileNotFound(e) && attempt < maxRetries =>
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Is this failure (anywhere down its cause chain) a vanished-file
    * scan error — the staleness signature the manifested sweep
    * produces? Spark wraps executor-side FileNotFoundException in
    * SparkException layers (FAILED_READ_FILE / FILE_NOT_EXIST error
    * classes in Spark 4), so both the exception type and the message
    * forms are probed. */
  def isFileNotFound(t: Throwable): Boolean = {
    var cur = t
    var depth = 0
    while (cur != null && depth < 20) {
      if (cur.isInstanceOf[java.io.FileNotFoundException]) return true
      val m = cur.getMessage
      if (m != null && (m.contains("FileNotFoundException") ||
          m.contains("FILE_NOT_EXIST"))) return true
      cur = cur.getCause
      depth += 1
    }
    false
  }

  /** Snapshot reader for [[scd2MergeManifested]] tables: the active
    * manifest's current snapshot plus exactly its listed closed deltas,
    * with the same `status` column the dynamic-partition layout
    * exposes. One manifest read + one file listing — no Spark job
    * before the scan itself.
    *
    * Staleness contract (caller-must-retry): file resolution happens
    * HERE, but the scan runs at the caller's first action — a reader
    * that lags the writer by MORE than the one retained epoch (i.e.
    * two merges complete between this call and the action) can hit
    * FileNotFoundException mid-scan when the sweep reclaims its
    * snapshot dir. That is the documented bound: re-call this method
    * and re-run the action to re-resolve the newest manifest. A
    * built-in retry cannot live here — the DataFrame is lazy, so the
    * failure surfaces in caller code, not this frame
    * (Scd2ManifestSpec's concurrent-reader test exercises exactly this
    * contract). Production callers: wrap resolve+action in
    * [[withManifestedRetry]], which owns the re-resolve loop at the
    * action boundary. */
  def scd2ReadManifested(spark: org.apache.spark.sql.SparkSession,
                         tablePath: String): DataFrame = {
    val m = manifestOf(spark, tablePath).slice(EpochManifest.Want.All)
    val (epoch, tokens) = (m.epoch, m.lines)
    val cur = spark.read.parquet(s"$tablePath/current_e$epoch")
      .withColumn("status", lit("current"))
    if (tokens.isEmpty) cur
    else {
      val closedDir = new org.apache.hadoop.fs.Path(s"$tablePath/closed")
      val fs = closedDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val visible = tokens.toSet
      val files = scala.collection.mutable.Buffer.empty[String]
      StagedCommit.walkParquet(fs, closedDir) { st =>
        StagedCommit.deltaToken(st.getPath.getName).foreach { token =>
          if (visible.contains(token)) files += st.getPath.toString
        }
      }
      val closed = spark.read.parquet(files.toSeq: _*)
        .withColumn("status", lit("closed"))
      cur.unionByName(closed)
    }
  }

  /** A manifested writer's hold on its table, from
    * [[withTableWriter]]: the filesystem, the root and the lease
    * token, with the fence and refresh every writer runs around its
    * long writes. */
  private final class TableWriter(val spark: org.apache.spark.sql.SparkSession,
                                  val tablePath: String,
                                  val fs: org.apache.hadoop.fs.FileSystem,
                                  val root: org.apache.hadoop.fs.Path,
                                  qroot: org.apache.hadoop.fs.Path,
                                  token: String) {
    /** Abort unless the lease is still ours: a paused writer whose
      * lease a competitor broke must not publish over it. */
    def fence(): Unit =
      if (!StagedCommit.leaseHeld(fs, qroot, token))
        throw new java.io.IOException(
          s"table maintenance lease under $tablePath was broken " +
            "mid-operation (stale-lease takeover by a competing " +
            "writer) — aborting before publish; re-run to retry " +
            "against the new head")
    /** Touch the lease so a healthy long write is not judged stale. */
    def refresh(): Unit = StagedCommit.refreshLease(fs, qroot, token)
    /** The active manifest ([[EpochManifest.active]]). */
    def active: Option[EpochManifest.Root] = EpochManifest.active(fs, root)
    /** The active manifest, which must exist. */
    def manifest: EpochManifest.Root = active.getOrElse(
      throw new IllegalStateException(s"no manifest under $tablePath"))
  }

  /** WRITER LEASE (VERDICT r18 #6): one writer at a time is the
    * supported contract, ENFORCED rather than assumed — every
    * manifested writer (merge, deletes, compactions, rename, drop,
    * SCD2) runs `body` under the per-table `_maintenance_lease`
    * ([[StagedCommit.withMaintenanceLease]]), so two concurrent
    * writers can never share an epoch data dir (the CAS manifest
    * rename alone cannot protect the winner's freshly-written
    * `_e<N+1>` files from the loser's static Overwrite of the same
    * dir). A second writer refuses loudly at entry with "another
    * maintainer is active"; a crashed holder's lease breaks after the
    * stale timeout (immediately for a dead thread of this JVM). Two
    * backstops catch what the lease cannot: the fence before every
    * publish, and the manifest rename itself, which refuses an
    * existing destination — the loser of any race gets a loud
    * IOException ("re-read the active manifest and retry"), never a
    * silent lost update. NOTE: no early `return` may appear inside
    * `body` — a non-local return is a ControlThrowable the lease's
    * release-on-Exception does not see. */
  private def withTableWriter[T](spark: org.apache.spark.sql.SparkSession,
                                 tablePath: String)(body: TableWriter => T): T = {
    val root = new org.apache.hadoop.fs.Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qroot = fs.makeQualified(root)
    StagedCommit.withMaintenanceLease(fs, qroot) { token =>
      body(new TableWriter(spark, tablePath, fs, root, qroot, token))
    }
  }

  /** THE EPOCH COMMIT every data-rewriting manifested writer ends with
    * (merge, both deletes, both compactions): write `rewrite`, already
    * clustered by the partition column, as the fresh epoch dir
    * `_e<N+1>` and publish manifest N+1, in which every entry of
    * `touchedDirs` is replaced by what the rewrite wrote (a touched
    * dir the rewrite emptied wrote nothing and drops out).
    *
    *   - The writer never reads what it writes, so there is no
    *     self-read-overwrite race and no tmp staging. Before the write:
    *     fence, refresh (a healthy long write must not be misjudged
    *     stale and clobbered by a lease-breaking competitor), and the
    *     orphan intent, which makes the epoch number NAMEABLE so the
    *     ordinary O(churn) sweep reclaims a killed write's debris even
    *     if a metadata-only op (rename/drop) takes this epoch number
    *     first and no retry ever lands (VERDICT r19 #3).
    *   - After the write: fence again, before listing files and
    *     publishing a manifest whose inventory a successor's Overwrite
    *     of the same epoch dir may already have clobbered; refresh.
    *   - List the fresh dirs and their files once (bounded by the
    *     touched set), recompute zone maps for exactly those dirs from
    *     the written files (a touched-bounded read-back, never a second
    *     evaluation of the rewrite plan) and carry the rest verbatim.
    *   - Publish: a v1 manifest as the full line set ([[EpochManifest
    *     .publish]]); a v2 tree as a diff ([[EpochManifest.publishDiff]])
    *     that rebuilds exactly the touched buckets and carries every
    *     other leaf by reference. Rename mappings carry for epochs
    *     still referenced; the fresh epoch is written under the current
    *     logical names (identity).
    *   - Sweep, retaining the newest `retain` manifests' references.
    *
    * A kill anywhere before the publish leaves the old manifest
    * active and the retry restages the same epoch dir. `header` is the
    * new manifest's `#ddl` line (its schema also reads the stats back)
    * plus any one-shot event lines; `m` must hold the leaves of every
    * touched dir's bucket. The three by-name FailPoint seams run at
    * their windows — this body must stay outside any try/finally (see
    * [[graft.FailPoint]]). */
  private def commitEpoch(w: TableWriter, m: EpochManifest.Slice,
                          touchedDirs: Set[String], rewrite: DataFrame,
                          partitionCol: String, header: Seq[String],
                          statCols: Seq[String], label: String,
                          retain: Int, fullWalk: Boolean = false,
                          beforeWrite: => Unit = (), afterWrite: => Unit,
                          afterPublish: => Unit = ()): Unit = {
    val next = m.epoch + 1
    val epochDir = s"${w.tablePath}/_e$next"
    w.fence()
    w.refresh()
    EpochManifest.writeIntent(w.fs, w.root, next)
    beforeWrite
    labeled(w.spark, s"$label epoch $next write (${w.tablePath})") {
      rewrite.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy(partitionCol).parquet(epochDir)
    }
    afterWrite
    w.fence()
    w.refresh()
    val (newDirs, freshFiles) = listEpoch(w.fs, w.tablePath, next)
    val freshStats = computeStats(w.spark, w.tablePath, next, newDirs,
      freshFiles, ddlOf(header).map(org.apache.spark.sql.types.StructType
        .fromDDL), partitionCol, statCols)
    val entries = m.entries
    val pmap = m.pmap
    if (m.info.isV2) {
      require(newDirs.subsetOf(touchedDirs),
        s"epoch $next under ${w.tablePath} wrote dirs outside the " +
          s"touched set: ${newDirs -- touchedDirs}")
      val freshByDir: Map[String, Seq[String]] = newDirs.toSeq.map { d =>
        d -> (Seq(s"$d\t$next") ++
          statsLinesOut(freshStats.filter(_._1._1 == d)) ++
          filesLinesOut(freshFiles.filter(_._1._1 == d)))
      }.toMap
      val changedBuckets = touchedDirs.map(EpochManifest.bucketOf).map { b =>
        b -> (m.leaves.get(b).fold(Seq.empty[String])(_.lines).filterNot(l =>
            EpochManifest.dirKeyOf(l).exists(touchedDirs.contains)) ++
          newDirs.toSeq.filter(d => EpochManifest.bucketOf(d) == b)
            .flatMap(freshByDir))
      }.toMap
      val touchedEntries = entries.filter(e => touchedDirs.contains(e._1))
      val minus = touchedEntries.groupBy(_._2)
        .map { case (e, es) => (e, es.size.toLong) }
      val erefs0 = m.info.erefs
      val erefs = (erefs0.keySet + next).map { e =>
        e -> (erefs0.getOrElse(e, 0L) - minus.getOrElse(e, 0L) +
          (if (e == next) newDirs.size.toLong else 0L))
      }.toMap.filter(_._2 > 0)
      w.fence()
      EpochManifest.publishDiff(w.fs, w.root, next, m.info,
        header ++ pmapLines(pmap.filter(e => erefs.contains(e._1))),
        changedBuckets, erefs, partitionCol, statCols, touchedEntries)
    } else {
      val newEntries =
        (entries.filterNot(e => touchedDirs.contains(e._1)) ++
          newDirs.toSeq.map(_ -> next)).sortBy(_._1)
      val liveDirs = newEntries.map(_._1).toSet
      val refEpochs = newEntries.map(_._2).toSet
      val newStats =
        if (statCols.isEmpty) Map.empty[(String, String), (String, String)]
        else statsOf(m.lines).filter { case ((d, _), _) =>
          !touchedDirs.contains(d) && liveDirs.contains(d)
        } ++ freshStats
      val newEntrySet = newEntries.toSet
      val newFiles = m.files.filter { case (k, _) =>
        newEntrySet.contains(k) } ++ freshFiles
      w.fence()
      EpochManifest.publish(w.fs, w.root, next, header ++
        pmapLines(pmap.filter(e => refEpochs.contains(e._1))) ++
        statsLinesOut(newStats) ++
        filesLinesOut(newFiles) ++
        newEntries.map { case (d, e) => s"$d\t$e" })
    }
    afterPublish
    sweepManifested(w.fs, w.root, next, retain, fullWalk)
  }

  /** The delete-shaped rewrite (both deletes and partial compaction):
    * read the entries of `dirs` the manifest holds, commit what `keep`
    * leaves of them. Dirs without an entry contribute nothing; none at
    * all publishes nothing. */
  private def rewriteEntries(w: TableWriter, m: EpochManifest.Slice,
                             dirs: Set[String], partitionCol: String,
                             retain: Int)(keep: DataFrame => DataFrame): Unit = {
    val touchedDirs = m.entries.map(_._1).filter(dirs.contains).toSet
    if (touchedDirs.nonEmpty) {
      val slice = readSlice(w.spark, w.tablePath, m, touchedDirs.contains)
      commitEpoch(w, m, touchedDirs,
        clusteredForWrite(keep(slice), partitionCol, touchedDirs.size),
        partitionCol, m.ddl.map("#ddl\t" + _).toSeq, m.statsCols,
        "mergem: delete", retain,
        afterWrite = graft.FailPoint.hit("mergem_delete_after_write"),
        afterPublish = graft.FailPoint.hit("mergem_delete_after_publish"))
    }
  }

  /** MANIFEST-ATOMIC variant of [[mergeIntoPartitioned]] (VERDICT r13
    * #4) — the permanent table's reader-atomicity story, lifting the
    * j18 SCD2 manifest pattern onto the versioned partitioned merge.
    * The dynamic-partition layout is replay-CONVERGENT but not
    * reader-atomic: a reader overlapping the overwrite job can see a
    * half-replaced partition. Here every merge writes a FRESH epoch
    * dir and one atomic manifest rename publishes it.
    *
    * Layout:
    *
    *   `<path>/_e<N>/<partitionCol>=<val>/` — immutable per-epoch
    *       partition snapshots; epoch N+1 holds ONLY the partitions
    *       that merge touched (underscore-prefixed on purpose: a naive
    *       `spark.read.parquet(tablePath)` finds no files and fails
    *       LOUDLY instead of silently unioning every epoch);
    *   `<path>/_manifest_<M>` — one line per live partition,
    *       `<dirname>\t<epoch>`: which epoch dir holds each
    *       partition's current snapshot. Highest M wins; created by
    *       temp-write + atomic rename, never modified.
    *
    * A merge reads ONLY the touched partitions' current snapshots
    * (dir-level pruning via the manifest — the untouched mass is
    * never listed, let alone opened), resolves with [[mergeVersioned]]
    * (max-version-wins, so content is a pure function of the batch
    * SET — stale redeliveries and crash-retries cannot regress a key),
    * writes the merged slice under `_e<M+1>`, and publishes manifest
    * M+1 = old entries for untouched partitions + new entries for
    * touched ones. Readers ([[readManifested]]) resolve one manifest:
    * before the rename they see the complete pre-merge table, after
    * it the complete post-merge table — never half. Unreferenced
    * snapshot dirs are swept best-effort, RETAINING everything the
    * immediately-previous manifest references (a lazy reader survives
    * one concurrent merge — same contract as the SCD2 form).
    *
    * SHARDED MANIFEST (VERDICT r18 #1): past
    * [[EpochManifest.shardThreshold]] per-dir lines the manifest
    * becomes a two-level FILE TREE (root + hash-bucketed leaves under
    * `_mleaf/`) and this merge publishes a DIFF — O(touched buckets)
    * reads and writes per batch regardless of live partition count,
    * with reclamation driven by per-publish `_sweep/` ledgers instead
    * of an O(live partitions) walk. Small tables keep the one-file
    * form byte-identically. See [[EpochManifest]].
    *
    * Writers serialize on the table lease ([[withTableWriter]]) and
    * commit through [[commitEpoch]], like every manifested writer. */
  def mergeIntoManifested(spark: org.apache.spark.sql.SparkSession,
                          tablePath: String, updates: DataFrame,
                          keys: Seq[String], partitionCol: String,
                          version: String, retain: Int = 2,
                          statsCols: Seq[String] = Seq.empty): Unit =
    mergeIntoManifestedTouched(spark, tablePath, updates, keys,
      partitionCol, version, retain, statsCols, None)

  /** [[mergeIntoManifested]] for a caller that already knows the
    * batch's partition values (their string form, as a routing pass
    * over the batch computes them — see MergeSink.startCdc): `touched`
    * replaces the merge's own touched-partition collect job. None
    * collects them here. */
  private[graft] def mergeIntoManifestedTouched(
      spark: org.apache.spark.sql.SparkSession, tablePath: String,
      updates: DataFrame, keys: Seq[String], partitionCol: String,
      version: String, retain: Int, statsCols: Seq[String],
      touched: Option[Seq[String]]): Unit = {
    require(keys.contains(partitionCol),
      s"$partitionCol must be part of the merge key, or rows could move partitions")
    require(updates.columns.contains(version),
      s"mergeIntoManifested needs the $version column on the updates")
    withTableWriter(spark, tablePath) { w =>
    w.active match {
      case None =>
        // the same non-null partition invariant every LATER write path
        // enforces (their touched-dir collects require it row by row):
        // without this, a null value lands as a __HIVE_DEFAULT_PARTITION__
        // dir in manifest 0 — an unaddressable partition later merges
        // refuse on and deleteFromManifested NPEs on (ADVICE r14).
        // The probe rides INSIDE the bootstrap write's scan stage (a
        // raise_error guard on the partition column) instead of a
        // separate isEmpty job — every manifested table's first merge
        // paid that job for a fact the write evaluates anyway (r22,
        // guide §1.2). A tripped guard fails the write job loudly
        // before the manifest publishes; the unreferenced partial _e0
        // is restaged by the fixed caller's retry, same as any other
        // pre-publish crash.
        val guarded = updates.withColumn(partitionCol,
          when(col(partitionCol).isNull, raise_error(lit(
            s"null $partitionCol values are not supported by the " +
              "manifested layout")))
            .otherwise(col(partitionCol)))
        // max-(version, rest…)-wins (latestRowPerKey) over rows already
        // clustered by the partition column: the key set contains it,
        // so the aggregate and the partitioned write share ONE exchange
        val epoch0 = s"$tablePath/_e0"
        labeled(spark, s"mergem: bootstrap epoch 0 write ($tablePath)") {
          latestRowPerKey(guarded.repartition(col(partitionCol)), keys,
            version).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .partitionBy(partitionCol).parquet(epoch0)
        }
        val (dirs0, files0) = listEpoch(w.fs, tablePath, 0)
        val stats0 = computeStats(spark, tablePath, 0, dirs0, files0,
          Some(updates.schema), partitionCol, statsCols.distinct.sorted)
        EpochManifest.publish(w.fs, w.root, 0, ddlHeader(updates) ++
          statsLinesOut(stats0) ++
          filesLinesOut(files0) ++
          dirs0.toSeq.sorted.map(d => s"$d\t0"))
      case Some(active) =>
        // touched partitions, as the DIRECTORY NAMES Spark writes for
        // them — dir-level pruning against the manifest, no data read
        // for the untouched mass
        val touchedDirs = partitionDirsOf(partitionCol,
          touched.getOrElse(labeled(spark,
              s"mergem: touched-partition collect ($tablePath)") {
            partitionStringsOneJob(updates, partitionCol)
          }))
        // only the touched dirs' metadata loads: the untouched mass is
        // neither read nor rewritten, so the whole publish is O(touched)
        val m = active.slice(EpochManifest.Want.Dirs(touchedDirs))
        val touchedEntries = m.entries.filter(e => touchedDirs.contains(e._1))
        val cols = updates.columns.toSeq
        // read the touched slice under the manifest-recorded schema:
        // dir-name type inference would turn a string partition value
        // like "01" into int 1, and a cast CANNOT recover the original
        // string — the merged output would carry a ghost "1" partition
        // while the real "01" key is treated as all-new. Legacy tables
        // without the header keep the cast-back fallback.
        val sliceSchema = m.schema
        // SCHEMA EVOLUTION is add-and-widen: every stored column must
        // survive (a dropped column would silently erase data on the
        // next merge of its partition), and its type may only change
        // by a LOSSLESS widening (canWidenType below) — anything else
        // would corrupt stored values. New columns in the updates are
        // welcome and backfill as typed nulls in the stored slice
        // below; widened columns cast up in the same select. The new
        // manifest records the WIDENED schema, and old epoch dirs read
        // under it yield nulls for the new columns and upcast values
        // for the widened ones (Spark 4's parquet readers promote
        // int32→int64 / float→double / decimal-precision in the scan —
        // no rewrite of historical files), so readers see one
        // consistent evolved table while readManifestedAt still
        // reconstructs each historical epoch under ITS OWN schema.
        // name matching is case-INSENSITIVE, like Spark's own analyzer
        // under the default caseSensitive=false — exact matching would
        // both refuse batches Spark resolves fine and, worse, let the
        // widen fold below null-clobber a stored column whose case
        // differs (withColumn resolves case-insensitively and REPLACES)
        val widened = Seq.newBuilder[(String, String, String)]
        sliceSchema.foreach { old =>
          old.fields.foreach { f =>
            val u = updates.schema.fields
              .find(_.name.equalsIgnoreCase(f.name)).getOrElse(
                throw new IllegalArgumentException(
                  s"mergeIntoManifested: updates drop stored column " +
                    s"'${f.name}' — only add-column evolution is supported"))
            // compare under relaxed nullability: the #ddl round-trip
            // stores nested types nullable, so a batch whose inferred
            // containsNull=false meets the nullable stored form on
            // every merge after the first — identical physical type,
            // not evolution
            val fr = graft.sources.ManifestFileIndex.asNullable(f.dataType)
            val ur = graft.sources.ManifestFileIndex.asNullable(u.dataType)
            require(ur == fr || canWidenType(fr, ur),
              s"mergeIntoManifested: column '${f.name}' type changed " +
                s"${f.dataType} -> ${u.dataType} — only lossless " +
                "widening (byte/short/int up to long, float to double, " +
                "decimal precision growth) is supported")
            require(ur == fr ||
                !f.name.equalsIgnoreCase(partitionCol),
              s"mergeIntoManifested: cannot widen partition column " +
                s"'${f.name}' — its string form names the partition " +
                "dirs and manifest entries")
            // `#widen` EVENT line (one-shot, like `#rename`): feed
            // consumers pin their read schema at start, and a widening
            // landing mid-tail means LATER feed files store the wider
            // physical type a pinned narrow schema cannot read
            // (promotion only goes up) — the event is what lets the
            // guard fail such a batch fast with a restart-me message
            // (VERDICT r17 #4). A pure nullability relaxation changes
            // no physical type — no event, no guard trip.
            if (u.dataType != f.dataType &&
                u.dataType.sql != f.dataType.sql)
              widened += ((f.name, f.dataType.sql, u.dataType.sql))
          }
        }
        // the touched slice resolves through readMapped — under the
        // recorded schema from the manifest's `#files` inventories, so
        // no epoch dir is listed (legacy manifests list and infer)
        val storedSlice = readMapped(spark, tablePath, touchedEntries,
          sliceSchema, m.pmap, m.files)
        // add-column backfill as typed nulls, then the cast that lifts
        // widened columns (and an inferred partition column) to the
        // updates' type, a no-op for unchanged ones, so the union below
        // is type-identical. The cast target is nullability-relaxed:
        // identical for every primitive; for nested types it keeps the
        // cast resolvable when the batch's containsNull is stricter
        // than history.
        val targetSlice = storedSlice.map { raw =>
          cols.foldLeft(raw) { (df, c) =>
            if (df.columns.exists(_.equalsIgnoreCase(c))) df
            else df.withColumn(c,
              lit(null).cast(updates.schema(c).dataType))
          }.select(cols.map(c =>
            col(c).cast(graft.sources.ManifestFileIndex
              .asNullable(updates.schema(c).dataType)).as(c)): _*)
        }
        // mergeVersioned's resolution (max-(version, rest…)-wins) over
        // target slice ∪ batch, clustered by the partition column FIRST:
        // the key set contains it, so HashPartitioning(partitionCol)
        // already satisfies the aggregate and the aggregate and the
        // partitioned epoch write share ONE exchange
        val merged = latestRowPerKey(clusteredForWrite(
          targetSlice.fold(updates)(ts =>
            ts.unionByName(updates.select(ts.columns.map(col): _*))),
          partitionCol, touchedDirs.size), keys, version)
        commitEpoch(w, m, touchedDirs, merged, partitionCol,
          ddlHeader(updates) ++ widened.result().map { case (n, from, to) =>
            s"#widen\t$n\t$from\t$to" },
          (m.statsCols ++ statsCols).distinct.sorted,
          "mergem:", retain,
          beforeWrite = graft.FailPoint.hit("mergem_before_epoch_write"),
          afterWrite = graft.FailPoint.hit("mergem_after_epoch_write"),
          afterPublish = graft.FailPoint.hit("mergem_after_publish"))
    }
    }
  }

  /** Snapshot reader for [[mergeIntoManifested]] tables: exactly the
    * active manifest's referenced partition snapshots, resolved through
    * the read entry ([[EpochManifest.active]]). Staleness contract as
    * [[scd2ReadManifested]]: resolution happens here, the scan at the
    * caller's action — lag past the one retained epoch and the sweep
    * may reclaim a referenced dir mid-scan (FileNotFoundException);
    * re-call to re-resolve. */
  def readManifested(spark: org.apache.spark.sql.SparkSession,
                     tablePath: String): DataFrame =
    readSlice(spark, tablePath,
      manifestOf(spark, tablePath).slice(EpochManifest.Want.All))

  /** MANIFEST-PRUNED reader: only the named partition values'
    * snapshot dirs are resolved — the read entry loads only their
    * buckets ([[EpochManifest.Want.Values]]) and the rest of the table
    * is never listed, let alone opened. Unknown values simply match
    * nothing (same as a filter). */
  def readManifestedPartitions(spark: org.apache.spark.sql.SparkSession,
                               tablePath: String,
                               values: Seq[String]): DataFrame = {
    val suffixes = values.map(v => "=" + org.apache.spark.sql.catalyst
      .catalog.ExternalCatalogUtils.escapePathName(v)).toSet
    readSlice(spark, tablePath, manifestOf(spark, tablePath)
      .slice(EpochManifest.Want.Values(values)),
      d => suffixes.exists(d.endsWith))
  }

  /** TIME TRAVEL: the table exactly as manifest `epoch` published it.
    * Every manifest is immutable and every epoch dir append-only, so a
    * historical manifest that is still retained reconstructs its
    * snapshot byte-for-byte. A version older than the newest `retain`
    * manifests is gone and [[EpochManifest.at]] throws on resolution,
    * not mid-scan. */
  def readManifestedAt(spark: org.apache.spark.sql.SparkSession,
                       tablePath: String, epoch: Long): DataFrame =
    readSlice(spark, tablePath,
      manifestOf(spark, tablePath, Some(epoch)).slice(EpochManifest.Want.All))

  /** CHANGE DATA FEED between two retained manifests: one row per
    * changed key, `_change_type` ∈ insert | update_preimage |
    * update_postimage | delete (Delta-CDF shape — pre/post images let
    * a downstream consumer reverse or re-apply the interval). Cost is
    * bounded by the CHANGED partitions: a dir both manifests reference
    * at the same epoch is byte-identical by construction and is never
    * read, and each endpoint loads only the buckets that differ
    * ([[EpochManifest.Want.Changed]]).
    * Columns added between the epochs read as null on the before side
    * (add-only evolution). A RENAME in the interval is resolved
    * automatically: the interval's manifest roots are walked for their
    * one-shot `#rename` event lines and the before side reads under
    * the TO-side logical names (every retained manifest between the
    * endpoints exists by construction — epochs are contiguous and the
    * sweep keeps a suffix window). A DROP in the interval of a
    * column live at `fromEpoch` refuses loudly — a re-add makes the
    * name a DIFFERENT column, so a value diff under it would lie;
    * diff in two hops around the drop instead. A column added AND
    * dropped strictly inside the interval is invisible at both
    * endpoints and is correctly ignored. Both endpoint manifests must
    * still be retained or [[EpochManifest.at]] throws. */
  def changesBetween(spark: org.apache.spark.sql.SparkSession,
                     tablePath: String, fromEpoch: Long, toEpoch: Long,
                     keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.StructType
    require(fromEpoch < toEpoch,
      s"changesBetween: fromEpoch $fromEpoch must precede toEpoch $toEpoch")
    // a dir both endpoints reference at the same epoch cannot have
    // moved, so each side loads only the buckets that differ
    val (fromRoot, toRoot) = (manifestOf(spark, tablePath, Some(fromEpoch)),
      manifestOf(spark, tablePath, Some(toEpoch)))
    val from = fromRoot.slice(EpochManifest.Want.Changed(toRoot))
    val to = toRoot.slice(EpochManifest.Want.Changed(fromRoot))
    val fromSch = from.schema.getOrElse(
      throw new IllegalStateException(
        s"changesBetween needs recorded schemas (legacy table at $tablePath)"))
    val toSch = to.schema.get
    // compose the logical-name correspondence across the interval from
    // the one-shot #rename/#dropcol event lines (manifest epochs are
    // contiguous — every publish is active+1 — and the sweep keeps a
    // suffix window, so a retained fromEpoch implies every manifest in
    // between is retained too)
    var nameMap: Map[String, String] =
      fromSch.fieldNames.map(n => n -> n).toMap
    ((fromEpoch + 1) to toEpoch).foreach { e =>
      // event lines are root-resident: the walk loads no leaf
      val ls = (if (e == toEpoch) toRoot
                else manifestOf(spark, tablePath, Some(e))).lines
      ls.filter(_.startsWith("#dropcol\t")).foreach { l =>
        val dropped = l.split("\t", -1)(1)
        nameMap.find(_._2.equalsIgnoreCase(dropped)).foreach { case (f, _) =>
          throw new IllegalStateException(
            s"changesBetween: column '$f' (as '$dropped') was dropped " +
              s"at manifest $e inside the interval — a re-add would be " +
              "a different column, so a value diff under that name " +
              "would lie; diff in two hops around the drop")
        }
      }
      ls.filter(_.startsWith("#rename\t")).foreach { l =>
        val parts = l.split("\t", -1)
        nameMap = nameMap.map { case (f, c) =>
          if (c.equalsIgnoreCase(parts(1))) (f, parts(2)) else (f, c)
        }
      }
    }
    nameMap.foreach { case (f, c) =>
      require(toSch.fieldNames.exists(_.equalsIgnoreCase(c)),
        s"changesBetween: column '$f' resolves to '$c' which is not in " +
          s"the $toEpoch schema — rename/drop events and schemas " +
          "disagree (manifests written before event lines existed?); " +
          "diff across the change in two hops")
    }
    // canonical TO-side spelling for each from-side column
    val mapped: Map[String, String] = nameMap.map { case (f, c) =>
      f -> toSch.fields.find(_.name.equalsIgnoreCase(c)).get.name
    }
    val mappedFromSch = StructType(fromSch.fields.map(f =>
      f.copy(name = mapped(f.name))))
    val fromMap = from.entries.toMap
    val toMap = to.entries.toMap
    // ONLY dirs whose snapshot moved: same (dir -> epoch) on both
    // sides means byte-identical files — skip without reading
    val changedDirs = (fromMap.keySet ++ toMap.keySet)
      .filter(d => fromMap.get(d) != toMap.get(d))
    val valueCols = toSch.fieldNames.toSeq
      .filterNot(c => keys.exists(_.equalsIgnoreCase(c)))
    def side(pmap: Map[Long, Map[String, String]], m: Map[String, Long],
             sch: StructType, tag: String,
             files: Map[(String, Long), Seq[(String, Long)]]): DataFrame = {
      val df = readOrEmpty(spark, tablePath,
        m.toSeq.filter(e => changedDirs.contains(e._1)), Some(sch), pmap,
        files)
      // align to the TO schema (nulls for columns the epoch predates)
      // and upcast widened columns so the images union type-identically
      val full = toSch.fields.foldLeft(df) { (d, f) =>
        if (d.columns.exists(_.equalsIgnoreCase(f.name))) d
        else d.withColumn(f.name, lit(null).cast(f.dataType))
      }
      full.select(keys.map(col) ++ valueCols.map(c =>
        col(c).cast(toSch.find(_.name.equalsIgnoreCase(c)).get.dataType)
          .as(s"${tag}$c")) :+ lit(true).as(s"${tag}present"): _*)
    }
    // the before side reads under TO-side logical names (mappedFromSch)
    // but its files store FROM-era physical names: synthesize, per
    // from-referenced epoch, the phys → to-logical map by composing the
    // from manifest's own resolution with the interval's rename chain.
    // Dead markers are carried so a to-side re-added name keeps reading
    // absent from retired physical columns.
    val fromPmap = from.pmap
    val beforePmap: Map[Long, Map[String, String]] =
      fromMap.values.toSet[Long].map { e =>
        val m = fromPmap.getOrElse(e, Map.empty[String, String])
        val resolved = fromSch.fieldNames.flatMap { l =>
          val phys = physNameFor(l, m)
          val tgt = mapped(l)
          if (phys.equalsIgnoreCase(tgt)) None else Some(phys -> tgt)
        }.toMap
        e -> (m.filter(_._2 == DeadLogical) ++ resolved)
      }.toMap
    val before = side(beforePmap, fromMap, mappedFromSch, "_b_",
      from.files)
    val after = side(to.pmap, toMap, toSch, "_a_", to.files)
    val joined = before.join(after, keys, "full_outer")
    val bVals = struct(valueCols.map(c => col(s"_b_$c").as(c)): _*)
    val aVals = struct(valueCols.map(c => col(s"_a_$c").as(c)): _*)
    val changes = joined.select(keys.map(col) :+
      when(col("_b_present").isNull,
        array(struct(lit("insert").as("t"), aVals.as("v"))))
      .when(col("_a_present").isNull,
        array(struct(lit("delete").as("t"), bVals.as("v"))))
      .when(!(bVals <=> aVals),
        array(struct(lit("update_preimage").as("t"), bVals.as("v")),
          struct(lit("update_postimage").as("t"), aVals.as("v"))))
      .otherwise(array().cast(
        s"array<struct<t:string,v:struct<${valueCols.map(c =>
          s"$c:${toSch.find(_.name.equalsIgnoreCase(c)).get.dataType.sql}")
          .mkString(",")}>>>")).as("_ch"): _*)
      .select(keys.map(col) :+ explode(col("_ch")).as("_e"): _*)
    changes.select(keys.map(col) ++
      valueCols.map(c => col(s"_e.v.$c").as(c)) :+
      col("_e.t").as("_change_type"): _*)
  }

  /** DROP-TOLERANT change feed: [`fromEpoch`, `toEpoch`] split into
    * maximal drop-free spans, each with its own [[changesBetween]]
    * frame — the two-hop composition the single-interval feed's drop
    * refusal points at, packaged so a consumer (or the streaming CDF
    * source) never has to hand-split. The interval is cut at every
    * `#dropcol` event epoch `e`: the span before ends at `e - 1` and
    * the next begins at `e` — the skipped (`e-1`, `e`] hop is the drop
    * flip itself, metadata-only by construction (same manifest
    * entries), so no data change is ever lost. Each span diffs under
    * its OWN endpoint schemas: pre-drop spans still carry the retired
    * column's changes; post-drop spans see a re-added name as a brand
    * new column (null before-images) — exactly the tombstone
    * semantics, with no cross-drop value diff that could lie.
    * Zero-width spans are dropped. Spans are resolved LAZILY at frame
    * action like every manifested read (same retention contract). */
  def changeFeedSpans(spark: org.apache.spark.sql.SparkSession,
                      tablePath: String, fromEpoch: Long, toEpoch: Long,
                      keys: Seq[String]): Seq[(Long, Long, DataFrame)] = {
    require(fromEpoch <= toEpoch,
      s"changeFeedSpans: fromEpoch $fromEpoch must not exceed $toEpoch")
    if (fromEpoch == toEpoch) return Seq.empty
    val dropEpochs = ((fromEpoch + 1) to toEpoch).filter(e =>
      manifestOf(spark, tablePath, Some(e)).lines
        .exists(_.startsWith("#dropcol\t")))
    val bounds = (Seq(fromEpoch) ++
      dropEpochs.flatMap(e => Seq(e - 1, e)) ++ Seq(toEpoch))
    bounds.grouped(2).toSeq.collect {
      case Seq(a, b) if a < b =>
        (a, b, changesBetween(spark, tablePath, a, b, keys))
    }
  }

  /** The consumer-facing batch form of [[changeFeedSpans]] (VERDICT
    * r15 #8): one frame, every span's rows tagged with its
    * `_from_epoch`/`_to_epoch` interval, unioned BY NAME with missing
    * columns as nulls — a span that predates a column (or carries a
    * later-dropped one) still lines up, exactly the inline composition
    * the `j31` gate demonstrated. Row order within the frame is
    * unspecified; order by the interval columns for replay. An empty
    * interval returns None (there is no schema to shape an empty
    * frame with that would not mislead). */
  def changeFeed(spark: org.apache.spark.sql.SparkSession,
                 tablePath: String, fromEpoch: Long, toEpoch: Long,
                 keys: Seq[String]): Option[DataFrame] =
    changeFeedSpans(spark, tablePath, fromEpoch, toEpoch, keys)
      .map { case (a, b, feed) =>
        feed.withColumn("_from_epoch", lit(a))
          .withColumn("_to_epoch", lit(b))
      }
      .reduceOption(_.unionByName(_, allowMissingColumns = true))

  /** The one-shot schema-evolution event lines in `(fromEpoch,
    * toEpoch]`, oldest first: `(epoch, "rename", old, new)` and
    * `(epoch, "dropcol", name, "")`. This is the rename/drop chain
    * [[changesBetween]] composes internally, exported so the streaming
    * CDF source can record it NEXT TO the feed artifact — a consumer
    * reading the feed months later must not depend on the table still
    * retaining these manifests (the sweep keeps a suffix window). */
  def schemaEventsBetween(spark: org.apache.spark.sql.SparkSession,
                          tablePath: String, fromEpoch: Long, toEpoch: Long)
      : Seq[(Long, String, String, String)] =
    ((fromEpoch + 1) to toEpoch).flatMap { e =>
      manifestOf(spark, tablePath, Some(e)).lines.flatMap { l =>
        if (l.startsWith("#rename\t")) {
          val p = l.split("\t", -1); Some((e, "rename", p(1), p(2)))
        } else if (l.startsWith("#dropcol\t")) {
          val p = l.split("\t", -1); Some((e, "dropcol", p(1), ""))
        } else if (l.startsWith("#widen\t")) {
          // (col, toType) — the fromType is implied by the previous
          // manifest's #ddl; feed consumers only need "a widening
          // happened here" to fail a pinned-narrow tail fast
          val p = l.split("\t", -1); Some((e, "widen", p(1), p(3)))
        } else None
      }
    }

  /** The active manifest's epoch, or None for an uninitialized table —
    * the "how far can a feed go" probe the CDF poller needs without
    * computing a diff. */
  def manifestedEpoch(spark: org.apache.spark.sql.SparkSession,
                      tablePath: String): Option[Long] =
    activeOf(spark, tablePath).map(_.epoch)

  /** The active manifest's recorded logical schema, or None for an
    * uninitialized table / a legacy manifest written before the `#ddl`
    * header. Public because consumers that SHAPE things around the
    * table (the streaming CDF source's pinned file-stream schema) need
    * the same answer the readers resolve internally. */
  def manifestedSchema(spark: org.apache.spark.sql.SparkSession,
                       tablePath: String)
      : Option[org.apache.spark.sql.types.StructType] =
    activeOf(spark, tablePath).flatMap(r =>
      ddlOf(r.lines).map(org.apache.spark.sql.types.StructType.fromDDL))

  /** Incremental change-feed consumption — the poll-and-checkpoint
    * shape most CDC consumers actually run: everything that changed
    * since the epoch the caller last processed, plus the epoch to
    * checkpoint for the next poll. An up-to-date caller gets an empty
    * (schema-shaped) feed and the same epoch back. The caller's
    * `sinceEpoch` must still be retained (`retain` ≥ poll lag in
    * merges) or resolution throws — the same staleness contract as
    * time travel. */
  def changesSince(spark: org.apache.spark.sql.SparkSession,
                   tablePath: String, sinceEpoch: Long,
                   keys: Seq[String]): (DataFrame, Long) = {
    val root = manifestOf(spark, tablePath)
    val active = root.epoch
    if (active == sinceEpoch) {
      val sch = ddlOf(root.lines)
        .map(org.apache.spark.sql.types.StructType.fromDDL).getOrElse(
        throw new IllegalStateException(
          s"changesSince needs a recorded schema under $tablePath"))
      val shape = org.apache.spark.sql.types.StructType(
        sch.fields :+ org.apache.spark.sql.types.StructField(
          "_change_type", org.apache.spark.sql.types.StringType))
      // column order matches changesBetween: keys, values, change type
      val ordered = keys ++ sch.fieldNames.filterNot(c =>
        keys.exists(_.equalsIgnoreCase(c))) :+ "_change_type"
      (emptyFrame(spark, org.apache.spark.sql.types.StructType(
        ordered.map(n => shape.find(_.name.equalsIgnoreCase(n)).get))),
        active)
    } else (changesBetween(spark, tablePath, sinceEpoch, active, keys),
      active)
  }

  /** `tablePath`'s active manifest ([[EpochManifest.active]]), None
    * for an uninitialized table. */
  private def activeOf(spark: org.apache.spark.sql.SparkSession,
                       tablePath: String): Option[EpochManifest.Root] = {
    val root = new org.apache.hadoop.fs.Path(tablePath)
    EpochManifest.active(
      root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
  }

  /** `tablePath`'s manifest `at` ([[EpochManifest.at]]), or its active
    * one, which must exist. */
  private def manifestOf(spark: org.apache.spark.sql.SparkSession,
                         tablePath: String,
                         at: Option[Long] = None): EpochManifest.Root =
    at match {
      case Some(e) =>
        val root = new org.apache.hadoop.fs.Path(tablePath)
        EpochManifest.at(
          root.getFileSystem(spark.sparkContext.hadoopConfiguration), root, e)
      case None => activeOf(spark, tablePath).getOrElse(
        throw new IllegalStateException(s"no manifest under $tablePath"))
    }

  /** The entries of `m` whose dir `keep` accepts, as one frame under
    * the manifest's recorded schema and column mappings. */
  private def readSlice(spark: org.apache.spark.sql.SparkSession,
                        tablePath: String, m: EpochManifest.Slice,
                        keep: String => Boolean = _ => true): DataFrame =
    readOrEmpty(spark, tablePath, m.entries.filter(e => keep(e._1)),
      m.schema, m.pmap, m.files)

  /** [[readMapped]], where no entry at all is the empty frame of the
    * recorded schema — a table whose every row was deleted, or a read
    * that pruned every partition, is empty, not an error. */
  private def readOrEmpty(spark: org.apache.spark.sql.SparkSession,
                          tablePath: String, entries: Seq[(String, Long)],
                          schemaOpt: Option[org.apache.spark.sql.types.StructType],
                          pmap: Map[Long, Map[String, String]],
                          files: Map[(String, Long), Seq[(String, Long)]])
      : DataFrame =
    readMapped(spark, tablePath, entries, schemaOpt, pmap, files)
      .orElse(schemaOpt.map(emptyFrame(spark, _)))
      .getOrElse(throw new IllegalStateException(
        s"no entry of the manifest under $tablePath is read and it " +
          "records no schema to shape an empty result"))

  private def emptyFrame(spark: org.apache.spark.sql.SparkSession,
                         schema: org.apache.spark.sql.types.StructType)
      : DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Epoch-grouped read of manifest entries: each group under its
    * PHYSICAL column names (renames resolved via `pmap`, widening
    * promotion via the logical types) aliased back to the logical
    * schema in one select. None when `entries` is empty.
    *
    * When every entry of a group carries a `#files` inventory (and the
    * manifest recorded a schema), the group resolves through
    * [[graft.sources.ManifestFileIndex]] — ZERO filesystem calls, at
    * any partition count, with partition pruning and size-based
    * broadcast evidence intact. Groups without records (legacy
    * manifests, unrecordable file names) keep the per-dir listing. */
  private def readMapped(spark: org.apache.spark.sql.SparkSession,
                         tablePath: String, entries: Seq[(String, Long)],
                         schemaOpt: Option[org.apache.spark.sql.types.StructType],
                         pmap: Map[Long, Map[String, String]],
                         files: Map[(String, Long), Seq[(String, Long)]])
      : Option[DataFrame] =
    entries.groupBy(_._2).toSeq.sortBy(_._1).map { case (e, es) =>
      val m = pmap.getOrElse(e, Map.empty[String, String])
      val recorded = schemaOpt.filter(_ =>
        es.forall(en => files.get((en._1, e)).exists(_.nonEmpty)))
      recorded match {
        case Some(sch) =>
          val partCol = org.apache.spark.sql.catalyst.catalog
            .ExternalCatalogUtils.unescapePathName(
              es.head._1.takeWhile(_ != '='))
          graft.sources.ManifestFileIndex.readFiles(spark,
              s"$tablePath/_e$e", physSchemaFor(sch, m), partCol,
              es.map(en => (en._1, files((en._1, e)))))
            .select(sch.fieldNames.map(n =>
              col(physNameFor(n, m)).as(n)): _*)
        case None =>
          val rd = spark.read.option("basePath", s"$tablePath/_e$e")
          val df = schemaOpt.fold(rd)(sch =>
            rd.schema(physSchemaFor(sch, m)))
            .parquet(es.map(en => s"$tablePath/_e$e/${en._1}"): _*)
          // Spark surfaces partition columns LAST regardless of their
          // position in the supplied schema — restore the writer's
          // order (and resolve physical → logical names in one select)
          schemaOpt.fold(df)(sch => df.select(sch.fieldNames.map(n =>
            col(physNameFor(n, m)).as(n)): _*))
      }
    }.reduceOption(_ unionByName _)

  /** Partition-pruned DELETE: rewrite ONLY the partitions holding a
    * matching row, without those rows, and flip the manifest — the
    * untouched mass is never rewritten, readers never see half a
    * delete, and a partition whose every row matches drops out of the
    * manifest entirely. Finding the touched partitions costs one scan
    * of the table under the predicate (a predicate that constrains
    * the partition column prunes that scan at planning, like any
    * partitioned read); the REWRITE cost is bounded by the touched
    * partitions. SQL DELETE null semantics: only rows where the
    * predicate is TRUE are removed — null-predicate rows survive.
    * Replaying a completed delete matches nothing and no-ops. NOTE
    * deletes compose with versioned merges destructively by design: a
    * later redelivery of a PRE-delete batch re-inserts those keys at
    * their old versions (the layout cannot distinguish it from new
    * data); quiesce or fence the merge stream around deletes if that
    * matters. */
  def deleteFromManifested(spark: org.apache.spark.sql.SparkSession,
                           tablePath: String,
                           predicate: org.apache.spark.sql.Column,
                           retain: Int = 2): Unit =
    withTableWriter(spark, tablePath) { w =>
      // the predicate may match in any partition: every leaf loads
      val m = w.manifest.slice(EpochManifest.Want.All)
      if (m.entries.nonEmpty) {
        val partitionCol = org.apache.spark.sql.catalyst.catalog
          .ExternalCatalogUtils.unescapePathName(
            m.entries.head._1.takeWhile(_ != '='))
        val touchedDirs = partitionDirsOf(partitionCol,
          readSlice(spark, tablePath, m).filter(predicate)
            .select(col(partitionCol).cast("string")).distinct()
            .collect().toSeq.map(_.getString(0)))
        // empty touched set: nothing matches, converged no-op
        rewriteEntries(w, m, touchedDirs, partitionCol, retain)(
          _.filter(!coalesce(predicate, lit(false))))
      }
    }

  /** KEY-BATCH DELETE — the CDC-apply shape: remove exactly the rows
    * whose key tuple appears in `keyBatch`. Unlike the predicate form
    * (which must scan the table to FIND its touched partitions), the
    * touched set comes straight from the batch's partition values
    * (the key includes the partition column, as in the merge), so the
    * whole operation — discovery, rewrite, publish — is bounded by
    * the touched partitions. Keys absent from the table no-op; an
    * empty or all-unknown-partition batch publishes nothing. */
  def deleteKeysFromManifested(spark: org.apache.spark.sql.SparkSession,
                               tablePath: String, keyBatch: DataFrame,
                               keys: Seq[String], partitionCol: String,
                               retain: Int = 2): Unit =
    deleteKeysFromManifestedTouched(spark, tablePath, keyBatch, keys,
      partitionCol, retain, None)

  /** [[deleteKeysFromManifested]] for a caller that already knows the
    * key batch's partition values (their string form): `touched`
    * replaces the delete's own touched-partition collect job, exactly
    * as in [[mergeIntoManifestedTouched]]. None collects them here. */
  private[graft] def deleteKeysFromManifestedTouched(
      spark: org.apache.spark.sql.SparkSession, tablePath: String,
      keyBatch: DataFrame, keys: Seq[String], partitionCol: String,
      retain: Int, touched: Option[Seq[String]]): Unit = {
    require(keys.contains(partitionCol),
      s"$partitionCol must be part of the delete key — it locates the " +
        "touched partitions")
    if (activeOf(spark, tablePath).isEmpty)
      return // nothing to delete from (fast path, outside the lease)
    withTableWriter(spark, tablePath) { w =>
      val active = w.manifest
      val touchedDirs = partitionDirsOf(partitionCol,
        touched.getOrElse(labeled(spark,
            s"mergem: delete touched-partition collect ($tablePath)") {
          partitionStringsOneJob(keyBatch, partitionCol)
        }))
      // only the touched dirs' metadata loads — the delete's
      // discovery, rewrite, AND publish are all O(touched)
      val m = active.slice(EpochManifest.Want.Dirs(touchedDirs))
      // a broadcast hash anti-join: the slice streams through it with
      // no exchange and no sort, so the write's clustering exchange is
      // its only one — a hot partition's rows all land in one task
      // there, which must not sort them by key as well. The key batch
      // is a key list, small next to the slice it prunes; duplicate
      // keys need no distinct. The output is the slice's own columns,
      // so a key batch typed wider than the stored keys never widens
      // what the rewrite writes.
      rewriteEntries(w, m, touchedDirs, partitionCol, retain)(
        _.join(broadcast(keyBatch.select(keys.map(col): _*)), keys,
          "left_anti"))
    }
  }

  /** COMPACTION for the manifested layout: after many merges the live
    * partitions scatter across many epoch dirs (each merge's dir holds
    * only what it touched), so every read resolves N dirs and the
    * listing cost grows with merge history. This rewrites ALL live
    * partitions into one fresh epoch (clustered, one file set per
    * partition) and publishes a manifest referencing only it — content
    * is untouched (same rows, same schema), readers flip atomically
    * exactly as with a merge, and the sweep reclaims the scattered
    * history under the same retention contract. The cost is one full
    * table rewrite; run it when dir-count, not data, dominates reads. */
  def compactManifested(spark: org.apache.spark.sql.SparkSession,
                        tablePath: String, partitionCol: String,
                        retain: Int = 2): Unit =
    withTableWriter(spark, tablePath) { w =>
      val m = w.manifest.slice(EpochManifest.Want.All)
      val all = readSlice(spark, tablePath, m)
      commitEpoch(w, m, m.entries.map(_._1).toSet,
        all.repartition(col(partitionCol)), partitionCol,
        // a table written before the #ddl header gets the schema its
        // rows were just read under, so rename and drop accept it
        Seq("#ddl\t" + m.ddl.getOrElse(all.schema.toDDL)),
        // zone maps: a full rewrite recomputes every column a dir has
        statsColsOf(m.lines), "mergem: compact", retain,
        // the compact is the table's heal-everything pass: its
        // full-walk sweep also reclaims what no ledger can name (epoch
        // dirs and leaves a crashed publish wrote that no manifest
        // ever referenced)
        fullWalk = true,
        afterWrite = graft.FailPoint.hit("mergem_compact_after_write"))
    }

  /** PARTIAL COMPACTION — the 100 TB form of [[compactManifested]]:
    * rewrite ONLY the named partition values' snapshots into one
    * fresh clustered epoch and flip the manifest, leaving the
    * untouched mass alone. After many merges a HOT partition's rows
    * scatter file-wise across epoch dirs and its reads pay per-file
    * task overhead; full compaction is an O(table) rewrite,
    * unaffordable per-cadence at scale — this bounds the rewrite
    * (and, on a sharded manifest, the PUBLISH) to the partitions
    * that actually fragmented. Content is untouched (same rows, same
    * schema — spec- and oracle-checked); values matching no entry
    * contribute nothing; an all-unknown call no-ops. Runs under the
    * table writer lease like every manifested writer. */
  def compactManifestedPartitions(spark: org.apache.spark.sql.SparkSession,
                                  tablePath: String, partitionCol: String,
                                  values: Seq[String],
                                  retain: Int = 2): Unit = {
    if (values.isEmpty || activeOf(spark, tablePath).isEmpty) return
    withTableWriter(spark, tablePath) { w =>
      val touchedDirs = partitionDirsOf(partitionCol, values)
      rewriteEntries(w, w.manifest.slice(EpochManifest.Want.Dirs(touchedDirs)),
        touchedDirs, partitionCol, retain)(identity)
    }
  }

  private def parseManifestEntry(line: String): (String, Long) = {
    val i = line.lastIndexOf('\t')
    require(i > 0, s"malformed manifest entry: '$line'")
    (line.substring(0, i), line.substring(i + 1).toLong)
  }

  /** `#`-prefixed manifest lines are metadata, not entries. The one
    * metadata line today is `#ddl\t<schema DDL>`: the table's full
    * schema as the WRITER saw it, so readers pin every column —
    * including the partition column — to its original type instead of
    * trusting partition-dir type inference (which would read a string
    * partition value like "01" back as int 1, silently changing both
    * content and the merge key; the merge's own internal read always
    * pinned the type, but the public readers had no source for it).
    * Tables written before the header existed read with inference, as
    * before. */
  /** Lossless type widenings the manifested layout accepts from an
    * evolving writer: integral up-casts within {byte, short, int,
    * long}, float→double, and decimal precision growth at the same
    * scale. Spark 4's parquet readers perform exactly these
    * promotions inside the scan (SPARK-40876), so historical epoch
    * files are read under the widened schema as-is — evolution never
    * rewrites data. Anything lossy (narrowing, cross-family,
    * scale changes) refuses at the merge. */
  private def canWidenType(from: org.apache.spark.sql.types.DataType,
                           to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale == f.scale && t.precision > f.precision
      case (ArrayType(fe, fn), ArrayType(te, tn)) =>
        // element widening recurses; containsNull may only RELAX
        // (false -> true) — claiming non-null elements over stored
        // nullable history would be a lie. Covers the natural
        // Seq[Array[Float]] batch whose inferred containsNull=false
        // meets the #ddl round-trip's nullable form.
        (tn || !fn) && (fe == te || canWidenType(fe, te))
      case _ => false
    }
  }

  private def ddlHeader(df: DataFrame): Seq[String] =
    Seq("#ddl\t" + df.schema.toDDL)
  private def entryLines(lines: Seq[String]): Seq[String] =
    lines.filterNot(_.startsWith("#"))
  private def ddlOf(lines: Seq[String]): Option[String] =
    lines.find(_.startsWith("#ddl\t")).map(_.stripPrefix("#ddl\t"))

  /** ZONE-MAP manifest lines, `#stats\t<dir>\t<col>\t<min>\t<max>`
    * (values path-escaped so hostile strings cannot break the line
    * format): min/max of a column over the rows a partition dir's
    * snapshot holds. Maintained by every write path for its TOUCHED
    * dirs — the stats read-back is bounded by the same touched set the
    * write was — and carried forward verbatim for untouched ones, so
    * [[readManifestedRange]]'s manifest-level pruning stays correct
    * under merges, deletes, and compaction. An all-null partition
    * records no line and is never pruned (conservative: skipping must
    * only drop dirs that provably cannot match). */
  private def statsOf(lines: Seq[String])
      : Map[(String, String), (String, String)] =
    lines.filter(_.startsWith("#stats\t")).map { l =>
      l.split("\t", -1) match {
        case Array(_, dir, c, mn, mx) =>
          import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          ((dir, c), (ExternalCatalogUtils.unescapePathName(mn),
            ExternalCatalogUtils.unescapePathName(mx)))
        case _ => throw new IllegalStateException(s"malformed #stats: '$l'")
      }
    }.toMap
  private def statsLinesOut(m: Map[(String, String), (String, String)])
      : Seq[String] =
    m.toSeq.sortBy(_._1).map { case ((dir, c), (mn, mx)) =>
      import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      s"#stats\t$dir\t$c\t${ExternalCatalogUtils.escapePathName(mn)}\t" +
        ExternalCatalogUtils.escapePathName(mx)
    }
  /** PER-SNAPSHOT FILE INVENTORY lines,
    * `#files\t<dir>\t<epoch>\t<name>:<size>,<name>:<size>,...` — the
    * parquet files a partition snapshot holds, recorded ONCE at
    * publish time (epoch dirs are immutable, so the listing is
    * computable exactly when the write that created it finishes) and
    * carried forward verbatim while the entry stays referenced. The
    * readers resolve a full-table scan from these instead of listing
    * every referenced partition dir (VERDICT r17 #1: resolveFull grew
    * 0.30→1.87→14.4 s at x1/x10/x100 dirs while manifest parse stayed
    * 3 ms — at 10⁵⁺ partitions on an object store that listing is the
    * read cost). Entries without a record (legacy manifests, or a
    * file name the line format cannot carry) fall back to the listing
    * path per epoch group. */
  private def filesOf(lines: Seq[String])
      : Map[(String, Long), Seq[(String, Long)]] =
    lines.filter(_.startsWith("#files\t")).map { l =>
      val a = l.split("\t", -1)
      require(a.length == 4, s"malformed #files: '$l'")
      val fl =
        if (a(3).isEmpty) Seq.empty[(String, Long)]
        else a(3).split(",", -1).toSeq.map { f =>
          val i = f.lastIndexOf(':')
          require(i > 0, s"malformed #files entry '$f' in '$l'")
          (f.substring(0, i), f.substring(i + 1).toLong)
        }
      ((a(1), a(2).toLong), fl)
    }.toMap
  private def filesLinesOut(m: Map[(String, Long), Seq[(String, Long)]])
      : Seq[String] =
    m.toSeq.sortBy(_._1).collect { case ((d, e), fl) if fl.nonEmpty =>
      s"#files\t$d\t$e\t" +
        fl.map { case (n, s) => s"$n:$s" }.mkString(",")
    }
  /** List a freshly-written epoch dir once: its partition dirs, and
    * each dir's parquet files — one listing per TOUCHED dir, paid once
    * at publish (the write that just created those dirs dwarfs it). A
    * file name the line format cannot carry (':', ',' or a tab — Spark
    * part files never do) skips that dir's file record rather than
    * corrupting the manifest. */
  private def listEpoch(fs: org.apache.hadoop.fs.FileSystem,
      tablePath: String, epoch: Long)
      : (Set[String], Map[(String, Long), Seq[(String, Long)]]) = {
    val p = new org.apache.hadoop.fs.Path(s"$tablePath/_e$epoch")
    val dirs =
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.contains("="))
    (dirs.map(_.getPath.getName).toSet, dirs.flatMap { d =>
      val files = fs.listStatus(d.getPath).toSeq
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .map(f => (f.getPath.getName, f.getLen))
      if (files.isEmpty || files.exists(_._1.exists(c =>
          c == ':' || c == ',' || c == '\t'))) None
      else Some((d.getPath.getName, epoch) -> files)
    }.toMap)
  }

  private def statsColsOf(lines: Seq[String]): Seq[String] =
    lines.filter(_.startsWith("#stats\t"))
      .map(_.split("\t", -1)(2)).distinct.sorted

  /** Zone maps for the dirs epoch `epoch` just wrote, from one small
    * aggregate over their read-back, bounded by the touched set. The
    * read-back goes through [[readMapped]] with the inventory
    * [[listEpoch]] returned, so it lists nothing again. */
  private def computeStats(spark: org.apache.spark.sql.SparkSession,
                           tablePath: String, epoch: Long, dirs: Set[String],
                           files: Map[(String, Long), Seq[(String, Long)]],
                           schema: Option[org.apache.spark.sql.types.StructType],
                           partitionCol: String, cols: Seq[String])
      : Map[(String, String), (String, String)] = {
    if (cols.isEmpty || dirs.isEmpty) return Map.empty
    val slice = readMapped(spark, tablePath, dirs.toSeq.sorted.map(_ -> epoch),
      schema, Map.empty, files).get
    val aggs = cols.flatMap(c => Seq(
      min(col(c)).cast("string").as(s"_mn_$c"),
      max(col(c)).cast("string").as(s"_mx_$c")))
    slice.groupBy(col(partitionCol).cast("string").as("_pv"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().toSeq.flatMap { r =>
        val dir = s"$partitionCol=" + org.apache.spark.sql.catalyst
          .catalog.ExternalCatalogUtils.escapePathName(r.getString(0))
        cols.zipWithIndex.flatMap { case (c, i) =>
          val mn = r.getString(1 + 2 * i)
          val mx = r.getString(2 + 2 * i)
          if (mn == null || mx == null) None
          else Some((dir, c) -> (mn, mx))
        }
      }.toMap
  }

  /** The zone-map comparator for one recorded column type.
    * Double.parseDouble, not BigDecimal: Spark's min/max over a
    * double column records "NaN"/"Infinity" in the #stats lines,
    * which BigDecimal throws on — turning pruning into a read
    * failure instead of the documented strictly-an-optimization
    * (ADVICE r14). Double compare is SAFE for pruning even on
    * int64/decimal values beyond 2^53: round-to-nearest is
    * monotone, so two values can only COLLAPSE to equal (dir
    * kept), never invert order (dir wrongly pruned). NaN sorts
    * largest, matching Spark's ordering that produced the stats.
    * Anything unparseable compares equal -> both bound checks
    * pass -> the dir is read, never pruned. Shared by
    * [[readManifestedRange]] and the bucket-level `#bstats`
    * aggregation so both prune under identical semantics. */
  private def statsComparator(dt: org.apache.spark.sql.types.DataType)
      : Option[(String, String) => Int] = {
    import org.apache.spark.sql.types._
    dt match {
      case _: NumericType => Some(
        (a: String, b: String) =>
          try java.lang.Double.compare(java.lang.Double.parseDouble(a),
            java.lang.Double.parseDouble(b))
          catch { case _: NumberFormatException => 0 })
      case StringType =>
        Some((a: String, b: String) => a.compareTo(b))
      case _ => None
    }
  }

  /** RANGE READER with manifest-level data skipping: resolve only the
    * partition dirs whose zone map can contain a `column` value in
    * [`lo`, `hi`] (inclusive; either bound may be null for open), then
    * apply the exact filter. Dirs without a recorded zone map — a
    * legacy table, an all-null partition, a column never registered —
    * are always read (pruning is strictly an optimization, never a
    * correctness gate). Comparison is typed via the recorded schema:
    * numeric columns compare as numbers, strings lexically; any other
    * type skips pruning. This is the partition-key-independent sibling
    * of [[readManifestedPartitions]]: the zone maps let a narrow
    * consumer skip the listing cost of partitions whose VALUE RANGE
    * rules them out, the lakehouse data-skipping shape. The same test
    * first prunes whole buckets at the read entry
    * ([[EpochManifest.Want.Zone]]). */
  def readManifestedRange(spark: org.apache.spark.sql.SparkSession,
                          tablePath: String, column: String,
                          lo: Any, hi: Any): DataFrame = {
    val active = manifestOf(spark, tablePath)
    val cmp: Option[(String, String) => Int] = ddlOf(active.lines)
      .map(org.apache.spark.sql.types.StructType.fromDDL)
      .flatMap(_.fields.find(_.name.equalsIgnoreCase(column)))
      .flatMap(f => statsComparator(f.dataType))
    // no comparator or no zone map: never prune
    def overlaps(mn: String, mx: String): Boolean = cmp.forall(c =>
      (lo == null || c(mx, lo.toString) >= 0) &&
        (hi == null || c(mn, hi.toString) <= 0))
    val m = active.slice(EpochManifest.Want.Zone(column, overlaps))
    val stats = statsOf(m.lines)
    val base = readSlice(spark, tablePath, m,
      d => stats.get((d, column)).forall { case (mn, mx) => overlaps(mn, mx) })
    val exact = (Option(lo), Option(hi)) match {
      case (Some(l), Some(h)) => col(column).between(lit(l), lit(h))
      case (Some(l), None) => col(column) >= lit(l)
      case (None, Some(h)) => col(column) <= lit(h)
      case (None, None) => lit(true)
    }
    base.filter(exact)
  }

  /** COLUMN-MAPPING manifest lines, `#pmap\t<epoch>\t<phys>\t<logical>`:
    * files in epoch dir `_e<epoch>` store column `phys` where the
    * current logical schema says `logical`. Only RENAMED columns get a
    * line (identity is the default), only for epochs the manifest
    * still references — each publish regenerates the set, so swept
    * epochs shed their mappings for free. This is what makes
    * [[renameManifestedColumn]] metadata-only: readers rebuild each
    * epoch's physical read schema (physical names, current logical
    * TYPES — so widening promotion still applies) and alias back. */
  private def pmapOf(lines: Seq[String]): Map[Long, Map[String, String]] =
    lines.filter(_.startsWith("#pmap\t")).map { l =>
      l.split("\t", -1) match {
        case Array(_, e, phys, logical) => (e.toLong, phys, logical)
        case _ => throw new IllegalStateException(s"malformed #pmap: '$l'")
      }
    }.groupBy(_._1).map { case (e, ts) =>
      e -> ts.map(t => t._2 -> t._3).toMap
    }
  private def pmapLines(m: Map[Long, Map[String, String]]): Seq[String] =
    m.toSeq.sortBy(_._1).flatMap { case (e, mm) =>
      mm.toSeq.sortBy(_._1).collect {
        case (phys, logical) if phys != logical =>
          s"#pmap\t$e\t$phys\t$logical"
      }
    }

  /** The pmap "logical" token marking a physical column as DEAD in an
    * epoch's files: [[dropManifestedColumn]] retires the name this
    * way so a later re-add of the SAME name cannot resurrect the old
    * epochs' stale stored values (they must read as null, exactly
    * like any column added after those files were written). Rides the
    * existing pmap carry/shed/compact machinery — every publish path
    * that preserves rename mappings preserves dead markers for free. */
  private[operators] val DeadLogical = "__graft_dead__"

  /** Resolve ONE logical column to the physical name to ask an epoch's
    * parquet files for. Three cases, in order: (1) a pmap entry claims
    * some physical column for this logical name (a rename) — use it;
    * (2) the SAME-NAMED physical column is claimed by a different
    * logical name (renamed away, or retired by [[DeadLogical]]) — the
    * logical column must read as ABSENT (nulls), so substitute a name
    * no file contains; (3) identity. Case-insensitive on both sides,
    * matching Spark's own parquet name reconciliation under the
    * default caseSensitive=false — an exact-match claimed-check would
    * let a re-added column with different case read a dead physical
    * column's stale bytes. */
  private def physNameFor(logical: String,
                          physToLogical: Map[String, String]): String =
    physToLogical.find(_._2.equalsIgnoreCase(logical)).map(_._1)
      .getOrElse {
        if (physToLogical.keys.exists(_.equalsIgnoreCase(logical)))
          s"__graft_absent__$logical"
        else logical
      }

  /** The schema to hand the parquet reader for one epoch dir: current
    * logical TYPES (widening promotion applies in the scan) under that
    * epoch's PHYSICAL column names ([[physNameFor]] — renames resolve,
    * dead columns read absent). */
  private def physSchemaFor(logical: org.apache.spark.sql.types.StructType,
                            physToLogical: Map[String, String])
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(logical.fields.map(f =>
      f.copy(name = physNameFor(f.name, physToLogical))))

  /** METADATA-ONLY column rename for [[mergeIntoManifested]] tables:
    * publishes one new manifest whose `#ddl` carries the new logical
    * name and whose `#pmap` lines record, per referenced epoch, the
    * physical name its immutable files still store — zero data files
    * move. Subsequent merges write new epochs under the NEW name
    * (identity mapping), so a table converges to unmapped as history
    * turns over, and [[compactManifested]] collapses every mapping in
    * one rewrite. Batches must use the new name from here on — the old
    * name now refuses as a dropped column, loudly. The partition
    * column refuses (its name is baked into every dir name and
    * manifest entry); so does a legacy table without a recorded
    * schema (compact it first to stamp one). Crash-safe trivially:
    * the rename IS the single atomic manifest publish. */
  def renameManifestedColumn(spark: org.apache.spark.sql.SparkSession,
                             tablePath: String, oldName: String,
                             newName: String, retain: Int = 2): Unit = {
    // writer lease — see withTableWriter; no `return` inside
    withTableWriter(spark, tablePath) { w =>
    val cur = w.manifest.slice(EpochManifest.Want.All)
    val (epoch, lines) = (cur.epoch, cur.lines)
    val ddl = cur.ddl.getOrElse(throw new IllegalStateException(
      s"renameManifestedColumn: $tablePath has no recorded schema " +
        "(written before the #ddl header) — run compactManifested " +
        "first to stamp one"))
    require(!newName.exists(c => c == '\t' || c == '\n' || c == '\r'),
      s"renameManifestedColumn: '$newName' contains manifest-hostile " +
        "characters")
    val sch = org.apache.spark.sql.types.StructType.fromDDL(ddl)
    require(sch.fieldNames.exists(_.equalsIgnoreCase(oldName)),
      s"renameManifestedColumn: no column '$oldName' in $ddl")
    require(!sch.fieldNames.exists(_.equalsIgnoreCase(newName)),
      s"renameManifestedColumn: column '$newName' already exists")
    val entries = cur.entries
    entries.headOption.foreach { case (d, _) =>
      val partCol = org.apache.spark.sql.catalyst.catalog
        .ExternalCatalogUtils.unescapePathName(d.takeWhile(_ != '='))
      require(!partCol.equalsIgnoreCase(oldName),
        s"renameManifestedColumn: cannot rename partition column " +
          s"'$partCol' — its name is baked into every partition dir " +
          "and manifest entry")
    }
    // the stored schema's canonical spelling, not the caller's — the
    // physical default must match what the files actually store
    val canonical = sch.fields
      .find(_.name.equalsIgnoreCase(oldName)).get.name
    val pmap = cur.pmap
    val refEpochs = entries.map(_._2).distinct
    val newPmap = refEpochs.map { e =>
      val m = pmap.getOrElse(e, Map.empty[String, String])
      // the physical name logical `oldName` resolves to in this epoch
      val phys = m.find(_._2.equalsIgnoreCase(oldName)).map(_._1)
        .getOrElse(canonical)
      // an epoch whose same-named physical column is DEAD predates the
      // re-add of this column: its files must keep reading absent for
      // the new name too, not resurrect the retired bytes — leave the
      // dead marker in place and map nothing
      if (m.get(phys).contains(DeadLogical)) e -> m
      else e -> (m + (phys -> newName))
    }.toMap
    val newSch = org.apache.spark.sql.types.StructType(sch.fields.map(f =>
      if (f.name.equalsIgnoreCase(oldName)) f.copy(name = newName) else f))
    // zone maps follow the logical name — min/max values are unchanged
    val newStats = statsOf(lines).map { case ((d, c), mm) =>
      ((d, if (c.equalsIgnoreCase(oldName)) newName else c), mm)
    }
    EpochManifest.publish(w.fs, w.root, epoch + 1,
      // the `#rename` EVENT line (one-shot, never carried forward —
      // unlike `#pmap` STATE lines): changesBetween walks the
      // interval's manifests for these to compose the logical-name
      // correspondence across renames instead of refusing
      Seq("#ddl\t" + newSch.toDDL, s"#rename\t$canonical\t$newName") ++
        pmapLines(newPmap) ++
        statsLinesOut(newStats) ++
        lines.filter(_.startsWith("#files\t")) ++
        entries.map { case (d, e) => s"$d\t$e" })
    sweepManifested(w.fs, w.root, epoch + 1, retain)
    }
  }

  /** METADATA-ONLY column drop for [[mergeIntoManifested]] tables:
    * publishes one new manifest whose `#ddl` lacks the column — zero
    * data files move; historical files keep the bytes but no reader
    * ever projects them (epoch reads are schema-pruned parquet scans).
    * The column's zone-map lines drop with it (which also
    * de-registers it from future stats maintenance).
    *
    * TOMBSTONE semantics — the drop/re-add hazard: a later merge may
    * re-ADD a column with the same name, and the old epochs' files
    * still physically store the retired values under that name. A
    * naive reader would resurrect them as the new column's data. So
    * the drop retires the physical name explicitly: for every
    * referenced epoch, a `#pmap` line maps the column's physical name
    * to [[DeadLogical]], and [[physNameFor]]'s claimed-check makes any
    * same-named logical column read ABSENT (null) from those files —
    * a re-added column behaves exactly like a column added fresh.
    * Dead markers ride the pmap carry/shed machinery: merges and
    * deletes carry them while their epoch stays referenced,
    * compaction (a physical rewrite under the current schema)
    * collapses them, and history turnover sheds them.
    *
    * Refusals: the partition column (its name is baked into every dir
    * and manifest entry), the last remaining column, and a legacy
    * table without a recorded schema (compact first to stamp one).
    * A later merge batch still carrying the column simply re-ADDS it
    * via add-evolution — with null history, per the tombstone above.
    * Crash-safe trivially: the drop IS the single atomic manifest
    * publish. */
  def dropManifestedColumn(spark: org.apache.spark.sql.SparkSession,
                           tablePath: String, name: String,
                           retain: Int = 2): Unit = {
    // writer lease — see withTableWriter; no `return` inside
    withTableWriter(spark, tablePath) { w =>
    val cur = w.manifest.slice(EpochManifest.Want.All)
    val (epoch, lines) = (cur.epoch, cur.lines)
    val ddl = cur.ddl.getOrElse(throw new IllegalStateException(
      s"dropManifestedColumn: $tablePath has no recorded schema " +
        "(written before the #ddl header) — run compactManifested " +
        "first to stamp one"))
    val sch = org.apache.spark.sql.types.StructType.fromDDL(ddl)
    require(sch.fieldNames.exists(_.equalsIgnoreCase(name)),
      s"dropManifestedColumn: no column '$name' in $ddl")
    require(sch.fields.length > 1,
      s"dropManifestedColumn: cannot drop the last column of $tablePath")
    val entries = cur.entries
    entries.headOption.foreach { case (d, _) =>
      val partCol = org.apache.spark.sql.catalyst.catalog
        .ExternalCatalogUtils.unescapePathName(d.takeWhile(_ != '='))
      require(!partCol.equalsIgnoreCase(name),
        s"dropManifestedColumn: cannot drop partition column " +
          s"'$partCol' — its name is baked into every partition dir " +
          "and manifest entry")
    }
    // the stored schema's canonical spelling, not the caller's — the
    // retired physical name must match what the files actually store
    val canonical = sch.fields
      .find(_.name.equalsIgnoreCase(name)).get.name
    val pmap = cur.pmap
    val refEpochs = entries.map(_._2).distinct
    val newPmap = refEpochs.map { e =>
      val m = pmap.getOrElse(e, Map.empty[String, String])
      // the physical name this logical column resolves to in this
      // epoch (a prior rename may have moved it); retire THAT name —
      // its prior live mapping (if any) goes with it
      val phys = m.find(_._2.equalsIgnoreCase(name)).map(_._1)
        .getOrElse(canonical)
      e -> (m + (phys -> DeadLogical))
    }.toMap
    val newSch = org.apache.spark.sql.types.StructType(
      sch.fields.filterNot(_.name.equalsIgnoreCase(name)))
    val newStats = statsOf(lines).filterNot { case ((_, c), _) =>
      c.equalsIgnoreCase(name)
    }
    EpochManifest.publish(w.fs, w.root, epoch + 1,
      // `#dropcol` EVENT line (one-shot, like `#rename`): lets
      // changesBetween refuse an interval crossing a drop precisely
      // instead of by schema-diff guesswork
      Seq("#ddl\t" + newSch.toDDL, s"#dropcol\t$canonical") ++
        pmapLines(newPmap) ++
        statsLinesOut(newStats) ++
        lines.filter(_.startsWith("#files\t")) ++
        entries.map { case (d, e) => s"$d\t$e" })
    sweepManifested(w.fs, w.root, epoch + 1, retain)
    }
  }

  /** Reference-counted GC for the manifested-merge layout: keep every
    * snapshot dir referenced by the newest `retain` manifests (>= 2 —
    * the lazy-reader retention floor: a reader that resolved the
    * previous manifest must survive one concurrent merge), drop the
    * rest and the manifests older than that window. Best-effort — a
    * crash mid-sweep leaves garbage the next merge's sweep reclaims. */
  /** Post-publish reclamation. Two strategies:
    *
    * LEDGER SWEEP (v2 manifests, the default): O(churn), not O(live
    * partitions) — each publish records exactly the (epoch dir,
    * partition dir) slots and leaf files it unreferenced in
    * `_sweep/e<N>`, and this processes only the ledgers whose LAST
    * REFERENCING manifest (N−1) has left the retention window, so
    * time travel within the window never loses a slot. A whole epoch
    * dir drops recursively (catching Spark's `_SUCCESS` and friends)
    * once the current `#eref` count for it is zero and no pending
    * ledger still names it — no O(children) listing of a big epoch
    * dir, ever. A ledger a crash prevented (publish landed, ledger
    * write did not) is repaired here by diffing the two adjacent
    * manifests — O(changed buckets) for a v2 pair. An epoch dir a
    * crashed publish wrote that NO manifest ever referenced (a
    * different operation then took that epoch number) is named by the
    * publisher's PRE-WRITE intent ([[EpochManifest.writeIntent]]) and
    * reclaimed here too — [[compactManifested]]'s full-walk sweep
    * remains the heal-everything backstop, no longer the only path
    * (VERDICT r19 #3).
    *
    * FULL WALK (`fullWalk = true`, and every v1 manifest): the
    * original refs-vs-listing sweep, O(live partitions) — correct for
    * small tables and the compact's heal-everything pass; extended to
    * also drop unreferenced `_mleaf` leaves and stale `_sweep`
    * ledgers. */
  private def sweepManifested(fs: org.apache.hadoop.fs.FileSystem,
                              root: org.apache.hadoop.fs.Path,
                              keep: Long, retain: Int,
                              fullWalk: Boolean = false): Unit =
    try {
      import org.apache.hadoop.fs.Path
      val oldest = keep - math.max(2, retain) + 1
      val keepInfo = EpochManifest.readRoot(fs, root, keep)
      if (!fullWalk && keepInfo.exists(_.isV2)) {
        // — ledger sweep —
        val present = fs.listStatus(root).flatMap { st =>
          val n = st.getPath.getName
          if (n.startsWith("_manifest_") &&
              n.stripPrefix("_manifest_").forall(_.isDigit) &&
              n.stripPrefix("_manifest_").nonEmpty)
            Some(n.stripPrefix("_manifest_").toLong)
          else None
        }.toSet
        present.filter(p => p >= 1 && present.contains(p - 1))
          .toSeq.sorted.foreach { p =>
            if (!fs.exists(EpochManifest.ledgerPath(root, p)))
              EpochManifest.repairLedger(fs, root, p)
          }
        val sweepDir = new Path(root, "_sweep")
        val ledgers =
          if (!fs.exists(sweepDir)) Seq.empty
          else fs.listStatus(sweepDir).toSeq.flatMap { st =>
            val n = st.getPath.getName
            if (n.startsWith("e") && n.drop(1).forall(_.isDigit) &&
                n.length > 1)
              Some(n.drop(1).toLong -> st.getPath)
            else None
          }
        def ledgerLines(p: Path): Seq[String] = {
          val in =
            try fs.open(p)
            catch { case _: java.io.FileNotFoundException =>
              return Seq.empty }
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
            .map(_.trim).filter(_.nonEmpty).toSeq
          finally in.close()
        }
        // epochs still named by UNPROCESSED ledgers must not be
        // whole-dir dropped yet — their slots are still referenced by
        // manifests inside the window
        val pendingEpochs = ledgers.filter(_._1 > oldest).flatMap {
          case (_, lp) => ledgerLines(lp).collect {
            case l if l.startsWith("dir\t") =>
              l.split("\t", 3)(1).toLong
          }
        }.toSet
        val erefs = keepInfo.get.erefs
        ledgers.filter(_._1 <= oldest).sortBy(_._1).foreach {
          case (_, lp) =>
            val lines = ledgerLines(lp)
            val slots = lines.collect {
              case l if l.startsWith("dir\t") =>
                val a = l.split("\t", 3); (a(1).toLong, a(2))
            }
            slots.groupBy(_._1).foreach { case (e, es) =>
              if (erefs.getOrElse(e, 0L) == 0L &&
                  !pendingEpochs.contains(e))
                fs.delete(new Path(root, s"_e$e"), true)
              else es.foreach { case (_, d) =>
                fs.delete(new Path(root, s"_e$e/$d"), true) }
            }
            lines.collect {
              case l if l.startsWith("leaf\t") => l.stripPrefix("leaf\t")
            }.foreach(lf => fs.delete(
              new Path(new Path(root, "_mleaf"), lf), false))
            fs.delete(lp, false)
        }
        // ORPHAN INTENTS (VERDICT r19 #3): the ledgers above can only
        // name slots a manifest once referenced — a publish that died
        // pre-CAS left debris no ledger names. Its pre-write intent
        // names the epoch number; any `_e<E>` dir / `<E>_*` leaf NOT
        // referenced by a RETAINED manifest is crash debris (the
        // publish never landed, or a metadata-only op took the epoch
        // number) and reclaims here, O(intents), instead of waiting
        // for compactManifested's full walk. Runs under the writer's
        // lease, so no pending intent can belong to a live writer.
        val intents = EpochManifest.listIntents(fs, root)
        if (intents.nonEmpty) {
          val retained = (math.max(0L, oldest) to keep)
            .flatMap(e => EpochManifest.readRoot(fs, root, e))
          val liveEpochs: Set[Long] = retained.flatMap { ri =>
            if (ri.isV2) ri.erefs.keySet
            else entryLines(ri.lines).map(parseManifestEntry(_)._2)
          }.toSet
          val liveLeaves: Set[String] = retained.flatMap(
            _.leafRefs.toSeq.map { case (b, le) => s"${le}_$b" }).toSet
          val leafDir = new Path(root, "_mleaf")
          intents.groupBy(_._1).foreach { case (e, is) =>
            if (!liveEpochs.contains(e))
              fs.delete(new Path(root, s"_e$e"), true)
            if (fs.exists(leafDir))
              Option(fs.globStatus(new Path(leafDir, s"${e}_*")))
                .getOrElse(Array.empty).foreach { st =>
                  if (!liveLeaves.contains(st.getPath.getName))
                    fs.delete(st.getPath, false)
                }
            is.foreach { case (_, p) => fs.delete(p, false) }
          }
        }
        fs.listStatus(root).foreach { st =>
          val name = st.getPath.getName
          if (name.startsWith("_manifest_")) {
            val n = name.stripPrefix("_manifest_")
            if (n.forall(_.isDigit) && n.nonEmpty && n.toLong < oldest)
              fs.delete(st.getPath, false)
          }
        }
        return
      }
      // — full walk —
      val refs: Set[(Long, String)] =
        (oldest to keep).filter(_ >= 0).flatMap { m =>
          entryLines(EpochManifest.readRoot(fs, root, m).toSeq
              .flatMap(EpochManifest.materialize(fs, root, _)))
            .map(parseManifestEntry).map { case (d, e) => (e, d) }
        }.toSet
      fs.listStatus(root).foreach { st =>
        val name = st.getPath.getName
        if (name.startsWith("_manifest_")) {
          val n = name.stripPrefix("_manifest_")
          if (n.forall(_.isDigit) && n.toLong < oldest)
            fs.delete(st.getPath, false)
        } else if (st.isDirectory && name.startsWith("_e") &&
            name.stripPrefix("_e").forall(_.isDigit) &&
            name.stripPrefix("_e").nonEmpty) {
          val e = name.stripPrefix("_e").toLong
          // only KEPT partition dirs count as live: Spark's _SUCCESS
          // (and any other stray file) must not pin an emptied epoch
          // dir forever — the recursive delete below removes them with
          // the dir once no referenced partition remains
          var keptParts = 0
          fs.listStatus(st.getPath).foreach { c =>
            val cn = c.getPath.getName
            if (c.isDirectory && cn.contains("=")) {
              if (refs((e, cn))) keptParts += 1
              else fs.delete(c.getPath, true)
            }
          }
          if (keptParts == 0) fs.delete(st.getPath, true)
        }
      }
      // the walk above reclaimed every unreferenced epoch dir itself,
      // so all pending orphan intents are satisfied — drop them
      EpochManifest.listIntents(fs, root)
        .foreach { case (_, p) => fs.delete(p, false) }
      // v2 extras the walk also heals: leaves no surviving manifest
      // references (including crash orphans no ledger can name) and
      // processed/stale ledgers
      val leafDir = new org.apache.hadoop.fs.Path(root, "_mleaf")
      if (fs.exists(leafDir)) {
        val live: Set[String] = fs.listStatus(root).flatMap { st =>
          val n = st.getPath.getName
          if (n.startsWith("_manifest_") &&
              n.stripPrefix("_manifest_").forall(_.isDigit) &&
              n.stripPrefix("_manifest_").nonEmpty)
            EpochManifest.readRoot(fs, root,
                n.stripPrefix("_manifest_").toLong)
              .map(_.leafRefs.toSeq.map { case (b, le) => s"${le}_$b" })
              .getOrElse(Seq.empty)
          else Seq.empty
        }.toSet
        fs.listStatus(leafDir).foreach { st =>
          if (!live.contains(st.getPath.getName))
            fs.delete(st.getPath, false)
        }
        val sweepDir = new org.apache.hadoop.fs.Path(root, "_sweep")
        if (fs.exists(sweepDir)) fs.listStatus(sweepDir).foreach { st =>
          val n = st.getPath.getName
          if (n.startsWith("e") && n.drop(1).forall(_.isDigit) &&
              n.length > 1 && n.drop(1).toLong <= oldest)
            fs.delete(st.getPath, false)
        }
      }
    } catch { case _: Throwable => () }

  /** The epoch manifest: every manifested table's one source of truth
    * for which epoch dir holds each partition, and the only module that
    * knows whether a manifest is one file (v1) or a root plus leaves
    * (v2). Readers and writers resolve a manifest through ONE read
    * entry — [[EpochManifest.active]] or [[EpochManifest.at]] gives the
    * root, `Root.slice(Want)` the leaves a caller needs — and never
    * branch on the format; only the publish ([[Upsert.commitEpoch]]'s
    * choice of `publish` or `publishDiff`) and the sweep do. */
  private[graft] object EpochManifest {
    import org.apache.hadoop.fs.Path
    private val Name = "_manifest_(\\d+)".r

    /** MANIFEST FILE TREE (VERDICT r18 #1). Below `shardThreshold`
      * per-dir lines a manifest is ONE text file exactly as before
      * (v1 — byte-identical, covering every small table). Above it,
      * the per-dir mass (entry lines, `#stats`, `#files`) shards into
      * [[LeafBuckets]] hash-bucketed immutable LEAF files under
      * `_mleaf/<epoch>_<bucket>`, and the root `_manifest_<epoch>`
      * keeps only the small lines (#ddl, #pmap, events, aggregates)
      * plus one `#leaf\t<bucket>\t<leafEpoch>` reference per
      * non-empty bucket — a publish that touches K dirs rewrites the
      * root (O(buckets)) and at most K leaves, never the O(live
      * partitions) text, and a pruned read loads only the buckets
      * holding its wanted dirs. Hash bucketing (String.hashCode —
      * spec-stable across JVMs) keeps bucket membership stable under
      * churn, so untouched buckets carry forward BY REFERENCE across
      * epochs (the Iceberg manifest-file shape, re-expressed for this
      * layout's dir-level granularity). v2 roots are marked by
      * `#leafn` and carry three aggregates the diff path maintains
      * incrementally: `#partcol` (the partition column, for
      * value→dir→bucket pruning without touching a leaf), `#statscols`
      * (the recorded zone-map columns), and `#eref\t<epoch>\t<n>`
      * (how many entries reference each epoch dir — the sweep's
      * whole-dir-drop evidence and the pmap pruning source). */
    private[operators] val LeafBuckets = 256
    @volatile private[graft] var shardThreshold = 2048
    private val LeafDirName = "_mleaf"

    def bucketOf(dir: String): Int =
      (dir.hashCode & Int.MaxValue) % LeafBuckets

    /** The partition-dir key a line belongs to, or None for a small
      * (root-resident) line. Per-dir lines: `#stats\t<dir>\t…`,
      * `#files\t<dir>\t…`, and entry lines `<dir>\t<epoch>` where the
      * dir carries a `=`. SCD2 token lines (no tab) and every other
      * `#` line stay in the root. */
    def dirKeyOf(line: String): Option[String] =
      if (line.startsWith("#stats\t") || line.startsWith("#files\t")) {
        val a = line.split("\t", 4)
        if (a.length >= 2 && a(1).nonEmpty) Some(a(1)) else None
      } else if (!line.startsWith("#")) {
        val i = line.lastIndexOf('\t')
        if (i > 0 && line.lastIndexOf('=', i) >= 0)
          Some(line.substring(0, i))
        else None
      } else None

    /** Parsed root file: its verbatim lines, leaf references, and the
      * small lines with the leaf bookkeeping stripped. */
    final case class RootInfo(lines: Seq[String],
                              leafRefs: Map[Int, Long], isV2: Boolean) {
      def small: Seq[String] = lines.filterNot(l =>
        l.startsWith("#leaf\t") || l.startsWith("#leafn\t"))
      def erefs: Map[Long, Long] =
        lines.filter(_.startsWith("#eref\t")).map { l =>
          val a = l.split("\t", -1)
          (a(1).toLong, a(2).toLong)
        }.toMap
      def partColOpt: Option[String] =
        lines.find(_.startsWith("#partcol\t"))
          .map(_.stripPrefix("#partcol\t"))
      def statsColsRec: Seq[String] =
        lines.find(_.startsWith("#statscols\t"))
          .map(_.stripPrefix("#statscols\t")).filter(_.nonEmpty)
          .map(_.split(",", -1).toSeq).getOrElse(Seq.empty)
    }

    private def parseRoot(lines: Seq[String]): RootInfo = {
      val refs = lines.filter(_.startsWith("#leaf\t")).map { l =>
        val a = l.split("\t", -1)
        (a(1).toInt, a(2).toLong)
      }.toMap
      RootInfo(lines, refs, lines.exists(_.startsWith("#leafn\t")))
    }

    /** Root file of manifest `epoch`, or None if absent — the publish
      * and sweep paths' view, which works on the format itself. */
    def readRoot(fs: org.apache.hadoop.fs.FileSystem, root: Path,
                 epoch: Long): Option[RootInfo] =
      readLines(fs, new Path(root, s"_manifest_$epoch"))
        .map(parseRoot)

    /** Leaf files loaded since JVM start — the probe counter behind
      * the zone-map/CDF pruning claims (VERDICT r19 #2): wall time
      * alone cannot distinguish "pruned the leaves" from "the machine
      * was fast"; this can. One volatile add per leaf read, nothing
      * in the row path. */
    private[graft] val leafReadCount =
      new java.util.concurrent.atomic.AtomicLong(0)

    /** One REFERENCED leaf file's lines. Every caller passes a ref
      * taken from a root's `#leaf` lines (an unreferenced bucket never
      * reaches here — callers map over `leafRefs`), so an absent FILE
      * is metadata loss (swept out from under a lazy reader, or
      * damaged), not an empty bucket: reading it as empty would
      * silently serve a partial table with whole buckets of partitions
      * missing from every read path (ADVICE r19, medium). Throw the
      * same loud shape as a swept manifest instead. */
    def readLeaf(fs: org.apache.hadoop.fs.FileSystem, root: Path,
                 leafEpoch: Long, bucket: Int): Seq[String] = {
      leafReadCount.incrementAndGet()
      readLines(fs, new Path(new Path(root, LeafDirName),
        s"${leafEpoch}_$bucket")).getOrElse(throw
        new IllegalStateException(
          s"manifest leaf ${leafEpoch}_$bucket under $root/" +
            s"$LeafDirName is missing or already swept (raise the " +
            "merge's retain knob to keep more history) — refusing " +
            "to read a partial table"))
    }

    /** Which leaf buckets [[Root.slice]] loads beside the root. A v1
      * manifest is its own root, so every want loads nothing there. */
    sealed trait Want
    object Want {
      /** Every bucket: a full-table read or rewrite. */
      case object All extends Want
      /** The buckets holding these partition dirs. */
      final case class Dirs(dirs: Iterable[String]) extends Want
      /** The buckets holding these partition values' dirs; all of them
        * when the root does not record the partition column. */
      final case class Values(values: Seq[String]) extends Want
      /** The buckets whose `#bstats` zone map for `column` passes
        * `keep(min, max)`; a bucket without one always loads. */
      final case class Zone(column: String,
                            keep: (String, String) => Boolean) extends Want
      /** The buckets whose leaf differs from `other`'s — a diff's
        * endpoints: a bucket both carry by the same reference holds the
        * same dirs at the same epochs on both sides. */
      final case class Changed(other: Root) extends Want
    }

    /** THE READ ENTRY. Every manifested reader and writer resolves its
      * manifest here — [[active]] or [[at]] gives the [[Root]], whose
      * `lines` answer the root-resident facts (epoch, `#ddl`, `#pmap`,
      * the `#rename`/`#dropcol`/`#widen` events) without loading a
      * leaf, and whose `slice` loads the buckets a [[Want]] names, in
      * parallel, each leaf parsed on its loading thread. Whether a
      * manifest is one file (v1) or a tree (v2) is decided here and in
      * the publish and sweep paths below; no reader branches on it.
      *
      * The active manifest's root, or None for an uninitialized
      * table. */
    def active(fs: org.apache.hadoop.fs.FileSystem,
               root: Path): Option[Root] = {
      if (!fs.exists(root)) return None
      val manifests = fs.listStatus(root).flatMap { st =>
        st.getPath.getName match {
          case Name(n) => Some(n.toLong -> st.getPath)
          case _ => None
        }
      }
      if (manifests.isEmpty) None
      else {
        val (epoch, p) = manifests.maxBy(_._1)
        readLines(fs, p).map(ls => new Root(fs, root, epoch, parseRoot(ls)))
      }
    }

    /** Manifest `epoch`'s root — loudly, on resolution, when it is gone
      * (time travel and the change feed past the retention window). */
    def at(fs: org.apache.hadoop.fs.FileSystem, root: Path,
           epoch: Long): Root =
      new Root(fs, root, epoch, readRoot(fs, root, epoch).getOrElse(
        throw new IllegalStateException(
          s"no manifest $epoch under $root — missing or already swept " +
            "(raise the merge's retain knob to keep more history)")))

    /** One resolved manifest root; see [[active]]. */
    final class Root private[EpochManifest] (
        fs: org.apache.hadoop.fs.FileSystem, dir: Path,
        val epoch: Long, val info: RootInfo) {
      /** The root-resident lines: on a v1 manifest, every line. */
      def lines: Seq[String] = if (info.isV2) info.small else info.lines

      def slice(want: Want): Slice = {
        val buckets: Iterable[Int] =
          if (!info.isV2) Nil
          else want match {
            case Want.All => info.leafRefs.keys
            case Want.Dirs(dirs) => dirs.map(bucketOf)
            case Want.Values(vs) => info.partColOpt.fold(info.leafRefs.keys)(
              pc => partitionDirsOf(pc, vs).map(bucketOf))
            case Want.Zone(column, keep) =>
              val zones = info.lines.filter(_.startsWith("#bstats\t")).map { l =>
                val a = l.split("\t", -1)
                import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
                ((a(1).toInt, a(2)), (ExternalCatalogUtils.unescapePathName(a(3)),
                  ExternalCatalogUtils.unescapePathName(a(4))))
              }.toMap
              info.leafRefs.keys.filter(b => zones.get((b, column)).forall(keep.tupled))
            case Want.Changed(other) =>
              if (!other.info.isV2) info.leafRefs.keys
              else (0 until LeafBuckets).filter(b =>
                info.leafRefs.get(b) != other.info.leafRefs.get(b))
          }
        Slice(this, parMap(buckets.toSeq.distinct.sorted) { b =>
          b -> new Leaf(info.leafRefs.get(b).fold(Seq.empty[String])(
            le => readLeaf(fs, dir, le, b)))
        }.toMap)
      }
    }

    /** One loaded leaf, its entries and file inventories parsed once on
      * the loading thread (at 10⁶ dirs a single-threaded re-scan of the
      * concatenated lines was the whole resolution cost). */
    final class Leaf(val lines: Seq[String]) {
      val entries: Seq[(String, Long)] =
        entryLines(lines).map(parseManifestEntry)
      val files: Map[(String, Long), Seq[(String, Long)]] = filesOf(lines)
    }

    /** A manifest as a reader or writer of some partition dirs needs
      * it: the root plus the loaded leaves, keyed by bucket. The root
      * and the leaves partition the dir space disjointly (a v1 root
      * holds every dir, a v2 root none), so entries concatenate and
      * inventories union. */
    final case class Slice(root: Root, leaves: Map[Int, Leaf]) {
      def epoch: Long = root.epoch
      def info: RootInfo = root.info
      private def loaded: Seq[Leaf] = leaves.toSeq.sortBy(_._1).map(_._2)
      /** The root-resident lines plus the loaded leaves' lines. */
      lazy val lines: Seq[String] = root.lines ++ loaded.flatMap(_.lines)
      lazy val entries: Seq[(String, Long)] =
        entryLines(root.lines).map(parseManifestEntry) ++
          loaded.flatMap(_.entries)
      lazy val files: Map[(String, Long), Seq[(String, Long)]] =
        loaded.foldLeft(filesOf(root.lines))(_ ++ _.files)
      def ddl: Option[String] = ddlOf(root.lines)
      lazy val schema: Option[org.apache.spark.sql.types.StructType] =
        ddl.map(org.apache.spark.sql.types.StructType.fromDDL)
      lazy val pmap: Map[Long, Map[String, String]] = pmapOf(root.lines)
      /** The zone-map columns a rewrite maintains: the tree root's
        * record, or the columns a single file's `#stats` lines name. */
      def statsCols: Seq[String] =
        if (info.isV2) info.statsColsRec else statsColsOf(info.lines)
    }

    /** Bounded parallel map for leaf IO: a full materialization reads
      * up to [[LeafBuckets]] small files — sequential round-trips
      * dominate on an object store (and measurably on local FS at
      * 10⁵ dirs). Hadoop FileSystem instances are thread-safe for
      * reads. */
    private def parMap[A, B](items: Seq[A], par: Int = 16)(
        f: A => B): Seq[B] =
      if (items.size <= 1) items.map(f)
      else {
        val pool = java.util.concurrent.Executors
          .newFixedThreadPool(math.min(par, items.size))
        // unwrap the pool's ExecutionException so a loud per-leaf
        // failure (missing referenced leaf, ADVICE r19) keeps its
        // original type and message for the caller
        try items.map(a => pool.submit(
            new java.util.concurrent.Callable[B] { def call(): B = f(a) }))
          .map(fut => try fut.get() catch {
            case e: java.util.concurrent.ExecutionException
                if e.getCause != null => throw e.getCause
          })
        finally pool.shutdown()
      }

    /** Per-bucket zone-map aggregates, `#bstats\t<bucket>\t<col>\t
      * <mn>\t<mx>` — the LEAF tier of [[Upsert.readManifestedRange]]'s
      * pruning ([[Want.Zone]]): min-of-mins/max-of-maxs over a bucket's
      * dirs, emitted ONLY when every dir in the bucket carries a
      * `#stats` line for the column (an all-null partition records none
      * and must never be pruned — the bucket then always loads;
      * conservative). Aggregation uses [[Upsert.statsComparator]], the
      * exact comparator the range reader prunes with. */
    def bstatsLines(small: Seq[String],
                    buckets: Map[Int, Seq[String]]): Seq[String] = {
      val types = ddlOf(small)
        .map(org.apache.spark.sql.types.StructType.fromDDL)
        .map(_.fields.map(f =>
          f.name.toLowerCase -> f.dataType).toMap)
        .getOrElse(Map.empty[String,
          org.apache.spark.sql.types.DataType])
      buckets.toSeq.sortBy(_._1).flatMap { case (b, ls) =>
        val dirs = entryLines(ls).map(parseManifestEntry).map(_._1)
        if (dirs.isEmpty) Seq.empty
        else {
          val st = statsOf(ls)
          st.keys.map(_._2).toSet.toSeq.sorted.flatMap { c =>
            val cmpOpt = types.get(c.toLowerCase)
              .flatMap(statsComparator)
            if (cmpOpt.isEmpty ||
                !dirs.forall(d => st.contains((d, c)))) None
            else {
              val cmp = cmpOpt.get
              val vals = dirs.map(d => st((d, c)))
              val mn = vals.map(_._1)
                .reduce((a, x) => if (cmp(a, x) <= 0) a else x)
              val mx = vals.map(_._2)
                .reduce((a, x) => if (cmp(a, x) >= 0) a else x)
              import org.apache.spark.sql.catalyst.catalog
                .ExternalCatalogUtils
              Some(s"#bstats\t$b\t$c\t" +
                s"${ExternalCatalogUtils.escapePathName(mn)}\t" +
                ExternalCatalogUtils.escapePathName(mx))
            }
          }
        }
      }
    }

    /** Materialize a root's full logical line set (small lines + all
      * referenced leaves' lines, without the tree's aggregates) — what
      * the full-line publish, the ledger repair and the full-walk sweep
      * diff; v1 manifests pass through verbatim. */
    private[graft] def materialize(fs: org.apache.hadoop.fs.FileSystem,
                                   root: Path, info: RootInfo): Seq[String] =
      if (!info.isV2) info.lines
      else info.small.filterNot(l => l.startsWith("#eref\t") ||
          l.startsWith("#partcol\t") || l.startsWith("#statscols\t") ||
          l.startsWith("#bstats\t")) ++
        parMap(info.leafRefs.toSeq.sortBy(_._1)) { case (b, le) =>
          readLeaf(fs, root, le, b) }.flatten

    private def readLines(fs: org.apache.hadoop.fs.FileSystem,
                          p: Path): Option[Seq[String]] = {
      // TOCTOU-tolerant: losing an exists/open race to a concurrent
      // sweep reads as absent, exactly like the pre-check
      val in =
        try fs.open(p)
        catch { case _: java.io.FileNotFoundException => return None }
      val body = try {
        val buf = new java.io.ByteArrayOutputStream()
        val tmp = new Array[Byte](8192)
        var n = in.read(tmp)
        while (n >= 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
        new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
      } finally in.close()
      Some(body.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq)
    }

    private def writeFile(fs: org.apache.hadoop.fs.FileSystem, p: Path,
                          lines: Seq[String]): Unit = {
      val out = fs.create(p, true)
      try out.write((lines.mkString("\n") + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }

    /** Write one immutable leaf file for `epoch`/`bucket`. Safe to
      * overwrite: nothing references `_mleaf/<epoch>_<b>` until the
      * epoch's ROOT rename lands, and a crashed attempt's retry
      * recreates the same name. */
    def writeLeaf(fs: org.apache.hadoop.fs.FileSystem, root: Path,
                  epoch: Long, bucket: Int, lines: Seq[String]): Unit = {
      fs.mkdirs(new Path(root, LeafDirName))
      writeFile(fs, new Path(new Path(root, LeafDirName),
        s"${epoch}_$bucket"), lines)
    }

    /** Atomic CAS publish of a fully-assembled ROOT file: write
      * `_manifest_<epoch>.tmp`, rename to the final name, then VERIFY
      * the published content is ours. The rename is the
      * optimistic-concurrency gate on filesystems that refuse an
      * existing destination (HDFS, object stores); on the local
      * filesystem `File.renameTo` silently REPLACES an existing file,
      * so the pre-check and the read-back are what turn a racing
      * second writer into a loud loser there too (VERDICT r18 #6) —
      * the loser's fully-written epoch dir and leaves are
      * unreferenced garbage the sweep/compact reclaims, never a
      * silent lost update. Single-writer remains the supported
      * contract; this makes a violation loud instead of corrupting. */
    def publishRoot(fs: org.apache.hadoop.fs.FileSystem, root: Path,
                    epoch: Long, tokens: Seq[String]): Unit = {
      fs.mkdirs(root)
      val tmp = new Path(root, s"_manifest_$epoch.tmp")
      writeFile(fs, tmp, tokens)
      val dst = new Path(root, s"_manifest_$epoch")
      def lost(detail: String): Nothing =
        throw new java.io.IOException(
          s"manifest publish failed for epoch $epoch under $root — " +
            s"$detail. A concurrent writer published this epoch " +
            "first: re-read the active manifest and retry against " +
            "the new head (this attempt's epoch dir and leaves are " +
            "unreferenced garbage the sweep reclaims).")
      if (fs.exists(dst)) { fs.delete(tmp, false); lost("the epoch is already published") }
      // ATOMIC create-if-absent on the local FS (ADVICE r19, low): a
      // local rename silently REPLACES an existing destination, and
      // the read-back could certify both racers — the winner verifies
      // its content, then the loser's rename replaces it and verifies
      // ITS content; both "succeed" and the first publish is silently
      // lost. A hard link is one atomic link(2) that REFUSES an
      // existing destination: exactly one publisher wins, and the
      // winner's content is its own by construction (no read-back
      // window at all). Only reachable with the lease already broken
      // — this makes even that loud. A mount without hard-link
      // support (FUSE, VFAT, some network mounts under file://)
      // throws a non-already-exists FileSystemException — fall back
      // to the rename + read-back path those mounts always used.
      val linked =
        if (!graft.operators.StagedCommit.isLocalFs(fs)) false
        else try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(dst.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            fs.delete(tmp, false)
            lost("the epoch is already published")
          case _: UnsupportedOperationException => false
          case _: java.nio.file.FileSystemException => false
        }
      if (linked) {
        // the publish is COMMITTED (dst links the content); a failed
        // tmp cleanup must not read as a failed publish — the retry
        // would die on the exists pre-check with a misleading
        // concurrent-writer message
        try fs.delete(tmp, false)
        catch { case _: java.io.IOException => () }
      } else {
        // remote FSes (and linkless local mounts): HDFS rename
        // refuses an existing destination atomically; the read-back
        // is belt-and-braces for anything weaker. Compare in the
        // reader's canonical form (trimmed, no blanks) — a token with
        // trailing whitespace must not read as a lost race.
        if (!fs.rename(tmp, dst))
          throw new java.io.IOException(
            s"manifest publish failed for epoch $epoch under $root — " +
              "the filesystem rejected the rename")
        val back = readLines(fs, dst).getOrElse(Seq.empty)
        if (back != tokens.map(_.trim).filter(_.nonEmpty))
          lost("the published content is not ours " +
            "(lost a rename race)")
      }
    }

    /** Compatibility publish from a FULL logical line set: shards into
      * the file tree when the per-dir mass crosses `shardThreshold`
      * (or the table is already sharded — once v2, always v2), else
      * writes the v1 single file byte-identically to the pre-tree
      * format. Sharding compares each bucket's content against the
      * previous epoch's leaf and carries unchanged buckets by
      * reference, so even this full-line path writes only changed
      * leaves; it also writes the sweep ledger from the full diff.
      * Every v1 publish, the v1→v2 transition, and the rare O(N)-CPU
      * metadata paths (rename, drop) go through here; a rewrite of a
      * v2 tree ([[Upsert.commitEpoch]]) uses [[publishDiff]] instead. */
    def publish(fs: org.apache.hadoop.fs.FileSystem, root: Path,
                epoch: Long, tokens: Seq[String]): Unit = {
      val prev = if (epoch == 0) None else readRoot(fs, root, epoch - 1)
      val (perDir, small0) = tokens.partition(dirKeyOf(_).isDefined)
      // stale aggregates from a materialized v2 input are regenerated
      // below, never carried through the full-line path
      val small = small0.filterNot(_.startsWith("#bstats\t"))
      if (perDir.size <= shardThreshold && !prev.exists(_.isV2)) {
        publishRoot(fs, root, epoch, tokens)
        return
      }
      val byBucket = perDir.groupBy(l => bucketOf(dirKeyOf(l).get))
      val prevRefs = prev.map(_.leafRefs).getOrElse(Map.empty)
      val refs = Map.newBuilder[Int, Long]
      val replacedLeaves = Seq.newBuilder[String]
      (0 until LeafBuckets).foreach { b =>
        val content = byBucket.getOrElse(b, Seq.empty).sorted
        val prevContent = prevRefs.get(b)
          .map(le => readLeaf(fs, root, le, b).sorted)
        if (content.nonEmpty && prevContent.contains(content))
          refs += b -> prevRefs(b) // carried by reference, no write
        else {
          prevRefs.get(b).foreach(le => replacedLeaves += s"${le}_$b")
          if (content.nonEmpty) {
            writeLeaf(fs, root, epoch, b, content)
            refs += b -> epoch
          }
        }
      }
      val erefs = perDir.flatMap { l =>
        if (l.startsWith("#")) None
        else Some(parseManifestEntry(l)._2)
      }.groupBy(identity).map { case (e, es) => (e, es.size.toLong) }
      val statsCols = small.find(_.startsWith("#statscols\t"))
        .map(_ => Seq.empty[String]) // caller-supplied aggregate wins
        .getOrElse(statsColsOf(perDir))
      val partColLine = perDir.collectFirst {
        case l if !l.startsWith("#") =>
          val d = parseManifestEntry(l)._1
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .unescapePathName(d.takeWhile(_ != '='))
      }.map(pc => s"#partcol\t$pc").toSeq
      val rootLines = small.filterNot(l => l.startsWith("#eref\t") ||
          l.startsWith("#partcol\t")) ++
        partColLine ++
        (if (small.exists(_.startsWith("#statscols\t")) ||
            statsCols.isEmpty) Seq.empty
         else Seq(s"#statscols\t${statsCols.mkString(",")}")) ++
        erefs.toSeq.sortBy(_._1).map { case (e, n) => s"#eref\t$e\t$n" } ++
        bstatsLines(small, byBucket) ++
        Seq(s"#leafn\t$LeafBuckets") ++
        refs.result().toSeq.sortBy(_._1).map { case (b, le) =>
          s"#leaf\t$b\t$le" }
      publishRoot(fs, root, epoch, rootLines)
      // sweep ledger from the full diff: dir slots the previous
      // manifest referenced that this one does not, plus replaced
      // leaf files
      val prevEntries = prev.map(pi => entryLines(materialize(fs, root,
        pi)).map(parseManifestEntry).toSet).getOrElse(Set.empty)
      val newEntries = perDir.filterNot(_.startsWith("#"))
        .map(parseManifestEntry).toSet
      writeLedger(fs, root, epoch,
        (prevEntries -- newEntries).toSeq.map(_.swap),
        replacedLeaves.result())
    }

    /** DIFF PUBLISH — the per-batch path: rewrites only the buckets
      * whose dirs changed, carries every other leaf by reference from
      * the previous root, and assembles the new root from
      * caller-maintained aggregates. `changedBuckets` maps bucket →
      * its complete NEW content (empty seq drops the bucket);
      * `releasedSlots` are the (epochDir, dir) pairs this publish
      * unreferences — they seed the sweep ledger together with the
      * replaced leaf files. O(touched dirs + buckets) filesystem work
      * regardless of table width. */
    def publishDiff(fs: org.apache.hadoop.fs.FileSystem, root: Path,
                    epoch: Long, prev: RootInfo,
                    small: Seq[String],
                    changedBuckets: Map[Int, Seq[String]],
                    erefs: Map[Long, Long], partCol: String,
                    statsCols: Seq[String],
                    releasedSlots: Seq[(String, Long)]): Unit = {
      val replacedLeaves = Seq.newBuilder[String]
      val refs = collection.mutable.Map[Int, Long](prev.leafRefs.toSeq: _*)
      changedBuckets.foreach { case (b, content) =>
        prev.leafRefs.get(b).foreach(le => replacedLeaves += s"${le}_$b")
        if (content.isEmpty) refs -= b
        else { writeLeaf(fs, root, epoch, b, content.sorted); refs += b -> epoch }
      }
      // bucket zone maps: carry the untouched buckets' aggregates
      // verbatim from the previous root, regenerate exactly the
      // changed buckets' from their new content — O(touched), like
      // every other plane of the diff
      val changedSet = changedBuckets.keySet
      val carriedBstats = prev.lines.filter(l =>
        l.startsWith("#bstats\t") &&
          !changedSet.contains(l.split("\t", 4)(1).toInt))
      val freshBstats = bstatsLines(small,
        changedBuckets.filter(_._2.nonEmpty))
      val rootLines = small ++
        Seq(s"#partcol\t$partCol") ++
        (if (statsCols.isEmpty) Seq.empty
         else Seq(s"#statscols\t${statsCols.mkString(",")}")) ++
        erefs.filter(_._2 > 0).toSeq.sortBy(_._1).map { case (e, n) =>
          s"#eref\t$e\t$n" } ++
        carriedBstats ++ freshBstats ++
        Seq(s"#leafn\t$LeafBuckets") ++
        refs.toSeq.sortBy(_._1).map { case (b, le) => s"#leaf\t$b\t$le" }
      // crash windows, in publish order: leaves are on disk but the
      // root is not (readers still resolve the OLD manifest — new
      // leaves are unreferenced orphans until the root rename)…
      graft.FailPoint.hit("manifest_after_leaves")
      publishRoot(fs, root, epoch, rootLines)
      // …and the root is live but its sweep ledger is not (the next
      // sweep repairs the missing ledger by diffing the two roots)
      graft.FailPoint.hit("manifest_after_root")
      writeLedger(fs, root, epoch, releasedSlots.map(_.swap),
        replacedLeaves.result())
    }

    private val SweepDirName = "_sweep"

    /** The sweep ledger for one publish: exactly the slots that
      * publish unreferenced — `dir\t<epochDir>\t<dirName>` and
      * `leaf\t<leafFile>` lines. Written AFTER the root rename (a
      * ledger must never name slots a failed publish still leaves
      * referenced); a crash in between leaves a missing ledger the
      * next sweep repairs by diffing the two adjacent manifests —
      * O(changed buckets) for v2 pairs. Idempotent (tmp-less
      * overwrite of deterministic content). */
    def writeLedger(fs: org.apache.hadoop.fs.FileSystem, root: Path,
                    epoch: Long, slots: Seq[(Long, String)],
                    leaves: Seq[String]): Unit = {
      fs.mkdirs(new Path(root, SweepDirName))
      writeFile(fs, new Path(new Path(root, SweepDirName), s"e$epoch"),
        slots.sorted.map { case (e, d) => s"dir\t$e\t$d" } ++
          leaves.sorted.map(l => s"leaf\t$l"))
    }

    def ledgerPath(root: Path, epoch: Long): Path =
      new Path(new Path(root, SweepDirName), s"e$epoch")

    /** PRE-WRITE ORPHAN INTENT (VERDICT r19 #3) — written BEFORE a
      * publish's epoch-dir/leaf writes, naming the epoch number about
      * to be written (`_sweep/i<epoch>.<uuid>`; every leaf that
      * publish writes is deterministically named `<epoch>_<bucket>`,
      * so the number names the leaves too). A publish that died
      * before its manifest CAS used to leave debris NO ledger could
      * name — if a metadata-only op (rename/drop) then took that
      * epoch number, the `_e<epoch>` dir and stray leaves leaked
      * until compactManifested's full-walk sweep. With the intent on
      * disk, the NEXT ordinary publish's O(churn) sweep reclaims
      * them ([[Upsert.sweepManifested]] processIntents). Consumed
      * intents (the publish landed; retained manifests reference the
      * slots) delete without touching live data. Multiple intents for
      * one epoch (crash + retry) process idempotently. */
    def writeIntent(fs: org.apache.hadoop.fs.FileSystem, root: Path,
                    epoch: Long): Unit = {
      fs.mkdirs(new Path(root, SweepDirName))
      writeFile(fs, new Path(new Path(root, SweepDirName),
        s"i$epoch." + java.util.UUID.randomUUID().toString),
        Seq(s"epoch\t$epoch"))
    }

    /** All pending intent files as (epoch, path). */
    def listIntents(fs: org.apache.hadoop.fs.FileSystem,
                    root: Path): Seq[(Long, Path)] = {
      val sweepDir = new Path(root, SweepDirName)
      if (!fs.exists(sweepDir)) Seq.empty
      else fs.listStatus(sweepDir).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("i") && n.contains('.') &&
            n.substring(1, n.indexOf('.')).nonEmpty &&
            n.substring(1, n.indexOf('.')).forall(_.isDigit))
          Some(n.substring(1, n.indexOf('.')).toLong -> st.getPath)
        else None
      }
    }

    /** Recompute a missing ledger from the two adjacent manifests —
      * the crash-repair path. For a v2 pair only the buckets whose
      * refs differ are read. None when either manifest is gone
      * (already-swept territory — nothing to repair). */
    def repairLedger(fs: org.apache.hadoop.fs.FileSystem, root: Path,
                     epoch: Long): Boolean = {
      val prevI = readRoot(fs, root, epoch - 1)
      val curI = readRoot(fs, root, epoch)
      if (prevI.isEmpty || curI.isEmpty) return false
      val (pi, ci) = (prevI.get, curI.get)
      val (prevEnts, replacedLeaves) =
        if (pi.isV2 && ci.isV2) {
          val changed = pi.leafRefs.filter { case (b, le) =>
            !ci.leafRefs.get(b).contains(le) }
          (changed.toSeq.flatMap { case (b, le) =>
            entryLines(readLeaf(fs, root, le, b)).map(parseManifestEntry)
          }, changed.toSeq.map { case (b, le) => s"${le}_$b" })
        } else
          (entryLines(materialize(fs, root, pi)).map(parseManifestEntry),
            pi.leafRefs.toSeq.filter { case (b, le) =>
              !ci.leafRefs.get(b).contains(le) }
              .map { case (b, le) => s"${le}_$b" })
      val curEnts: Set[(String, Long)] =
        if (ci.isV2) {
          // only dirs in the changed buckets can have changed epochs
          val changedB = prevEnts.map(e => bucketOf(e._1)).toSet
          changedB.flatMap(b => ci.leafRefs.get(b).toSeq.flatMap(le =>
            entryLines(readLeaf(fs, root, le, b))
              .map(parseManifestEntry))).toSet
        } else entryLines(materialize(fs, root, ci))
          .map(parseManifestEntry).toSet
      writeLedger(fs, root, epoch,
        prevEnts.filterNot(curEnts.contains)
          .map { case (d, e) => (e, d) },
        replacedLeaves)
      true
    }

    /** SCD2 GC (best-effort): drop epochs and manifests older than
      * `keep`, and every `closed/` delta whose token `listed` (the just-
      * published manifest's tokens) lacks. Each manifest extends the
      * previous one's list, so an unlisted delta is visible to no
      * retained manifest: a merge killed after its closed append whose
      * epoch a different batch then took. Its files, marker and staging
      * dir all carry the token; under the writer lease none can belong
      * to an in-flight append. */
    def sweep(fs: org.apache.hadoop.fs.FileSystem, root: Path,
              keep: Long, listed: Set[String]): Unit =
      try {
        fs.listStatus(root).foreach { st =>
          st.getPath.getName match {
            case Name(n) if n.toLong < keep => fs.delete(st.getPath, false)
            case other if other.startsWith("current_e") &&
                other.stripPrefix("current_e").forall(_.isDigit) &&
                other.stripPrefix("current_e").toLong < keep =>
              fs.delete(st.getPath, true)
            case _ => ()
          }
        }
        val closed = new Path(root, "closed")
        if (fs.exists(closed)) fs.listStatus(closed).foreach { st =>
          val n = st.getPath.getName
          val token =
            if (n.startsWith("_delta_") && n.endsWith("_SUCCESS"))
              Some(n.stripPrefix("_delta_").stripSuffix("_SUCCESS"))
            else if (n.startsWith("_stage_")) Some(n.stripPrefix("_stage_"))
            else StagedCommit.deltaToken(n)
          if (token.exists(t => !listed.contains(t)))
            fs.delete(st.getPath, true)
        }
      } catch { case _: Throwable => () }
  }

  /** Snapshot diff — CDC extraction between two versions of a table:
    * the inverse of [[merge]]. Given `old` and `neu` snapshots sharing
    * a schema and a natural key, emits one row per CHANGED key with
    * `op` ∈ {I, U, D} and the row image (after-image for I/U,
    * before-image for D — the standard change-feed convention).
    * Unchanged keys are dropped before anything downstream sees them.
    *
    * Payload equality is the null-safe `<=>` conjunction over the
    * non-key columns — a scan-stage codegen predicate, no hashing
    * detour and no false positives from hash collisions.
    *
    * Scale: ONE equi-join on the key (AQE picks broadcast/skew
    * handling); the emitted change set is proportional to the churn,
    * not the table, so downstream consumers (e.g. [[merge]] replaying
    * the diff elsewhere) never touch the unchanged mass. This is the
    * reference's reconcile-then-load idea (`2.2
    * loading-lambda-for-mysql.py:304-316` upserts blindly; diffing
    * first ships only the delta).
    */
  def snapshotDiff(old: DataFrame, neu: DataFrame,
      keys: Seq[String]): DataFrame = {
    require(old.columns.toSeq == neu.columns.toSeq,
      s"snapshot schemas differ: ${old.columns.toSeq} vs ${neu.columns.toSeq}")
    require(keys.nonEmpty && keys.forall(old.columns.contains),
      s"keys $keys must be columns of the snapshots")
    val payload = old.columns.toSeq.filterNot(keys.contains)
    val o = old.withColumn("_o", lit(true)).alias("o")
    val n = neu.withColumn("_n", lit(true)).alias("n")
    val cond = keys.map(k => col(s"o.$k") <=> col(s"n.$k")).reduce(_ && _)
    val same = payload.map(c => col(s"o.$c") <=> col(s"n.$c"))
      .reduceOption(_ && _).getOrElse(lit(true))
    val op = when(col("_o").isNull, lit("I"))
      .when(col("_n").isNull, lit("D"))
      .when(!same, lit("U"))
    o.join(n, cond, "full_outer")
      .withColumn("op", op)
      .filter(col("op").isNotNull)
      .select(keys.map(k => coalesce(col(s"n.$k"), col(s"o.$k")).as(k)) ++
        payload.map(c =>
          when(col("op") === "D", col(s"o.$c")).otherwise(col(s"n.$c"))
            .as(c)) :+ col("op"): _*)
  }

  /** The CDC CONSUMER side — [[snapshotDiff]]'s inverse: apply an
    * I/U/D change set (same contract: key columns + after-image
    * payload, before-image for D, `op` column) to a snapshot. One
    * null-safe left-anti join drops every touched key (D removes, U
    * replaces, I cannot collide by the producer contract — a colliding
    * I is treated as U-like replacement rather than silently
    * duplicated), then the I/U after-images union in. IO ∝ snapshot +
    * change set — history-independent, the j10_scd2 merge posture; at
    * scale the anti join broadcasts the churn-sized key set, and the
    * partitioned-table form is [[mergeIntoPartitioned]] with the D
    * rows routed to its delete path. Law (spec + gate):
    * `applyChanges(old, snapshotDiff(old, neu), keys) == neu`. */
  def applyChanges(snapshot: DataFrame, changes: DataFrame,
      keys: Seq[String]): DataFrame = {
    require(changes.columns.contains("op"),
      "changes must carry the snapshotDiff op column")
    require(changes.columns.toSet - "op" == snapshot.columns.toSet,
      s"change-set schema ${changes.columns.toSeq} does not match " +
        s"snapshot ${snapshot.columns.toSeq} (+ op)")
    val touched = changes.selectExpr(keys: _*).dropDuplicates(keys).alias("c")
    val s = snapshot.alias("s")
    val cond = keys.map(k => col(s"s.$k") <=> col(s"c.$k")).reduce(_ && _)
    s.join(touched, cond, "left_anti")
      .unionByName(
        changes.filter(col("op") =!= "D").drop("op")
          .select(snapshot.columns.map(col): _*))
  }
}
