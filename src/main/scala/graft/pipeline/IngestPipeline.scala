package graft.pipeline

import graft.operators.Upsert
import graft.schema.PriceIndex
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** EP1 (SURVEY §3): the reference's core path — CSV arrival → validate →
  * stage → reconcile → upsert into the permanent table → report trigger →
  * archive — as one linear Spark pipeline. The Lambda/SQS/MySQL process
  * boundaries collapse into driver-side control flow; every data move is
  * a distributed read/write.
  *
  * Status protocol mirrors the loader's return codes
  * (`2.2 loading-lambda-for-mysql.py:185-190,246-251,282-289,332-337`):
  * 1 = loaded, 2 = skipped (dedup window / missing file), 0 = failed.
  *
  * Scale posture: the permanent table is parquet partitioned by `GEO`
  * (the reference's "split into sub tables" category, `R22:304-316`) so
  * report filters prune partitions; the merge resolves the staged rows
  * and the touched partitions' rows per natural key (max `_seq` wins)
  * and dynamically overwrites only those partitions.
  *
  * Job shape (the driver-sequenced fixed cost every file pays): a load
  * into an existing table is 3 Spark jobs — one over the cached CSV scan
  * for the reconcile counts and the clean rows' distinct GEOs (the
  * merge's touched partitions), then the merge's one exchange, shared
  * by the per-key aggregate and the partitioned write, and the write.
  * The table is read with its known schema, so no read pays a
  * footer-inference job, and the merge stages nothing before the
  * overwrite. The scan-path report export is 2 jobs (its aggregate's
  * exchange and the CSV write). Audit rows are driver-side files.
  */
object IngestPipeline {
  final case class LoadResult(status: Int, stage: Int, error: String,
                              totalRows: Long, corruptRows: Long)
  final case class RemainingFiles(pending: Seq[String], stale: Seq[String]) {
    def done: Boolean = pending.isEmpty
  }

  /** Crash-injection seams for the audit protocol's chaos spec live in
    * [[graft.FailPoint]] (shared with the SCD2 manifest chaos spec). */
  private[graft] val FailPoint = graft.FailPoint
  private[graft] type Kill = graft.FailPoint.Kill

  /** The permanent table's stored columns: the typed canonical columns
    * plus the delivery version `_seq` the merge resolves on. */
  private val storedSchema = PriceIndex.typedSchema
    .add("_seq", org.apache.spark.sql.types.LongType)
}

final class IngestPipeline(spark: SparkSession, warehouse: String,
                           maxErrors: Long = 5,
                           dedupWindowSeconds: Long = 1800,
                           notifier: graft.streaming.Notifier =
                             graft.streaming.Notifier.noop,
                           incrementalReport: Boolean = false,
                           reportCompactEvery: Int = 64) {
  import IngestPipeline.{LoadResult, RemainingFiles}

  val audit = new AuditLog(spark, s"$warehouse/log_for_loading")
  private def permanentPath = s"$warehouse/0_priceindex"
  private def reportStatePath = s"$warehouse/report_state"
  private val mergeLock = new Object
  private def now(): Long = System.currentTimeMillis()


  /** Wall-clock accumulator per load stage — the attribution the e2e
    * gate's drain budget was missing (VERDICT r14 #5): without
    * per-stage millis every suite-median drift on the most expensive
    * gate reads as a mystery. Driver-side nanos only; the cost is two
    * clock reads per stage transition. */
  private final class StageClock {
    private var cur = 0
    private var mark = System.nanoTime()
    private val acc = scala.collection.mutable.SortedMap.empty[Int, Long]
    private def flush(): Unit = {
      val t = System.nanoTime()
      acc(cur) = acc.getOrElse(cur, 0L) + (t - mark)
      mark = t
    }
    def advance(next: Int): Unit = { flush(); cur = next }
    def summary(): String = {
      flush()
      acc.map { case (s, n) => f"s$s=${n / 1e6}%.0fms" }.mkString(" ")
    }
  }

  /** The loader Lambda's whole body, stage-tagged like the reference
    * (`stage` 0..5, `R22:153,220,268,297,306,340`). */
  def load(csvPath: String): LoadResult = {
    import IngestPipeline.FailPoint
    var stage = 0
    val clock = new StageClock
    try {
      FailPoint.hit("s0_enter")
      // stage 0: existence probe (P6) — another worker may have consumed it
      val fs = new Path(csvPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(new Path(csvPath)))
        return LoadResult(2, stage, "file absent (already processed?)", 0, 0)

      // stage 1: dedup-suppression window (ST3, `R22:219-254`)
      stage = 1; clock.advance(1)
      // exact match: only the TERMINAL "loading" success row may
      // suppress a redelivery — the substring form also matched the
      // mid-flight "loading: temp table creation" row, so a kill
      // between temp append and merge starved the file for the whole
      // window (AuditChaosSpec)
      if (audit.checkStatus("loading", fileKey(csvPath),
          dedupWindowSeconds, now(), exact = true) == 1)
        return LoadResult(2, stage, "recent successful load — suppressed", 0, 0)
      FailPoint.hit("s1_after_suppress_check")

      // stage 2: scan + canonical projection (S4/S5/P1)
      stage = 2; clock.advance(2)
      FailPoint.hit("s2_before_reconcile")
      val raw = Ingest.readPriceIndexCsv(spark, csvPath)
      // one job: the reconcile counts plus the clean rows' distinct
      // GEOs, the partitions the merge touches
      val rec = Ingest.reconcile(raw, maxErrors, distinctCol = Some("GEO"))
      try {
      FailPoint.hit("s2_after_reconcile")
      if (!rec.ok) {
        audit.append("loading: reconcile", fileKey(csvPath), -1, now())
        FailPoint.hit("s2_fail_between_appends")
        // ST6 durable attempt counter: countFailures matches
        // event_source == "loading" EXACTLY, so the reconcile-failure
        // return path must also append the exact row the exception path
        // appends — otherwise the most common poison mode (corrupt rows
        // over budget) never increments the durable count and
        // quarantine state silently resets on driver restart.
        audit.append("loading", fileKey(csvPath), -1, now())
        FailPoint.hit("s2_fail_after_appends")
        return LoadResult(0, stage,
          s"${rec.corruptRows} corrupt rows > $maxErrors tolerated",
          rec.totalRows, rec.corruptRows)
      }
      // delivery version (EP1 determinism): the source file's mtime.
      // Merges resolve each natural key to the max-_seq row
      // (Upsert.mergeVersioned), so the table is a pure function of the
      // SET of files ever loaded — concurrent loads, redeliveries, and
      // out-of-order drains all land the same answer. The reference got
      // this from MySQL serializing its upserts (`R22:304-316`); with a
      // thread-pool of loaders the merge itself must be commutative.
      val seq = fs.getFileStatus(new Path(csvPath)).getModificationTime
      val staged = PriceIndex.typed(PriceIndex.project(rec.clean))
        .withColumn("_seq", lit(seq))
      audit.append("loading: temp table creation", fileKey(csvPath), 1, now())
      FailPoint.hit("s2_after_temp_append")

      // stage 3: upsert into permanent table (J1/S8), partition-aware:
      // only the GEO partitions present in this file are read and
      // atomically replaced — untouched partitions are never opened
      // (the plain-parquet analog of Delta MERGE file pruning).
      // The merge is the pipeline's one shared-table critical section:
      // concurrent loads (Watch's thread pool) may touch the same GEO
      // partition, and an unserialized read-modify-replace loses rows
      // outright. Stages 0-2 (the heavy distributed CSV work) stay
      // concurrent; WITHIN the lock, mergeVersioned makes the landed
      // table independent of which loader got the lock first.
      stage = 3; clock.advance(3)
      FailPoint.hit("s3_before_merge")
      mergeLock.synchronized {
        // incremental-report delta BEFORE the merge, same lock: the
        // pre-image must be the state this merge replaces, and the
        // appendOnce token ((file, seq) — content-stable) makes the
        // crash matrix sound in every window: a retry that runs
        // BEFORE its merge landed recomputes the identical delta; one
        // that runs AFTER sees pre == post but the committed first
        // delta already holds the truth and appendOnce no-ops.
        if (incrementalReport) {
          appendReportDelta(staged, rec.cleanValues, fileKey(csvPath), seq)
          FailPoint.hit("s3_after_report_delta")
        }
        Upsert.mergeIntoPartitionedTouched(spark, permanentPath, staged,
          PriceIndex.naturalKey, "GEO", "_seq", Some(rec.cleanValues))
      }
      FailPoint.hit("s3_after_merge")
      audit.append("loading: upsert", fileKey(csvPath), 1, now())
      FailPoint.hit("s3_between_appends")
      audit.append("loading", fileKey(csvPath), 1, now())
      FailPoint.hit("s3_after_final_append")
      LoadResult(1, stage, "", rec.totalRows, rec.corruptRows)
      // rec.release() runs on EVERY exit (success, reconcile-failure
      // return, exception): the cached raw scan is plan-keyed, so a
      // leaked entry would both pin memory per file for the pipeline's
      // lifetime AND serve stale bytes to a RETRY of the same path
      // whose on-disk content changed (a transiently-corrupt file that
      // got fixed would fail forever).
      } finally rec.release()
    } catch {
      case e: Exception =>
        audit.append("loading", fileKey(csvPath), -1, now())
        LoadResult(0, stage, Option(e.getMessage).getOrElse(e.toString), 0, 0)
    } finally {
      // one line per load: which stage owned the time (s0 probe,
      // s1 suppression window, s2 scan+reconcile, s3 merge+audit)
      System.err.println(
        s"[load] ${fileKey(csvPath)} ${clock.summary()}")
    }
  }

  /** The permanent table (partition-pruned scans for report filters).
    * `_seq` (the delivery version the merge resolves on) is internal
    * bookkeeping — dropped from the read surface. */
  def permanent(): DataFrame = stored().drop("_seq")

  /** The permanent table as stored, read with its schema: every load
    * writes `PriceIndex.typedSchema` plus `_seq`, so the read needs no
    * footer-inference job, and the `GEO` partition dirs read back as
    * the strings they were written from. */
  private def stored(): DataFrame =
    spark.read.schema(IngestPipeline.storedSchema).parquet(permanentPath)

  /** INCREMENTAL REPORT MAINTENANCE (VERDICT r15 #6, the reference's
    * report trigger made delta-sized): per load, the group-grain
    * (count, non-null-count, decimal sum) DELTA between the rows this
    * merge replaces (pre-image: touched GEO partitions semi-joined to
    * the staged keys) and the rows that win (the same mergeVersioned
    * resolution the table merge applies) appends to an append-only
    * state artifact under the load's (file, seq) token — exactly-once
    * by [[graft.operators.StagedCommit.appendOnce]], associative by
    * construction, so [[buildAndExportReport]] can serve ANY
    * (year, month, geo, category) parameterization from O(loads ×
    * changed groups) state rows instead of rescanning the table.
    * State grows one group-grain delta per load; compact by re-seeding
    * a fresh warehouse (or summing into a snapshot) when the delta
    * count dwarfs the group count — at the reference's cadence that is
    * years away. */
  private def appendReportDelta(staged: DataFrame, geos: Seq[String],
                                key: String, seq: Long): Unit = {
    val t0 = System.nanoTime()
    val fs = new Path(permanentPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pre =
      if (!fs.exists(new Path(permanentPath))) staged.limit(0)
      else stored()
        .filter(col("GEO").isin(geos: _*))
        .join(staged.select(PriceIndex.naturalKey.map(col): _*).distinct(),
          PriceIndex.naturalKey, "left_semi")
        .select(staged.columns.map(col): _*)
    val post = Upsert.mergeVersioned(pre, staged,
      PriceIndex.naturalKey, "_seq")
    def grain(df: DataFrame, sign: Int) = {
      val v = col("VALUE").cast("decimal(18,4)")
      df.select(year(col("Date")).as("y"), month(col("Date")).as("m"),
        col("GEO").as("geo"), col("Products").as("category"),
        lit(sign.toLong).as("_w"),
        (if (sign > 0) v else -v).as("_v"))
    }
    val delta = grain(post, 1).unionByName(grain(pre, -1))
      .groupBy(col("y"), col("m"), col("geo"), col("category"))
      .agg(sum(col("_w")).cast("long").as("_n"),
        sum(when(col("_v").isNotNull, col("_w")).otherwise(lit(0L)))
          .cast("long").as("_nv"),
        sum(col("_v")).cast("decimal(38,4)").as("_sum"))
    graft.operators.StagedCommit.appendOnce(reportStatePath,
      s"${key}_$seq", Seq.empty, delta.coalesce(1))
    System.err.println(f"[report_delta] $key computed+appended in " +
      f"${(System.nanoTime() - t0) / 1e6}%.0fms")
    // self-maintenance: once the live token count passes the knob,
    // fold the state back to one file — the census is a single dir
    // listing, so the check costs nothing on the loads that skip it
    if (reportCompactEvery > 0 &&
        reportStateCensus()._1.size >= reportCompactEvery) {
      val folded = compactReportState()
      System.err.println(s"[report_compact] folded $folded state deltas")
    }
  }

  /** State-dir census for the compaction protocol: committed tokens,
    * the subset covered by a VALID compact (compact data committed AND
    * its `_covers_` file present — the two-phase rule that makes every
    * crash window read consistently), and the data files of the
    * included remainder. */
  private def reportStateCensus()
      : (Set[String], Seq[org.apache.hadoop.fs.Path]) = {
    val p = new Path(reportStatePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return (Set.empty, Seq.empty)
    val listing = fs.listStatus(p).toSeq
    val names = listing.map(_.getPath.getName)
    val committed = names.collect {
      case n if n.startsWith("_delta_") && n.endsWith("_SUCCESS") =>
        n.stripPrefix("_delta_").stripSuffix("_SUCCESS")
    }.toSet
    val coversPresent = names.collect {
      case n if n.startsWith("_covers_") && !n.endsWith(".tmp") =>
        n.stripPrefix("_covers_")
    }.toSet
    val covered = coversPresent.filter(committed.contains).flatMap { t =>
      val in = fs.open(new Path(p, s"_covers_$t"))
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().toSeq.filter(_.nonEmpty)
      finally in.close()
    }
    // a compact whose covers file never landed is IGNORED (its
    // originals still serve) — the other half of the two-phase rule;
    // without this the crash window between the compact's commit and
    // its covers flip would double-count every covered row
    val included = committed
      .filterNot(t => t.startsWith("compact_") && !coversPresent.contains(t))
      .diff(covered)
    val files = listing.filter(_.isFile).map(_.getPath).filter { f =>
      graft.operators.StagedCommit.deltaToken(f.getName)
        .exists(included.contains)
    }
    (included, files)
  }

  /** COMPACT the incremental report state: sum every included delta
    * into one snapshot delta, committed under a token derived from the
    * covered set, then flip readers to it with one atomic `_covers_`
    * rename and sweep the covered DATA files. Crash-consistent at
    * every window: a committed compact without its covers file is
    * ignored (originals serve), with it the originals are excluded
    * (their leftover files sweep lazily). Covered tokens' MARKERS are
    * kept forever — they are the exactly-once fence against a late
    * redelivery of an old load re-appending its delta; they cost one
    * empty file per load. Compacts are themselves compactable, so the
    * live file count returns to 1 each time. */
  def compactReportState(): Int = mergeLock.synchronized {
    val (included, files) = reportStateCensus()
    if (included.size <= 1) return 0
    val p = new Path(reportStatePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // sweep GHOST compacts (data committed, covers never flipped):
    // readers already ignore them, and once newer deltas land their
    // retry would mint a different token, so nothing else reclaims
    // them. Single-maintainer contract (this lock; the repo-wide
    // artifact rule) means no concurrent compactor's in-flight commit
    // can be mistaken for a ghost.
    val names = fs.listStatus(p).toSeq.map(_.getPath.getName)
    val coversPresent = names.collect {
      case n if n.startsWith("_covers_") && !n.endsWith(".tmp") =>
        n.stripPrefix("_covers_")
    }.toSet
    names.collect {
      case n if n.startsWith("_delta_compact_") && n.endsWith("_SUCCESS") =>
        n.stripPrefix("_delta_").stripSuffix("_SUCCESS")
    }.filterNot(coversPresent.contains).foreach { ghost =>
      fs.listStatus(p).foreach { st =>
        if (st.isFile && graft.operators.StagedCommit
            .deltaToken(st.getPath.getName).contains(ghost))
          fs.delete(st.getPath, false)
      }
      fs.delete(new Path(p, s"_delta_${ghost}_SUCCESS"), false)
    }
    val snapshot = spark.read.parquet(files.map(_.toString): _*)
      .groupBy(col("y"), col("m"), col("geo"), col("category"))
      .agg(sum(col("_n")).cast("long").as("_n"),
        sum(col("_nv")).cast("long").as("_nv"),
        sum(col("_sum")).cast("decimal(38,4)").as("_sum"))
    val tok = "compact_" + java.security.MessageDigest.getInstance("MD5")
      .digest(included.toSeq.sorted.mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    graft.operators.StagedCommit.appendOnce(reportStatePath, tok,
      Seq.empty, snapshot.coalesce(1))
    // the atomic flip: temp-write + rename, so a reader never sees a
    // partial covered list (a truncated list would double-count the
    // missing tokens' rows against the compact that already holds them)
    val covers = new Path(p, s"_covers_$tok")
    if (!fs.exists(covers)) {
      val tmp = new Path(p, s"_covers_$tok.tmp")
      val out = fs.create(tmp, true)
      try out.write(included.toSeq.sorted.mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      // Hadoop rename signals failure by RETURNING false, not throwing
      // (ADVICE r16): sweeping the covered delta files below without
      // this check would silently lose every covered load's rows — the
      // census ignores an uncovered compact by the two-phase rule.
      if (!fs.rename(tmp, covers) && !fs.exists(covers))
        throw new IllegalStateException(
          s"compactReportState: covers flip failed for $tok — leaving " +
            "covered delta files in place (the ghost sweep reclaims the " +
            "compact data on the next run)")
    }
    files.foreach(f => fs.delete(f, false))
    included.size
  }

  /** The report base re-derived from the incremental state: summing
    * the per-load deltas is the same fold in any order (associative),
    * and a group whose count nets to zero left the table. `avg_value`
    * reproduces `avg(VALUE)`'s expression tree digit-for-digit —
    * Average over decimal(18,4) is sum-as-decimal(28,4) divided by
    * count-as-decimal(20,0), result decimal(22,8) — so the two report
    * modes are byte-identical, not merely close. */
  private def reportFromState(): DataFrame = {
    val (_, files) = reportStateCensus()
    val deltas =
      if (files.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType.fromDDL(
            "y INT, m INT, geo STRING, category STRING, _n BIGINT, " +
              "_nv BIGINT, _sum DECIMAL(38,4)"))
      else spark.read.parquet(files.map(_.toString): _*)
    deltas
      .groupBy(col("y"), col("m"), col("geo"), col("category"))
      .agg(sum(col("_n")).cast("long").as("n"),
        sum(col("_nv")).cast("long").as("_nv"),
        sum(col("_sum")).as("_sum"))
      .filter(col("n") =!= 0)
      .select(col("y"), col("m"), col("geo"), col("category"),
        (col("_sum").cast("decimal(28,4)") /
          col("_nv").cast("decimal(20,0)")).cast("decimal(22,8)")
          .as("avg_value"),
        col("n"))
  }

  /** A3/A4 + EP3: build the parameterized report
    * (`sp_reporting_1_price_by_year_month_geo_category`, `R22:416-447`)
    * and export it as a single-header CSV (`R23:113-123`). With
    * `incrementalReport` on, the report serves from the per-load delta
    * state ([[appendReportDelta]]) instead of rescanning the permanent
    * table — the export cost is O(state), delta-shaped, however large
    * the table grows. */
  def buildAndExportReport(yearParam: Int, monthParam: Int, geos: Seq[String],
                           categoryPattern: String, outDir: String): DataFrame = {
    // the year+month filter below is only pushable through the
    // YearPredicateRewrite rule — install it so the report prunes the
    // permanent table's scan regardless of how the session was built
    graft.plans.GraftExtensions.install(spark)
    val report =
      if (incrementalReport)
        reportFromState()
          .filter(col("y") === yearParam && col("m") === monthParam)
          .filter(if (geos.isEmpty) lit(true) else col("geo").isin(geos: _*))
          .filter(if (categoryPattern.isEmpty) lit(true)
                  else col("category").contains(categoryPattern))
      else {
        val filtered = permanent()
          .filter(expr(s"year(Date) = $yearParam AND month(Date) = $monthParam"))
          .filter(if (geos.isEmpty) lit(true) else col("GEO").isin(geos: _*))
          .filter(if (categoryPattern.isEmpty) lit(true)
                  else col("Products").contains(categoryPattern))
        filtered
          .groupBy(year(col("Date")).as("y"), month(col("Date")).as("m"),
            col("GEO").as("geo"), col("Products").as("category"))
          .agg(avg(col("VALUE")).as("avg_value"), count(lit(1)).as("n"))
      }
    val t0 = System.nanoTime()
    report.coalesce(1).write.mode(SaveMode.Overwrite)
      .option("header", "true").csv(outDir)
    // the drain-log sibling of [load]'s stage summary: the e2e gate
    // exports a report per drain, and the export job is the other
    // candidate owner of its budget (VERDICT r14 #5)
    System.err.println(f"[report] $yearParam-$monthParam exported in " +
      f"${(System.nanoTime() - t0) / 1e6}%.0fms")
    audit.append("reporting", s"$yearParam-$monthParam", 1, now())
    // EP1 success channel: report-completion notification
    // (`R22:695-715`, success topic)
    notifier.success(s"report $yearParam-$monthParam exported", outDir)
    report
  }

  /** ST5/A6/J2: completion detection — `check_remaining_files`
    * (`R22:579-661`). Lists the watch dir, anti-joins against files the
    * audit log records as successfully loaded, and classes the remainder
    * by the freshness window: fresh → pending (keep waiting), stale →
    * invalid (ST4, `R22:611,641-646`). The listing is O(files), the
    * anti-join is a broadcast of audit keys — control-plane sizes. */
  def checkRemainingFiles(dir: String, freshnessMinutes: Long,
                          nowMillis: Long): RemainingFiles = {
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listed =
      if (!fs.exists(new Path(dir))) Seq.empty[(String, Long)]
      else fs.listStatus(new Path(dir)).toSeq
        .filter(_.isFile)
        .map(st => (st.getPath.getName, st.getModificationTime))
        .filterNot(_._1.contains("converted")) // ST9 re-entrancy guard
    // DRIVER-SIDE anti-join (r22, guide §5): both sides are control-
    // plane sized (file names, audit success targets — the class doc's
    // own contract), so the former Spark broadcast-join paid a full
    // job's scheduler fixed cost per completion check, once per drain.
    // Same semantics: listed minus terminal-success targets, classed by
    // the freshness window.
    val processed = audit.successTargets("loading")
    val remaining = listed
      .filterNot { case (name, _) => processed.contains(name) }
      .map { case (name, mtime) =>
        (name, (nowMillis - mtime) < freshnessMinutes * 60000L) }
    RemainingFiles(
      pending = remaining.filter(_._2).map(_._1).sorted,
      stale = remaining.filterNot(_._2).map(_._1).sorted)
  }

  /** S11: archive — move the consumed file under `backup/<date>/`
    * (`2.1 leader-lambda-for-mysql.py:582-603`). */
  def archive(csvPath: String, backupDir: String, date: String): Boolean = {
    val src = new Path(csvPath)
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dst = new Path(s"$backupDir/$date/${src.getName}")
    fs.mkdirs(dst.getParent)
    fs.rename(src, dst)
  }

  private def fileKey(path: String): String = new Path(path).getName
}
