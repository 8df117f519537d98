package graft.operators

import graft.SparkSpec
import java.sql.Timestamp
import org.apache.spark.sql.functions._

/** The manifest-published SCD2 table: atomic reader visibility across
  * the closed-append + current-write pair, crash/replay convergence at
  * both kill points, and no debris left by an abandoned merge. */
class Scd2ManifestSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private def upd(rows: (Long, String, Timestamp)*) =
    rows.toSeq.toDF("k", "attr", "ts")
  private val t1 = ts("1995-01-01 00:00:00")
  private val t2 = ts("2000-01-01 00:00:00")
  private val t3 = ts("2001-01-01 00:00:00")

  private def read(path: String) =
    Upsert.scd2ReadManifested(spark, path).drop("status")
      .select($"k", $"attr", $"valid_from", $"valid_to")
      .as[(Long, String, Timestamp, Option[Timestamp])].collect().toSet

  private def batchTwice = {
    val hist0 = upd((1L, "A", t1), (2L, "B", t1), (3L, "C", t1))
      .select($"k", $"attr", $"ts".as("valid_from"),
        lit(null).cast("timestamp").as("valid_to"))
    Upsert.scd2Merge(
      Upsert.scd2Merge(hist0, upd((1L, "A2", t2)), Seq("k"), Seq("attr"), "ts"),
      upd((2L, "B2", t3)), Seq("k"), Seq("attr"), "ts")
      .as[(Long, String, Timestamp, Option[Timestamp])].collect().toSet
  }

  test("merge sequence equals the batch scd2Merge; status column sane") {
    val path = java.nio.file.Files.createTempDirectory("graft_scd2m")
      .toString + "/hist"
    Upsert.scd2MergeManifested(spark, path,
      upd((1L, "A", t1), (2L, "B", t1), (3L, "C", t1)),
      Seq("k"), Seq("attr"), "ts")
    Upsert.scd2MergeManifested(spark, path, upd((1L, "A2", t2)),
      Seq("k"), Seq("attr"), "ts")
    Upsert.scd2MergeManifested(spark, path, upd((2L, "B2", t3)),
      Seq("k"), Seq("attr"), "ts")
    assert(read(path) == batchTwice)
    val st = Upsert.scd2ReadManifested(spark, path)
      .groupBy($"status").count().as[(String, Long)].collect().toMap
    assert(st == Map("current" -> 3L, "closed" -> 2L))
  }

  test("kill after closed-append: readers see the UNTORN pre-merge " +
      "state; retry converges without duplicating closed rows") {
    val path = java.nio.file.Files.createTempDirectory("graft_scd2mk1")
      .toString + "/hist"
    Upsert.scd2MergeManifested(spark, path,
      upd((1L, "A", t1), (2L, "B", t1), (3L, "C", t1)),
      Seq("k"), Seq("attr"), "ts")
    val before = read(path)
    graft.FailPoint.arm("scd2_after_closed_append")
    try intercept[graft.FailPoint.Kill] {
      Upsert.scd2MergeManifested(spark, path, upd((1L, "A2", t2)),
        Seq("k"), Seq("attr"), "ts")
    } finally graft.FailPoint.disarm()
    // the committed-but-unlisted closed delta is INVISIBLE: readers
    // never see a key both closed-at-ts and still-current
    assert(read(path) == before)
    // retry IS the recovery; the replayed delta deduplicates by token
    Upsert.scd2MergeManifested(spark, path, upd((1L, "A2", t2)),
      Seq("k"), Seq("attr"), "ts")
    Upsert.scd2MergeManifested(spark, path, upd((2L, "B2", t3)),
      Seq("k"), Seq("attr"), "ts")
    assert(read(path) == batchTwice)
  }

  test("kill after current-write (before publish): same invariants") {
    val path = java.nio.file.Files.createTempDirectory("graft_scd2mk2")
      .toString + "/hist"
    Upsert.scd2MergeManifested(spark, path,
      upd((1L, "A", t1), (2L, "B", t1), (3L, "C", t1)),
      Seq("k"), Seq("attr"), "ts")
    val before = read(path)
    graft.FailPoint.arm("scd2_after_current_write")
    try intercept[graft.FailPoint.Kill] {
      Upsert.scd2MergeManifested(spark, path, upd((1L, "A2", t2)),
        Seq("k"), Seq("attr"), "ts")
    } finally graft.FailPoint.disarm()
    // a fully-written but unpublished current_e1 stays unreferenced
    assert(read(path) == before)
    Upsert.scd2MergeManifested(spark, path, upd((1L, "A2", t2)),
      Seq("k"), Seq("attr"), "ts")
    Upsert.scd2MergeManifested(spark, path, upd((2L, "B2", t3)),
      Seq("k"), Seq("attr"), "ts")
    assert(read(path) == batchTwice)
  }

  test("a kill at either scd2 site, then a DIFFERENT batch at the " +
      "same epoch: model answer and no leftover debris") {
    for (site <- Seq("scd2_after_closed_append", "scd2_after_current_write")) {
      val path = java.nio.file.Files.createTempDirectory("graft_scd2kd")
        .toString + "/hist"
      Upsert.scd2MergeManifested(spark, path,
        upd((1L, "A", t1), (2L, "B", t1), (3L, "C", t1)),
        Seq("k"), Seq("attr"), "ts")
      graft.FailPoint.arm(site)
      try intercept[graft.FailPoint.Kill] {
        Upsert.scd2MergeManifested(spark, path, upd((3L, "C9", t2)),
          Seq("k"), Seq("attr"), "ts")
      } finally graft.FailPoint.disarm()
      // the killed batch is never redelivered: two other batches take
      // epochs 1 and 2, the same pair the model folds
      Upsert.scd2MergeManifested(spark, path, upd((1L, "A2", t2)),
        Seq("k"), Seq("attr"), "ts")
      Upsert.scd2MergeManifested(spark, path, upd((2L, "B2", t3)),
        Seq("k"), Seq("attr"), "ts")
      assert(read(path) == batchTwice, site)
      // debris: every closed delta, marker and staging dir on disk
      // belongs to a token the active manifest lists, and the only
      // current_e dirs are the active epoch and the one retained
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val active = Upsert.EpochManifest.active(fs, root).get
      val (epoch, tokens) =
        (active.epoch, active.slice(Upsert.EpochManifest.Want.All).lines)
      val onDisk = new java.io.File(s"$path/closed").listFiles().toSeq
        .map(_.getName).filter(n => n.startsWith("delta_") ||
          n.startsWith("_delta_") || n.startsWith("_stage_"))
      assert(onDisk.nonEmpty, site)
      val unlisted = onDisk.filterNot(n => tokens.exists(t =>
        n == s"_delta_${t}_SUCCESS" || n == s"_stage_$t" ||
          StagedCommit.deltaToken(n).contains(t)))
      assert(unlisted.isEmpty, s"$site: unlisted closed files $unlisted")
      val currents = new java.io.File(path).listFiles().toSeq
        .map(_.getName).filter(_.startsWith("current_e")).toSet
      assert(currents == Set(s"current_e$epoch", s"current_e${epoch - 1}"),
        s"$site: $currents")
    }
  }

  test("concurrent reader during a merge stream only ever sees " +
      "published snapshots, never a torn state") {
    val path = java.nio.file.Files.createTempDirectory("graft_scd2mc")
      .toString + "/hist"
    val batches: Seq[Seq[(Long, String, Timestamp)]] =
      (0 until 6).map { i =>
        (1L to 4L).map(k =>
          (k, s"v${i}_$k", ts(f"200$i%d-01-01 00:00:00")))
      }
    // the legal snapshot set: every prefix-fold of the batch model
    val hist0 = batches.head
      .map { case (k, a, t0) => (k, a, t0, None: Option[Timestamp]) }
      .toDF("k", "attr", "valid_from", "valid_to")
    val legal = scala.collection.mutable.Set.empty[Set[(Long, String, Timestamp, Option[Timestamp])]]
    var acc = hist0
    legal += hist0.as[(Long, String, Timestamp, Option[Timestamp])]
      .collect().toSet
    batches.tail.foreach { b =>
      acc = Upsert.scd2Merge(acc, b.toDF("k", "attr", "ts"),
        Seq("k"), Seq("attr"), "ts")
      legal += acc.as[(Long, String, Timestamp, Option[Timestamp])]
        .collect().toSet
    }
    Upsert.scd2MergeManifested(spark, path,
      batches.head.toDF("k", "attr", "ts"), Seq("k"), Seq("attr"), "ts")
    val bad = new java.util.concurrent.atomic.AtomicReference[String](null)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      def isFnf(t: Throwable): Boolean = t != null &&
        (t.isInstanceOf[java.io.FileNotFoundException] || isFnf(t.getCause))
      while (!stop.get()) {
        try {
          val got = read(path)
          if (!legal.contains(got))
            bad.compareAndSet(null, s"torn read: $got")
        } catch {
          // FNF is LEGAL when this reader lagged more than the one
          // retained epoch (two merges completed inside one read —
          // the documented retention bound); re-resolving the
          // manifest is the contractual recovery. Anything else is a
          // real torn-state bug.
          case e: Throwable if isFnf(e) => ()
          case e: Throwable =>
            bad.compareAndSet(null, s"reader threw: $e")
        }
      }
    })
    reader.start()
    try batches.tail.foreach { b =>
      Upsert.scd2MergeManifested(spark, path,
        b.toDF("k", "attr", "ts"), Seq("k"), Seq("attr"), "ts")
    } finally { stop.set(true); reader.join(60000) }
    assert(bad.get() == null, String.valueOf(bad.get()))
    assert(read(path) ==
      acc.as[(Long, String, Timestamp, Option[Timestamp])].collect().toSet)
  }

  test("paused holder (VERDICT r19 #6): an SCD2 merge whose lease a " +
      "competitor broke mid-operation aborts at its fence BEFORE " +
      "publish — the old snapshot keeps serving and the competitor's " +
      "lease is untouched") {
    val path = java.nio.file.Files.createTempDirectory("graft_scd2p")
      .toString + "/hist"
    Upsert.scd2MergeManifested(spark, path,
      upd((1L, "A", t1), (2L, "B", t1)), Seq("k"), Seq("attr"), "ts")
    val before = read(path)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lease = new org.apache.hadoop.fs.Path(
      fs.makeQualified(root), "_maintenance_lease")
    // simulate the stale-takeover: at the window between the current
    // write and the publish, a competitor breaks the lease and plants
    // its own
    graft.FailPoint.armHook("scd2_after_current_write", () => {
      fs.delete(lease, false)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(lease.toUri.getPath),
        "competitor-jvm\t1\tcompetitor-token".getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE_NEW)
    })
    val ex = try intercept[java.io.IOException] {
      Upsert.scd2MergeManifested(spark, path, upd((1L, "A2", t2)),
        Seq("k"), Seq("attr"), "ts")
    } finally graft.FailPoint.disarmHook()
    assert(ex.getMessage.contains("lease"), ex.getMessage)
    // nothing published: readers still see the pre-merge state
    assert(read(path) == before)
    // the competitor's lease survives the loser's release-on-failure
    // (token-checked release)
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(lease.toUri.getPath)), "UTF-8")
      .endsWith("competitor-token"))
    fs.delete(lease, false)
    // the aborted merge retries cleanly against the intact head
    Upsert.scd2MergeManifested(spark, path, upd((1L, "A2", t2)),
      Seq("k"), Seq("attr"), "ts")
    assert(read(path).exists(_._2 == "A2"))
  }

  test("identical update replayed as its OWN merge is a no-op epoch") {
    val path = java.nio.file.Files.createTempDirectory("graft_scd2mr")
      .toString + "/hist"
    Upsert.scd2MergeManifested(spark, path,
      upd((1L, "A", t1), (2L, "B", t1)), Seq("k"), Seq("attr"), "ts")
    Upsert.scd2MergeManifested(spark, path, upd((1L, "A2", t2)),
      Seq("k"), Seq("attr"), "ts")
    val after = read(path)
    Upsert.scd2MergeManifested(spark, path, upd((1L, "A2", t2)),
      Seq("k"), Seq("attr"), "ts")
    assert(read(path) == after)
  }
}
