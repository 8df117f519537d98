package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The `#files` manifest inventory (VERDICT r17 #1): full-table
  * resolution must come from recorded metadata — zero per-dir
  * filesystem listing — while every reader behavior (content,
  * partition pruning, legacy fallback, time travel, carry across
  * merge/delete/rename/compact) stays byte-identical to the
  * listing-based path. */
class ManifestFilesSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq("part", "k")

  private def table(rows: (Long, String, Double)*) =
    rows.toSeq.toDF("k", "part", "v")

  private def manifestLines(path: String): Seq[String] = {
    val dir = new java.io.File(path)
    val m = dir.listFiles().filter(_.getName.startsWith("_manifest_"))
      .maxBy(_.getName.stripPrefix("_manifest_").toInt)
    scala.io.Source.fromFile(m).getLines().toSeq
  }

  private def scans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
    case a: org.apache.spark.sql.execution.adaptive
        .AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive
        .QueryStageExec => scans(q.plan)
    case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
    case other => other.children.flatMap(scans)
  }

  test("merges record #files lines; the full read resolves through " +
      "ManifestFileIndex (no listing) with identical content; " +
      "partition filters prune partitions AND still filter correctly") {
    val w = java.nio.file.Files.createTempDirectory("graft_mfiles")
      .toString
    val path = s"$w/tbl"
    Upsert.mergeIntoManifested(spark, path,
      table((1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 3.0),
        (4L, "c", 4.0)).withColumn("ver", lit(1L)),
      keys, "part", "ver", retain = 6)
    Upsert.mergeIntoManifested(spark, path,
      table((3L, "b", 30.0)).withColumn("ver", lit(2L)),
      keys, "part", "ver", retain = 6)
    // one #files line per (dir, epoch) entry, with real sizes
    val lines = manifestLines(path)
    val entries = lines.filterNot(_.startsWith("#"))
    val fileLines = lines.filter(_.startsWith("#files\t"))
    assert(fileLines.size == entries.size, lines.mkString("\n"))
    assert(fileLines.forall(_.split("\t", -1).length == 4))
    assert(fileLines.forall(l => l.split("\t", -1)(3).split(",")
      .forall(f => f.substring(f.lastIndexOf(':') + 1).toLong > 0)))
    // the full read comes back from recorded metadata, not listing
    val df = Upsert.readManifested(spark, path)
    val locs = scans(df.queryExecution.executedPlan).map(_.relation.location)
    assert(locs.nonEmpty &&
      locs.forall(_.isInstanceOf[graft.sources.ManifestFileIndex]),
      locs.map(_.getClass.getName).toString)
    assert(df.as[(Long, String, Double, Long)].collect().sortBy(_._1)
      .toSeq == Seq((1L, "a", 1.0, 1L), (2L, "a", 2.0, 1L),
        (3L, "b", 30.0, 2L), (4L, "c", 4.0, 1L)))
    // a static partition filter PRUNES (the planner removes it from
    // after-scan evaluation, trusting the index) and rows are right
    val pruned = df.filter($"part" === "a")
    assert(pruned.as[(Long, String, Double, Long)].collect().sortBy(_._1)
      .toSeq == Seq((1L, "a", 1.0, 1L), (2L, "a", 2.0, 1L)))
    val counts = scans(pruned.queryExecution.executedPlan)
      .map(_.selectedPartitions.partitionCount)
    assert(counts.nonEmpty && counts.forall(_ <= 1),
      s"partition filter must prune to <=1 dir per epoch group: $counts")
    // negated / non-partition filters still correct
    assert(df.filter($"part" =!= "a" && $"v" > 3.5)
      .as[(Long, String, Double, Long)].collect().sortBy(_._1).toSeq
      == Seq((3L, "b", 30.0, 2L), (4L, "c", 4.0, 1L)))
  }

  test("a legacy manifest without #files lines falls back to the " +
      "listing read with the same content; time travel reads both " +
      "forms") {
    val w = java.nio.file.Files.createTempDirectory("graft_mfiles2")
      .toString
    val path = s"$w/tbl"
    Upsert.mergeIntoManifested(spark, path,
      table((1L, "a", 1.0), (2L, "b", 2.0)).withColumn("ver", lit(1L)),
      keys, "part", "ver", retain = 6)
    val before = Upsert.readManifested(spark, path)
      .as[(Long, String, Double, Long)].collect().sortBy(_._1).toSeq
    // strip the #files lines in place (a pre-r18 manifest)
    val m = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("_manifest_")).head
    val stripped = scala.io.Source.fromFile(m).getLines()
      .filterNot(_.startsWith("#files\t")).mkString("\n") + "\n"
    java.nio.file.Files.write(m.toPath, stripped.getBytes("UTF-8"))
    // drop the Hadoop local-fs checksum sidecar the out-of-band edit
    // just invalidated
    new java.io.File(m.getParentFile, s".${m.getName}.crc").delete()
    val df = Upsert.readManifested(spark, path)
    assert(scans(df.queryExecution.executedPlan).map(_.relation.location)
      .forall(!_.isInstanceOf[graft.sources.ManifestFileIndex]))
    assert(df.as[(Long, String, Double, Long)].collect().sortBy(_._1)
      .toSeq == before)
    // a subsequent merge re-records inventories for what it can see
    Upsert.mergeIntoManifested(spark, path,
      table((3L, "c", 3.0)).withColumn("ver", lit(2L)),
      keys, "part", "ver", retain = 6)
    val lines = manifestLines(path)
    // only the fresh epoch's dir has a record (nothing re-lists the
    // legacy mass); readers mix recorded and listed groups freely
    assert(lines.count(_.startsWith("#files\t")) == 1, lines.toString)
    assert(Upsert.readManifested(spark, path).count() == 3)
    // time travel: epoch 0 (legacy form) and epoch 1 (mixed) both read
    assert(Upsert.readManifestedAt(spark, path, 0).count() == 2)
    assert(Upsert.readManifestedAt(spark, path, 1).count() == 3)
  }

  test("a merge into a legacy manifest — no #files lines, then no " +
      "#ddl header either — reads its touched slice by listing and " +
      "merges correctly") {
    val w = java.nio.file.Files.createTempDirectory("graft_mfiles_legacy")
      .toString
    val path = s"$w/tbl"
    Upsert.mergeIntoManifested(spark, path,
      table((1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 3.0))
        .withColumn("ver", lit(1L)), keys, "part", "ver", retain = 6)
    // rewrite the active manifest in place without the given lines
    def strip(drop: String => Boolean): Unit = {
      val m = new java.io.File(path).listFiles()
        .filter(_.getName.startsWith("_manifest_"))
        .maxBy(_.getName.stripPrefix("_manifest_").toInt)
      val kept = scala.io.Source.fromFile(m).getLines()
        .filterNot(drop).mkString("\n") + "\n"
      java.nio.file.Files.write(m.toPath, kept.getBytes("UTF-8"))
      new java.io.File(m.getParentFile, s".${m.getName}.crc").delete()
    }
    def rows(): Seq[(Long, String, Double, Long)] =
      Upsert.readManifested(spark, path)
        .select($"k", $"part", $"v", $"ver")
        .as[(Long, String, Double, Long)].collect().sortBy(_._1).toSeq
    strip(_.startsWith("#files\t"))
    // updates key 1 and inserts key 4 in the legacy partition a, and
    // leaves the stale redelivery of key 3 losing to the stored row
    Upsert.mergeIntoManifested(spark, path,
      table((1L, "a", 10.0), (4L, "a", 4.0)).withColumn("ver", lit(2L))
        .unionByName(table((3L, "b", 0.0)).withColumn("ver", lit(0L))),
      keys, "part", "ver", retain = 6)
    assert(rows() == Seq((1L, "a", 10.0, 2L), (2L, "a", 2.0, 1L),
      (3L, "b", 3.0, 1L), (4L, "a", 4.0, 2L)))
    strip(l => l.startsWith("#files\t") || l.startsWith("#ddl\t"))
    Upsert.mergeIntoManifested(spark, path,
      table((2L, "a", 20.0), (3L, "b", 30.0)).withColumn("ver", lit(3L)),
      keys, "part", "ver", retain = 6)
    assert(rows() == Seq((1L, "a", 10.0, 2L), (2L, "a", 20.0, 3L),
      (3L, "b", 30.0, 3L), (4L, "a", 4.0, 2L)))
  }

  test("deletes, compaction, rename and drop keep inventories in step " +
      "with entries; changesBetween and the CDF ride them") {
    val w = java.nio.file.Files.createTempDirectory("graft_mfiles3")
      .toString
    val path = s"$w/tbl"
    Upsert.mergeIntoManifested(spark, path,
      table((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
        .withColumn("ver", lit(1L)), keys, "part", "ver", retain = 8)
    // delete key 2: partition b drops out entirely; a and c carry
    Upsert.deleteKeysFromManifested(spark, path,
      Seq((2L, "b")).toDF("k", "part").select($"part", $"k"),
      keys, "part", retain = 8)
    def check(path: String): Unit = {
      val lines = manifestLines(path)
      val entries = lines.filterNot(_.startsWith("#"))
        .map { l => val i = l.lastIndexOf('\t')
          (l.substring(0, i), l.substring(i + 1).toLong) }.toSet
      val recs = lines.filter(_.startsWith("#files\t")).map { l =>
        val a = l.split("\t", -1); (a(1), a(2).toLong) }.toSet
      assert(recs == entries, s"inventories out of step with entries:" +
        s"\n$recs\nvs\n$entries")
    }
    check(path)
    assert(Upsert.readManifested(spark, path).count() == 2)
    // metadata-only rename and drop carry inventories verbatim
    Upsert.renameManifestedColumn(spark, path, "v", "w", retain = 8)
    check(path)
    Upsert.mergeIntoManifested(spark, path,
      Seq((4L, "a", 9.0, 2L)).toDF("k", "part", "w", "ver"),
      keys, "part", "ver", retain = 8)
    check(path)
    // the feed diff reads both endpoint manifests through the records
    val feed = Upsert.changesBetween(spark, path, 2L, 3L, keys)
    assert(feed.filter($"_change_type" === "insert")
      .select($"k").as[Long].collect().toSeq == Seq(4L))
    // compaction rewrites everything and records the fresh epoch
    Upsert.compactManifested(spark, path, "part", retain = 8)
    check(path)
    assert(Upsert.readManifested(spark, path).count() == 3)
    val df = Upsert.readManifested(spark, path)
    assert(scans(df.queryExecution.executedPlan).map(_.relation.location)
      .forall(_.isInstanceOf[graft.sources.ManifestFileIndex]))
  }

  import org.apache.spark.sql.DataFrame
  private def canon(df: DataFrame): Seq[String] = {
    val cs = df.columns.sorted.toSeq
    df.select(cs.map(col): _*).collect().map(_.toString).sorted.toSeq
  }

  /** The carry-fuzz body (VERDICT r18 #8): one seeded random
    * interleaving of merge / compact / rename / widen / deleteKeys /
    * drop, with `readManifested` asserted ≡ the same operations
    * applied to a plain in-memory table after EVERY step. Shared by
    * the v1 (single-file) and the forced-v2 (sharded file tree)
    * variants — the tree must be semantically invisible. */
  private def carryFuzz(seeds: Seq[Int], expectTree: Boolean): Unit = {
    for (seed <- seeds) {
      val rnd = new scala.util.Random(seed)
      val w = java.nio.file.Files
        .createTempDirectory(s"graft_mfuzz_$seed").toString
      val path = s"$w/tbl"
      // state: current value-column name (renames), whether it
      // widened int→long, whether the droppable extra column is live
      var valCol = "v"
      var valIsLong = false
      var hasX = true
      var renames = 0
      var shadow: DataFrame = null
      def batch(op: Int): DataFrame = {
        val n = 1 + rnd.nextInt(4)
        val rows = Seq.fill(n)((1L + rnd.nextInt(12),
          ('a' + rnd.nextInt(4)).toChar.toString,
          rnd.nextInt(100), rnd.nextDouble()))
          .distinct.groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
        val base = rows.toDF("k", "part", valCol, "_x0")
          .withColumn("ver", lit(op * 10L))
        val withV =
          if (valIsLong) base.withColumn(valCol, col(valCol).cast("long"))
          else base
        val withX =
          if (hasX) withV.withColumnRenamed("_x0", "x")
          else withV.drop("_x0")
        withX
      }
      def mergeBoth(op: Int): Unit = {
        val b = batch(op)
        Upsert.mergeIntoManifested(spark, path, b, keys, "part", "ver",
          retain = 4, statsCols = Seq("ver"))
        shadow =
          if (shadow == null) b.localCheckpoint()
          else Upsert.mergeVersioned(shadow,
            b.select(shadow.columns.map(col): _*), keys, "ver")
            .localCheckpoint()
      }
      mergeBoth(0)
      var widened = false
      var dropped = false
      (1 to 16).foreach { i =>
        val r = rnd.nextInt(100)
        val opName =
          if (r < 45) { mergeBoth(i); "merge" }
          else if (r < 60) {
            val dels = Seq.fill(1 + rnd.nextInt(3))(
              (1L + rnd.nextInt(12),
                ('a' + rnd.nextInt(4)).toChar.toString))
              .distinct.toDF("k", "part")
            Upsert.deleteKeysFromManifested(spark, path, dels, keys,
              "part", retain = 4)
            shadow = shadow.join(dels, keys, "left_anti")
              .localCheckpoint()
            "deleteKeys"
          } else if (r < 72) {
            if (rnd.nextBoolean()) {
              Upsert.compactManifested(spark, path, "part", retain = 4)
              "compact"
            } else {
              val pv = ('a' + rnd.nextInt(4)).toChar.toString
              Upsert.compactManifestedPartitions(spark, path, "part",
                Seq(pv), retain = 4)
              "pcompact"
            }
          } else if (r < 84 && renames < 2) {
            renames += 1
            val nn = s"v_r$renames"
            Upsert.renameManifestedColumn(spark, path, valCol, nn,
              retain = 4)
            shadow = shadow.withColumnRenamed(valCol, nn)
              .localCheckpoint()
            valCol = nn
            "rename"
          } else if (r < 92 && !widened) {
            widened = true; valIsLong = true
            shadow = shadow.withColumn(valCol, col(valCol).cast("long"))
              .localCheckpoint()
            mergeBoth(i) // the widened batch triggers the #widen path
            "widen"
          } else if (!dropped && hasX) {
            dropped = true; hasX = false
            Upsert.dropManifestedColumn(spark, path, "x", retain = 4)
            shadow = shadow.drop("x").localCheckpoint()
            "drop"
          } else { mergeBoth(i); "merge" }
        assert(canon(Upsert.readManifested(spark, path)) == canon(shadow),
          s"seed=$seed step=$i op=$opName diverged from the shadow")
        // spot-check the pruned reader against the shadow too
        if (i % 5 == 0) {
          val pv = ('a' + rnd.nextInt(4)).toChar.toString
          assert(canon(Upsert.readManifestedPartitions(spark, path,
              Seq(pv))) ==
            canon(shadow.filter(col("part") === pv)),
            s"seed=$seed step=$i pruned read of part=$pv diverged")
        }
        // and the zone-map range reader (bucket-level #bstats pruning
        // on the sharded form, dir-level on both)
        if (i % 7 == 0) {
          val loV = math.max(0, i - 8) * 10L
          val hiV = i * 10L
          assert(canon(Upsert.readManifestedRange(spark, path, "ver",
              loV, hiV)) ==
            canon(shadow.filter(col("ver") >= loV &&
              col("ver") <= hiV)),
            s"seed=$seed step=$i range read [$loV,$hiV] diverged")
        }
      }
      val rootDir = new java.io.File(path)
      val rootLines = {
        val m = rootDir.listFiles()
          .filter(_.getName.matches("_manifest_\\d+"))
          .maxBy(_.getName.stripPrefix("_manifest_").toInt)
        scala.io.Source.fromFile(m).getLines().toSeq
      }
      if (expectTree) {
        // the sharded form is REAL: per-dir lines live in leaves, the
        // root holds refs + aggregates only
        assert(rootLines.exists(_.startsWith("#leafn\t")),
          s"seed=$seed: expected a sharded manifest")
        assert(rootLines.exists(_.startsWith("#leaf\t")))
        assert(!rootLines.exists(_.startsWith("#files\t")))
        assert(rootLines.forall(l => l.startsWith("#")),
          "entry lines must not remain in a v2 root")
        assert(new java.io.File(path, "_mleaf").exists())
      } else {
        assert(!rootLines.exists(_.startsWith("#leafn\t")),
          s"seed=$seed: small table unexpectedly sharded")
      }
    }
  }

  test("carry fuzz (VERDICT r18 #8): 51 random interleavings across " +
      "3 seeds keep readManifested ≡ the shadow, single-file (v1) " +
      "manifests") {
    carryFuzz(Seq(7, 23, 41), expectTree = false)
  }

  test("CAS publish (VERDICT r18 #6): two writers racing the same " +
      "epoch — one wins, one refuses loudly with a retry message, and " +
      "the table state is the winner's (loser's epoch dir is " +
      "unreferenced garbage)") {
    val w = java.nio.file.Files.createTempDirectory("graft_mcas")
      .toString
    val path = s"$w/tbl"
    Upsert.mergeIntoManifested(spark, path,
      table((1L, "a", 1.0), (2L, "b", 2.0)).withColumn("ver", lit(1L)),
      keys, "part", "ver", retain = 6)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(path)
    // unit level: a second publish of an ALREADY-PUBLISHED epoch must
    // refuse even on the local filesystem, whose rename silently
    // replaces the destination
    val ex0 = intercept[java.io.IOException] {
      Upsert.EpochManifest.publishRoot(fs, root, 0, Seq("#ddl\tfake"))
    }
    assert(ex0.getMessage.contains("concurrent writer"))
    // writer-lease level: a competing writer holds the table lease —
    // the second merge refuses loudly BEFORE touching any epoch dir
    // (the CAS rename alone cannot protect the winner's `_e<N+1>`
    // files from the loser's static Overwrite of the same dir)
    val lease = new org.apache.hadoop.fs.Path(
      fs.makeQualified(root), "_maintenance_lease")
    val lo = fs.create(lease, true)
    try lo.write("99999@otherhost\t1\tforeign".getBytes("UTF-8"))
    finally lo.close()
    val exL = intercept[IllegalStateException] {
      Upsert.mergeIntoManifested(spark, path,
        table((9L, "z", 9.0)).withColumn("ver", lit(9L)),
        keys, "part", "ver", retain = 6)
    }
    assert(exL.getMessage.contains("another maintainer is active"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path, "_e1")))
    fs.delete(lease, false)
    // TRUE INTERLEAVING: two writers merging CONCURRENTLY, repeated —
    // per round at most one proceeds at a time (lease + CAS), any
    // refusal is loud, a refused merge retried lands, and the final
    // table equals the sequential application of every landed merge
    (1 to 4).foreach { round =>
      val updates = Seq(
        table((10L + round, "a", round.toDouble))
          .withColumn("ver", lit(100L + round)),
        table((20L + round, "b", round.toDouble))
          .withColumn("ver", lit(200L + round)))
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = updates.map { u =>
        new Thread(() =>
          try Upsert.mergeIntoManifested(spark, path, u, keys, "part",
            "ver", retain = 6)
          catch { case t: Throwable => failures.add(t) })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      // every failure is the LOUD refusal, never silent corruption
      failures.forEach { t =>
        assert((t.isInstanceOf[IllegalStateException] &&
            t.getMessage.contains("another maintainer is active")) ||
          (t.isInstanceOf[java.io.IOException] &&
            t.getMessage.contains("manifest publish failed")), t)
      }
      // refused merges retry cleanly against the new head
      if (!failures.isEmpty) updates.foreach(u =>
        Upsert.mergeIntoManifested(spark, path, u, keys, "part", "ver",
          retain = 6))
      val got = canon(Upsert.readManifested(spark, path))
      assert(got.exists(_.contains(s"${10L + round}")) &&
        got.exists(_.contains(s"${20L + round}")),
        s"round $round lost a merge: $got")
    }
    assert(Upsert.readManifested(spark, path).count() == 2 + 8)
  }

  test("sharded tree crash windows: a kill between leaf writes and " +
      "the root rename leaves the OLD manifest serving (orphan leaves " +
      "invisible); a kill between the root rename and the ledger " +
      "write is repaired by the next sweep's manifest diff; ledger " +
      "retention keeps time travel inside the window and reclaims " +
      "behind it") {
    val saved = Upsert.EpochManifest.shardThreshold
    Upsert.EpochManifest.shardThreshold = 1
    try {
      val w = java.nio.file.Files.createTempDirectory("graft_mtree")
        .toString
      val path = s"$w/tbl"
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def merge(ver: Long, rows: (Long, String, Double)*): Unit =
        Upsert.mergeIntoManifested(spark, path,
          table(rows: _*).withColumn("ver", lit(ver)),
          keys, "part", "ver", retain = 2, statsCols = Seq("v"))
      merge(1L, (1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
      merge(2L, (1L, "a", 10.0))
      val snapAt2 = canon(Upsert.readManifested(spark, path))
      // window 1: leaves staged, root not renamed — old state serves
      graft.FailPoint.arm("manifest_after_leaves")
      try intercept[graft.FailPoint.Kill] {
        merge(3L, (2L, "b", 20.0))
      } finally graft.FailPoint.disarm()
      assert(canon(Upsert.readManifested(spark, path)) == snapAt2)
      // the retry converges (same epoch number, leaves overwritten)
      merge(3L, (2L, "b", 20.0))
      val snapAt3 = canon(Upsert.readManifested(spark, path))
      assert(snapAt3.exists(_.contains("20.0")))
      // window 2: root live, ledger missing — content serves, and the
      // NEXT publish's sweep repairs the ledger by diffing the roots.
      // (Epoch arithmetic: merges published 0,1,2 so far; this one
      // publishes 3 and dies before its ledger.)
      graft.FailPoint.arm("manifest_after_root")
      try intercept[graft.FailPoint.Kill] {
        merge(4L, (3L, "c", 30.0))
      } finally graft.FailPoint.disarm()
      val root = new org.apache.hadoop.fs.Path(path)
      assert(!fs.exists(Upsert.EpochManifest.ledgerPath(root, 3)))
      assert(canon(Upsert.readManifested(spark, path))
        .exists(_.contains("30.0")))
      merge(5L, (1L, "a", 100.0)) // publishes epoch 4, sweep repairs e3
      // the repaired ledger e3 falls inside the processable window
      // (3 ≤ oldest) so the same sweep consumed it — the observable
      // evidence of the repair is its EFFECT: every _e0 slot was
      // released by now-processed ledgers e1..e3, so the whole epoch
      // dir is reclaimed (recursively, _SUCCESS and all)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/_e0")),
        "the sweep must repair and process the crashed publish's " +
          "missing ledger")
      // retention: the previous epoch still time-travels; older ones
      // are swept (manifests AND their released dir slots)
      assert(canon(Upsert.readManifestedAt(spark, path, 3))
        .exists(_.contains("30.0")))
      intercept[IllegalStateException] {
        Upsert.readManifestedAt(spark, path, 2)
      }
      merge(6L, (2L, "b", 200.0)) // epoch 5
      merge(7L, (3L, "c", 300.0)) // epoch 6
      // slots released long outside the window are physically gone:
      // epoch dir 1 held a=1.0/b=2.0/c=3.0, all since replaced
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/_e1")))
      // the current table is intact and correct
      assert(canon(Upsert.readManifested(spark, path)).sorted ==
        canon(table((1L, "a", 100.0), (2L, "b", 200.0),
          (3L, "c", 300.0)).withColumn("ver", lit(0L))
          .withColumn("ver",
            when(col("part") === "a", 5L)
              .when(col("part") === "b", 6L).otherwise(7L))).sorted)
      // the change feed rides the tree
      val feed = Upsert.changesBetween(spark, path, 5, 6, keys)
      assert(feed.filter(col("_change_type") === "update_postimage")
        .select(col("k")).collect().map(_.getLong(0)).toSeq == Seq(3L))
    } finally Upsert.EpochManifest.shardThreshold = saved
  }

  test("compactManifestedPartitions: rewrites ONLY the named " +
      "partitions into one fresh clustered epoch — content unchanged, " +
      "fragmentation collapsed, untouched entries and inventories " +
      "carried verbatim; unknown values no-op") {
    val w = java.nio.file.Files.createTempDirectory("graft_mpcomp")
      .toString
    val path = s"$w/tbl"
    def merge(ver: Long, rows: (Long, String, Double)*): Unit =
      Upsert.mergeIntoManifested(spark, path,
        table(rows: _*).withColumn("ver", lit(ver)),
        keys, "part", "ver", retain = 8, statsCols = Seq("v"))
    // fragment partition a across three epochs; b and c stay put
    merge(1L, (1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 3.0),
      (4L, "c", 4.0))
    merge(2L, (1L, "a", 10.0))
    merge(3L, (2L, "a", 20.0))
    val before = canon(Upsert.readManifested(spark, path))
    def entryMap: Map[String, Long] = manifestLines(path)
      .filterNot(_.startsWith("#"))
      .map { l => val i = l.lastIndexOf('\t')
        (l.substring(0, i), l.substring(i + 1).toLong) }.toMap
    val em0 = entryMap
    assert(em0("part=a") == 2 && em0("part=b") == 0 && em0("part=c") == 0)
    Upsert.compactManifestedPartitions(spark, path, "part", Seq("a"),
      retain = 8)
    // content identical; a re-pointed to the fresh epoch, b/c untouched
    assert(canon(Upsert.readManifested(spark, path)) == before)
    val em1 = entryMap
    assert(em1("part=a") == 3 && em1("part=b") == 0 && em1("part=c") == 0)
    // fragmentation collapsed: one file set under the fresh a dir
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val aFiles = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$path/_e3/part=a"))
      .count(_.getPath.getName.endsWith(".parquet"))
    assert(aFiles == 1)
    // the old scattered copies of a are reclaimable; b/c's #files
    // lines carried verbatim
    val filesLines = manifestLines(path).filter(_.startsWith("#files\t"))
    assert(filesLines.exists(_.startsWith("#files\tpart=a\t3\t")))
    assert(filesLines.exists(_.startsWith("#files\tpart=b\t0\t")))
    // unknown value no-ops (manifest unchanged)
    val m1 = manifestLines(path)
    Upsert.compactManifestedPartitions(spark, path, "part", Seq("zz"),
      retain = 8)
    assert(manifestLines(path) == m1)
    // works identically over the sharded tree
    val saved = Upsert.EpochManifest.shardThreshold
    Upsert.EpochManifest.shardThreshold = 1
    try {
      merge(4L, (3L, "b", 30.0)) // shards the manifest
      val pre = canon(Upsert.readManifested(spark, path))
      Upsert.compactManifestedPartitions(spark, path, "part", Seq("b"),
        retain = 8)
      assert(canon(Upsert.readManifested(spark, path)) == pre)
    } finally Upsert.EpochManifest.shardThreshold = saved
  }

  test("ledger sweep pending-epoch guard: an epoch dir with zero " +
      "current references but slots still named by an UNPROCESSED " +
      "ledger is drained per-slot, never whole-deleted — time travel " +
      "inside the window keeps its files; once the pending ledger " +
      "processes, the dir drops entirely") {
    val saved = Upsert.EpochManifest.shardThreshold
    Upsert.EpochManifest.shardThreshold = 1
    try {
      val w = java.nio.file.Files.createTempDirectory("graft_mpend")
        .toString
      val path = s"$w/tbl"
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def merge(ver: Long, rows: (Long, String, Double)*): Unit =
        Upsert.mergeIntoManifested(spark, path,
          table(rows: _*).withColumn("ver", lit(ver)),
          keys, "part", "ver", retain = 2)
      merge(1L, (1L, "a", 1.0), (2L, "b", 2.0)) // e0: a@0, b@0
      merge(2L, (1L, "a", 10.0))                // e1: ledger e1 (0,a)
      merge(3L, (1L, "a", 11.0))                // e2: ledger e2 (1,a)
      merge(4L, (2L, "b", 20.0))                // e3: ledger e3 (0,b)
      // at publish e3 (oldest = 2): ledgers e1/e2 processed. Epoch 0
      // has ZERO current references (a@2, b@3) but ledger e3 — still
      // pending — names its part=b slot, which manifest 2 (inside the
      // window) references: the sweep must drain part=a only
      def p(s: String) = new org.apache.hadoop.fs.Path(s"$path/$s")
      assert(fs.exists(p("_e0")), "epoch 0 must survive (pending slot)")
      assert(!fs.exists(p("_e0/part=a")), "its processed slot drains")
      assert(fs.exists(p("_e0/part=b")), "its pending slot survives")
      assert(!fs.exists(p("_e1")), "epoch 1 is fully released: drops")
      // time travel to manifest 2 reads b's rows from _e0/part=b
      assert(canon(Upsert.readManifestedAt(spark, path, 2)).sorted ==
        canon(table((1L, "a", 11.0), (2L, "b", 2.0))
          .withColumn("ver", when(col("part") === "a", 3L)
            .otherwise(1L))).sorted)
      // the next publish processes ledger e3: epoch 0 now drops whole
      merge(5L, (1L, "a", 12.0))                // e4
      assert(!fs.exists(p("_e0")),
        "epoch 0 must drop once its last pending ledger processes")
      assert(canon(Upsert.readManifested(spark, path)).sorted ==
        canon(table((1L, "a", 12.0), (2L, "b", 20.0))
          .withColumn("ver", when(col("part") === "a", 5L)
            .otherwise(4L))).sorted)
    } finally Upsert.EpochManifest.shardThreshold = saved
  }

  test("v1 -> v2 TRANSITION mid-life: a single-file table crossing " +
      "the shard threshold shards on the next publish (renames/pmap " +
      "carried into the root, per-dir lines into leaves), stays v2, " +
      "and reads/time-travel/feed span the boundary") {
    val saved = Upsert.EpochManifest.shardThreshold
    try {
      val w = java.nio.file.Files.createTempDirectory("graft_mtrans")
        .toString
      val path = s"$w/tbl"
      def merge(ver: Long, rows: (Long, String, Double)*): Unit =
        Upsert.mergeIntoManifested(spark, path,
          table(rows: _*).withColumn("ver", lit(ver)),
          keys, "part", "ver", retain = 6, statsCols = Seq("v"))
      // post-rename batches must carry the renamed column
      def mergeW(ver: Long, rows: (Long, String, Double)*): Unit =
        Upsert.mergeIntoManifested(spark, path,
          table(rows: _*).withColumnRenamed("v", "w")
            .withColumn("ver", lit(ver)),
          keys, "part", "ver", retain = 6)
      // v1 life: two merges and a RENAME while single-file
      Upsert.EpochManifest.shardThreshold = 10000
      merge(1L, (1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
      merge(2L, (1L, "a", 10.0))
      Upsert.renameManifestedColumn(spark, path, "v", "w", retain = 6)
      assert(!manifestLines(path).exists(_.startsWith("#leafn\t")))
      // threshold drops below the live line count: the NEXT merge
      // publishes the tree (via the compat shard path), with the
      // rename's pmap state carried into the root
      Upsert.EpochManifest.shardThreshold = 1
      mergeW(3L, (2L, "b", 20.0))
      val rootLines = manifestLines(path)
      assert(rootLines.exists(_.startsWith("#leafn\t")))
      assert(rootLines.exists(_.startsWith("#pmap\t")),
        "the rename's pmap state must survive the transition in the root")
      assert(!rootLines.exists(l => !l.startsWith("#")))
      // content correct across the boundary (renamed column intact)
      val got = Upsert.readManifested(spark, path)
      assert(got.columns.toSeq.sorted == Seq("k", "part", "ver", "w"))
      assert(canon(got) == canon(table(
        (1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 3.0))
        .withColumnRenamed("v", "w")
        .withColumn("ver", when(col("part") === "a", 2L)
          .when(col("part") === "b", 3L).otherwise(1L))))
      // a further diff merge stays v2 and stays correct
      mergeW(4L, (4L, "d", 4.0))
      assert(Upsert.readManifested(spark, path).count() == 4)
      assert(manifestLines(path).exists(_.startsWith("#leaf\t")))
      // time travel back across the boundary to the v1 epoch
      assert(canon(Upsert.readManifestedAt(spark, path, 2))
        .exists(_.contains("10.0")))
      // the feed spans the mixed v1/v2 interval
      val feed = Upsert.changesBetween(spark, path, 2, 4, keys)
      assert(feed.filter(col("_change_type") === "insert")
        .select(col("k")).collect().map(_.getLong(0)).toSet == Set(4L))
    } finally Upsert.EpochManifest.shardThreshold = saved
  }

  test("carry fuzz over the SHARDED manifest tree (VERDICT r18 #1): " +
      "the same interleavings with the shard threshold forced low — " +
      "leaves carry by reference, diffs publish O(touched), and every " +
      "reader behaves identically to the single-file form") {
    val saved = Upsert.EpochManifest.shardThreshold
    Upsert.EpochManifest.shardThreshold = 1
    try carryFuzz(Seq(13, 59), expectTree = true)
    finally Upsert.EpochManifest.shardThreshold = saved
  }

  test("orphan intents (VERDICT r19 #3): a publish killed at ANY " +
      "window before its manifest CAS leaves debris the NEXT ordinary " +
      "publish's O(churn) sweep reclaims — even when a metadata-only " +
      "op takes the epoch number so no retry ever overwrites it; no " +
      "full-walk compact needed") {
    val saved = Upsert.EpochManifest.shardThreshold
    Upsert.EpochManifest.shardThreshold = 1
    try {
      for (window <- Seq("mergem_before_epoch_write",
          "mergem_after_epoch_write", "manifest_after_leaves")) {
        val w = java.nio.file.Files
          .createTempDirectory(s"graft_intent").toString
        val path = s"$w/tbl"
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        def merge(ver: Long, rows: (Long, String, Double)*): Unit =
          Upsert.mergeIntoManifested(spark, path,
            table(rows: _*).withColumn("ver", lit(ver)),
            keys, "part", "ver", retain = 2)
        merge(1L, (1L, "a", 1.0), (2L, "b", 2.0)) // epoch 0
        merge(2L, (1L, "a", 10.0))                // epoch 1
        // the crashed publish targets epoch 2; its intent i2 lands
        // BEFORE any data/leaf write, so even the earliest window
        // leaves a nameable entry
        graft.FailPoint.arm(window)
        try intercept[graft.FailPoint.Kill] {
          merge(3L, (2L, "b", 20.0))
        } finally graft.FailPoint.disarm()
        val sweepDir = new org.apache.hadoop.fs.Path(s"$path/_sweep")
        assert(fs.listStatus(sweepDir).exists(
          _.getPath.getName.startsWith("i2.")),
          s"$window: the pre-write intent must be on disk")
        // a METADATA-ONLY op takes epoch 2: the crashed merge's _e2 /
        // 2_* leaves are now unnameable by any ledger (no manifest
        // ever referenced them, and no retry will reuse the number) —
        // this was the documented leak
        Upsert.renameManifestedColumn(spark, path, "v", "w",
          retain = 2)
        // an ordinary merge (epoch 3) sweeps: the intent names the
        // debris and the O(churn) sweep reclaims it
        Upsert.mergeIntoManifested(spark, path,
          table((2L, "b", 200.0)).withColumnRenamed("v", "w")
            .withColumn("ver", lit(4L)),
          keys, "part", "ver", retain = 2)
        assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/_e2")),
          s"$window: the crashed publish's epoch dir must be reclaimed")
        val leafDir = new org.apache.hadoop.fs.Path(s"$path/_mleaf")
        if (fs.exists(leafDir))
          assert(!fs.listStatus(leafDir).exists(
            _.getPath.getName.startsWith("2_")),
            s"$window: the crashed publish's leaves must be reclaimed")
        assert(!fs.listStatus(sweepDir).exists(
          _.getPath.getName.startsWith("i")),
          s"$window: consumed/processed intents must not accumulate")
        // the LIVE publish's own intent consumed without touching it:
        // epoch 3's dir serves
        assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/_e3")),
          s"$window: the live publish's epoch dir must survive")
        val got = canon(Upsert.readManifested(spark, path))
        assert(got.exists(_.contains("200.0")) &&
          got.exists(_.contains("10.0")),
          s"$window: table content wrong after reclaim: $got")
      }
    } finally Upsert.EpochManifest.shardThreshold = saved
  }

  test("missing referenced leaf is LOUD (ADVICE r19, medium): a v2 " +
      "root whose #leaf ref points at a vanished file throws instead " +
      "of silently serving a partial table") {
    val saved = Upsert.EpochManifest.shardThreshold
    Upsert.EpochManifest.shardThreshold = 1
    try {
      val w = java.nio.file.Files
        .createTempDirectory("graft_leafgone").toString
      val path = s"$w/tbl"
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      Upsert.mergeIntoManifested(spark, path,
        table((1L, "a", 1.0), (2L, "b", 2.0))
          .withColumn("ver", lit(1L)), keys, "part", "ver", retain = 2)
      val leaf = manifestLines(path)
        .find(_.startsWith("#leaf\t")).map { l =>
          val a = l.split("\t", -1); s"${a(2)}_${a(1)}"
        }.get
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/_mleaf/$leaf"),
        false)
      val ex = intercept[IllegalStateException] {
        Upsert.readManifested(spark, path).collect()
      }
      assert(ex.getMessage.contains(leaf) &&
        ex.getMessage.contains("missing or already swept"),
        ex.getMessage)
    } finally Upsert.EpochManifest.shardThreshold = saved
  }
}
