package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The manifest-published partitioned merge (VERDICT r13 #4): the
  * permanent table's reader-atomic form of mergeIntoPartitioned —
  * epoch snapshot dirs + one atomic manifest rename, so a reader
  * overlapping a merge (or a kill-retry of one) only ever sees a
  * published snapshot, plus partition-pruned reads, version
  * commutativity, and reference-counted sweep retention. */
class MergeManifestSpec extends SparkSpec {
  import spark.implicits._

  private def rows(t: (Long, String, Double, Long)*) =
    t.toSeq.toDF("k", "part", "v", "ver")

  private def read(path: String) =
    Upsert.readManifested(spark, path)
      .select($"k", $"part", $"v", $"ver")
      .as[(Long, String, Double, Long)].collect().toSet

  private val keys = Seq("part", "k")

  test("merge sequence equals the order-free max-version model; " +
      "untouched partitions keep their old epoch dirs") {
    val path = java.nio.file.Files.createTempDirectory("graft_mm")
      .toString + "/tbl"
    Upsert.mergeIntoManifested(spark, path,
      rows((1, "a", 1.0, 1), (2, "a", 2.0, 1), (3, "b", 3.0, 1)),
      keys, "part", "ver")
    // touch only partition a; b's epoch-0 dir must survive by reference
    Upsert.mergeIntoManifested(spark, path,
      rows((1, "a", 10.0, 2)), keys, "part", "ver")
    // stale redelivery (lower version) cannot regress key 1
    Upsert.mergeIntoManifested(spark, path,
      rows((1, "a", 99.0, 0), (4, "c", 4.0, 1)), keys, "part", "ver")
    assert(read(path) == Set(
      (1L, "a", 10.0, 2L), (2L, "a", 2.0, 1L),
      (3L, "b", 3.0, 1L), (4L, "c", 4.0, 1L)))
    // partition b is still served from epoch 0 (never rewritten)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/_e0/part=b")))
  }

  test("kill after epoch write (before publish): readers see the " +
      "pre-merge table; retry converges") {
    val path = java.nio.file.Files.createTempDirectory("graft_mmk1")
      .toString + "/tbl"
    Upsert.mergeIntoManifested(spark, path,
      rows((1, "a", 1.0, 1), (3, "b", 3.0, 1)), keys, "part", "ver")
    val before = read(path)
    graft.FailPoint.arm("mergem_after_epoch_write")
    try intercept[graft.FailPoint.Kill] {
      Upsert.mergeIntoManifested(spark, path,
        rows((1, "a", 10.0, 2)), keys, "part", "ver")
    } finally graft.FailPoint.disarm()
    // fully-written but unpublished _e1 stays unreferenced
    assert(read(path) == before)
    Upsert.mergeIntoManifested(spark, path,
      rows((1, "a", 10.0, 2)), keys, "part", "ver")
    assert(read(path) == Set((1L, "a", 10.0, 2L), (3L, "b", 3.0, 1L)))
  }

  test("kill after publish (before sweep): merge is already visible; " +
      "replaying the same batch cannot change content") {
    val path = java.nio.file.Files.createTempDirectory("graft_mmk2")
      .toString + "/tbl"
    Upsert.mergeIntoManifested(spark, path,
      rows((1, "a", 1.0, 1), (3, "b", 3.0, 1)), keys, "part", "ver")
    graft.FailPoint.arm("mergem_after_publish")
    try intercept[graft.FailPoint.Kill] {
      Upsert.mergeIntoManifested(spark, path,
        rows((1, "a", 10.0, 2)), keys, "part", "ver")
    } finally graft.FailPoint.disarm()
    val after = Set((1L, "a", 10.0, 2L), (3L, "b", 3.0, 1L))
    assert(read(path) == after)
    // the caller's bookkeeping died — the redelivered batch no-ops
    Upsert.mergeIntoManifested(spark, path,
      rows((1, "a", 10.0, 2)), keys, "part", "ver")
    assert(read(path) == after)
  }

  test("concurrent reader during a kill-retry merge stream never sees " +
      "a partial epoch") {
    val path = java.nio.file.Files.createTempDirectory("graft_mmc")
      .toString + "/tbl"
    // model: fold batches through mergeVersioned; every prefix is legal
    val batches: Seq[Seq[(Long, String, Double, Long)]] =
      (1 to 5).map { i =>
        (1L to 3L).map(k => (k, if (k == 3L) "b" else "a",
          i * 10.0 + k, i.toLong))
      }
    val legal = scala.collection.mutable.Set
      .empty[Set[(Long, String, Double, Long)]]
    var acc = rows(batches.head: _*)
    legal += batches.head.toSet
    batches.tail.foreach { b =>
      acc = Upsert.mergeVersioned(acc, rows(b: _*), keys, "ver")
      legal += acc.as[(Long, String, Double, Long)].collect().toSet
    }
    Upsert.mergeIntoManifested(spark, path, rows(batches.head: _*),
      keys, "part", "ver")
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
          // FNF is legal for a reader lagging past the one retained
          // epoch (documented contract); anything else is a torn state
          case e: Throwable if isFnf(e) => ()
          case e: Throwable =>
            bad.compareAndSet(null, s"reader threw: $e")
        }
      }
    })
    reader.start()
    try batches.tail.foreach { b =>
      // every merge is first killed mid-flight, then retried — the
      // reader must never observe the unpublished epoch either way
      graft.FailPoint.arm("mergem_after_epoch_write")
      try intercept[graft.FailPoint.Kill] {
        Upsert.mergeIntoManifested(spark, path, rows(b: _*),
          keys, "part", "ver")
      } finally graft.FailPoint.disarm()
      Upsert.mergeIntoManifested(spark, path, rows(b: _*),
        keys, "part", "ver")
    } finally { stop.set(true); reader.join(60000) }
    assert(bad.get() == null, String.valueOf(bad.get()))
    assert(read(path) ==
      acc.as[(Long, String, Double, Long)].collect().toSet)
  }

  test("compactManifested folds scattered epochs into one; content " +
      "unchanged; kill-before-publish leaves the scattered table intact") {
    val path = java.nio.file.Files.createTempDirectory("graft_mmcp")
      .toString + "/tbl"
    Upsert.mergeIntoManifested(spark, path,
      rows((1, "a", 1.0, 1), (3, "b", 3.0, 1)), keys, "part", "ver")
    Upsert.mergeIntoManifested(spark, path,
      rows((1, "a", 10.0, 2), (4, "c", 4.0, 1)), keys, "part", "ver")
    val before = read(path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // live partitions scattered across two epoch dirs pre-compact
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/_e0/part=b")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/_e1/part=a")))

    graft.FailPoint.arm("mergem_compact_after_write")
    try intercept[graft.FailPoint.Kill] {
      Upsert.compactManifested(spark, path, "part")
    } finally graft.FailPoint.disarm()
    assert(read(path) == before) // unpublished _e2 is invisible

    Upsert.compactManifested(spark, path, "part")
    assert(read(path) == before)
    // everything now serves from the compacted epoch; after one more
    // compaction cycle the scattered dirs age out of retention
    Upsert.compactManifested(spark, path, "part")
    assert(read(path) == before)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/_e0/part=b")))
    val served = Upsert.readManifested(spark, path)
      .select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(served.forall(_.contains("/_e3/")), served.mkString(","))
  }

  test("readManifestedAt time-travels to a retained manifest and " +
      "throws loudly past retention") {
    val path = java.nio.file.Files.createTempDirectory("graft_mmtt")
      .toString + "/tbl"
    // retain 3 manifests so two merges of history stay readable
    Upsert.mergeIntoManifested(spark, path,
      rows((1, "a", 1.0, 1), (3, "b", 3.0, 1)), keys, "part", "ver",
      retain = 3)
    Upsert.mergeIntoManifested(spark, path,
      rows((1, "a", 10.0, 2)), keys, "part", "ver", retain = 3)
    Upsert.mergeIntoManifested(spark, path,
      rows((4, "c", 4.0, 1)), keys, "part", "ver", retain = 3)
    def at(e: Long) = Upsert.readManifestedAt(spark, path, e)
      .select($"k", $"part", $"v", $"ver")
      .as[(Long, String, Double, Long)].collect().toSet
    assert(at(0) == Set((1L, "a", 1.0, 1L), (3L, "b", 3.0, 1L)))
    assert(at(1) == Set((1L, "a", 10.0, 2L), (3L, "b", 3.0, 1L)))
    assert(at(2) == read(path))
    // a fourth merge at default retention (2) sweeps manifests 0 and 1
    Upsert.mergeIntoManifested(spark, path,
      rows((5, "a", 5.0, 1)), keys, "part", "ver")
    val ex = intercept[IllegalStateException] { at(0) }
    assert(ex.getMessage.contains("swept"))
    assert(at(3).contains((5L, "a", 5.0, 1L)))
  }

  test("numeric-looking string partition values round-trip as strings " +
      "(manifest-recorded schema beats dir-name inference)") {
    val path = java.nio.file.Files.createTempDirectory("graft_mmty")
      .toString + "/tbl"
    Upsert.mergeIntoManifested(spark, path,
      rows((1, "01", 1.0, 1), (2, "2", 2.0, 1)), keys, "part", "ver")
    Upsert.mergeIntoManifested(spark, path,
      rows((1, "01", 5.0, 2)), keys, "part", "ver")
    val got = Upsert.readManifested(spark, path)
    assert(got.schema("part").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(got.select($"k", $"part", $"v", $"ver")
      .as[(Long, String, Double, Long)].collect().toSet ==
      Set((1L, "01", 5.0, 2L), (2L, "2", 2.0, 1L)))
    // compaction carries the recorded schema forward
    Upsert.compactManifested(spark, path, "part")
    assert(Upsert.readManifested(spark, path).schema("part").dataType ==
      org.apache.spark.sql.types.StringType)
  }

  test("add-only schema evolution: a new column backfills as null, " +
      "history keeps its own schema, drops and type changes refuse") {
    val path = java.nio.file.Files.createTempDirectory("graft_mmev")
      .toString + "/tbl"
    Upsert.mergeIntoManifested(spark, path,
      rows((1, "a", 1.0, 1), (3, "b", 3.0, 1)), keys, "part", "ver",
      retain = 3)
    // batch 2 carries a NEW column and touches partition a only
    val evolved = Seq((1L, "a", 10.0, 2L, "hot"))
      .toDF("k", "part", "v", "ver", "tag")
    Upsert.mergeIntoManifested(spark, path, evolved, keys, "part", "ver",
      retain = 3)
    val got = Upsert.readManifested(spark, path)
    assert(got.columns.toSeq == Seq("k", "part", "v", "ver", "tag"))
    assert(got.select($"k", $"part", $"v", $"ver", $"tag")
      .as[(Long, String, Double, Long, Option[String])].collect().toSet ==
      Set((1L, "a", 10.0, 2L, Some("hot")),
        (3L, "b", 3.0, 1L, None))) // untouched epoch-0 row: null tag
    // time travel reconstructs epoch 0 under ITS schema — no tag col
    assert(Upsert.readManifestedAt(spark, path, 0).columns.toSeq ==
      Seq("k", "part", "v", "ver"))
    // a dropped column refuses loudly
    val exDrop = intercept[IllegalArgumentException] {
      Upsert.mergeIntoManifested(spark, path,
        Seq((2L, "a", 2.0, 3L)).toDF("k", "part", "v", "ver"),
        keys, "part", "ver")
    }
    assert(exDrop.getMessage.contains("drop"), exDrop.getMessage)
    // a type change refuses loudly
    val exType = intercept[IllegalArgumentException] {
      Upsert.mergeIntoManifested(spark, path,
        Seq((2L, "a", 2L, 3L, "x")).toDF("k", "part", "v", "ver", "tag"),
        keys, "part", "ver")
    }
    assert(exType.getMessage.contains("type changed"), exType.getMessage)
  }

  test("type-widening evolution: int→long and float→double lift the " +
      "table schema; untouched historical files read upcast in place; " +
      "narrowing and partition-column widening refuse") {
    val path = java.nio.file.Files.createTempDirectory("graft_mmwd")
      .toString + "/tbl"
    // batch 1 stores NARROW types: k int, v float, ver long
    val narrow = Seq((1, "a", 1.5f, 1L), (3, "b", 3.5f, 1L))
      .toDF("k", "part", "v", "ver")
    Upsert.mergeIntoManifested(spark, path, narrow, keys, "part", "ver")
    // batch 2 widens k→long, v→double AND adds a column; touches only a
    val wide = Seq((1L, "a", 10.25, 2L, "hot"))
      .toDF("k", "part", "v", "ver", "tag")
    Upsert.mergeIntoManifested(spark, path, wide, keys, "part", "ver")
    val got = Upsert.readManifested(spark, path)
    import org.apache.spark.sql.types._
    assert(got.schema("k").dataType == LongType)
    assert(got.schema("v").dataType == DoubleType)
    // partition b is STILL the epoch-0 file set (int32/float physical)
    // read under the widened schema — the parquet scan promotes, no
    // rewrite happened
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/_e0/part=b")))
    assert(got.select($"k", $"part", $"v", $"ver", $"tag")
      .as[(Long, String, Double, Long, Option[String])].collect().toSet ==
      Set((1L, "a", 10.25, 2L, Some("hot")),
        (3L, "b", 3.5f.toDouble, 1L, None)))
    // a later merge joins the widened keys against the upcast slice
    Upsert.mergeIntoManifested(spark, path,
      Seq((3L, "b", 9.75, 2L, "x")).toDF("k", "part", "v", "ver", "tag"),
      keys, "part", "ver")
    assert(Upsert.readManifested(spark, path)
      .filter($"k" === 3).select($"v").as[Double].head() == 9.75)
    // narrowing back (long→int) refuses loudly
    val exNarrow = intercept[IllegalArgumentException] {
      Upsert.mergeIntoManifested(spark, path,
        Seq((5, "a", 5.0, 3L, "y")).toDF("k", "part", "v", "ver", "tag"),
        keys, "part", "ver")
    }
    assert(exNarrow.getMessage.contains("type changed"),
      exNarrow.getMessage)
    // widening the PARTITION column refuses (dir names encode it)
    val path2 = java.nio.file.Files.createTempDirectory("graft_mmwdp")
      .toString + "/tbl"
    Upsert.mergeIntoManifested(spark, path2,
      Seq((1L, 7, 1.0, 1L)).toDF("k", "part", "v", "ver"),
      keys, "part", "ver")
    val exPart = intercept[IllegalArgumentException] {
      Upsert.mergeIntoManifested(spark, path2,
        Seq((1L, 7L, 2.0, 2L)).toDF("k", "part", "v", "ver"),
        keys, "part", "ver")
    }
    assert(exPart.getMessage.contains("partition column"),
      exPart.getMessage)
    // the widening merge recorded one-shot #widen EVENT lines (the
    // feed consumers' fail-fast signal), visible via
    // schemaEventsBetween like #rename/#dropcol — and NOT carried
    // into later manifests (one-shot semantics)
    val ev = Upsert.schemaEventsBetween(spark, path, 0, 1)
      .filter(_._2 == "widen")
    assert(ev.map(e => (e._1, e._3)).toSet ==
      Set((1L, "k"), (1L, "v")), ev.toString)
    assert(Upsert.schemaEventsBetween(spark, path, 1, 2)
      .forall(_._2 != "widen"))
  }

  test("decimal precision growth widens in place at the same scale; " +
      "a scale change refuses") {
    val path = java.nio.file.Files.createTempDirectory("graft_mmwdd")
      .toString + "/tbl"
    def dec(df: org.apache.spark.sql.DataFrame, p: Int, s: Int) =
      df.withColumn("v", $"v".cast(
        org.apache.spark.sql.types.DecimalType(p, s)))
    Upsert.mergeIntoManifested(spark, path,
      dec(rows((1, "a", 1.25, 1), (3, "b", 3.75, 1)), 9, 2),
      keys, "part", "ver")
    Upsert.mergeIntoManifested(spark, path,
      dec(rows((1, "a", 12345678901.25, 2)), 18, 2), keys, "part", "ver")
    val got = Upsert.readManifested(spark, path)
    assert(got.schema("v").dataType ==
      org.apache.spark.sql.types.DecimalType(18, 2))
    assert(got.select($"k", $"v".cast("string")).as[(Long, String)]
      .collect().toSet ==
      Set((1L, "12345678901.25"), (3L, "3.75"))) // b: epoch-0 file upcast
    val ex = intercept[IllegalArgumentException] {
      Upsert.mergeIntoManifested(spark, path,
        dec(rows((1, "a", 1.255, 3)), 18, 3), keys, "part", "ver")
    }
    assert(ex.getMessage.contains("type changed"), ex.getMessage)
  }

  test("metadata-only column rename: old epochs read under the " +
      "mapping (no rewrite), merges continue under the new name, " +
      "widening composes, compaction collapses the mapping") {
    val path = java.nio.file.Files.createTempDirectory("graft_mmrn")
      .toString + "/tbl"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def manifestText(): String = {
      val n = fs.listStatus(new org.apache.hadoop.fs.Path(path))
        .map(_.getPath.getName).filter(_.startsWith("_manifest_"))
        .map(_.stripPrefix("_manifest_").toLong).max
      val in = fs.open(new org.apache.hadoop.fs.Path(
        s"$path/_manifest_$n"))
      try scala.io.Source.fromInputStream(in).mkString finally in.close()
    }
    // batch 1 stores v as FLOAT — the rename must compose with a
    // later widening (epoch-0 files read as physical "v", double)
    Upsert.mergeIntoManifested(spark, path,
      Seq((1L, "a", 1.5f, 1L), (3L, "b", 3.5f, 1L))
        .toDF("k", "part", "v", "ver"), keys, "part", "ver", retain = 4)
    Upsert.renameManifestedColumn(spark, path, "v", "val", retain = 4)
    val afterRename = Upsert.readManifested(spark, path)
    assert(afterRename.columns.toSeq == Seq("k", "part", "val", "ver"))
    assert(afterRename.select($"k", $"val")
      .as[(Long, Float)].collect().toSet == Set((1L, 1.5f), (3L, 3.5f)))
    // zero data movement: still served from the epoch-0 files
    assert(afterRename.select(input_file_name()).distinct()
      .collect().map(_.getString(0)).forall(_.contains("/_e0/")))
    // merge under the NEW name, widened to double, touching only a
    Upsert.mergeIntoManifested(spark, path,
      Seq((1L, "a", 10.25, 2L)).toDF("k", "part", "val", "ver"),
      keys, "part", "ver", retain = 4)
    val got = Upsert.readManifested(spark, path)
    assert(got.schema("val").dataType ==
      org.apache.spark.sql.types.DoubleType)
    assert(got.select($"k", $"part", $"val", $"ver")
      .as[(Long, String, Double, Long)].collect().toSet ==
      Set((1L, "a", 10.25, 2L), (3L, "b", 3.5, 1L)))
    // a batch still using the OLD name refuses as a dropped column
    val exOld = intercept[IllegalArgumentException] {
      Upsert.mergeIntoManifested(spark, path,
        Seq((5L, "a", 5.0, 3L)).toDF("k", "part", "v", "ver"),
        keys, "part", "ver", retain = 4)
    }
    assert(exOld.getMessage.contains("drop"), exOld.getMessage)
    // time travel reconstructs manifest 0 under its OWN (pre-rename,
    // pre-widening) schema
    val at0 = Upsert.readManifestedAt(spark, path, 0)
    assert(at0.columns.toSeq == Seq("k", "part", "v", "ver"))
    assert(at0.schema("v").dataType ==
      org.apache.spark.sql.types.FloatType)
    // chained rename keeps resolving through the per-epoch mapping
    Upsert.renameManifestedColumn(spark, path, "val", "value",
      retain = 4)
    assert(Upsert.readManifested(spark, path)
      .select($"k", $"value").as[(Long, Double)].collect().toSet ==
      Set((1L, 10.25), (3L, 3.5)))
    assert(manifestText().contains("#pmap"))
    // refusals: partition column; existing target name
    val exPart = intercept[IllegalArgumentException] {
      Upsert.renameManifestedColumn(spark, path, "part", "p2")
    }
    assert(exPart.getMessage.contains("partition column"),
      exPart.getMessage)
    val exDup = intercept[IllegalArgumentException] {
      Upsert.renameManifestedColumn(spark, path, "value", "k")
    }
    assert(exDup.getMessage.contains("already exists"), exDup.getMessage)
    // compaction rewrites under the logical names: mapping collapses
    Upsert.compactManifested(spark, path, "part", retain = 2)
    assert(!manifestText().contains("#pmap"), manifestText())
    assert(Upsert.readManifested(spark, path)
      .select($"k", $"part", $"value", $"ver")
      .as[(Long, String, Double, Long)].collect().toSet ==
      Set((1L, "a", 10.25, 2L), (3L, "b", 3.5, 1L)))
  }

  test("readManifestedPartitions resolves ONLY the named partitions' " +
      "dirs; unknown values yield an empty schema-shaped result") {
    val path = java.nio.file.Files.createTempDirectory("graft_mmpr")
      .toString + "/tbl"
    Upsert.mergeIntoManifested(spark, path,
      rows((1, "a", 1.0, 1), (3, "b", 3.0, 1), (4, "c", 4.0, 1)),
      keys, "part", "ver")
    Upsert.mergeIntoManifested(spark, path,
      rows((1, "a", 10.0, 2)), keys, "part", "ver")
    val got = Upsert.readManifestedPartitions(spark, path, Seq("a", "c"))
    assert(got.select($"k", $"part", $"v", $"ver")
      .as[(Long, String, Double, Long)].collect().toSet ==
      Set((1L, "a", 10.0, 2L), (4L, "c", 4.0, 1L)))
    // files resolved: only a's and c's snapshot dirs
    val files = got.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(files.forall(f => f.contains("/part=a/") ||
      f.contains("/part=c/")), files.mkString(","))
    // hostile partition value round-trips through the escaping
    Upsert.mergeIntoManifested(spark, path,
      rows((9, "x y/z", 9.0, 1)), keys, "part", "ver")
    assert(Upsert.readManifestedPartitions(spark, path, Seq("x y/z"))
      .select($"k").as[Long].collect().toSeq == Seq(9L))
    // unknown value: empty result under the recorded schema
    val empty = Upsert.readManifestedPartitions(spark, path, Seq("zz"))
    assert(empty.columns.toSeq == Seq("k", "part", "v", "ver"))
    assert(empty.count() == 0)
  }

  test("deleteFromManifested rewrites only touched partitions, drops " +
      "fully-deleted ones, keeps null-predicate rows, no-ops on " +
      "replay, and survives both kill windows") {
    val path = java.nio.file.Files.createTempDirectory("graft_mmdl")
      .toString + "/tbl"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def activeManifest(): Long =
      fs.listStatus(new org.apache.hadoop.fs.Path(path))
        .map(_.getPath.getName).filter(_.startsWith("_manifest_"))
        .map(_.stripPrefix("_manifest_").toLong).max
    Upsert.mergeIntoManifested(spark, path,
      rows((1, "a", 1.0, 1), (2, "a", 2.0, 1), (3, "b", 3.0, 1),
        (4, "c", 4.0, 1)), keys, "part", "ver")
    // delete one row of partition a: b and c must keep their epoch-0
    // dirs untouched
    Upsert.deleteFromManifested(spark, path, $"k" === 1)
    assert(read(path) == Set((2L, "a", 2.0, 1L), (3L, "b", 3.0, 1L),
      (4L, "c", 4.0, 1L)))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/_e0/part=b")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/_e0/part=c")))
    // a fully-deleted partition drops out of the manifest
    Upsert.deleteFromManifested(spark, path, $"part" === "c")
    assert(read(path) == Set((2L, "a", 2.0, 1L), (3L, "b", 3.0, 1L)))
    // SQL DELETE null semantics: a null predicate row SURVIVES, and a
    // match-nothing delete publishes no new manifest at all
    val mBefore = activeManifest()
    Upsert.deleteFromManifested(spark, path,
      when($"k" === 2, lit(null).cast("boolean")).otherwise($"k" === 99))
    assert(activeManifest() == mBefore)
    assert(read(path).contains((2L, "a", 2.0, 1L)))
    // kill after the rewrite, before publish: delete invisible; retry
    graft.FailPoint.arm("mergem_delete_after_write")
    try intercept[graft.FailPoint.Kill] {
      Upsert.deleteFromManifested(spark, path, $"k" === 2)
    } finally graft.FailPoint.disarm()
    assert(read(path).contains((2L, "a", 2.0, 1L)))
    Upsert.deleteFromManifested(spark, path, $"k" === 2)
    assert(read(path) == Set((3L, "b", 3.0, 1L)))
    // kill after publish: visible; replay matches nothing and no-ops
    graft.FailPoint.arm("mergem_delete_after_publish")
    try intercept[graft.FailPoint.Kill] {
      Upsert.deleteFromManifested(spark, path, $"k" === 3)
    } finally graft.FailPoint.disarm()
    assert(read(path).isEmpty)
    Upsert.deleteFromManifested(spark, path, $"k" === 3)
    assert(read(path).isEmpty)
  }

  test("deleteKeysFromManifested removes exactly the named key " +
      "tuples with partition pruning straight from the batch") {
    val path = java.nio.file.Files.createTempDirectory("graft_mmdk")
      .toString + "/tbl"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // deleting from a table that does not exist yet is a no-op
    Upsert.deleteKeysFromManifested(spark, path,
      rows((1, "a", 0.0, 0)).select($"part", $"k"), keys, "part")
    Upsert.mergeIntoManifested(spark, path,
      rows((1, "a", 1.0, 1), (2, "a", 2.0, 1), (3, "b", 3.0, 1),
        (4, "c", 4.0, 1)), keys, "part", "ver")
    // delete (a,1) and (b,3); (c,99) matches nothing; partition c is
    // named so it rewrites (identically) — cost tracks the BATCH
    val batch = Seq(("a", 1L), ("b", 3L), ("c", 99L)).toDF("part", "k")
    Upsert.deleteKeysFromManifested(spark, path, batch, keys, "part")
    assert(read(path) == Set((2L, "a", 2.0, 1L), (4L, "c", 4.0, 1L)))
    // partition b lost its only row: its entry dropped; a key batch
    // naming only unknown partitions publishes nothing
    assert(!read(path).exists(_._2 == "b"))
    Upsert.deleteKeysFromManifested(spark, path,
      Seq(("zz", 1L)).toDF("part", "k"), keys, "part")
    assert(read(path) == Set((2L, "a", 2.0, 1L), (4L, "c", 4.0, 1L)))
    // the partition column must be part of the key
    intercept[IllegalArgumentException] {
      Upsert.deleteKeysFromManifested(spark, path,
        Seq(1L).toDF("k"), Seq("k"), "part")
    }
  }

  test("deleteKeysFromManifested with a key batch typed wider or " +
      "narrower than the stored keys keeps the stored types readable") {
    val path = java.nio.file.Files.createTempDirectory("graft_mmdkt")
      .toString + "/tbl"
    Upsert.mergeIntoManifested(spark, path,
      Seq((1, "a", 1.0, 1L), (2, "a", 2.0, 1L), (3, "b", 3.0, 1L))
        .toDF("k", "part", "v", "ver"), keys, "part", "ver")
    def stored() = Upsert.readManifested(spark, path)
      .select($"k", $"part", $"v").as[(Int, String, Double)]
      .collect().sortBy(_._1).toSeq
    // long keys into the int column: (a,1) goes; 2^32 + 2 is no int,
    // so it must not delete (a,2) the way a wrapping cast would
    Upsert.deleteKeysFromManifested(spark, path,
      Seq(("a", 1L), ("a", (1L << 32) + 2)).toDF("part", "k"),
      keys, "part")
    assert(Upsert.readManifested(spark, path).schema("k").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(stored() == Seq((2, "a", 2.0), (3, "b", 3.0)))
    // a fractional key matches no int key; short keys widen losslessly
    Upsert.deleteKeysFromManifested(spark, path,
      Seq(("a", 2.5)).toDF("part", "k"), keys, "part")
    assert(stored() == Seq((2, "a", 2.0), (3, "b", 3.0)))
    Upsert.deleteKeysFromManifested(spark, path,
      Seq(("b", 3.toShort)).toDF("part", "k"), keys, "part")
    assert(stored() == Seq((2, "a", 2.0)))
    // the rewritten epochs still merge and read under the recorded type
    Upsert.mergeIntoManifested(spark, path,
      Seq((2, "a", 20.0, 2L)).toDF("k", "part", "v", "ver"),
      keys, "part", "ver")
    assert(stored() == Seq((2, "a", 20.0)))
  }

  test("zone-map data skipping: readManifestedRange resolves only " +
      "dirs whose min/max can match; stats follow merges, deletes, " +
      "renames, and compaction; pruned dirs are never touched") {
    val path = java.nio.file.Files.createTempDirectory("graft_mmzm")
      .toString + "/tbl"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // three partitions with DISJOINT value ranges — the zone-map shape
    val b1 = rows(
      (1, "p1", 1.0, 1), (2, "p1", 10.0, 1),
      (3, "p2", 100.0, 1), (4, "p2", 110.0, 1),
      (5, "p3", 1000.0, 1), (6, "p3", 1010.0, 1))
    Upsert.mergeIntoManifested(spark, path, b1, keys, "part", "ver",
      statsCols = Seq("v"))
    def range(c: String, lo: Any, hi: Any) =
      Upsert.readManifestedRange(spark, path, c, lo, hi)
        .select($"k", $"part").as[(Long, String)].collect().toSet
    assert(range("v", 100.0, 120.0) == Set((3L, "p2"), (4L, "p2")))
    assert(range("v", null, 10.0) == Set((1L, "p1"), (2L, "p1")))
    // an update moves p1's values; its zone map must follow
    Upsert.mergeIntoManifested(spark, path,
      rows((1, "p1", 2000.0, 2), (2, "p1", 2010.0, 2)), keys, "part",
      "ver")
    assert(range("v", 1990.0, 2100.0) == Set((1L, "p1"), (2L, "p1")))
    assert(range("v", 1.0, 50.0) == Set.empty)
    // rename: the zone map follows the logical name
    Upsert.renameManifestedColumn(spark, path, "v", "w")
    assert(range("w", 100.0, 120.0) == Set((3L, "p2"), (4L, "p2")))
    // delete empties p2: its stats entry drops with its manifest entry
    Upsert.deleteFromManifested(spark, path, $"part" === "p2")
    assert(range("w", 100.0, 120.0) == Set.empty)
    // compaction recomputes the maps over the fresh epoch
    Upsert.compactManifested(spark, path, "part")
    assert(range("w", 1990.0, 2100.0) == Set((1L, "p1"), (2L, "p1")))
    // THE PRUNING PROOF: physically remove p3's dir — a range query
    // that the zone maps rule p3 out of must never list it, so it
    // still answers; a read without skipping would throw on the
    // missing files
    val p3dir = fs.globStatus(new org.apache.hadoop.fs.Path(
        s"$path/_e*/part=p3"))
      .map(_.getPath).maxBy(p => p.getParent.getName
        .stripPrefix("_e").toLong) // the ACTIVE epoch's copy
    fs.delete(p3dir, true)
    assert(range("w", 1990.0, 2100.0) == Set((1L, "p1"), (2L, "p1")))
    intercept[Exception] { // the unpruned reader DOES need p3
      Upsert.readManifested(spark, path).count()
    }
  }

  test("changesBetween: insert/update/delete with pre/post images, " +
      "unchanged partitions never read, added columns null on the " +
      "before side, renames refuse") {
    val path = java.nio.file.Files.createTempDirectory("graft_mmcdf")
      .toString + "/tbl"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Upsert.mergeIntoManifested(spark, path,
      rows((1, "a", 1.0, 1), (2, "a", 2.0, 1), (3, "b", 3.0, 1),
        (4, "c", 4.0, 1)), keys, "part", "ver", retain = 6)
    // manifest 1: update key 1, insert key 5 (new partition d)
    Upsert.mergeIntoManifested(spark, path,
      rows((1, "a", 10.0, 2), (5, "d", 5.0, 1)), keys, "part", "ver",
      retain = 6)
    // manifest 2: delete key 4 (partition c empties out)
    Upsert.deleteKeysFromManifested(spark, path,
      Seq(("c", 4L)).toDF("part", "k"), keys, "part", retain = 6)
    def feed(from: Long, to: Long) =
      Upsert.changesBetween(spark, path, from, to, keys)
        .select($"k", $"part", $"v", $"ver", $"_change_type")
        .as[(Long, String, Double, Long, String)].collect().toSet
    assert(feed(0, 2) == Set(
      (1L, "a", 1.0, 1L, "update_preimage"),
      (1L, "a", 10.0, 2L, "update_postimage"),
      (5L, "d", 5.0, 1L, "insert"),
      (4L, "c", 4.0, 1L, "delete")))
    // key 2 lives in the REWRITTEN partition a but its values did not
    // change — no row; key 3's partition b is untouched — never read:
    // remove its dir and the feed must still answer
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/_e0/part=b"), true)
    assert(feed(0, 2).size == 4)
    // single-interval feeds compose
    assert(feed(1, 2) == Set((4L, "c", 4.0, 1L, "delete")))
    // a column added in the interval reads null on the before side
    Upsert.mergeIntoManifested(spark, path,
      Seq((1L, "a", 20.0, 3L, "hot")).toDF("k", "part", "v", "ver", "tag"),
      keys, "part", "ver", retain = 6)
    val withTag = Upsert.changesBetween(spark, path, 2, 3, keys)
      .select($"k", $"v", $"tag", $"_change_type")
      .as[(Long, Double, Option[String], String)].collect().toSet
    assert(withTag == Set(
      (1L, 10.0, None, "update_preimage"),
      (1L, 20.0, Some("hot"), "update_postimage")))
    // poll-and-checkpoint consumption: changesSince walks to the
    // active manifest and returns the next checkpoint; an up-to-date
    // poll is empty but schema-shaped
    val (f1, e1) = Upsert.changesSince(spark, path, 2, keys)
    assert(e1 == 3)
    assert(f1.count() == 2) // the interval-3 pre/post pair
    val (f2, e2) = Upsert.changesSince(spark, path, e1, keys)
    assert(e2 == e1 && f2.count() == 0)
    assert(f2.columns.toSeq ==
      Seq("part", "k", "v", "ver", "tag", "_change_type"))
    // a rename inside the interval resolves: the metadata-only flip
    // changes no content, so the feed across it is empty — under the
    // NEW name (the dedicated rename-resolution test covers value
    // changes crossing a rename)
    Upsert.renameManifestedColumn(spark, path, "v", "w", retain = 6)
    val acrossRename = Upsert.changesBetween(spark, path, 3, 4, keys)
    assert(acrossRename.columns.contains("w") &&
      !acrossRename.columns.contains("v"))
    assert(acrossRename.isEmpty)
  }

  test("sweep deletes emptied epoch dirs (_SUCCESS must not pin them)") {
    val path = java.nio.file.Files.createTempDirectory("graft_mmsw")
      .toString + "/tbl"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // merges touch ONLY partition a: each old epoch dir loses its one
    // partition two generations later and must disappear entirely
    (1 to 4).foreach { i =>
      Upsert.mergeIntoManifested(spark, path,
        rows((1, "a", i.toDouble, i.toLong)), keys, "part", "ver")
    }
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/_e0")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/_e1")))
    assert(read(path) == Set((1L, "a", 4.0, 4L)))
  }

  test("sweep retains the previous manifest's references and reclaims " +
      "older unreferenced epochs") {
    val path = java.nio.file.Files.createTempDirectory("graft_mms")
      .toString + "/tbl"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Upsert.mergeIntoManifested(spark, path,
      rows((1, "a", 1.0, 1), (3, "b", 3.0, 1)), keys, "part", "ver")
    Upsert.mergeIntoManifested(spark, path,
      rows((1, "a", 2.0, 2)), keys, "part", "ver")
    Upsert.mergeIntoManifested(spark, path,
      rows((1, "a", 3.0, 3)), keys, "part", "ver")
    // a's epoch-1 snapshot is still referenced by manifest 1 (lazy-
    // reader retention); its epoch-0 original must be gone
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/_e1/part=a")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/_e0/part=a")))
    // b never rewritten: epoch 0 still live via the ACTIVE manifest
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/_e0/part=b")))
    // escaping round-trip: a partition value with path-hostile chars
    Upsert.mergeIntoManifested(spark, path,
      rows((9, "x y/z", 9.0, 1)), keys, "part", "ver")
    assert(read(path).contains((9L, "x y/z", 9.0, 1L)))
  }

  test("dropManifestedColumn is metadata-only; a re-added column " +
      "reads NULL from pre-drop files (no resurrection), composes " +
      "with rename, and compaction collapses the dead markers") {
    val path = java.nio.file.Files.createTempDirectory("graft_mmdrop")
      .toString + "/tbl"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def manifestText(): String = {
      val n = fs.listStatus(new org.apache.hadoop.fs.Path(path))
        .map(_.getPath.getName).filter(_.startsWith("_manifest_"))
        .map(_.stripPrefix("_manifest_").toLong).max
      val in = fs.open(new org.apache.hadoop.fs.Path(
        s"$path/_manifest_$n"))
      try scala.io.Source.fromInputStream(in).mkString finally in.close()
    }
    Upsert.mergeIntoManifested(spark, path,
      Seq((1L, "a", 1.0, "one", 1L), (3L, "b", 3.0, "three", 1L))
        .toDF("k", "part", "v", "extra", "ver"),
      keys, "part", "ver", retain = 6)
    Upsert.dropManifestedColumn(spark, path, "extra", retain = 6)
    val afterDrop = Upsert.readManifested(spark, path)
    assert(afterDrop.columns.toSeq == Seq("k", "part", "v", "ver"))
    // zero data movement: still served from the epoch-0 files, which
    // physically still contain the dropped bytes
    assert(afterDrop.select(input_file_name()).distinct()
      .collect().map(_.getString(0)).forall(_.contains("/_e0/")))
    // RE-ADD the name, touching only partition a: the pre-drop file
    // for b still stores extra="three" but must read as NULL
    Upsert.mergeIntoManifested(spark, path,
      Seq((1L, "a", 1.0, "NEW", 2L))
        .toDF("k", "part", "v", "extra", "ver"),
      keys, "part", "ver", retain = 6)
    assert(Upsert.readManifested(spark, path)
      .select($"k", $"extra").as[(Long, Option[String])]
      .collect().toSet == Set((1L, Some("NEW")), (3L, None)))
    // time travel: manifest 0 still shows the retired values under
    // its OWN schema
    assert(Upsert.readManifestedAt(spark, path, 0)
      .select($"k", $"extra").as[(Long, String)].collect().toSet ==
      Set((1L, "one"), (3L, "three")))
    // rename of the re-added column must NOT resurrect b's dead bytes
    // (the dead marker stays; only live epochs remap)
    Upsert.renameManifestedColumn(spark, path, "extra", "note",
      retain = 6)
    assert(Upsert.readManifested(spark, path)
      .select($"k", $"note").as[(Long, Option[String])]
      .collect().toSet == Set((1L, Some("NEW")), (3L, None)))
    // drop composed THROUGH a rename: rename v -> w, then drop w —
    // the dead marker must retire the PHYSICAL name v in old epochs
    Upsert.renameManifestedColumn(spark, path, "v", "w", retain = 6)
    Upsert.dropManifestedColumn(spark, path, "w", retain = 6)
    // re-add under the ORIGINAL physical spelling: must be all-null
    // history, not epoch-0's stored v values (the batch carries every
    // stored column — evolution is add-only)
    Upsert.mergeIntoManifested(spark, path,
      Seq((1L, "a", "NEW", 7.5, 3L))
        .toDF("k", "part", "note", "v", "ver"),
      keys, "part", "ver", retain = 6)
    assert(Upsert.readManifested(spark, path)
      .select($"k", $"v").as[(Long, Option[Double])]
      .collect().toSet == Set((1L, Some(7.5)), (3L, None)))
    assert(manifestText().contains("__graft_dead__"))
    // refusals
    val exPart = intercept[IllegalArgumentException] {
      Upsert.dropManifestedColumn(spark, path, "part")
    }
    assert(exPart.getMessage.contains("partition column"),
      exPart.getMessage)
    val exNone = intercept[IllegalArgumentException] {
      Upsert.dropManifestedColumn(spark, path, "nope")
    }
    assert(exNone.getMessage.contains("no column"), exNone.getMessage)
    // compaction rewrites under the current schema: dead markers
    // collapse and content is unchanged
    Upsert.compactManifested(spark, path, "part", retain = 2)
    assert(!manifestText().contains("__graft_dead__"), manifestText())
    assert(Upsert.readManifested(spark, path)
      .select($"k", $"part", $"v", $"note")
      .as[(Long, String, Option[Double], Option[String])]
      .collect().toSet == Set(
        (1L, "a", Some(7.5), Some("NEW")), (3L, "b", None, None)))
  }

  test("changesBetween resolves a rename inside the interval (before " +
      "side reads under the TO-side names); a drop refuses precisely") {
    val path = java.nio.file.Files.createTempDirectory("graft_mmcdfrn")
      .toString + "/tbl"
    // epoch 0: v as FLOAT (the before side must also cross the
    // widening); epoch 1: rename v -> w; epoch 2: merge under w as
    // DOUBLE with an update, an insert, and an untouched partition
    Upsert.mergeIntoManifested(spark, path,
      Seq((1L, "a", 1.5f, 1L), (2L, "a", 2.5f, 1L), (3L, "b", 3.5f, 1L))
        .toDF("k", "part", "v", "ver"), keys, "part", "ver", retain = 6)
    Upsert.renameManifestedColumn(spark, path, "v", "w", retain = 6)
    Upsert.mergeIntoManifested(spark, path,
      Seq((1L, "a", 10.25, 2L), (4L, "a", 4.25, 2L))
        .toDF("k", "part", "w", "ver"), keys, "part", "ver", retain = 6)
    val feed = Upsert.changesBetween(spark, path, 0L, 2L, keys)
      .select($"k", $"part", $"w", $"ver", $"_change_type")
      .as[(Long, String, Double, Long, String)].collect().toSet
    assert(feed == Set(
      (1L, "a", 1.5, 1L, "update_preimage"),
      (1L, "a", 10.25, 2L, "update_postimage"),
      (4L, "a", 4.25, 2L, "insert")), feed)
    // key 2 rewrote in place with identical values -> silence; key 3's
    // partition never moved -> never even read
    // the rename-only interval 0 -> 1 is pure metadata: empty feed
    assert(Upsert.changesBetween(spark, path, 0L, 1L, keys).isEmpty)
    // a DROP inside the interval refuses with the two-hop hint
    Upsert.dropManifestedColumn(spark, path, "w", retain = 6)
    val ex = intercept[IllegalStateException] {
      Upsert.changesBetween(spark, path, 0L, 3L, keys)
    }
    assert(ex.getMessage.contains("dropped") &&
      ex.getMessage.contains("two hops"), ex.getMessage)
    // but an interval whose from-side never had the column is fine:
    // 2 -> 3 is metadata-only from w's OWNER side... the drop IS
    // visible as w vanishing; from-side (epoch 2) still has w, so it
    // refuses too — the legal read is around it:
    val ex2 = intercept[IllegalStateException] {
      Upsert.changesBetween(spark, path, 2L, 3L, keys)
    }
    assert(ex2.getMessage.contains("dropped"), ex2.getMessage)
    // after the drop, a fresh interval not crossing it works again
    Upsert.mergeIntoManifested(spark, path,
      Seq((5L, "b", 5.0, 3L)).toDF("k", "part", "x", "ver"),
      keys, "part", "ver", retain = 6)
    val feed2 = Upsert.changesBetween(spark, path, 3L, 4L, keys)
      .select($"k", $"_change_type").as[(Long, String)].collect().toSet
    assert(feed2 == Set((5L, "insert")), feed2)
  }

  test("the publish rename refuses an existing destination — the " +
      "filesystem behavior the concurrent-writer collision gate " +
      "relies on") {
    // two writers racing to publish the same next epoch collide at
    // the manifest rename: the loser must get a failed rename (-> the
    // loud concurrent-writer IOException), never silently replace the
    // winner's manifest. Pin the Hadoop semantics that argument
    // stands on.
    val dir = new org.apache.hadoop.fs.Path(
      java.nio.file.Files.createTempDirectory("graft_mmocc").toString)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def writeFile(p: org.apache.hadoop.fs.Path, s: String): Unit = {
      val o = fs.create(p, true)
      try o.write(s.getBytes("UTF-8")) finally o.close()
    }
    val winner = new org.apache.hadoop.fs.Path(dir, "_manifest_1")
    writeFile(winner, "winner\n")
    val loserTmp = new org.apache.hadoop.fs.Path(dir, "_manifest_1.tmp")
    writeFile(loserTmp, "loser\n")
    assert(!fs.rename(loserTmp, winner))
    val in = fs.open(winner)
    try assert(scala.io.Source.fromInputStream(in).mkString == "winner\n")
    finally in.close()
  }

  test("paused merge holder (ADVICE r19, medium): a merge whose lease " +
      "a competitor broke DURING its epoch-dir write aborts at the " +
      "post-write fence — before listing files or publishing a " +
      "manifest whose inventory the successor may clobber") {
    val path = java.nio.file.Files.createTempDirectory("graft_mmpause")
      .toString + "/tbl"
    Upsert.mergeIntoManifested(spark, path,
      rows((1, "a", 1.0, 1), (2, "b", 2.0, 1)), keys, "part", "ver")
    val before = read(path)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lease = new org.apache.hadoop.fs.Path(
      fs.makeQualified(root), "_maintenance_lease")
    // the competitor takes over exactly when the paused holder's
    // Overwrite has finished but its manifest has not published
    graft.FailPoint.armHook("mergem_after_epoch_write", () => {
      fs.delete(lease, false)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(lease.toUri.getPath),
        "competitor-jvm\t1\tcompetitor-token".getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE_NEW)
    })
    val ex = try intercept[java.io.IOException] {
      Upsert.mergeIntoManifested(spark, path,
        rows((1, "a", 10.0, 2)), keys, "part", "ver")
    } finally graft.FailPoint.disarmHook()
    assert(ex.getMessage.contains("lease"), ex.getMessage)
    // nothing published — the old snapshot serves; the competitor's
    // lease survives the loser's token-checked release
    assert(read(path) == before)
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(lease.toUri.getPath)), "UTF-8")
      .endsWith("competitor-token"))
    fs.delete(lease, false)
    // the retry lands against the intact head
    Upsert.mergeIntoManifested(spark, path,
      rows((1, "a", 10.0, 2)), keys, "part", "ver")
    assert(read(path).contains((1L, "a", 10.0, 2L)))
  }

  test("changeFeedSpans: an interval crossing a drop splits into " +
      "drop-free spans, each diffing under its own schemas — the " +
      "re-added name is a new column, never the retired values") {
    val path = java.nio.file.Files.createTempDirectory("graft_mmspan")
      .toString + "/tbl"
    def m(df: org.apache.spark.sql.DataFrame): Unit =
      Upsert.mergeIntoManifested(spark, path, df, keys, "part", "ver",
        retain = 8)
    m(Seq((1L, "a", "old", 1L)).toDF("k", "part", "tag", "ver")) // e0
    m(Seq((1L, "a", "mid", 2L)).toDF("k", "part", "tag", "ver")) // e1
    Upsert.dropManifestedColumn(spark, path, "tag", retain = 8)  // e2
    m(Seq((1L, "a", "new", 3L)).toDF("k", "part", "tag", "ver")) // e3
    // the single-interval feed refuses (the value diff under a
    // re-added name would lie); the span form composes
    intercept[IllegalStateException] {
      Upsert.changesBetween(spark, path, 0L, 3L, keys)
    }
    val spans = Upsert.changeFeedSpans(spark, path, 0L, 3L, keys)
    assert(spans.map(s => (s._1, s._2)) == Seq((0L, 1L), (2L, 3L)))
    // span 1: pre-drop schema, the retired column's changes intact
    assert(spans(0)._3.select($"k", $"tag", $"ver", $"_change_type")
      .as[(Long, String, Long, String)].collect().toSet == Set(
      (1L, "old", 1L, "update_preimage"),
      (1L, "mid", 2L, "update_postimage")))
    // span 2: post-drop schema — the re-added `tag` has a NULL
    // before-image (a fresh column), never the retired "mid"
    assert(spans(1)._3
      .select($"k", $"tag", $"ver", $"_change_type")
      .as[(Long, Option[String], Long, String)].collect().toSet == Set(
      (1L, None, 2L, "update_preimage"),
      (1L, Some("new"), 3L, "update_postimage")))
    // a drop-free sub-interval yields one span == plain changesBetween
    val single = Upsert.changeFeedSpans(spark, path, 2L, 3L, keys)
    assert(single.map(s => (s._1, s._2)) == Seq((2L, 3L)))
    // degenerate: empty interval
    assert(Upsert.changeFeedSpans(spark, path, 3L, 3L, keys).isEmpty)
  }

  test("a null partition value refuses on the FIRST merge too — it " +
      "must never bake an unaddressable __HIVE_DEFAULT_PARTITION__ " +
      "into manifest 0 (ADVICE r14)") {
    val path = java.nio.file.Files.createTempDirectory("graft_mmnull")
      .toString + "/tbl"
    // since r22 the probe rides inside the bootstrap write's scan stage
    // (raise_error guard — one fewer job per table bootstrap), so the
    // loud failure surfaces as the write job's exception; the contract
    // under test is unchanged: refuse loudly, publish nothing
    val e = intercept[Exception] {
      Upsert.mergeIntoManifested(spark, path,
        Seq((1L, Option.empty[String], 1.0, 1L), (2L, Some("a"), 2.0, 1L))
          .toDF("k", "part", "v", "ver"), keys, "part", "ver")
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString("; ")
    assert(msgs.contains("null part values are not supported"),
      s"unexpected failure: $msgs")
    // nothing was published: the table is still uninitialized and a
    // clean batch starts it normally
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/_manifest_0")))
    Upsert.mergeIntoManifested(spark, path,
      rows((2, "a", 2.0, 1)), keys, "part", "ver")
    assert(read(path) == Set((2L, "a", 2.0, 1L)))
  }

  test("withManifestedRetry: a reader lagging past the retained epoch " +
      "hits FileNotFound at action time and survives by re-resolving " +
      "(VERDICT r14)") {
    val path = java.nio.file.Files.createTempDirectory("graft_mmretry")
      .toString + "/tbl"
    Upsert.mergeIntoManifested(spark, path,
      rows((1, "a", 1.0, 1), (3, "b", 3.0, 1)), keys, "part", "ver")
    // resolve NOW (manifest 0), act LATER — the lazy-reader lag shape
    val stale = Upsert.readManifested(spark, path)
    // three merges at default retain=2: _e0/part=a is reclaimed
    (2 to 4).foreach { v =>
      Upsert.mergeIntoManifested(spark, path,
        rows((1, "a", v.toDouble, v.toLong)), keys, "part", "ver")
    }
    val ex = intercept[Throwable] { stale.count() }
    assert(Upsert.isFileNotFound(ex), s"expected a vanished-file error: $ex")
    // the wrapper owns the contractual recovery: attempt 1 replays the
    // stale frame (deterministic lag), attempt 2 re-resolves and wins
    var resolves = 0
    val n = Upsert.withManifestedRetry(spark) {
      resolves += 1
      if (resolves == 1) stale else Upsert.readManifested(spark, path)
    }(_.count())
    assert(n == 2L && resolves == 2, s"n=$n resolves=$resolves")
    // a non-staleness failure propagates untouched, no retry loop
    var calls = 0
    intercept[IllegalArgumentException] {
      Upsert.withManifestedRetry(spark) {
        calls += 1
        stale
      }(_ => throw new IllegalArgumentException("real bug"))
    }
    assert(calls == 1)
  }

  test("zone maps over NaN/Infinity extremes: pruning stays an " +
      "optimization, never a read failure (ADVICE r14)") {
    val path = java.nio.file.Files.createTempDirectory("graft_mmnan")
      .toString + "/tbl"
    // p1's max is NaN (Spark orders NaN largest), p2's max is +Inf —
    // both land as unparseable-to-BigDecimal strings in the #stats
    // lines; the reader must still answer exactly like a plain filter
    Upsert.mergeIntoManifested(spark, path,
      rows((1, "p1", 1.0, 1), (2, "p1", Double.NaN, 1),
        (3, "p2", 5.0, 1), (4, "p2", Double.PositiveInfinity, 1),
        (5, "p3", 100.0, 1)),
      keys, "part", "ver", statsCols = Seq("v"))
    def range(lo: Any, hi: Any) =
      Upsert.readManifestedRange(spark, path, "v", lo, hi)
        .select($"k").as[Long].collect().toSet
    // p1 kept (max NaN sorts above any lo), NaN row itself filtered
    assert(range(0.5, 2.0) == Set(1L))
    // p2's min 5.0 rules it out of (.., 2.0]; p3 pruned by min 100
    assert(range(null, 2.0) == Set(1L))
    // an Infinity upper bound keeps p2 and finds the Inf row
    assert(range(50.0, Double.PositiveInfinity) == Set(4L, 5L))
  }

  /** Jobs `body` submits under a job group of its own, so concurrent
    * activity on the shared session is not counted. A job count does
    * not depend on machine load. */
  private def jobsOf(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val group = java.util.UUID.randomUUID().toString
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null &&
            js.properties.getProperty("spark.jobGroup.id") == group)
          n.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    sc.setJobGroup(group, "jobsOf")
    try { body; org.apache.spark.ListenerBusDrain.drain(sc) }
    finally { sc.clearJobGroup(); sc.removeSparkListener(l) }
    n.get
  }

  test("direct writer calls submit a pinned number of jobs, on the " +
      "single-file and the sharded manifest alike") {
    val saved = Upsert.EpochManifest.shardThreshold
    try for (threshold <- Seq(saved, 1)) {
      Upsert.EpochManifest.shardThreshold = threshold
      val path = java.nio.file.Files.createTempDirectory("graft_mmjobs")
        .toString + "/tbl"
      Upsert.mergeIntoManifested(spark, path,
        rows((1 to 16).map(i => (i.toLong, "p" + (i % 4), i.toDouble, 1L)): _*),
        keys, "part", "ver", statsCols = Seq("v"))
      val merge = jobsOf(Upsert.mergeIntoManifested(spark, path,
        rows((3L, "p3", 30.0, 2L), (5L, "p1", 50.0, 2L)),
        keys, "part", "ver"))
      val deleteKeys = jobsOf(Upsert.deleteKeysFromManifested(spark,
        path, Seq(("p1", 5L), ("p2", 6L)).toDF("part", "k"), keys,
        "part"))
      val deletePred = jobsOf(Upsert.deleteFromManifested(spark, path,
        col("k") === 7L))
      val pcompact = jobsOf(Upsert.compactManifestedPartitions(spark,
        path, "part", Seq("p0", "p3")))
      val compact = jobsOf(Upsert.compactManifested(spark, path, "part"))
      // the counts each writer made before it committed through the
      // shared epoch commit; a change to the tail shows up here first
      assert((merge, deleteKeys, deletePred, pcompact, compact) ==
        ((5, 6, 6, 4, 4)), s"shardThreshold=$threshold")
      assert(read(path) == (1 to 16).filterNot(Set(5, 6, 7).contains)
        .map(i => (i.toLong, "p" + (i % 4),
          if (i == 3) 30.0 else i.toDouble, if (i == 3) 2L else 1L)).toSet)
    } finally Upsert.EpochManifest.shardThreshold = saved
  }
}
