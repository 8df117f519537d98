package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class UpsertIdsSpec extends SparkSpec {
  import spark.implicits._

  test("merge: update wins, unmatched target passes, unmatched update inserts") {
    val target = Seq((1L, "A", 10.0), (2L, "B", 20.0)).toDF("k", "st", "v")
    val updates = Seq((2L, "U", 99.0), (3L, "N", 30.0)).toDF("k", "st", "v")
    val out = Upsert.merge(target, updates, Seq("k"))
      .as[(Long, String, Double)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, "A", 10.0), (2L, "U", 99.0), (3L, "N", 30.0)))
  }

  test("merge is idempotent: re-applying the same updates is a no-op") {
    val target = Seq((1L, "A", 10.0), (2L, "B", 20.0)).toDF("k", "st", "v")
    val updates = Seq((2L, "U", 99.0)).toDF("k", "st", "v")
    val once = Upsert.merge(target, updates, Seq("k"))
    val twice = Upsert.merge(once, updates, Seq("k"))
    assert(once.as[(Long, String, Double)].collect().sortBy(_._1).toSeq ==
      twice.as[(Long, String, Double)].collect().sortBy(_._1).toSeq)
  }

  test("scd2Merge closes changed rows, passes no-ops and history, inserts new keys") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val hist = Seq(
      // key 1: one closed row + a current row (attr "A")
      (1L, "OLD", ts("1990-01-01 00:00:00"), Option(ts("1995-01-01 00:00:00"))),
      (1L, "A", ts("1995-01-01 00:00:00"), Option.empty[Timestamp]),
      (2L, "B", ts("1995-01-01 00:00:00"), Option.empty[Timestamp]),
      (3L, "C", ts("1995-01-01 00:00:00"), Option.empty[Timestamp])
    ).toDF("k", "attr", "valid_from", "valid_to")
    val t0 = ts("2000-06-01 00:00:00")
    val updates = Seq(
      (1L, "A2", t0), // change -> close + open
      (2L, "B", t0),  // identical -> no-op
      (9L, "Z", t0)   // new key -> insert
    ).toDF("k", "attr", "ts")
    val out = Upsert.scd2Merge(hist, updates, Seq("k"), Seq("attr"), "ts")
      .as[(Long, String, Timestamp, Option[Timestamp])].collect()
      .sortBy(r => (r._1, r._3.getTime))
    assert(out.toSeq == Seq(
      (1L, "OLD", ts("1990-01-01 00:00:00"), Some(ts("1995-01-01 00:00:00"))),
      (1L, "A", ts("1995-01-01 00:00:00"), Some(t0)),
      (1L, "A2", t0, None),
      (2L, "B", ts("1995-01-01 00:00:00"), None),
      (3L, "C", ts("1995-01-01 00:00:00"), None),
      (9L, "Z", t0, None)))
    // replaying the same batch is a no-op: the changed key's current
    // row now HAS the update's attrs, the rest were no-ops already
    val replay = Upsert.scd2Merge(
      Upsert.scd2Merge(hist, updates, Seq("k"), Seq("attr"), "ts"),
      updates, Seq("k"), Seq("attr"), "ts")
      .as[(Long, String, Timestamp, Option[Timestamp])].collect()
      .sortBy(r => (r._1, r._3.getTime))
    assert(replay.toSeq == out.toSeq)
  }

  test("scd2MergeIntoPartitioned: closed history files are never rewritten") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val path = java.nio.file.Files.createTempDirectory("graft_scd2t")
      .toString + "/hist"
    def upd(rows: (Long, String, Timestamp)*) =
      rows.toSeq.toDF("k", "attr", "ts")
    val t1 = ts("1995-01-01 00:00:00"); val t2 = ts("2000-01-01 00:00:00")
    val t3 = ts("2001-01-01 00:00:00")
    Upsert.scd2MergeIntoPartitioned(spark, path,
      upd((1L, "A", t1), (2L, "B", t1), (3L, "C", t1)),
      Seq("k"), Seq("attr"), "ts")
    Upsert.scd2MergeIntoPartitioned(spark, path, upd((1L, "A2", t2)),
      Seq("k"), Seq("attr"), "ts")
    def closedFiles() = spark.read.parquet(path)
      .filter($"status" === "closed")
      .select(input_file_name()).distinct().as[String].collect().toSet
    val afterFirst = closedFiles()
    assert(afterFirst.nonEmpty)
    Upsert.scd2MergeIntoPartitioned(spark, path, upd((2L, "B2", t3)),
      Seq("k"), Seq("attr"), "ts")
    // the first change's closed files survive BY NAME — the second
    // merge appended new closed files and only rewrote `current`
    val afterSecond = closedFiles()
    assert(afterFirst.subsetOf(afterSecond) &&
      afterSecond.size > afterFirst.size)
    // content equals the batch scd2Merge applied sequentially
    val hist0 = upd((1L, "A", t1), (2L, "B", t1), (3L, "C", t1))
      .select($"k", $"attr", $"ts".as("valid_from"),
        lit(null).cast("timestamp").as("valid_to"))
    val batch = Upsert.scd2Merge(
      Upsert.scd2Merge(hist0, upd((1L, "A2", t2)), Seq("k"), Seq("attr"), "ts"),
      upd((2L, "B2", t3)), Seq("k"), Seq("attr"), "ts")
      .as[(Long, String, Timestamp, Option[Timestamp])].collect().toSet
    val onDisk = spark.read.parquet(path).drop("status")
      .select($"k", $"attr", $"valid_from", $"valid_to")
      .as[(Long, String, Timestamp, Option[Timestamp])].collect().toSet
    assert(onDisk == batch)
  }

  test("mergeLatest dedups update stream to highest version per key") {
    val target = Seq((1L, "A", 0L)).toDF("k", "st", "ver")
    val updates = Seq((1L, "old", 1L), (1L, "new", 2L)).toDF("k", "st", "ver")
    val out = Upsert.mergeLatest(target, updates, Seq("k"), "ver")
      .as[(Long, String, Long)].collect()
    assert(out.toSeq == Seq((1L, "new", 2L)))
  }

  test("scd2MergeLatest collapses a multi-row-per-key batch to its latest") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val hist = Seq(
      (1L, "A", ts("1995-01-01 00:00:00"), Option.empty[Timestamp])
    ).toDF("k", "attr", "valid_from", "valid_to")
    // three versions of key 1 in ONE batch (violates scd2Merge's
    // one-ts-per-key rule: its full-outer join would fan out)
    val batch = Seq(
      (1L, "A2", ts("2000-01-01 00:00:00")),
      (1L, "A3", ts("2001-01-01 00:00:00")),
      (1L, "A1", ts("1999-01-01 00:00:00")),
      (2L, "B", ts("2001-01-01 00:00:00"))
    ).toDF("k", "attr", "ts")
    val out = Upsert.scd2MergeLatest(hist, batch, Seq("k"), Seq("attr"), "ts")
      .as[(Long, String, Timestamp, Option[Timestamp])].collect().toSet
    // equals scd2Merge with only the latest row per key — no fan-out,
    // intermediate versions collapse
    val expect = Upsert.scd2Merge(hist,
      Seq((1L, "A3", ts("2001-01-01 00:00:00")),
        (2L, "B", ts("2001-01-01 00:00:00"))).toDF("k", "attr", "ts"),
      Seq("k"), Seq("attr"), "ts")
      .as[(Long, String, Timestamp, Option[Timestamp])].collect().toSet
    assert(out == expect)
    assert(out.count(r => r._1 == 1L && r._4.isEmpty) == 1) // one current row
  }

  test("scd2AsOf: half-open boundary — closed-at-ts gone, opened-at-ts visible") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val t0 = ts("1995-01-01 00:00:00"); val t1 = ts("2000-06-01 00:00:00")
    val hist = Seq(
      (1L, "A", t0, Option(t1)), // closed exactly at t1
      (1L, "A2", t1, Option.empty[Timestamp]), // opened exactly at t1
      (2L, "B", t0, Option.empty[Timestamp]),  // never changed
      (3L, "C", t1, Option.empty[Timestamp])   // opened at t1 (new key)
    ).toDF("k", "attr", "valid_from", "valid_to")
    def asOf(at: Timestamp) = Upsert.scd2AsOf(hist, lit(at))
      .select("k", "attr").as[(Long, String)].collect().toSet
    // before the change: only the original epoch
    assert(asOf(ts("1997-01-01 00:00:00")) == Set((1L, "A"), (2L, "B")))
    // AT the change instant: the new rows, not the closed one
    assert(asOf(t1) == Set((1L, "A2"), (2L, "B"), (3L, "C")))
    // before history began: nothing
    assert(asOf(ts("1990-01-01 00:00:00")).isEmpty)
  }

  test("mergeIntoPartitioned replaces only touched partitions") {
    val base = java.nio.file.Files.createTempDirectory("graft_pmerge").toString
    val table = s"$base/t"
    val initial = Seq(
      ("A", 1L, 10.0, 1L), ("A", 2L, 20.0, 1L),
      ("B", 3L, 30.0, 1L), ("C", 4L, 40.0, 1L)
    ).toDF("part", "k", "v", "ver")
    Upsert.mergeIntoPartitioned(spark, table, initial,
      Seq("part", "k"), "part", "ver")

    // record file mtimes of the untouched partition
    def partFiles(p: String) = new java.io.File(s"$table/part=$p")
      .listFiles.filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.lastModified)).toSet
    val cFilesBefore = partFiles("C")

    // update A (existing key), insert into B (new key); C untouched
    val updates = Seq(
      ("A", 1L, 99.0, 2L), ("B", 9L, 90.0, 2L)
    ).toDF("part", "k", "v", "ver")
    Upsert.mergeIntoPartitioned(spark, table, updates,
      Seq("part", "k"), "part", "ver")

    val out = spark.read.parquet(table)
      .select("part", "k", "v").as[(String, Long, Double)].collect().toSet
    assert(out == Set(
      ("A", 1L, 99.0), ("A", 2L, 20.0),
      ("B", 3L, 30.0), ("B", 9L, 90.0), ("C", 4L, 40.0)))
    // C's physical files were not rewritten
    assert(partFiles("C") == cFilesBefore)
    // older version never resurrects (LWW on ver)
    val v = spark.read.parquet(table).filter($"part" === "A" && $"k" === 1)
      .select("ver").as[Long].head()
    assert(v == 2L)
  }

  test("mergeIntoPartitioned fails loudly when the updates lack a " +
      "stored column, and leaves the table as it was") {
    val table = java.nio.file.Files.createTempDirectory("graft_pmiss")
      .toString + "/t"
    Upsert.mergeIntoPartitioned(spark, table,
      Seq(("A", 1L, 10.0, "x", 1L), ("B", 2L, 20.0, "y", 1L))
        .toDF("part", "k", "v", "note", "ver"),
      Seq("part", "k"), "part", "ver")
    def stored() = spark.read.parquet(table)
      .select("part", "k", "v", "note", "ver")
      .as[(String, Long, Double, String, Long)].collect().toSet
    val before = stored()
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Upsert.mergeIntoPartitioned(spark, table,
        Seq(("A", 1L, 99.0, 2L)).toDF("part", "k", "v", "ver"),
        Seq("part", "k"), "part", "ver")
    }
    assert(e.getMessage.contains("note"), e.getMessage)
    assert(stored() == before)
  }

  test("mergeIntoPartitioned keeps a numeric-looking string partition " +
      "value a string: a second merge into it updates, not duplicates") {
    val table = java.nio.file.Files.createTempDirectory("graft_pstr")
      .toString + "/t"
    def merge(rows: (String, Long, Double, Long)*): Unit =
      Upsert.mergeIntoPartitioned(spark, table,
        rows.toDF("part", "k", "v", "ver"), Seq("part", "k"), "part", "ver")
    merge(("01", 1L, 10.0, 1L), ("02", 2L, 20.0, 1L))
    merge(("01", 1L, 99.0, 2L), ("01", 3L, 30.0, 2L))
    val schema = Upsert.partitionedSchema(spark, table, "part",
      org.apache.spark.sql.types.StringType).get
    assert(schema("part").dataType == org.apache.spark.sql.types.StringType)
    val got = spark.read.schema(schema).parquet(table)
      .select("part", "k", "v").as[(String, Long, Double)].collect().toSet
    assert(got == Set(("01", 1L, 99.0), ("01", 3L, 30.0), ("02", 2L, 20.0)))
    assert(new java.io.File(table).listFiles().map(_.getName)
      .filter(_.startsWith("part=")).toSet == Set("part=01", "part=02"))
  }

  test("withDenseId yields a dense 1-based id in order-key order") {
    val df = spark.range(1, 1001).toDF("k")
      .withColumn("k", col("k") * 7 % 1009) // shuffled but unique
    val out = Ids.withDenseId(df, "id", Seq(col("k")), numPartitions = 8)
      .orderBy("id").as[(Long, Long)].collect()
    val ids = out.map(_._2)
    assert(ids.toSeq == (1L to 1000L))
    // id order must equal k order
    val ks = out.map(_._1)
    assert(ks.toSeq == ks.sorted.toSeq)
  }

  test("withDenseId on single partition still correct") {
    val df = Seq(5L, 3L, 9L).toDF("k")
    val out = Ids.withDenseId(df, "id", Seq(col("k")), numPartitions = 1)
      .orderBy("id").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((3L, 1L), (5L, 2L), (9L, 3L)))
  }

  test("snapshotDiff emits I/U/D with the right row image, drops unchanged") {
    val old = Seq((1L, "A", 10.0), (2L, "B", 20.0), (3L, "C", 30.0),
      (4L, null.asInstanceOf[String], 40.0)).toDF("k", "st", "v")
    val neu = Seq((2L, "B", 20.0), (3L, "C2", 30.0),
      (4L, null.asInstanceOf[String], 40.0), (5L, "E", 50.0))
      .toDF("k", "st", "v")
    val out = Upsert.snapshotDiff(old, neu, Seq("k"))
      .as[(Long, String, Double, String)].collect().sortBy(_._1)
    // 1 deleted (before-image), 2 unchanged (dropped), 3 updated
    // (after-image), 4 null-payload unchanged (null-safe compare), 5
    // inserted
    assert(out.toSeq == Seq((1L, "A", 10.0, "D"),
      (3L, "C2", 30.0, "U"), (5L, "E", 50.0, "I")))
  }

  test("snapshotDiff of identical snapshots is empty; replay via merge converges") {
    val old = Seq((1L, "A", 10.0), (2L, "B", 20.0)).toDF("k", "st", "v")
    assert(Upsert.snapshotDiff(old, old, Seq("k")).count() == 0L)
    val neu = Seq((1L, "A2", 11.0), (2L, "B", 20.0), (3L, "C", 30.0))
      .toDF("k", "st", "v")
    // applying the diff's I/U rows onto old reproduces those keys' new
    // rows (the change-feed replay contract)
    val diff = Upsert.snapshotDiff(old, neu, Seq("k"))
    val applied = Upsert.merge(old,
      diff.filter(col("op") =!= "D").drop("op"), Seq("k"))
    assert(applied.as[(Long, String, Double)].collect().sortBy(_._1)
      .toSeq == Seq((1L, "A2", 11.0), (2L, "B", 20.0), (3L, "C", 30.0)))
  }

  test("applyChanges inverts snapshotDiff (I/U/D incl. deletes and null keys)") {
    val old = Seq((1L, "A", 10.0), (2L, "B", 20.0), (3L, "C", 30.0))
      .toDF("k", "st", "v")
    val neu = Seq((2L, "B", 20.0), (3L, "C2", 30.0), (5L, "E", 50.0))
      .toDF("k", "st", "v")
    val rebuilt = Upsert.applyChanges(old,
        Upsert.snapshotDiff(old, neu, Seq("k")), Seq("k"))
      .as[(Long, String, Double)].collect().sortBy(_._1)
    assert(rebuilt.toSeq ==
      Seq((2L, "B", 20.0), (3L, "C2", 30.0), (5L, "E", 50.0)))
    // a mismatched change-set schema is refused loudly
    val ex = intercept[IllegalArgumentException] {
      Upsert.applyChanges(old, neu.withColumn("op", lit("I"))
        .withColumnRenamed("v", "other"), Seq("k"))
    }
    assert(ex.getMessage.contains("does not match"))
  }
}
