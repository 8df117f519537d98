package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The staging barrier of [[Upsert.scd2MergeManifested]]
  * ([[Upsert.stageSlice]]): localCheckpoint under a local[*] master,
  * durable tmp-parquet on a cluster. Both branches must return the
  * same rows, and the durable one must leave no tmp dir behind on
  * success or on failure. (The partitioned merge stages nothing; its
  * kill-before-overwrite window is AuditChaosSpec's
  * `merge_after_tmp_write` site.) */
class MergeStagingSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_staging").toString +
      "/_merge_tmp"

  private val slice = Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0))

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.as[(Long, String, Double)].collect().sortBy(_._1).toSeq

  test("local and durable staging land the identical table") {
    val got = Seq(false, true).map { durable =>
      val (staged, cleanup) = Upsert.stageSlice(spark,
        slice.toDF("k", "p", "v"), tmpDir(), durable)
      try rows(staged) finally cleanup()
    }
    assert(got(0) == slice && got(1) == slice,
      s"staging branches disagree: local=${got(0)} durable=${got(1)}")
  }

  test("durable staging writes through a tmp dir that is reclaimed " +
      "after the merge") {
    // success: the caller runs cleanup once the merge has published
    val tmp = tmpDir()
    val (staged, cleanup) = Upsert.stageSlice(spark,
      slice.toDF("k", "p", "v"), tmp, durable = true)
    assert(new java.io.File(tmp).isDirectory,
      "durable staging must write the slice to its tmp dir")
    assert(rows(staged) == slice)
    cleanup()
    assert(!new java.io.File(tmp).exists(),
      "durable staging tmp dir must be reclaimed")
    // failure: cleanup on the exception path, then rethrow
    val tmp2 = tmpDir()
    val (staged2, cleanup2) = Upsert.stageSlice(spark,
      slice.toDF("k", "p", "v"), tmp2, durable = true)
    val e = intercept[IllegalStateException] {
      try {
        assert(rows(staged2) == slice)
        throw new IllegalStateException("merge failed after staging")
      } catch { case e: Exception => cleanup2(); throw e }
    }
    assert(e.getMessage.contains("after staging"))
    assert(!new java.io.File(tmp2).exists(),
      "a failed merge must not leak the durable tmp dir")
  }

  test("scd2MergeManifested stages locally under local[*]") {
    // observable: under a local master the merge never creates the
    // durable tmp dir, and the merged history is the expected one
    assert(spark.sparkContext.isLocal)
    val tbl = java.nio.file.Files.createTempDirectory("graft_staging")
      .toString + "/tbl"
    val boot = Seq((1L, "s1"), (2L, "s1"), (3L, "s2")).toDF("key", "seg")
      .withColumn("ts", lit("2020-01-01").cast("timestamp"))
    Upsert.scd2MergeManifested(spark, tbl, boot, Seq("key"), Seq("seg"), "ts")
    val upd = Seq((1L, "s9"), (4L, "s3")).toDF("key", "seg")
      .withColumn("ts", lit("2021-06-01").cast("timestamp"))
    // probed mid-merge, while the staged slice is live
    val tmpSeen = new java.util.concurrent.atomic.AtomicReference[Option[Boolean]](None)
    graft.FailPoint.armHook("scd2_after_closed_append", () =>
      tmpSeen.set(Some(new java.io.File(s"$tbl/_merge_tmp").exists())))
    try Upsert.scd2MergeManifested(spark, tbl, upd,
      Seq("key"), Seq("seg"), "ts")
    finally graft.FailPoint.disarmHook()
    assert(tmpSeen.get == Some(false),
      s"local[*] must take the checkpoint path, not tmp-parquet: ${tmpSeen.get}")
    val got = Upsert.scd2ReadManifested(spark, tbl)
      .select($"key", $"seg",
        coalesce(date_format($"valid_to", "yyyy-MM-dd"), lit("cur")).as("vt"))
      .as[(Long, String, String)].collect().sortBy(r => (r._1, r._3)).toSeq
    assert(got == Seq((1L, "s1", "2021-06-01"), (1L, "s9", "cur"),
      (2L, "s1", "cur"), (3L, "s2", "cur"), (4L, "s3", "cur")))
  }
}
