package graft.streaming

import graft.SparkSpec
import graft.operators.Upsert
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

class MergeSinkSpec extends SparkSpec {
  import spark.implicits._

  test("streaming merges equal one batch merge of all updates") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("mergesink").toString
    val target = s"$dir/table"
    val mem = MemoryStream[(Long, String, Long)]
    val updates = mem.toDF().toDF("k", "v", "ver")
    val q = MergeSink.start(updates, target, Seq("k"), "ver",
      s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      // batch 1 creates the table; in-batch dup on k=1: latest ver wins
      mem.addData((1L, "a0", 1L), (1L, "a1", 2L), (2L, "b0", 1L))
      q.processAllAvailable()
      assert(spark.read.parquet(target).count() == 2)
      assert(spark.read.parquet(target).filter($"k" === 1)
        .select("v").as[String].head() == "a1")
      // batch 2 updates k=2, inserts k=3
      mem.addData((2L, "b1", 5L), (3L, "c0", 1L))
      q.processAllAvailable()
      val fin = spark.read.parquet(target)
        .orderBy("k").as[(Long, String, Long)].collect().toSeq
      assert(fin == Seq((1L, "a1", 2L), (2L, "b1", 5L), (3L, "c0", 1L)))
      // equivalence: the same updates as ONE batch merge into empty
      val all = Seq((1L, "a0", 1L), (1L, "a1", 2L), (2L, "b0", 1L),
        (2L, "b1", 5L), (3L, "c0", 1L)).toDF("k", "v", "ver")
      val empty = all.filter(lit(false))
      val oneShot = Upsert.mergeLatest(empty, all, Seq("k"), "ver")
        .orderBy("k").as[(Long, String, Long)].collect().toSeq
      assert(oneShot == fin)
    } finally q.stop()
  }

  test("cdc sink: net effect per key within a batch, deletes remove " +
      "keys, a later upsert re-inserts, replay is a content no-op") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("mergesinkcdc").toString
    val target = s"$dir/table"
    val mem = MemoryStream[(Long, String, Double, Long, String)]
    val events = mem.toDF().toDF("k", "part", "v", "ver", "op")
    val q = MergeSink.startCdc(events, target, Seq("part", "k"),
      "part", "ver", "op", s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    def got(): Set[(Long, String, Double, Long)] =
      Upsert.readManifested(spark, target)
        .select($"k", $"part", $"v", $"ver")
        .as[(Long, String, Double, Long)].collect().toSet
    try {
      mem.addData((1L, "a", 1.0, 1L, "upsert"), (2L, "a", 2.0, 1L, "upsert"),
        (3L, "b", 3.0, 1L, "upsert"))
      q.processAllAvailable()
      assert(got() == Set((1L, "a", 1.0, 1L), (2L, "a", 2.0, 1L),
        (3L, "b", 3.0, 1L)))
      // the op column must not leak into the table schema
      assert(!Upsert.readManifested(spark, target).columns.contains("op"))
      // delete k=2, update k=1, insert k=4 — one batch
      val b2 = Seq((2L, "a", 0.0, 2L, "delete"),
        (1L, "a", 10.0, 2L, "upsert"), (4L, "c", 4.0, 1L, "upsert"))
      mem.addData(b2: _*)
      q.processAllAvailable()
      val afterB2 = Set((1L, "a", 10.0, 2L), (3L, "b", 3.0, 1L),
        (4L, "c", 4.0, 1L))
      assert(got() == afterB2)
      // within-batch net effect: k=5 upserted then deleted never
      // lands; k=3 deleted then re-upserted at a higher version stays
      mem.addData((5L, "b", 5.0, 1L, "upsert"), (5L, "b", 0.0, 2L, "delete"),
        (3L, "b", 0.0, 2L, "delete"), (3L, "b", 30.0, 3L, "upsert"))
      q.processAllAvailable()
      val afterB3 = Set((1L, "a", 10.0, 2L), (3L, "b", 30.0, 3L),
        (4L, "c", 4.0, 1L))
      assert(got() == afterB3)
      // redelivered batch-2 content: merge no-ops, deletes match
      // nothing — effectively-once
      mem.addData(b2: _*)
      q.processAllAvailable()
      assert(got() == afterB3)
    } finally q.stop()
  }

  test("manifested sink: partition-pruned reader-atomic merges equal " +
      "the order-free max-version model; replay is a content no-op") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("mergesinkm").toString
    val target = s"$dir/table"
    val mem = MemoryStream[(Long, String, Double, Long)]
    val updates = mem.toDF().toDF("k", "part", "v", "ver")
    val q = MergeSink.startManifested(updates, target, Seq("part", "k"),
      "part", "ver", s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      mem.addData((1L, "a", 1.0, 1L), (2L, "a", 2.0, 1L), (3L, "b", 3.0, 1L))
      q.processAllAvailable()
      // batch 2 touches only partition a; b's snapshot dir is reused
      mem.addData((1L, "a", 10.0, 2L), (4L, "c", 4.0, 1L))
      q.processAllAvailable()
      val got = Upsert.readManifested(spark, target)
        .select($"k", $"part", $"v", $"ver")
        .as[(Long, String, Double, Long)].collect().toSet
      assert(got == Set((1L, "a", 10.0, 2L), (2L, "a", 2.0, 1L),
        (3L, "b", 3.0, 1L), (4L, "c", 4.0, 1L)))
      val fs = new org.apache.hadoop.fs.Path(target)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$target/_e0/part=b")))
      // replay (at-least-once delivery): content unchanged
      mem.addData((1L, "a", 10.0, 2L), (4L, "c", 4.0, 1L))
      q.processAllAvailable()
      assert(Upsert.readManifested(spark, target)
        .select($"k", $"part", $"v", $"ver")
        .as[(Long, String, Double, Long)].collect().toSet == got)
    } finally q.stop()
  }

  /** Spark jobs `q` submits while `body` runs: the stream thread tags
    * every job of a micro-batch with the query's run id as its job
    * group, so concurrent activity on the shared session is not
    * counted. A job count does not depend on machine load. */
  private def jobsOf(q: StreamingQuery)(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val group = q.runId.toString
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null &&
            js.properties.getProperty("spark.jobGroup.id") == group)
          n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try { body; ListenerBusDrain.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    n.get
  }

  test("cdc sink commit shape: a mixed batch publishes merge then " +
      "delete epochs, a one-sided batch one, in a pinned job count") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("mergesinkjobs").toString
    val target = s"$dir/table"
    val mem = MemoryStream[(Long, String, Double, Long, String)]
    val events = mem.toDF().toDF("k", "part", "v", "ver", "op")
    val q = MergeSink.startCdc(events, target, Seq("part", "k"),
      "part", "ver", "op", s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    def epoch(): Long = Upsert.manifestedEpoch(spark, target).get
    // (epochs published, jobs submitted) by one micro-batch
    def push(rows: (Long, String, Double, Long, String)*): (Long, Int) = {
      val before = epoch()
      val jobs = jobsOf(q) { mem.addData(rows: _*); q.processAllAvailable() }
      (epoch() - before, jobs)
    }
    try {
      mem.addData((1 to 16).map(i =>
        (i.toLong, "p" + (i % 4), i.toDouble, 1L, "upsert")): _*)
      q.processAllAvailable()
      val ups = push((1L, "p1", 10.0, 2L, "upsert"),
        (2L, "p2", 20.0, 2L, "upsert"), (21L, "p3", 21.0, 1L, "upsert"))
      val del = push((4L, "p0", 0.0, 2L, "delete"),
        (5L, "p1", 0.0, 2L, "delete"))
      val mixed = push((6L, "p2", 60.0, 2L, "upsert"),
        (7L, "p3", 70.0, 2L, "upsert"), (22L, "p0", 22.0, 1L, "upsert"),
        (8L, "p0", 0.0, 2L, "delete"), (9L, "p1", 0.0, 2L, "delete"))
      // merge then delete: two epochs for a mixed batch, one otherwise
      assert((ups._1, del._1, mixed._1) == ((1L, 1L, 2L)))
      // jobs per micro-batch, before the routing pass and the reworked
      // epoch writes: upsert-only 8, delete-only 11,
      // mixed 15. Now: net effect 2 + routing 1 + merge write 2 +
      // delete write 3 (key broadcast, clustering exchange, write).
      assert((ups._2, del._2, mixed._2) == ((5, 6, 8)))
      assert(Upsert.readManifested(spark, target).count() == 14L)
      // each epoch write clustered by the partition column: every dir
      // the mixed batch's merge and delete epochs wrote holds one file
      val e = epoch()
      for (ep <- Seq(e - 1, e)) {
        val dirs = new java.io.File(s"$target/_e$ep").listFiles()
          .filter(_.isDirectory)
        assert(dirs.nonEmpty)
        dirs.foreach(d => assert(
          d.listFiles().count(_.getName.endsWith(".parquet")) == 1, d))
      }
    } finally q.stop()
  }

  test("cdc sink: rows with a null op are neither counted nor applied; " +
      "a batch of only such rows publishes no epoch") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("mergesinknullop").toString
    val target = s"$dir/table"
    val mem = MemoryStream[(Long, String, Double, Long, String)]
    val events = mem.toDF().toDF("k", "part", "v", "ver", "op")
    val q = MergeSink.startCdc(events, target, Seq("part", "k"),
      "part", "ver", "op", s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    def got(): Set[(Long, String, Double, Long)] =
      Upsert.readManifested(spark, target)
        .select($"k", $"part", $"v", $"ver")
        .as[(Long, String, Double, Long)].collect().toSet
    try {
      mem.addData((1L, "a", 1.0, 1L, "upsert"), (2L, "b", 2.0, 1L, "upsert"))
      q.processAllAvailable()
      val epoch0 = Upsert.manifestedEpoch(spark, target)
      mem.addData((3L, "a", 3.0, 1L, null), (1L, "b", 9.0, 2L, null))
      q.processAllAvailable()
      assert(Upsert.manifestedEpoch(spark, target) == epoch0)
      // a null-op row beside an upsert: only the upsert lands
      mem.addData((4L, "c", 4.0, 1L, null), (2L, "b", 20.0, 2L, "upsert"))
      q.processAllAvailable()
      assert(Upsert.manifestedEpoch(spark, target) == epoch0.map(_ + 1L))
      assert(got() == Set((1L, "a", 1.0, 1L), (2L, "b", 20.0, 2L)))
    } finally q.stop()
  }

  test("cdc sink: an AvailableNow drain with no new input makes no " +
      "foreachBatch call and submits no job") {
    val dir = java.nio.file.Files.createTempDirectory("mergesinkdrain").toString
    val in = new java.io.File(s"$dir/in"); in.mkdirs()
    val target = s"$dir/table"
    val ckpt = s"$dir/ckpt"
    def land(name: String, rows: String*): Unit =
      java.nio.file.Files.writeString(new java.io.File(in, name).toPath,
        rows.mkString("\n"))
    // job groups of every job started while the drains run; the stream
    // thread tags a micro-batch's jobs with the run id as job group
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null)
          Option(js.properties.getProperty("spark.jobGroup.id"))
            .foreach(groups.add)
    }
    // (foreachBatch calls, jobs) of one AvailableNow drain
    def drain(): (Int, Int) = {
      val calls = new java.util.concurrent.atomic.AtomicInteger()
      val events = spark.readStream
        .schema("k BIGINT, part STRING, v DOUBLE, ver BIGINT, op STRING")
        .json(in.toString)
      val q = MergeSink.startCdc(events, target, Seq("part", "k"), "part",
        "ver", "op", ckpt, preBatch = () => { calls.incrementAndGet(); () })
      q.awaitTermination()
      ListenerBusDrain.drain(spark.sparkContext)
      val run = q.runId.toString
      (calls.get, groups.toArray.count(_ == run))
    }
    spark.sparkContext.addSparkListener(l)
    try {
      land("b1.json",
        """{"k": 1, "part": "a", "v": 1.0, "ver": 1, "op": "upsert"}""",
        """{"k": 2, "part": "b", "v": 2.0, "ver": 1, "op": "upsert"}""")
      val first = drain()
      assert(first._1 == 1 && first._2 > 0, first)
      val epoch = Upsert.manifestedEpoch(spark, target)
      // restart with nothing new: no batch, no job, no epoch
      assert(drain() == ((0, 0)))
      assert(Upsert.manifestedEpoch(spark, target) == epoch)
      // and new input still drains (the empty drain left no debt)
      land("b2.json",
        """{"k": 1, "part": "a", "v": 9.0, "ver": 2, "op": "upsert"}""")
      assert(drain()._1 == 1)
      assert(Upsert.readManifested(spark, target)
        .select($"k", $"v").as[(Long, Double)].collect().toSet ==
        Set((1L, 9.0), (2L, 2.0)))
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
