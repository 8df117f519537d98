package perfbench

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Pins the traced run's listener arithmetic on work whose shape is
  * known in advance. */
class ProbeSpec extends AnyFunSuite {
  private lazy val dir = Files.createTempDirectory("perfbench-spec").toString
  private lazy val spark = Main.session(2, dir)

  private def traced(): (Ctx, Probe) = {
    val probe = new Probe(spark)
    probe.install()
    (new Ctx(spark, 1L, 1.0, dir, new Tracer(true), Some(probe)), probe)
  }

  test("a known 2-job operation: jobs, stages, tasks and driver gap") {
    val (ctx, _) = traced()
    val sc = spark.sparkContext
    ctx.op("two_jobs") {
      // job 1: shuffle map stage + result stage, 2 tasks each
      sc.parallelize(1 to 100, 2).map(x => (x % 3, 1)).reduceByKey(_ + _, 2).collect()
      Thread.sleep(300) // driver-only time between the jobs
      // job 2: one result stage of 3 tasks
      sc.parallelize(1 to 10, 3).map(_ * 2).collect()
    }
    val a = ctx.aggOps(Seq(ctx.currentOp))
    assert(a.jobs == 2)
    assert(a.stages == 3)
    assert(a.tasks == 7)
    assert(a.labels == Map("harness" -> 2))
    assert(a.gapS >= 0.29 && a.gapS < a.wallS)
    val jobs = ctx.probe.get.jobs.filter(_.op == ctx.currentOp).toSeq
    val busy = Stats.unionLength(jobs.map(j => (j.startMs.toDouble, j.endMs.toDouble))) / 1e3
    assert(math.abs(a.gapS + busy - a.wallS) < 1e-9)
    // the same jobs, attributed through the operation's root span
    val s = ctx.aggSpans(ctx.tracer.spans.filter(_.name == "op.two_jobs").toSeq)
    assert(s.jobs == 2 && s.stages == 3 && s.gapS >= 0.29)
  }

  test("a 2-batch no-op stream: one progress record per batch, split into fixed and addBatch") {
    val (_, probe) = traced()
    val in = s"$dir/landing"
    import spark.implicits._
    Seq(1, 2).foreach(i => Seq(i).toDF("x").write.parquet(s"$dir/stage$i"))
    new java.io.File(in).mkdirs()
    Seq(1, 2).foreach { i =>
      val part = new java.io.File(s"$dir/stage$i").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, new java.io.File(in, s"f$i.parquet").toPath)
    }
    val q = spark.readStream.schema("x INT").option("maxFilesPerTrigger", "1")
      .parquet(in).writeStream
      .option("checkpointLocation", s"$dir/checkpoint")
      .trigger(Trigger.AvailableNow())
      .foreachBatch((_: DataFrame, _: Long) => ())
      .start()
    q.awaitTermination()
    probe.drain()
    val batches = probe.batches.filter(_.runId == q.runId.toString)
    assert(batches.map(_.batchId).sorted == Seq(0L, 1L))
    val fixedKeys = Seq("latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets")
    batches.foreach { b =>
      assert((fixedKeys :+ "addBatch" :+ "triggerExecution").forall(b.durations.contains))
      val split = (fixedKeys :+ "addBatch").map(b.durations).sum
      assert(split <= b.durations("triggerExecution"))
    }
  }

  test("the output meter counts task output bytes, not the client's own writes") {
    val meter = new OutputMeter(spark)
    import spark.implicits._
    val df = (1 to 1000).toDF("x").coalesce(1)
    val w0 = meter.bytes()
    df.write.parquet(s"$dir/meter_engine")
    val engine = meter.bytes() - w0
    // the task's data file, plus the local file system's checksum file
    val written = new java.io.File(s"$dir/meter_engine").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    assert(engine >= written && engine < written * 1.05)
    val w1 = meter.bytes()
    OutputMeter.client(spark)(df.write.parquet(s"$dir/meter_client"))
    assert(meter.bytes() == w1)
  }

  test("job labels: merge-substrate descriptions and engine frames") {
    assert(Probe.mergemLabel("mergem: epoch 12 write (/t/x)") == "epoch_write")
    assert(Probe.mergemLabel("mergem: delete touched-partition collect (/t)") ==
      "delete_touched_partition_collect")
    assert(Probe.frameLabel(
      "graft.operators.Upsert$.$anonfun$computeStats$1(Upsert.scala:777)") ==
      "Upsert.computeStats")
  }

  test("self time subtracts the union of child spans") {
    val t = new Tracer(true)
    val p = Span(1, 0, 1, "p", 0L, 100L)
    val kids = Seq(Span(2, 1, 1, "a", 10L, 40L), Span(3, 1, 1, "b", 30L, 60L),
      Span(4, 1, 1, "c", 80L, 90L))
    assert(t.selfNs(p, kids) == 40L)
  }
}
