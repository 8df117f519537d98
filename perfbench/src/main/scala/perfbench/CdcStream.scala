package perfbench

import graft.operators.Upsert
import graft.streaming.MergeSink
import java.io.File
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.util.Random

/** `cdc_stream`: one long-running `MergeSink.startCdc` query over a
  * parquet landing dir. The client lands one change batch (upserts and
  * about 10% deletes, Zipf-hot partitions and keys), waits until the
  * table's epoch shows it and reads the touched partitions back through
  * the manifest, then lands the next; every few commits it compacts the
  * hottest partitions. A traced run ends with the [[ReadPhase]]. */
final class CdcStream extends Workload {
  private val parts = 16
  private val keysPerPart = 2000
  private val batchRows = 100
  private val compactEvery = 3
  private val warmBatches = 5
  private val schema = StructType(Seq(
    StructField("p", StringType), StructField("k", LongType),
    StructField("ver", LongType), StructField("v", LongType),
    StructField("payload", StringType), StructField("op", StringType)))

  private var dir = ""
  private var query: StreamingQuery = _
  private var rnd: Random = _
  private var partZipf: Zipf = _
  private var keyZipf: Zipf = _
  private var version = 0L
  private var epoch = 0L
  private var landed = 0
  /** (p, k) -> (ver, v, payload) */
  private val model = mutable.Map[(String, Long), (Long, Long, String)]()
  private val nextKey = mutable.Map[String, Long]()

  private def table = s"$dir/table"
  private def pname(i: Int) = f"p$i%02d"

  def setup(ctx: Ctx, d: String): Unit = {
    dir = d
    Gen.rmrf(new File(d))
    new File(s"$d/landing").mkdirs()
    rnd = new Random(ctx.seed)
    partZipf = new Zipf(parts, 1.2, rnd)
    keyZipf = new Zipf(keysPerPart, 1.0, rnd)
    model.clear(); nextKey.clear(); version = 1L; landed = 0
    val spark = ctx.spark
    val rows = for (p <- 0 until parts; k <- 0 until keysPerPart) yield {
      val v = rnd.nextInt(1000000).toLong
      model((pname(p), k.toLong)) = (1L, v, s"r$v")
      Row(pname(p), k.toLong, 1L, v, s"r$v")
    }
    (0 until parts).foreach(p => nextKey(pname(p)) = keysPerPart.toLong)
    val init = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
      StructType(schema.fields.dropRight(1)))
    ctx.tracer.span("upsert.bootstrap")(
      Upsert.mergeIntoManifested(spark, table, init, Seq("p", "k"), "p", "ver"))
    epoch = Upsert.manifestedEpoch(spark, table).get
  }

  /** Starts the long-running query and pushes `warmBatches` batches
    * through it: the first few commits of a JVM run up to half again
    * slower than later ones, and would set the p90. */
  override def warmup(ctx: Ctx): Unit = {
    val events = ctx.spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/landing")
    query = ctx.tracer.span("streaming.start")(MergeSink.startCdc(events, table,
      Seq("p", "k"), "p", "ver", "op", s"$dir/checkpoint",
      Trigger.ProcessingTime(0L)))
    (1 to warmBatches).foreach(_ => commit(ctx, batch()))
  }

  override def close(): Unit = if (query != null) { query.stop(); query = null }

  /** One change batch over four distinct Zipf-hot partitions: unique
    * (p, k) pairs, about 10% deletes of live keys, the rest updates of
    * Zipf-hot keys or inserts of new keys. */
  private def batch(): Seq[Row] = {
    val hot = mutable.LinkedHashSet[String]()
    while (hot.size < 4) hot += pname(partZipf.next())
    val hotSeq = hot.toIndexedSeq
    val seen = mutable.Set[(String, Long)]()
    (0 until batchRows).flatMap { i =>
      val p = hotSeq(i % hotSeq.size)
      val u = rnd.nextDouble()
      val k =
        if (u < 0.15) { val n = nextKey(p); nextKey(p) = n + 1; n }
        else keyZipf.next().toLong
      if (!seen.add((p, k))) None
      else {
        version += 1
        val v = rnd.nextInt(1000000).toLong
        val del = u >= 0.15 && u < 0.25 && model.contains((p, k))
        Some(Row(p, k, version, v, s"r$v", if (del) "delete" else "upsert"))
      }
    }
  }

  /** Lands the batch, returns (land time, epoch to wait for, bytes). */
  private def landBatch(spark: SparkSession, rows: Seq[Row]): (Long, Long, Long) = {
    landed += 1
    val stage = s"$dir/stage/$landed"
    OutputMeter.client(spark)(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema).write.parquet(stage))
    val part = new File(stage).listFiles().find(_.getName.endsWith(".parquet")).get
    val dest = new File(s"$dir/landing", f"batch_$landed%05d.parquet")
    java.nio.file.Files.move(part.toPath, dest.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    val ups = rows.exists(_.getString(5) != "delete")
    val dels = rows.exists(_.getString(5) == "delete")
    (System.nanoTime(), epoch + (if (ups) 1 else 0) + (if (dels) 1 else 0),
      dest.length())
  }

  private def applyModel(rows: Seq[Row]): Unit = rows.foreach { r =>
    val key = (r.getString(0), r.getLong(1))
    if (r.getString(5) == "delete") model.remove(key)
    else model(key) = (r.getLong(2), r.getLong(3), r.getString(4))
  }

  /** Waits until the query has finished the micro-batch of the last
    * landed file (its sink may still sweep after the epoch is visible,
    * holding the table's writer lease), so the client's own compaction
    * never races it. */
  private def awaitBatchEnd(): Unit = {
    val limit = System.nanoTime() + 60000000000L
    while (Option(query.lastProgress).forall(_.batchId < landed - 1)) {
      query.exception.foreach(e => throw e)
      if (System.nanoTime() > limit)
        throw new IllegalStateException(s"batch ${landed - 1} not finished after 60 s")
      Thread.sleep(2)
    }
  }

  /** Waits until the table's epoch reaches `want` or the query dies.
    * Each probe lists the table root and reads its manifest, so it
    * polls every 20 ms: a tighter loop takes CPU from the commit it
    * waits for, and 20 ms is 1% of a commit. */
  private def awaitEpoch(spark: SparkSession, want: Long): Unit = {
    val limit = System.nanoTime() + 60000000000L
    while (Upsert.manifestedEpoch(spark, table).forall(_ < want)) {
      query.exception.foreach(e => throw e)
      if (System.nanoTime() > limit)
        throw new IllegalStateException(s"epoch $want not visible after 60 s")
      Thread.sleep(20)
    }
    epoch = want
  }

  private def commit(ctx: Ctx, rows: Seq[Row]): Unit = {
    val (_, want, _) = landBatch(ctx.spark, rows)
    awaitEpoch(ctx.spark, want)
    readBack(ctx, rows.map(_.getString(0)).distinct)
    awaitBatchEnd()
    applyModel(rows)
  }

  def run(ctx: Ctx): WlResult = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val latencies = mutable.ArrayBuffer[Double]()
    val landedMs = mutable.ArrayBuffer[Double]()
    val commitOps = mutable.ArrayBuffer[Int]()
    val compactOps = mutable.ArrayBuffer[(Int, Double)]()
    val filesPerCommit = mutable.ArrayBuffer[Double]()
    val warmLanded = landed
    val readBacks = mutable.ArrayBuffer[ReadBack]()
    var rows = 0L
    var inputBytes = 0L
    var opSeconds = 0.0
    var commits = 0
    val heat = mutable.Map[String, Int]().withDefaultValue(0)
    def dataFiles(): Set[String] = if (!tr.on) Set.empty else {
      val out = mutable.Set[String]()
      def walk(f: File): Unit =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(walk)
        else if (f.getName.endsWith(".parquet")) out += f.getPath
      walk(new File(table))
      out.toSet
    }
    val written0 = ctx.meter.bytes()
    val end = ctx.deadline()
    while (System.nanoTime() < end) {
      val b = batch()
      val before = dataFiles()
      val (t0, want, bytes) = landBatch(spark, b)
      landedMs += tr.wallMs(t0)
      inputBytes += bytes
      val touched = b.map(_.getString(0)).distinct.sorted
      val (rb, dt) = try ctx.op("commit") {
        tr.span("streaming.await_commit")(awaitEpoch(spark, want))
        readBack(ctx, touched)
      } catch { case e: Throwable =>
        ctx.fail(ctx.currentOp, s"commit $landed: $e"); throw e }
      latencies += (System.nanoTime() - t0) / 1e9
      opSeconds += dt
      awaitBatchEnd()
      commitOps += ctx.currentOp
      readBacks += rb
      if (tr.on) filesPerCommit += (dataFiles() -- before).size
      applyModel(b)
      if (rb.fingerprints != modelFingerprints(touched.toSet))
        ctx.fail(ctx.currentOp, s"commit $landed: read-back of $touched differs from the model")
      rows += b.size
      commits += 1
      b.foreach(r => heat(r.getString(0)) += 1)
      if (commits % compactEvery == 0) {
        val hottest = heat.toSeq.sortBy(h => (-h._2, h._1)).take(2).map(_._1)
        heat.clear()
        val (_, cs) = ctx.op("compact")(tr.span("upsert.compact")(
          Upsert.compactManifestedPartitions(spark, table, "p", hottest)))
        epoch = Upsert.manifestedEpoch(spark, table).get
        opSeconds += cs
        compactOps += ((ctx.currentOp, cs))
        ctx.check(s"compacted partitions $hottest after commit $commits")(
          fingerprints(Upsert.readManifestedPartitions(spark, table, hottest)) ==
            modelFingerprints(hottest.toSet))
      }
    }
    val writeAmp = (ctx.meter.bytes() - written0).toDouble / math.max(inputBytes, 1L)
    val served = servedShare(spark)
    ctx.check("final table equals the key->row model")(served == 1.0)
    val (tFiles, tBytes) = Ctx.du(new File(table), dataOnly = true)
    OutputMeter.client(spark)(
      Upsert.readManifested(spark, table).write.parquet(s"$dir/plain"))
    val (_, plainBytes) = Ctx.du(new File(s"$dir/plain"), dataOnly = true)

    val layer = mutable.Map[String, Double]()
    if (tr.on) {
      val runId = query.runId.toString
      close()
      val snapshot = Upsert.readManifested(spark, table).inputFiles.length
      layer ++= Map(
        "sources.resolve_s" -> Stats.median(readBacks.map(_.resolveS).toSeq),
        "query.exec_s" -> Stats.median(readBacks.map(_.execS).toSeq),
        "scan.files_read" -> Stats.mean(readBacks.map(_.files.toDouble).toSeq),
        "scan.bytes_read" -> Stats.mean(readBacks.map(_.bytes.toDouble).toSeq),
        "scan.pruned_frac" -> (1.0 - Stats.mean(readBacks.map(_.files.toDouble).toSeq) /
          math.max(snapshot, 1)))
      val n = math.max(commitOps.size, 1).toDouble
      val a = ctx.aggOps(commitOps.toSeq)
      val byLabel = Seq("touched_partition_collect", "epoch_write",
        "delete_touched_partition_collect", "delete_epoch_write")
      val batches = ctx.probe.get.batches.synchronized(ctx.probe.get.batches.toSeq)
        .filter(_.runId == runId).sortBy(_.batchId).drop(warmLanded)
      val waits = batches.zip(landedMs).map { case (b, l) => (b.startMs - l) / 1e3 }
      def dur(b: BatchRec, ks: String*) = ks.map(b.durations.getOrElse(_, 0L)).sum / 1e3
      val comp = ctx.aggOps(compactOps.map(_._1).toSeq)
      layer ++= Map(
        "streaming.wait_s" -> Stats.median(waits),
        "streaming.fixed_s" -> Stats.median(batches.map(b => dur(b,
          "latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets"))),
        "streaming.add_batch_s" -> Stats.median(batches.map(b => dur(b, "addBatch"))),
        "streaming.batches" -> batches.size.toDouble,
        "streaming.files_written" -> (landed - warmLanded).toDouble,
        "upsert.jobs_per_commit" -> a.jobs / n,
        "upsert.stages_per_commit" -> a.stages / n,
        "upsert.task_s_per_commit" -> a.taskS / n,
        "upsert.cpu_s_per_commit" -> a.cpuS / n,
        "upsert.gap_s_per_commit" -> a.gapS / n,
        "upsert.shuffle_bytes_per_commit" -> (a.shuffleRead + a.shuffleWrite) / n,
        "upsert.jobs_by_label.other" ->
          a.labels.filter(l => !byLabel.contains(l._1)).values.sum / n,
        "upsert.bytes_written_per_commit" -> a.outBytes / n,
        "upsert.files_written_per_commit" -> Stats.mean(filesPerCommit.toSeq),
        "upsert.compact_s" -> Stats.median(compactOps.map(_._2).toSeq),
        "upsert.compact_bytes" -> comp.outBytes.toDouble / math.max(compactOps.size, 1),
        "table.files" -> tFiles.toDouble,
        "table.bytes" -> tBytes.toDouble,
        "table.epochs" -> Option(new File(table).listFiles()).toSeq.flatten
          .count(f => f.isDirectory && f.getName.matches("_e[0-9]+")).toDouble) ++
        byLabel.map(l => s"upsert.jobs_by_label.$l" -> a.labels.getOrElse(l, 0) / n)
      layer ++= new ReadPhase().run(ctx, s"$dir/reads", math.max(ctx.seconds / 4, 2.0))
    }
    WlResult(latencies.toSeq, rows / math.max(opSeconds, 1e-9), served, writeAmp,
      tBytes.toDouble / math.max(plainBytes, 1L), layer.toMap)
  }

  /** Per-partition (rows, sum k, sum ver, sum v) of rows of the table. */
  private def fingerprints(df: DataFrame): Map[String, (Long, Long, Long, Long)] =
    fingerprintRows(df.select("p", "k", "ver", "v").collect())

  private def fingerprintRows(rows: Seq[Row]): Map[String, (Long, Long, Long, Long)] =
    rows.groupBy(_.getString(0)).map { case (p, rs) =>
      p -> (rs.size.toLong, rs.map(_.getLong(1)).sum, rs.map(_.getLong(2)).sum,
        rs.map(_.getLong(3)).sum) }

  private def modelFingerprints(parts: Set[String]): Map[String, (Long, Long, Long, Long)] =
    model.filter(e => parts(e._1._1)).groupBy(_._1._1).map { case (p, kv) =>
      p -> (kv.size.toLong, kv.keys.map(_._2).sum, kv.values.map(_._1).sum,
        kv.values.map(_._2).sum) }

  /** The reader's side of a commit: the touched partitions' rows
    * through the manifest's partition pruning. Traced, the scan's file
    * count and bytes are taken from the executed plan. */
  private def readBack(ctx: Ctx, parts: Seq[String]): ReadBack = {
    val tr = ctx.tracer
    val (src, resolveS) = Ctx.time(tr.span("sources.resolve")(
      Upsert.readManifestedPartitions(ctx.spark, table, parts)))
    val df = src.select("p", "k", "ver", "v")
    val (rows, execS) = Ctx.time(tr.span("query.exec")(df.collect()))
    val scans = if (!tr.on) Nil else Probe.nodes(df.queryExecution.executedPlan)
      .collect { case s: FileSourceScanExec => s }
    def metric(k: String) = scans.map(_.metrics.get(k).map(_.value).getOrElse(0L)).sum
    ReadBack(fingerprintRows(rows.toSeq), resolveS, execS, metric("numFiles"),
      metric("filesSize"))
  }

  private def servedShare(spark: SparkSession): Double = {
    val got = Upsert.readManifested(spark, table).select("p", "k", "ver", "v", "payload")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getString(4))).toMap
    val hits = model.count { case (k, v) => got.get(k).contains(v) }
    hits.toDouble / math.max(model.size, got.size)
  }
}

final case class ReadBack(fingerprints: Map[String, (Long, Long, Long, Long)],
                          resolveS: Double, execS: Double, files: Long, bytes: Long)
