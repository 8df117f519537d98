package perfbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.SparkSession

/** What a workload hands back: the latency samples of its end-to-end
  * operation, its work rate, its answer quality, its write and space
  * amplification and its own layers. */
final case class WlResult(latencies: Seq[Double], unitsPerS: Double,
                          recall: Double, writeAmp: Double, spaceAmp: Double,
                          layer: Map[String, Double])

trait Workload {
  /** Builds the workload's starting state under `dir`. Run several
    * times; the last build is the one `run` measures. */
  def setup(ctx: Ctx, dir: String): Unit
  /** Untimed work between the last set-up and the timed loop, so the
    * first timed operations do not pay first-use costs. */
  def warmup(ctx: Ctx): Unit = ()
  def run(ctx: Ctx): WlResult
  def close(): Unit = ()
}

/** One workload, one seed, one process:
  * `Main --workload W --seed N --seconds S --trace 0|1 --work DIR --out PREFIX`.
  * Writes `PREFIX.json` (all metrics, the machine record and every
  * failure) and, traced, `PREFIX.spans.jsonl` and `PREFIX.layers.txt`. */
object Main {
  val setups = 3

  val workloads: Map[String, () => Workload] = Map(
    "cpi_daily" -> (() => new CpiDaily),
    "cdc_stream" -> (() => new CdcStream))

  /** Every per-layer metric a traced run reports, on every workload;
    * a layer a workload does not run reports 0. */
  val layerCatalog: Seq[(String, String)] = Seq(
    "op.samples" -> "count", "trace.op_p50_s" -> "s",
    "trace.spans" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.task_s" -> "s", "spark.cpu_s" -> "s",
    "spark.gap_s" -> "s", "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.output_bytes" -> "bytes", "jvm.gc_s" -> "s",
    "pipeline.load_s" -> "s", "pipeline.report_s" -> "s",
    "pipeline.load_jobs" -> "count", "pipeline.report_jobs" -> "count",
    "pipeline.load_gap_s" -> "s", "pipeline.bytes_written_per_load" -> "bytes",
    "pipeline.loaded_frac" -> "share",
    "pipeline.suppressed_frac" -> "share", "pipeline.rejected_frac" -> "share",
    "streaming.wait_s" -> "s", "streaming.fixed_s" -> "s",
    "streaming.add_batch_s" -> "s", "streaming.batches" -> "count",
    "streaming.files_written" -> "count",
    "upsert.jobs_per_commit" -> "count", "upsert.stages_per_commit" -> "count",
    "upsert.task_s_per_commit" -> "s", "upsert.cpu_s_per_commit" -> "s",
    "upsert.gap_s_per_commit" -> "s",
    "upsert.shuffle_bytes_per_commit" -> "bytes",
    "upsert.jobs_by_label.touched_partition_collect" -> "count",
    "upsert.jobs_by_label.epoch_write" -> "count",
    "upsert.jobs_by_label.delete_touched_partition_collect" -> "count",
    "upsert.jobs_by_label.delete_epoch_write" -> "count",
    "upsert.jobs_by_label.other" -> "count",
    "upsert.bytes_written_per_commit" -> "bytes",
    "upsert.files_written_per_commit" -> "count",
    "upsert.compact_s" -> "s", "upsert.compact_bytes" -> "bytes",
    "table.files" -> "count", "table.bytes" -> "bytes",
    "table.epochs" -> "count",
    "scan.files_read" -> "count", "scan.bytes_read" -> "bytes",
    "scan.pruned_frac" -> "share", "plans.range_pushdown_frac" -> "share",
    "sources.resolve_s" -> "s", "query.exec_s" -> "s",
    "reads.queries" -> "count", "reads.resolve_s" -> "s", "reads.plan_s" -> "s",
    "reads.exec_s" -> "s", "reads.partition_p50_s" -> "s",
    "reads.range_p50_s" -> "s", "reads.kv_point_p50_s" -> "s",
    "reads.kv_gsi_p50_s" -> "s", "reads.ann_p50_s" -> "s",
    "reads.files_read" -> "count", "reads.pruned_frac" -> "share",
    "reads.ann_recall_at_10" -> "share", "kv.import_s" -> "s",
    "ivf.build_s" -> "s", "ivf.files_per_query" -> "count",
    "ivf.jobs_per_query" -> "count",
    "dedup.pairs_s" -> "s", "dedup.cc_s" -> "s", "dedup.pairs" -> "count",
    "dedup.recall" -> "share", "dedup.docs_per_s" -> "1/s",
    "dedup.jobs" -> "count", "dedup.shuffle_bytes" -> "bytes")

  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(s"--$name")
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def main(args: Array[String]): Unit = {
    def need(n: String) = arg(args, n).getOrElse {
      System.err.println(s"missing --$n"); sys.exit(2)
    }
    val name = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val work = need("work")
    val out = need("out")
    val make = workloads.getOrElse(name, {
      System.err.println(s"unknown workload $name"); sys.exit(2)
    })
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val t0 = System.nanoTime()
    def phase(p: String): Unit =
      System.err.println(f"[perfbench] $p at ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val spinStart = Machine.spin()
    val spark = session(cores, work)
    val tracer = new Tracer(traced)
    val probe = if (traced) Some(new Probe(spark)) else None
    probe.foreach(_.install())
    val ctx = new Ctx(spark, seed, seconds, work, tracer, probe)
    val wl = make()
    phase("session ready")
    var code = 0
    try {
      val setupTimes = (1 to setups).map { i =>
        val w0 = ctx.meter.bytes()
        val t = Ctx.time(tracer.span("harness.setup")(wl.setup(ctx, s"$work/setup$i")))._2
        ctx.setupBytes = ctx.meter.bytes() - w0
        t
      }
      phase("set-ups done")
      tracer.span("harness.warmup")(wl.warmup(ctx))
      phase("warm-up done")
      val r = wl.run(ctx)
      phase("run and checks done")
      val spinEnd = Machine.spin()
      val e2e = Seq(
        ("setup_s", Stats.median(setupTimes), "s"),
        ("op_p50_s", Stats.quantile(r.latencies, 0.5), "s"),
        ("op_p90_s", Stats.quantile(r.latencies, 0.9), "s"),
        ("units_per_s", r.unitsPerS, "1/s"),
        ("recall", r.recall, "share"),
        ("write_amp", r.writeAmp, "ratio"),
        ("space_amp", r.spaceAmp, "ratio"),
        ("peak_rss_mb", Machine.peakRssMb(), "MB"))
      val measured = ctx.ops.filterNot(_.kind.startsWith("reads.")).toSeq
      val layer = ctx.sparkLayer(measured) ++ r.layer ++ Map(
        "op.samples" -> r.latencies.size.toDouble,
        "trace.op_p50_s" -> Stats.quantile(r.latencies, 0.5),
        "trace.spans" -> tracer.spans.size.toDouble)
      val layerOut = layerCatalog.map { case (n, u) =>
        (n, layer.getOrElse(n, 0.0), u) }
      if (ctx.attempted == 0) ctx.check("at least one operation ran")(false)
      val machine = Machine.record(spark, cores, seed, spinStart, spinEnd,
        setupTimes)
      writeResult(s"$out.json", name, ctx, e2e, layerOut,
        machine :+ ("op_samples_s" -> Json.arr(r.latencies.map(Json.num))))
      if (traced) writeTrace(out, ctx)
      phase("result written")
    } catch {
      case t: Throwable =>
        System.err.println(s"[perfbench] run aborted: $t")
        t.printStackTrace()
        code = 1
    } finally {
      try wl.close() catch { case _: Throwable => () }
      spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
      spark.stop()
    }
    sys.exit(code)
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def writeFile(path: String, body: String): Unit = {
    val w = new PrintWriter(new File(path), StandardCharsets.UTF_8)
    try w.write(body) finally w.close()
  }

  private def metricsJson(ms: Seq[(String, Double, String)]): String =
    Json.obj(ms.map { case (n, v, u) =>
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })

  def writeResult(path: String, name: String, ctx: Ctx,
                  e2e: Seq[(String, Double, String)],
                  layer: Seq[(String, Double, String)],
                  machine: Seq[(String, String)]): Unit =
    writeFile(path, Json.obj(Seq(
      "workload" -> Json.str(name),
      "correct" -> (if (ctx.failed == 0) "true" else "false"),
      "attempted" -> ctx.attempted.toString,
      "failed" -> ctx.failed.toString,
      "end_to_end" -> metricsJson(e2e),
      "per_layer" -> metricsJson(layer),
      "machine" -> Json.obj(machine),
      "failures" -> Json.arr(ctx.failures.map(Json.str)))) + "\n")

  /** Spans as JSON lines, plus the per-layer self-time table. A call's
    * job and stage counts are marked `exact` when every call of that
    * name ran the same number: those are the weather-free signals. */
  def writeTrace(out: String, ctx: Ctx): Unit = {
    val spans = ctx.tracer.spans.toSeq
    val kids = spans.groupBy(_.parent)
    val jobsBySpan = spans.map(s => s.id -> ctx.aggSpans(Seq(s))).toMap
    val lines = spans.map { s =>
      val a = jobsBySpan(s.id)
      Json.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString,
        "op" -> s.op.toString, "name" -> Json.str(s.name),
        "start_ms" -> Json.num(ctx.tracer.wallMs(s.startNs)),
        "end_ms" -> Json.num(ctx.tracer.wallMs(s.endNs)),
        "self_ms" -> Json.num(ctx.tracer.selfNs(s, kids.getOrElse(s.id, Nil)) / 1e6),
        "jobs" -> a.jobs.toString, "stages" -> a.stages.toString,
        "labels" -> Json.obj(a.labels.toSeq.sorted.map { case (k, v) =>
          k -> v.toString })))
    }
    writeFile(s"$out.spans.jsonl", lines.mkString("\n") + "\n")
    val rows = spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      val total = ss.map(s => s.endNs - s.startNs).sum / 1e9
      val self = ss.map(s => ctx.tracer.selfNs(s, kids.getOrElse(s.id, Nil))).sum / 1e9
      val js = ss.map(s => jobsBySpan(s.id).jobs)
      val st = ss.map(s => jobsBySpan(s.id).stages)
      val exact = js.distinct.size == 1 && st.distinct.size == 1
      f"$n%-34s ${ss.size}%6d $total%10.3f $self%10.3f " +
        f"${js.sum.toDouble / ss.size}%8.2f ${st.sum.toDouble / ss.size}%8.2f " +
        (if (exact) "exact" else "varies")
    }
    val labels = ctx.aggSpans(spans.filter(_.parent == 0)).labels
    val table = (f"${"span"}%-34s ${"calls"}%6s ${"total_s"}%10s ${"self_s"}%10s " +
      f"${"jobs"}%8s ${"stages"}%8s counts") +: rows ++:
      ("" +: "jobs by label (all spans):" +:
        labels.toSeq.sortBy(-_._2).map { case (l, c) => f"  $l%-50s $c%6d" })
    writeFile(s"$out.layers.txt", table.mkString("\n") + "\n")
    System.err.println(table.mkString("\n"))
  }
}

object Machine {
  /** Wall seconds for a fixed integer loop run on every core at once
    * (best of three): a run whose end probe is much slower than its
    * start probe shared the machine with something else. */
  def spin(): Double = (1 to 3).map { _ =>
    val n = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val ts = (1 to n).map { _ =>
      val t = new Thread(() => {
        var x = 1L
        var i = 0
        while (i < 40000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
        if (x == 42L) System.err.print("")
      })
      t.start()
      t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }.min

  private def procField(file: String, key: String): Option[Long] = {
    val f = new File(file)
    if (!f.exists()) None
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith(key))
        .map(_.split("\\s+")(1).toLong)
      finally src.close()
    }
  }

  def peakRssMb(): Double =
    procField("/proc/self/status", "VmHWM:").map(_ / 1024.0).getOrElse(0.0)

  def record(spark: SparkSession, cores: Int, seed: Long, spinStart: Double,
             spinEnd: Double, setupTimes: Seq[Double]): Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(_.startsWith("--add-opens"))
    val ratio = spinEnd / math.max(spinStart, 1e-9)
    Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "mem_total_mb" -> Json.num(procField("/proc/meminfo", "MemTotal:")
        .map(_ / 1024.0).getOrElse(0.0)),
      "spark_master" -> Json.str(spark.sparkContext.master),
      "spark_version" -> Json.str(spark.version),
      "cores_used" -> cores.toString,
      "jvm_flags" -> Json.arr(jvm.map(Json.str)),
      "seed" -> seed.toString,
      "git_head" -> Json.str(sys.env.getOrElse("PERFBENCH_GIT_HEAD", "unknown")),
      "spin_start_s" -> Json.num(spinStart),
      "spin_end_s" -> Json.num(spinEnd),
      "spin_ratio" -> Json.num(ratio),
      "contended" -> (if (ratio > 1.3 || ratio < 1 / 1.3) "true" else "false"),
      "setup_samples_s" -> Json.arr(setupTimes.map(Json.num)))
  }
}
