package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

final case class OpRec(id: Int, kind: String, seconds: Double, gcMs: Long)

/** Spark work of a set of jobs, with the driver gap of a window. */
final case class Agg(jobs: Int, stages: Int, tasks: Long, taskS: Double,
                     cpuS: Double, gapS: Double, shuffleRead: Long,
                     shuffleWrite: Long, spill: Long, outBytes: Long,
                     wallS: Double, labels: Map[String, Int])

/** What one workload run shares: the session, the clock, the tracer,
  * the output meter, the listeners (traced runs only) and the
  * operation ledger. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val work: String, val tracer: Tracer,
                val probe: Option[Probe]) {
  val meter = new OutputMeter(spark)
  /** Bytes the engine's tasks wrote during the last set-up. */
  var setupBytes = 0L
  val ops = mutable.ArrayBuffer[OpRec]()
  val failures = mutable.ArrayBuffer[String]()
  private val failedOps = mutable.Set[Int]()
  var attempted = 0L
  def failed: Long = failedOps.size.toLong
  private var checkSeq = 0

  /** One closed-loop operation: timed, spanned, and (traced) with the
    * listener bus drained after it so its events are charged to it. */
  def op[T](kind: String)(body: => T): (T, Double) = {
    val id = ops.size + 1
    attempted += 1
    tracer.op = id
    probe.foreach(_.op = id)
    val gc0 = Ctx.gcMs()
    val t0 = System.nanoTime()
    def dt = (System.nanoTime() - t0) / 1e9
    var rec = OpRec(id, kind, 0.0, 0L)
    try {
      val r = tracer.span(s"op.$kind")(body)
      rec = rec.copy(seconds = dt)
      (r, rec.seconds)
    } finally {
      if (rec.seconds == 0.0) rec = rec.copy(seconds = dt)
      probe.foreach(_.drain())
      ops += rec.copy(gcMs = Ctx.gcMs() - gc0)
      tracer.op = 0
      probe.foreach(_.op = 0)
    }
  }

  def currentOp: Int = ops.size

  /** Marks an operation failed; the reason stays in the result file. */
  def fail(opId: Int, msg: String): Unit = {
    failedOps += opId
    failures += s"op $opId: $msg"
    System.err.println(s"[perfbench] FAILED op $opId: $msg")
  }

  /** A correctness check that is not part of a timed operation counts
    * as an attempted operation of its own. */
  def check(what: String)(ok: => Boolean): Unit = {
    checkSeq += 1
    attempted += 1
    val id = -checkSeq
    val good = try ok catch {
      case t: Throwable => failures += s"$what threw $t"; false
    }
    if (!good) fail(id, s"check failed: $what")
  }

  def deadline(): Long = System.nanoTime() + (seconds * 1e9).toLong

  /** Spark work charged to the given operations. */
  def aggOps(ids: Seq[Int]): Agg = probe match {
    case None => Ctx.emptyAgg
    case Some(p) =>
      val set = ids.toSet
      val jobs = p.jobs.synchronized(p.jobs.filter(j => set(j.op)).toSeq)
      val wall = ops.filter(o => set(o.id)).map(_.seconds).sum
      val jobWall = ids.map(i => Stats.unionLength(jobs.filter(_.op == i)
        .map(j => (j.startMs.toDouble, j.endMs.toDouble))) / 1e3).sum
      agg(jobs, wall, wall - jobWall)
  }

  /** Spark work whose jobs started inside a span of the current trace. */
  def aggSpans(spans: Seq[Span]): Agg = probe match {
    case None => Ctx.emptyAgg
    case Some(p) =>
      val all = p.jobs.synchronized(p.jobs.toSeq)
      var wall = 0.0
      var gap = 0.0
      val js = spans.flatMap { s =>
        val lo = tracer.wallMs(s.startNs)
        val hi = tracer.wallMs(s.endNs)
        val in = all.filter(j => j.startMs >= lo - 1 && j.startMs <= hi)
        val w = (s.endNs - s.startNs) / 1e9
        wall += w
        gap += w - Stats.unionLength(in.map(j =>
          (math.max(j.startMs.toDouble, lo), math.min(j.endMs.toDouble, hi)))) / 1e3
        in
      }.distinct
      agg(js, wall, math.max(gap, 0.0))
  }

  private def agg(jobs: Seq[JobRec], wall: Double, gap: Double): Agg = {
    val ids = jobs.map(_.id).toSet
    val st = probe.get.stages.synchronized(
      probe.get.stages.filter(s => ids(s.job)).toSeq)
    Agg(jobs.size, st.size, st.map(_.tasks.toLong).sum,
      st.map(_.taskMs).sum / 1e3, st.map(_.cpuNs).sum / 1e9, gap,
      st.map(_.shuffleRead).sum, st.map(_.shuffleWrite).sum,
      st.map(_.spill).sum, st.map(_.outBytes).sum, wall,
      jobs.groupBy(_.label).map { case (k, v) => k -> v.size })
  }

  def spansNamed(name: String): Seq[Span] =
    tracer.spans.filter(s => s.name == name && s.op > 0).toSeq

  /** The `spark.*` and `jvm.*` layer, per measured operation. */
  def sparkLayer(measured: Seq[OpRec]): Map[String, Double] = {
    val n = math.max(measured.size, 1).toDouble
    val a = aggOps(measured.map(_.id))
    Map(
      "spark.jobs" -> a.jobs / n, "spark.stages" -> a.stages / n,
      "spark.tasks" -> a.tasks / n, "spark.task_s" -> a.taskS / n,
      "spark.cpu_s" -> a.cpuS / n, "spark.gap_s" -> a.gapS / n,
      "spark.shuffle_read_bytes" -> a.shuffleRead / n,
      "spark.shuffle_write_bytes" -> a.shuffleWrite / n,
      "spark.spill_bytes" -> a.spill / n,
      "spark.output_bytes" -> a.outBytes / n,
      "jvm.gc_s" -> measured.map(_.gcMs).sum / 1e3 / n)
  }
}

object Ctx {
  val emptyAgg: Agg = Agg(0, 0, 0L, 0.0, 0.0, 0.0, 0L, 0L, 0L, 0L, 0.0, Map.empty)

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
  }

  /** Seconds of one call. */
  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** File count and bytes of a local directory tree; with `dataOnly`,
    * parquet data files only. */
  def du(dir: java.io.File, dataOnly: Boolean): (Long, Long) = {
    var files = 0L
    var bytes = 0L
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(walk)
      else if (!dataOnly || f.getName.endsWith(".parquet")) {
        files += 1; bytes += f.length()
      }
    walk(dir)
    (files, bytes)
  }
}
