package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer

final case class JobRec(id: Int, op: Int, startMs: Long, var endMs: Long,
                        label: String)
final case class StageRec(job: Int, op: Int, tasks: Int, taskMs: Long,
                          cpuNs: Long,
                          shuffleRead: Long, shuffleWrite: Long,
                          spill: Long, outBytes: Long)
final case class BatchRec(runId: String, batchId: Long, startMs: Long,
                          durations: Map[String, Long])
final case class ScanRec(files: Long, bytes: Long, dataFilters: String)
final case class QueryRec(op: Int, scans: Seq[ScanRec])

/** Bytes written by tasks, counted in every run, traced or not: the
  * numerator of `write_amp`. Jobs the client starts inside
  * [[OutputMeter.client]] (writing its own inputs) are not counted. */
final class OutputMeter(spark: SparkSession) {
  private val total = new java.util.concurrent.atomic.AtomicLong()
  private val clientStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit =
      if (Option(js.properties).exists(p =>
          p.getProperty("spark.jobGroup.id") == OutputMeter.clientGroup))
        js.stageIds.foreach(s => clientStages.add(s))
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
      if (te.taskMetrics != null && !clientStages.contains(te.stageId))
        total.addAndGet(te.taskMetrics.outputMetrics.bytesWritten)
  })

  /** Bytes written so far, once every posted event is handled. */
  def bytes(): Long = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    total.get
  }
}

object OutputMeter {
  val clientGroup = "perfbench.client"

  /** Runs the client's own writes outside the meter's count. */
  def client[T](spark: SparkSession)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(clientGroup, "client input", interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }
}

/** The traced run's three listeners. Every event is charged to the
  * operation the client is running when the event is handled; the
  * client drains the bus after each operation, so that is the
  * operation that caused it. Streaming progress is kept by batch id,
  * because a batch's progress event is posted after its commit is
  * already visible to the client. */
final class Probe(spark: SparkSession) {
  @volatile var op: Int = 0
  val jobs = ArrayBuffer[JobRec]()
  val stages = ArrayBuffer[StageRec]()
  val batches = ArrayBuffer[BatchRec]()
  val queries = ArrayBuffer[QueryRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()

  private val sparkListener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val rec = JobRec(js.jobId, op, js.time, js.time, Probe.labelOf(js))
      js.stageIds.foreach(s => stageJob.put(s, rec))
      open.put(js.jobId, rec)
      jobs.synchronized(jobs += rec)
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      Option(open.remove(je.jobId)).foreach(_.endMs = je.time)
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val info = sc.stageInfo
      Option(info.taskMetrics).foreach { m =>
        val job = Option(stageJob.get(info.stageId))
        val rec = StageRec(job.map(_.id).getOrElse(-1),
          job.map(_.op).getOrElse(op), info.numTasks, m.executorRunTime, m.executorCpuTime,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.outputMetrics.bytesWritten)
        stages.synchronized(stages += rec)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      // a batch that ran has an addBatch phase; idle triggers do not
      if (p.durationMs.containsKey("addBatch")) {
        val d = scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs)
          .asScala.map { case (k, v) => k -> v.longValue }.toMap
        val rec = BatchRec(p.runId.toString, p.batchId,
          java.time.Instant.parse(p.timestamp).toEpochMilli, d)
        batches.synchronized(batches += rec)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = {
      val nodes = Probe.nodes(qe.executedPlan)
      val scans = nodes.collect { case s: FileSourceScanExec =>
        def m(k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
        ScanRec(m("numFiles"), m("filesSize"), s.dataFilters.mkString(" AND "))
      }
      val rec = QueryRec(op, scans)
      queries.synchronized(queries += rec)
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(queryListener)
  }

  def drain(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)

  def queriesOf(o: Int): Seq[QueryRec] =
    queries.synchronized(queries.filter(_.op == o).toSeq)
}

object Probe {
  /** A job's layer label: the merge substrate's own `mergem:` job
    * description with epoch numbers and paths removed, else the first
    * engine frame of its call site, else `harness` when the client's
    * own action started it. */
  def labelOf(js: SparkListenerJobStart): String = {
    val desc = Option(js.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    if (desc.startsWith("mergem:")) mergemLabel(desc)
    else {
      val details = js.stageInfos.sortBy(_.stageId).lastOption
        .map(_.details).getOrElse("")
      details.linesIterator.map(_.trim)
        .find(l => l.startsWith("graft.") || l.startsWith("perfbench."))
        .map(f => if (f.startsWith("perfbench.")) "harness" else frameLabel(f))
        .getOrElse("spark")
    }
  }

  def mergemLabel(desc: String): String =
    desc.stripPrefix("mergem:").replaceAll("\\(.*\\)", "")
      .replaceAll("[0-9]+", " ").trim.split("[^A-Za-z]+")
      .filter(_.nonEmpty).mkString("_")

  /** `graft.operators.Upsert$.$anonfun$computeStats$1(Upsert.scala:9)`
    * becomes `Upsert.computeStats`. */
  def frameLabel(frame: String): String = {
    val segs = frame.takeWhile(_ != '(').split('.')
    val cls = if (segs.length >= 2) segs(segs.length - 2).replace("$", "") else "?"
    val meth = segs.last.split('$')
      .find(s => s.nonEmpty && s != "anonfun" && !s.forall(_.isDigit))
      .getOrElse("?")
    s"$cls.$meth"
  }

  /** Every physical node, looking through adaptive plans and their
    * query stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}
