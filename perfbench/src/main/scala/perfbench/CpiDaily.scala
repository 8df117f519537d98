package perfbench

import graft.pipeline.IngestPipeline
import java.io.File
import scala.collection.mutable
import scala.util.Random

/** `cpi_daily`: the reference's own flow. A daily PriceIndex CSV lands;
  * the client loads it and exports that month's report. Files revise
  * recent months over Zipf-hot GEOs and add a new month; each carries a
  * few malformed rows under `maxErrors`. One file in ten is a
  * redelivery of an earlier file and one in twenty is poison (over the
  * tolerance), at fixed places in the sequence, so every run of a
  * given length sees the same mix. */
final class CpiDaily extends Workload {
  private val geos = (0 until 24).map(i => f"Region $i%02d")
  private val products = (0 until 16).map(i => f"Product $i%02d")
  private val header = graft.schema.PriceIndex.columnList.mkString(",")
  private val maxErrors = 5L
  private val historyMonths = 6
  private val baseMtime = 1600000000000L

  private var dir = ""
  private var pipe: IngestPipeline = _
  private var rnd: Random = _
  private var zipf: Zipf = _
  /** (yyyy-MM, GEO, Products) -> VALUE: last version wins. */
  private val model = mutable.Map[(String, String, String), String]()
  /** Files delivered and loaded so far, and the next new month. */
  private var files = 0
  private var month = 0
  private val loaded = mutable.ArrayBuffer[(String, String)]() // name, body

  private def monthName(i: Int): String = f"${2000 + i / 12}%04d-${i % 12 + 1}%02d"
  private def value(): String = f"${50 + rnd.nextInt(150)}.${rnd.nextInt(10000)}%04d"
  private def row(k: (String, String, String), v: String): String =
    s"${k._1},${k._2},2016A000011124,${k._3},2002=100,17,units,0,v41690973,2.2,$v,,,,1"
  private def corrupt(i: Int): String =
    row((monthName(0), geos(0), products(0)), "1.0") + s",EXTRA$i,EXTRA"

  private def landing = new File(s"$dir/landing")
  private def stage = new File(s"$dir/stage")

  def setup(ctx: Ctx, d: String): Unit = {
    dir = d
    Gen.rmrf(new File(d))
    landing.mkdirs()
    rnd = new Random(ctx.seed)
    zipf = new Zipf(geos.size, 1.1, rnd)
    model.clear()
    loaded.clear()
    files = 0
    month = historyMonths
    pipe = new IngestPipeline(ctx.spark, s"$d/wh", maxErrors = maxErrors)
    val rows = for (m <- 0 until historyMonths; g <- geos; p <- products)
      yield (monthName(m), g, p) -> value()
    val f = new File(landing, "priceindex_0000.csv")
    Gen.land(stage, f, (header +: rows.map { case (k, v) => row(k, v) })
      .mkString("\n") + "\n", baseMtime)
    val r = ctx.tracer.span("pipeline.load")(pipe.load(f.toString))
    require(r.status == 1, s"history load failed: ${r.error}")
    model ++= rows
    ctx.tracer.span("pipeline.report")(pipe.buildAndExportReport(
      2000 + (historyMonths - 1) / 12, (historyMonths - 1) % 12 + 1,
      Seq.empty, "", s"$d/exports/history"))
  }

  /** One day's file: the new month and revisions of the last six months
    * for eight distinct GEOs drawn by Zipf (so hot GEO partitions are
    * rewritten often, cold ones rarely, and every file touches the same
    * number of partitions), plus `bad` malformed rows. */
  private def dayFile(month: Int, bad: Int): (Seq[((String, String, String), String)], String) = {
    val hot = mutable.LinkedHashSet[String]()
    while (hot.size < 8) hot += geos(zipf.next())
    val hotSeq = hot.toIndexedSeq
    val keys = mutable.LinkedHashSet[(String, String, String)]()
    for (g <- hotSeq; p <- products) keys += ((monthName(month), g, p))
    (1 to 120).foreach { _ =>
      keys += ((monthName(month - 1 - rnd.nextInt(6)), hotSeq(rnd.nextInt(hotSeq.size)),
        products(rnd.nextInt(products.size))))
    }
    val rows = keys.toSeq.map(k => k -> value())
    val lines = rows.map { case (k, v) => row(k, v) } ++ (1 to bad).map(corrupt)
    (rows, (header +: rnd.shuffle(lines)).mkString("\n") + "\n")
  }

  /** A poison file and three daily files through load and report
    * before timing starts, so the rejection path has run and the first
    * measured loads are not the JVM's first merges into existing
    * partitions, which run up to a third slower. */
  override def warmup(ctx: Ctx): Unit = Seq(7, 2, 2, 2).foreach { bad =>
    files += 1
    val (rows, body) = dayFile(month, bad)
    month += 1
    val name = f"priceindex_$files%04d.csv"
    val f = new File(landing, name)
    Gen.land(stage, f, body, baseMtime + files * 1000L)
    val r = ctx.tracer.span("pipeline.load")(pipe.load(f.toString))
    val want = if (bad > maxErrors) 0 else 1
    ctx.check(s"warm-up file $name has status $want")(r.status == want)
    if (r.status == 1) {
      model ++= rows
      loaded += ((name, body))
      ctx.tracer.span("pipeline.report")(pipe.buildAndExportReport(
        2000 + (month - 1) / 12, (month - 1) % 12 + 1, Seq.empty, "", s"$dir/exports/warmup$files"))
    }
  }

  def run(ctx: Ctx): WlResult = {
    val tr = ctx.tracer
    val freshness = mutable.ArrayBuffer[Double]()
    var measuredFiles = 0
    val loadSpans = mutable.ArrayBuffer[Span]()
    val tableFiles = mutable.Map[Int, Long]() // loaded op -> table files after it
    val reportSpans = mutable.ArrayBuffer[Span]()
    var nLoaded, nSuppressed, nRejected = 0
    var rowsApplied = 0L
    var inputBytes = 0L
    var opSeconds = 0.0
    val written0 = ctx.meter.bytes()
    val end = ctx.deadline()
    while (System.nanoTime() < end) {
      files += 1
      measuredFiles += 1
      val (kind, name, body, rows) =
        if (measuredFiles % 10 == 4) {
          val (n, b) = loaded(rnd.nextInt(loaded.size))
          ("redelivery", n, b, Seq.empty)
        } else {
          val poison = measuredFiles % 20 == 9
          val (rows, body) = dayFile(month, if (poison) 7 else 2)
          month += 1
          (if (poison) "poison" else "daily", f"priceindex_$files%04d.csv", body, rows)
        }
      val f = new File(landing, name)
      Gen.land(stage, f, body, baseMtime + files * 1000L)
      inputBytes += body.length
      val landedAt = System.nanoTime()
      val reportMonth = month - 1
      val outDir = s"$dir/exports/$files"
      val (res, dt) = ctx.op(kind) {
        val r = tr.span("pipeline.load")(pipe.load(f.toString))
        if (r.status == 1)
          tr.span("pipeline.report")(pipe.buildAndExportReport(
            2000 + reportMonth / 12, reportMonth % 12 + 1, Seq.empty, "", outDir))
        r
      }
      val done = System.nanoTime()
      opSeconds += dt
      val id = ctx.currentOp
      if (tr.on) {
        loadSpans ++= ctx.spansNamed("pipeline.load").filter(_.op == id)
        reportSpans ++= ctx.spansNamed("pipeline.report").filter(_.op == id)
      }
      val expected = kind match {
        case "daily" => 1
        case "poison" => 0
        case _ => 2
      }
      if (res.status != expected)
        ctx.fail(id, s"$kind file $name: status ${res.status}, expected $expected (${res.error})")
      res.status match {
        case 1 =>
          if (tr.on) tableFiles(id) =
            Ctx.du(new File(s"$dir/wh/0_priceindex"), dataOnly = true)._1
          nLoaded += 1
          rowsApplied += res.totalRows - res.corruptRows
          model ++= rows
          loaded += ((name, body))
          freshness += (done - landedAt) / 1e9
          checkReport(ctx, id, outDir, monthName(reportMonth))
        case 2 => nSuppressed += 1
        case _ => nRejected += 1
      }
    }
    val writeAmp = (ctx.meter.bytes() - written0).toDouble / math.max(inputBytes, 1L)
    val served = servedShare()
    ctx.check("final table equals the last-version-wins model")(served == 1.0)
    val tableBytes = Ctx.du(new File(s"$dir/wh/0_priceindex"), dataOnly = true)._2
    OutputMeter.client(ctx.spark)(pipe.permanent().write.parquet(s"$dir/plain"))
    val plainBytes = Ctx.du(new File(s"$dir/plain"), dataOnly = true)._2

    val layer = mutable.Map[String, Double](
      "pipeline.loaded_frac" -> nLoaded.toDouble / measuredFiles,
      "pipeline.suppressed_frac" -> nSuppressed.toDouble / measuredFiles,
      "pipeline.rejected_frac" -> nRejected.toDouble / measuredFiles)
    if (tr.on) {
      val okLoads = loadSpans.filter(s => reportSpans.exists(_.op == s.op)).toSeq
      val la = okLoads.map(s => ctx.aggSpans(Seq(s)))
      val ra = reportSpans.toSeq.map(s => ctx.aggSpans(Seq(s)))
      // the report's scan of the permanent table: the one filtering Date
      // by year and month, pushed as a range once the plan rule rewrote it
      val reportScans = tableFiles.keys.toSeq.sorted.map { id =>
        id -> ctx.probe.get.queriesOf(id).flatMap(_.scans).filter(sc =>
          sc.dataFilters.contains("Date#") && Seq(">=", "year(", "month(")
            .exists(sc.dataFilters.contains))
      }
      val n = math.max(reportScans.size, 1).toDouble
      layer ++= Map(
        "scan.files_read" -> reportScans.map(_._2.map(_.files).sum).sum / n,
        "scan.bytes_read" -> reportScans.map(_._2.map(_.bytes).sum).sum / n,
        "scan.pruned_frac" -> Stats.mean(reportScans.map { case (id, sc) =>
          1.0 - sc.map(_.files).sum.toDouble / math.max(tableFiles(id), 1L) }),
        "plans.range_pushdown_frac" -> reportScans.count(_._2.exists(sc =>
          sc.dataFilters.matches(".*Date#\\d+ >= .*"))) / n)
      layer ++= Map(
        "pipeline.load_s" -> Stats.median(la.map(_.wallS)),
        "pipeline.report_s" -> Stats.median(ra.map(_.wallS)),
        "pipeline.load_jobs" -> Stats.mean(la.map(_.jobs.toDouble)),
        "pipeline.report_jobs" -> Stats.mean(ra.map(_.jobs.toDouble)),
        "pipeline.load_gap_s" -> Stats.median(la.map(_.gapS)),
        "pipeline.bytes_written_per_load" -> Stats.mean(la.map(_.outBytes.toDouble)))
    }
    WlResult(freshness.toSeq, rowsApplied / math.max(opSeconds, 1e-9),
      served, writeAmp, tableBytes.toDouble / math.max(plainBytes, 1L), layer.toMap)
  }

  /** The exported CSV holds one group per (GEO, product) of the month,
    * and each group's average is the model's value. */
  private def checkReport(ctx: Ctx, id: Int, outDir: String, month: String): Unit = {
    val want = model.collect { case ((m, g, p), v) if m == month => (g, p) -> BigDecimal(v) }
    val parts = Option(new File(outDir).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
    val got = parts.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().drop(1).filter(_.nonEmpty).map(_.split(",", -1)).toList
      finally src.close()
    }.map(c => (c(2), c(3)) -> (BigDecimal(c(4)), c(5).toLong)).toMap
    val ok = got.size == want.size && want.forall { case (k, v) =>
      got.get(k).exists { case (avg, n) => n == 1L && avg.compare(v) == 0 } }
    if (!ok) ctx.fail(id, s"report $month: ${got.size} groups, model has ${want.size} " +
      s"(first difference: ${want.find { case (k, v) => !got.get(k).exists(_._1.compare(v) == 0) }})")
  }

  /** Share of the model's keys the table serves with the model's value,
    * discounted by any row the model does not have. */
  private def servedShare(): Double = {
    val got = pipe.permanent()
      .selectExpr("date_format(Date, 'yyyy-MM')", "GEO", "Products", "VALUE")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        BigDecimal(r.getDecimal(3))).toMap
    val hits = model.count { case (k, v) => got.get(k).exists(_.compare(BigDecimal(v)) == 0) }
    hits.toDouble / math.max(model.size, got.size)
  }
}
