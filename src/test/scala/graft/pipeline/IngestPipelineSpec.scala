package graft.pipeline

import graft.SparkSpec
import graft.schema.PriceIndex
import java.nio.file.{Files, Path}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

class IngestPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d
  }

  private val header =
    "Date,GEO,DGUID,Products,UOM,UOM_ID,SCALAR_FACTOR,SCALAR_ID,VECTOR,COORDINATE,VALUE,STATUS,SYMBOL,TERMINATED,DECIMALS"

  private def row(date: String, geo: String, product: String, v: String) =
    s"$date,$geo,2016A0001,$product,Units,300,units,0,v123,1.1.1,$v,,,,1"

  private def writeCsv(dir: Path, name: String, lines: Seq[String]): String = {
    val f = dir.resolve(name)
    Files.writeString(f, lines.mkString("\n"))
    f.toString
  }

  test("readJsonLines: schema-first scan, corrupt rows accounted not fatal") {
    val in = tmpDir("graft_json")
    val f = in.resolve("events.jsonl")
    Files.writeString(f, Seq(
      """{"id": 1, "name": "a", "v": 1.5}""",
      """{"id": 2, "name": "b", "v": 2.5}""",
      """this is not json at all""",
      """{"id": 4, "name": "d", "v": 4.5}"""
    ).mkString("\n"))
    val raw = Ingest.readJsonLines(spark, f.toString,
      "id BIGINT, name STRING, v DOUBLE")
    val rec = Ingest.reconcile(raw, maxErrors = 5)
    assert(rec.totalRows == 4 && rec.corruptRows == 1 && rec.ok)
    assert(rec.clean.select(sum($"id")).first().getLong(0) == 7)
    val strict = Ingest.reconcile(
      Ingest.readJsonLines(spark, f.toString, "id BIGINT, name STRING, v DOUBLE"),
      maxErrors = 0)
    assert(!strict.ok)
  }

  test("reconcile returns the clean rows' distinct values of a named " +
      "column, nulls kept, corrupt rows excluded") {
    val in = tmpDir("graft_recval")
    val f = writeCsv(in, "priceindex_v.csv", Seq(header,
      row("1995-11", "Canada", "food", "1.0"),
      row("1995-12", "Canada", "food", "2.0"),
      row("1995-12", "", "food", "3.0"),
      row("1995-12", "Mars", "food", "4.0") + ",EXTRA,EXTRA"))
    val rec = Ingest.reconcile(Ingest.readPriceIndexCsv(spark, f),
      maxErrors = 5, distinctCol = Some("GEO"))
    try {
      assert(rec.totalRows == 4 && rec.corruptRows == 1 && rec.ok)
      // an empty CSV field reads as null
      assert(rec.cleanValues.toSet == Set("Canada", null))
      assert(rec.cleanValues.size == 2)
    } finally rec.release()
    // no column named: the same counts and no values
    val plain = Ingest.reconcile(Ingest.readPriceIndexCsv(spark, f),
      maxErrors = 0)
    try assert(plain.totalRows == 4 && plain.corruptRows == 1 &&
      !plain.ok && plain.cleanValues.isEmpty)
    finally plain.release()
  }

  /** Spark jobs submitted while `body` runs, counted under a job group
    * of this test's own so concurrent activity on the shared session is
    * not counted. A job count does not depend on machine load. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"ingest-shape-${java.util.UUID.randomUUID()}"
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null &&
            js.properties.getProperty("spark.jobGroup.id") == group)
          n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "ingest job shape")
    try { body; ListenerBusDrain.drain(sc) }
    finally { sc.clearJobGroup(); sc.removeSparkListener(l) }
    n.get
  }

  test("job shape: a daily load into an existing table is at most 3 " +
      "jobs, the report export 2, one file per touched GEO dir") {
    val in = tmpDir("graft_shape_in"); val wh = tmpDir("graft_shape_wh")
    val p = new IngestPipeline(spark, wh.toString)
    val history = writeCsv(in, "priceindex_h.csv", Seq(header,
      row("1995-11", "Canada", "food", "101.5"),
      row("1995-11", "Ontario", "food", "100.5"),
      row("1995-11", "01", "food", "99.5"),
      row("1995-11", "Quebec", "food", "98.5")))
    assert(p.load(history).status == 1)
    def parquetFiles(geo: String): Int =
      new java.io.File(s"$wh/0_priceindex/GEO=$geo").listFiles()
        .count(_.getName.endsWith(".parquet"))
    val quebecBefore = new java.io.File(s"$wh/0_priceindex/GEO=Quebec")
      .listFiles().filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    // a daily file: revisions in two existing GEOs, a new month in a
    // new one, and one malformed row under the tolerance
    val daily = writeCsv(in, "priceindex_d.csv", Seq(header,
      row("1995-11", "Canada", "food", "111.5"),
      row("1995-12", "Canada", "food", "112.5"),
      row("1995-12", "01", "food", "113.5"),
      row("1995-12", "Yukon", "food", "114.5"),
      row("1995-12", "Mars", "food", "1.0") + ",EXTRA,EXTRA"))
    var r: IngestPipeline.LoadResult = null
    // the reconcile pass, the merge's exchange, the partitioned write
    val loadJobs = jobsOf { r = p.load(daily) }
    assert(r.status == 1, r.error)
    assert(loadJobs <= 3, s"daily load ran $loadJobs jobs")
    // the aggregate's exchange and the CSV write
    val out = tmpDir("graft_shape_rep").resolve("rep").toString
    val reportJobs = jobsOf {
      p.buildAndExportReport(1995, 12, Seq.empty, "", out)
    }
    assert(reportJobs == 2, s"report export ran $reportJobs jobs")
    Seq("Canada", "01", "Yukon").foreach(g =>
      assert(parquetFiles(g) == 1, s"GEO=$g"))
    // an untouched partition keeps its files
    assert(new java.io.File(s"$wh/0_priceindex/GEO=Quebec").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet ==
      quebecBefore)
    // content, and a GEO that looks numeric reads back as the string
    // it was loaded as
    val got = p.permanent()
      .select($"GEO", $"Date".cast("string"), $"VALUE".cast("double"))
      .as[(String, String, Double)].collect().toSet
    assert(got == Set(("Canada", "1995-11-01", 111.5),
      ("Ontario", "1995-11-01", 100.5), ("01", "1995-11-01", 99.5),
      ("Quebec", "1995-11-01", 98.5), ("Canada", "1995-12-01", 112.5),
      ("01", "1995-12-01", 113.5), ("Yukon", "1995-12-01", 114.5)))
    assert(p.permanent().schema("GEO").dataType ==
      org.apache.spark.sql.types.StringType)
  }

  test("EP1: load -> merge -> report -> archive, with idempotent replay") {
    val in = tmpDir("graft_in"); val wh = tmpDir("graft_wh")
    val p = new IngestPipeline(spark, wh.toString)

    val f1 = writeCsv(in, "priceindex_a.csv", Seq(header,
      row("1995-11", "Canada", "food", "101.5"),
      row("1995-12", "Canada", "food", "104.3"),
      row("1995-12", "Ontario", "food", "103.9")))
    val r1 = p.load(f1)
    assert(r1.status == 1, r1.error)
    assert(r1.totalRows == 3 && r1.corruptRows == 0)
    assert(p.permanent().count() == 3)

    // replay within the dedup window is suppressed (ST2/ST3)
    val r2 = p.load(f1)
    assert(r2.status == 2)
    assert(p.permanent().count() == 3)

    // second file upserts: one key update (Ontario 1995-12), one insert
    val f2 = writeCsv(in, "priceindex_b.csv", Seq(header,
      row("1995-12", "Ontario", "food", "999.9"),
      row("1995-12", "Quebec", "food", "102.2")))
    val r3 = p.load(f2)
    assert(r3.status == 1, r3.error)
    val perm = p.permanent()
    assert(perm.count() == 4)
    val ont = perm.filter($"GEO" === "Ontario").select("VALUE")
      .as[java.math.BigDecimal].head()
    assert(ont.doubleValue() == 999.9)

    // report build + export (EP3)
    val outDir = tmpDir("graft_rep").resolve("rep1").toString
    val rep = p.buildAndExportReport(1995, 12, Seq("Canada", "Ontario"),
      "food", outDir)
    assert(rep.count() == 2)
    val csvs = new java.io.File(outDir).listFiles.filter(_.getName.endsWith(".csv"))
    assert(csvs.length == 1)
    val content = Files.readAllLines(csvs.head.toPath)
    assert(content.get(0).startsWith("y,m,geo,category"))

    // archive moves the file out of the watch dir (S11)
    val backup = tmpDir("graft_bak").toString
    assert(p.archive(f1, backup, "2026-08-12"))
    assert(!new java.io.File(f1).exists())
    assert(new java.io.File(s"$backup/2026-08-12/priceindex_a.csv").exists())

    // audit rows exist per stage (SURVEY §5.3)
    val audit = p.audit.table()
    assert(audit.filter(instr($"event_source", "temp table creation") > 0).count() >= 2)
    assert(audit.filter($"event_source" === "loading" && $"status" === 1).count() >= 2)
  }

  test("corrupt rows within maxerrors are tolerated; beyond it fail the load") {
    val in = tmpDir("graft_in2"); val wh = tmpDir("graft_wh2")
    val p = new IngestPipeline(spark, wh.toString, maxErrors = 1)
    // one malformed row (too many columns) is tolerated
    val ok = writeCsv(in, "priceindex_ok.csv", Seq(header,
      row("1996-01", "Canada", "food", "100.0"),
      row("1996-01", "Ontario", "food", "100.0") + ",EXTRA,EXTRA,EXTRA"))
    val r = p.load(ok)
    assert(r.status == 1, r.error)
    assert(r.corruptRows == 1 && p.permanent().count() == 1)

    // two malformed rows exceed maxErrors=1 -> status 0, nothing written
    val bad = writeCsv(in, "priceindex_bad.csv", Seq(header,
      row("1996-02", "Canada", "food", "1.0") + ",X,X,X",
      row("1996-02", "Ontario", "food", "1.0") + ",X,X,X"))
    val rb = p.load(bad)
    assert(rb.status == 0)
    assert(p.permanent().filter($"Date" === "1996-02-01").count() == 0)
  }

  test("reordered and extra columns are re-projected to canonical order (P1)") {
    val df = Seq(("x", "food", "Canada", "1995-12", "104.3"))
      .toDF("JUNK", "Products", "GEO", "Date", "VALUE")
    val missing = PriceIndex.columnList.filterNot(df.columns.contains)
    val filled = missing.foldLeft(df)((d, c) => d.withColumn(c, lit("0")))
    val out = PriceIndex.project(filled)
    assert(out.columns.toSeq == PriceIndex.columnList)
    val typed = PriceIndex.typed(out)
    assert(typed.schema.map(f => (f.name, f.dataType)) ==
      PriceIndex.typedSchema.map(f => (f.name, f.dataType)))
    val r = typed.head()
    assert(r.getDate(0).toString == "1995-12-01")
    assert(r.getDecimal(10).doubleValue() == 104.3)
  }

  test("typed() accepts both month-granularity and full dates") {
    val df = Seq("1995-12", "2024-03-15", "not a date")
      .toDF("Date")
    val filled = PriceIndex.columnList.tail
      .foldLeft(df)((d, c) => d.withColumn(c, lit("0")))
    val dates = PriceIndex.typed(PriceIndex.project(filled))
      .select($"Date".cast("string")).as[String].collect().toSeq
    assert(dates == Seq("1995-12-01", "2024-03-15", null))
  }

  test("missing file and fresh-window suppression return skip status (P6/ST3)") {
    val wh = tmpDir("graft_wh3")
    val p = new IngestPipeline(spark, wh.toString)
    val r = p.load("/nonexistent/file.csv")
    assert(r.status == 2)
  }
}
