package perfbench

import graft.kv.KvProjection
import graft.operators.{Dedup, IvfIndex, Upsert}
import java.io.File
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.util.Random

/** The read side, run once at the end of a traced `cdc_stream` run:
  * it costs 20 s or more of set-up and cold Spark jobs, too much for
  * every run, and per-layer metrics come from traced runs only.
  * It builds what the reads serve from: a manifested table through two
  * commits (fragmented like a live table, zone maps on `t`), a KV
  * projection with its GSI and an IVF index over clustered embeddings.
  * The client then cycles through five query classes (partition-pruned
  * reads, zone-map range reads, KV point lookups, GSI range queries and
  * IVF top-10 searches; hot repeated slices mixed with cold ones and
  * full scans) and ends with one MinHash dedup pass and connected
  * components over a corpus with planted near-duplicate clusters. No
  * query writes, so commit changes must leave these figures flat. */
final class ReadPhase {
  import ReadPhase._

  private val parts = 8
  private val rowsPerPart = 1500
  private val span = 100000L
  private val kvMonths = 12
  private val geos = (0 until 24).map(i => f"Region $i%02d")
  private val products = (0 until 4).map(i => f"Product $i%02d")
  private val nVec = 3000
  private val dim = 16
  private val centers = 24
  private val cells = 16
  private val nprobe = 3
  private val topK = 10
  private val clusters = 30
  private val singles = 60
  private val docWords = 40

  private var dir = ""
  private var rnd: Random = _
  /** (p, k) -> (t, v) of the manifested table. */
  private val model = mutable.Map[(String, Long), (Long, Long)]()
  /** KV rows in AutoID order: (Date, GEO, Products, VALUE, STATUS). */
  private var kvRows: IndexedSeq[(String, String, String, Double, String)] = _
  private var vecs: IndexedSeq[Array[Float]] = _
  private var centerVecs: IndexedSeq[Array[Float]] = _
  private var docs: IndexedSeq[(Long, String)] = _
  private var kv: KvProjection = _
  private var ivf: IvfIndex = _
  private var dedupTimes = (0.0, 0.0)
  private var dedupRecall = 0.0
  private var dedupPairs = 0L
  private var ivfBuildS = 0.0
  private var kvImportS = 0.0

  private def table = s"$dir/table"
  private def pname(i: Int) = f"d$i%02d"

  private def setup(ctx: Ctx, d: String): Unit = {
    dir = d
    Gen.rmrf(new File(d))
    rnd = new Random(ctx.seed)
    buildTable(ctx)
    buildKv(ctx)
    buildIvf(ctx)
  }

  /** A bootstrap commit and a small commit into two partitions. */
  private def buildTable(ctx: Ctx): Unit = {
    val spark = ctx.spark
    model.clear()
    var ver = 0L
    def rowsFor(keys: Seq[(Int, Long)]): Seq[Row] = keys.map { case (p, k) =>
      ver += 1
      val t = p * span + rnd.nextInt(span.toInt)
      val v = rnd.nextInt(100000).toLong
      model((pname(p), k)) = (t, v)
      Row(pname(p), k, t, v, ver)
    }
    def merge(name: String, rows: Seq[Row]): Unit = ctx.tracer.span(name)(
      Upsert.mergeIntoManifested(spark, table,
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), factSchema),
        Seq("p", "k"), "p", "ver", statsCols = Seq("t")))
    merge("upsert.bootstrap", rowsFor(
      for (p <- 0 until parts; k <- 0L until rowsPerPart.toLong) yield (p, k)))
    val touched = Seq.fill(2)(rnd.nextInt(parts)).distinct
    merge("upsert.fragment", rowsFor(touched.flatMap(p =>
      Seq.fill(150)((p, rnd.nextInt(rowsPerPart + 300).toLong)).distinct)))
  }

  private def buildKv(ctx: Ctx): Unit = {
    val spark = ctx.spark
    kvRows = (for (m <- 0 until kvMonths; g <- geos; p <- products)
      yield (f"2020-${m + 1}%02d-01", g, p, rnd.nextInt(100000) / 100.0,
        if (rnd.nextInt(10) == 0) "F" else "A")).sortBy(r => (r._1, r._2, r._3))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      rnd.shuffle(kvRows).map(r => Row(r._1, r._2, r._3, r._4, r._5)), 4), kvSchema)
    kv = new KvProjection(spark, s"$dir/kv")
    kvImportS = Ctx.time(ctx.tracer.span("kv.import")(kv.importTable(df)))._2
  }

  private def buildIvf(ctx: Ctx): Unit = {
    val spark = ctx.spark
    centerVecs = IndexedSeq.fill(centers)(Array.fill(dim)(rnd.nextFloat() * 2 - 1))
    vecs = IndexedSeq.fill(nVec) {
      val c = centerVecs(rnd.nextInt(centers))
      c.map(x => x + (rnd.nextGaussian() * 0.25).toFloat)
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      vecs.indices.map(i => Row(i.toLong, vecs(i).toSeq)), 4), vecSchema)
    ivf = new IvfIndex(spark, s"$dir/ivf")
    ivfBuildS = Ctx.time(ctx.tracer.span("ivf.build")(
      ivf.build(df, "vec_id", "embedding", k = cells, iters = 5)))._2
  }

  /** `clusters` planted clusters of an original and one or two copies
    * with two words replaced (3-shingle Jaccard about 0.7 with the
    * original), among unrelated single documents. */
  private def corpus(rnd: Random): (IndexedSeq[(Long, String)], Map[Long, Int]) = {
    def words(): Array[String] = Array.fill(docWords)(f"w${rnd.nextInt(3000)}%04d")
    val out = mutable.ArrayBuffer[(Long, String)]()
    val plant = mutable.Map[Long, Int]()
    (0 until clusters).foreach { c =>
      val orig = words()
      plant(out.size.toLong) = c
      out += ((out.size.toLong, orig.mkString(" ")))
      (1 to 1 + rnd.nextInt(2)).foreach { _ =>
        val copy = orig.clone()
        (1 to 2).foreach(_ => copy(rnd.nextInt(docWords)) = f"x${rnd.nextInt(3000)}%04d")
        plant(out.size.toLong) = c
        out += ((out.size.toLong, copy.mkString(" ")))
      }
    }
    (0 until singles).foreach(_ => out += ((out.size.toLong, words().mkString(" "))))
    (out.toIndexedSeq, plant.toMap)
  }

  /** Pairs, then components; the components must be the planted
    * clusters exactly. */
  private def dedupPass(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val (ds, plant) = corpus(new Random(ctx.seed))
    docs = ds
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      ds.map { case (i, t) => Row(i, t) }, 4), docSchema)
    val (pairs, pairsS) = Ctx.time(ctx.tracer.span("dedup.pairs")(
      Dedup.minhashLshPairs(df, "doc_id", "text", n = 3, numHashes = 32,
        bands = 16, threshold = 0.5).localCheckpoint()))
    val pairSet = pairs.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val (comps, ccS) = Ctx.time(ctx.tracer.span("dedup.cc")(
      Dedup.connectedComponents(df.select(col("doc_id").as("id")), pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap))
    dedupTimes = (pairsS, ccS)
    dedupPairs = pairSet.size.toLong
    val want = plant.groupBy(_._2).values.map(_.keys.toSet).toSet
    val got = comps.groupBy(_._2).values.map(_.keys.toSet).filter(_.size > 1).toSet
    ctx.probe.foreach(_.drain())
    ctx.check("dedup components equal the planted clusters")(got == want)
    // planted pairs: each copy with the original of its cluster
    val origs = plant.groupBy(_._2).map { case (c, m) => c -> m.keys.min }
    val truth = plant.collect { case (id, c) if id != origs(c) => (origs(c), id) }
    dedupRecall = truth.count(p => pairSet(p) || pairSet(p.swap)).toDouble /
      math.max(truth.size, 1)
  }

  /** One query of the given class; its parameters are drawn from the
    * seed, and hot parameters repeat. */
  private def nextQuery(spark: SparkSession, cls: String): Q = {
    def pick(hot: => Int, cold: => Int): Int = if (rnd.nextDouble() < 0.75) hot else cold
    cls match {
      case "partition" =>
        val p = pname(pick(0, rnd.nextInt(parts)))
        Q(cls, () => Upsert.readManifestedPartitions(spark, table, Seq(p)), aggOf,
          rows => agree(s"partition $p", rows, modelAgg { case ((q, _), _) => q == p }))
      case "range" =>
        val (lo, hi) = rnd.nextInt(4) match {
          case 0 | 1 => (span / 4, span / 2)
          case 2 => val s = rnd.nextInt(parts) * span + rnd.nextInt(span.toInt)
            (s, s + span / 2)
          case _ => (0L, parts * span)
        }
        Q(cls, () => Upsert.readManifestedRange(spark, table, "t", lo, hi), aggOf,
          rows => agree(s"range [$lo, $hi]", rows,
            modelAgg { case (_, (t, _)) => t >= lo && t <= hi }))
      case "kv_point" =>
        val id = pick(1 + rnd.nextInt(8), 1 + rnd.nextInt(kvRows.size))
        Q(cls, () => kv.pointLookup(id.toLong),
          _.select("Date", "GEO", "Products", "VALUE", "STATUS"),
          rows => agree(s"kv point $id", rows, Seq(kvRows(id - 1).productIterator.mkString("|"))))
      case "kv_gsi" =>
        val m = pick(kvMonths - 1, rnd.nextInt(kvMonths))
        val date = f"2020-${m + 1}%02d-01"
        val g0 = rnd.nextInt(geos.size - 4)
        val (lo, hi) = (geos(g0), geos(g0 + 3))
        Q(cls, () => kv.gsiQuery(date, lo, hi),
          _.select("Date", "GEO", "Products", "VALUE", "STATUS"),
          rows => agree(s"gsi $date [$lo, $hi]", rows, kvRows.collect {
            case r if r._1 == date && r._2 >= lo && r._2 <= hi => r.productIterator.mkString("|")
          }))
      case _ =>
        val c = centerVecs(pick(0, rnd.nextInt(centers)))
        val q = c.map(x => x + rnd.nextGaussian() * 0.25)
        Q(cls, () => ivf.search("vec_id", "embedding", q.toSeq, topK, nprobe), identity,
          rows => annCheck(q, rows))
    }
  }

  private def aggOf(df: DataFrame): DataFrame =
    df.agg(count(lit(1)), coalesce(sum("v"), lit(0L)), coalesce(sum("t"), lit(0L)))

  private def modelAgg(keep: (((String, Long), (Long, Long))) => Boolean): Seq[String] = {
    val m = model.filter(keep)
    Seq(s"${m.size}|${m.values.map(_._2).sum}|${m.values.map(_._1).sum}")
  }

  private def agree(what: String, rows: Seq[Row], want: Seq[String]): Answer = {
    val got = rows.map(_.toSeq.mkString("|")).sorted
    Answer(if (got == want.sorted) None
      else Some(s"$what: ${got.take(3)} (${got.size} rows), expected ${want.sorted.take(3)} (${want.size})"),
      1.0)
  }

  /** Exact cosine top-k over every vector, rounded as the engine rounds
    * its scores. */
  private def bruteTop(q: Array[Double]): Seq[(Long, Double)] =
    vecs.indices.map(i => (i.toLong, cosine(vecs(i), q)))
      .sortBy { case (i, s) => (-s, i) }.take(topK)

  /** The answer is well-formed (k rows, best first, every score the
    * exact cosine of its row); its recall is its overlap with the exact
    * top-k. */
  private def annCheck(q: Array[Double], rows: Seq[Row]): Answer = {
    val got = rows.map(r => (r.getLong(0), r.getDouble(1)))
    val exact = bruteTop(q)
    val scoresOk = got.forall { case (i, s) =>
      i >= 0 && i < nVec && math.abs(s - cosine(vecs(i.toInt), q)) <= 2e-6 }
    val sorted = got.map(_._2).zip(got.map(_._2).drop(1)).forall { case (a, b) => a >= b }
    val recall = got.map(_._1).toSet.intersect(exact.map(_._1).toSet).size.toDouble / topK
    Answer(if (got.size == topK && scoresOk && sorted) None
      else Some(s"ann: ${got.size} rows, scores exact=$scoresOk, ordered=$sorted"), recall)
  }

  private def execute(ctx: Ctx, q: Q): (Seq[Row], Seq[Double]) = {
    val tr = ctx.tracer
    val (src, r) = Ctx.time(tr.span("reads.resolve")(q.resolve()))
    val df = q.shape(src)
    val (_, p) = Ctx.time(tr.span("reads.plan")(df.queryExecution.executedPlan))
    val (out, e) = Ctx.time(tr.span("reads.exec")(df.collect().toSeq))
    (out, Seq(r, p, e))
  }

  /** Builds the read side under `d`, runs one unscored query of every
    * class (so no class pays its first use in the loop), cycles
    * through the classes for `seconds`, checking every answer, then
    * makes the dedup pass. Returns the `reads.*`, `ivf.*` and `dedup.*`
    * metrics. The queries are operations of kind `reads.<class>`. */
  def run(ctx: Ctx, d: String, seconds: Double): Map[String, Double] = {
    val spark = ctx.spark
    ctx.tracer.span("reads.setup")(setup(ctx, d))
    schedule.foreach(c => execute(ctx, nextQuery(spark, c)))
    val byClass = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    val phases = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    val queryOps = mutable.ArrayBuffer[(Int, String)]()
    val recalls = mutable.ArrayBuffer[Double]()
    val snapshotFiles = Upsert.readManifested(spark, table).inputFiles.length
    val end = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < end) {
      val q = nextQuery(spark, schedule(queryOps.size % schedule.size))
      val ((rows, times), dt) = ctx.op(s"reads.${q.cls}")(execute(ctx, q))
      byClass.getOrElseUpdate(q.cls, mutable.ArrayBuffer()) += dt
      Seq("reads.resolve_s", "reads.plan_s", "reads.exec_s").zip(times)
        .foreach { case (k, t) => phases.getOrElseUpdate(k, mutable.ArrayBuffer()) += t }
      queryOps += ((ctx.currentOp, q.cls))
      val a = q.check(rows)
      if (q.cls == "ann") recalls += a.recall
      a.error.foreach(ctx.fail(ctx.currentOp, _))
    }
    dedupPass(ctx)

    val layer = mutable.Map[String, Double](
      "reads.queries" -> queryOps.size.toDouble,
      "reads.ann_recall_at_10" -> Stats.mean(recalls.toSeq),
      "ivf.build_s" -> ivfBuildS, "kv.import_s" -> kvImportS,
      "dedup.pairs_s" -> dedupTimes._1, "dedup.cc_s" -> dedupTimes._2,
      "dedup.pairs" -> dedupPairs.toDouble, "dedup.recall" -> dedupRecall,
      "dedup.docs_per_s" -> docs.size / math.max(dedupTimes._1 + dedupTimes._2, 1e-9))
    schedule.foreach(c =>
      layer(s"reads.${c}_p50_s") = Stats.median(byClass.getOrElse(c, Nil).toSeq))
    phases.foreach { case (k, v) => layer(k) = Stats.median(v.toSeq) }
    ctx.probe.foreach { p =>
      p.drain()
      def scans(cls: String*) = queryOps.filter(o => cls.contains(o._2))
        .map(o => p.queriesOf(o._1).flatMap(_.scans))
      val tableScans = scans("partition", "range")
      val ann = scans("ann")
      val annOps = queryOps.filter(_._2 == "ann").map(_._1).toSeq
      val dd = ctx.aggSpans(ctx.tracer.spans.filter(_.name.startsWith("dedup.")).toSeq)
      layer ++= Map(
        "reads.files_read" -> tableScans.map(_.map(_.files).sum).sum.toDouble /
          math.max(tableScans.size, 1),
        "reads.pruned_frac" -> (1.0 - tableScans.map(_.map(_.files).sum).sum.toDouble /
          math.max(tableScans.size * snapshotFiles, 1)),
        "ivf.files_per_query" -> ann.map(_.map(_.files).sum).sum.toDouble /
          math.max(ann.size, 1),
        "ivf.jobs_per_query" -> ctx.aggOps(annOps).jobs.toDouble / math.max(annOps.size, 1),
        "dedup.jobs" -> dd.jobs.toDouble,
        "dedup.shuffle_bytes" -> (dd.shuffleRead + dd.shuffleWrite).toDouble)
    }
    layer.toMap
  }
}

object ReadPhase {
  /** The client's query over what the engine call returns, and the
    * answer's check. */
  final case class Q(cls: String, resolve: () => DataFrame,
                     shape: DataFrame => DataFrame, check: Seq[Row] => Answer)
  final case class Answer(error: Option[String], recall: Double)

  /** The class order the client cycles through, so every run has the
    * same mix and the median falls inside one class. */
  val schedule: Seq[String] = Seq("partition", "range", "kv_point", "kv_gsi", "ann")

  val factSchema: StructType = StructType(Seq(
    StructField("p", StringType), StructField("k", LongType),
    StructField("t", LongType), StructField("v", LongType),
    StructField("ver", LongType)))
  val kvSchema: StructType = StructType(Seq(
    StructField("Date", StringType), StructField("GEO", StringType),
    StructField("Products", StringType), StructField("VALUE", DoubleType),
    StructField("STATUS", StringType)))
  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** Cosine of a stored float vector and a query, rounded half-up to
    * six places as the engine's scores are. */
  def cosine(v: Array[Float], q: Array[Double]): Double = {
    var dot, nv, nq = 0.0
    var i = 0
    while (i < q.length) {
      val x = v(i).toDouble
      dot += x * q(i); nv += x * x; nq += q(i) * q(i)
      i += 1
    }
    BigDecimal(dot / (math.sqrt(nv) * math.sqrt(nq)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }
}
