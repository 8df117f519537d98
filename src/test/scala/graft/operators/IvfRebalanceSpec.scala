package graft.operators

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** IVF maintenance for drifted/skewed corpora (VERDICT r13 next-list
  * #8): [[IvfIndex.recenter]] (routing repair, zero data movement) and
  * [[IvfIndex.splitHotCells]] (hot-cell rebalance, cost bounded by the
  * hot mass) — content preservation, routing, epoch/centroid-version
  * atomicity across injected kills, sibling staleness, and sweep
  * retention. */
class IvfRebalanceSpec extends SparkSpec {
  import spark.implicits._

  // cluster A (60 rows, around x-axis) is deliberately hot; cluster B
  // hides two sub-clusters inside A's rows so a split can separate them
  private lazy val emb = {
    val rnd = new scala.util.Random(7)
    (1 to 80).map { i =>
      val base =
        if (i <= 30) Array(10f, 0f, 0f, 0f)
        else if (i <= 60) Array(10f, 4f, 0f, 0f) // same coarse cell as A
        else Array(0f, 10f, 0f, 0f)
      (i.toLong, base.map(_ + rnd.nextFloat() * 0.3f))
    }.toDF("vec_id", "embedding")
  }

  private def bruteIds(k: Int, q: Seq[Double]): Seq[Long] =
    Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, k)
      .select("vec_id").as[Long].collect().toSeq

  private def fullProbeIds(idx: IvfIndex, k: Int, q: Seq[Double]): Seq[Long] = {
    val nCells = idx.centroids().count().toInt
    idx.search("vec_id", "embedding", q, k, nprobe = nCells)
      .select("vec_id").as[Long].collect().toSeq
  }

  test("splitHotCells splits only the hot cell, preserves content, " +
      "and full-probe search equals brute force") {
    val base = Files.createTempDirectory("graft_ivfreb").toString
    val idx = new IvfIndex(spark, base)
    idx.build(emb, "vec_id", "embedding", k = 2, iters = 4)
    val before = idx.cells().select("vec_id").as[Long].collect().toSet
    val hotCell = idx.cells().groupBy(col("cell")).count()
      .orderBy(col("count").desc).head().getInt(0)

    val split = idx.splitHotCells("vec_id", "embedding", maxFraction = 0.5)
    assert(split == Seq(hotCell))
    // id set unchanged; routing table dropped the split cell and the
    // split cell's rows are reachable under the new sub-cells
    assert(idx.cells().select("vec_id").as[Long].collect().toSet == before)
    val liveCells = idx.centroids().select("cell").as[Int].collect().toSet
    assert(!liveCells(hotCell) && liveCells.size == 3)
    val routed = idx.cells()
      .filter(col("cell").isin(liveCells.toSeq: _*))
      .select("vec_id").as[Long].collect().toSet
    assert(routed == before)
    // no live cell above the threshold any more
    val counts = idx.cells().filter(col("cell").isin(liveCells.toSeq: _*))
      .groupBy(col("cell")).count().as[(Int, Long)].collect().toMap
    assert(counts.values.forall(_ <= 0.5 * before.size))
    // correctness oracle: full probe == brute force
    val q = Seq(10.0, 2.0, 0.0, 0.0)
    assert(fullProbeIds(idx, 10, q) == bruteIds(10, q))
    // the split separated the two sub-clusters: a probe at nprobe=1
    // near sub-cluster A2 finds A2 members, not a mixed bag
    val near = idx.search("vec_id", "embedding", Seq(10.0, 4.0, 0.0, 0.0),
        k = 5, nprobe = 1)
      .select("vec_id").as[Long].collect()
    assert(near.forall(id => id > 30 && id <= 60), near.toSeq.toString)
  }

  test("splitHotCells is a no-op below the threshold") {
    val base = Files.createTempDirectory("graft_ivfreb0").toString
    val idx = new IvfIndex(spark, base)
    idx.build(emb, "vec_id", "embedding", k = 2, iters = 4)
    val e0 = idx.epoch().get
    assert(idx.splitHotCells("vec_id", "embedding", maxFraction = 0.9).isEmpty)
    assert(idx.epoch().get == e0)
  }

  test("kill after sub-cell append: probes still route the old table; " +
      "retry no-ops the append and converges") {
    val base = Files.createTempDirectory("graft_ivfrebk1").toString
    val idx = new IvfIndex(spark, base)
    idx.build(emb, "vec_id", "embedding", k = 2, iters = 4)
    val e0 = idx.epoch().get
    val q = Seq(10.0, 2.0, 0.0, 0.0)
    val beforeIds = fullProbeIds(idx, 10, q)

    graft.FailPoint.arm("ivf_split_after_append")
    try intercept[graft.FailPoint.Kill] {
      idx.splitHotCells("vec_id", "embedding", maxFraction = 0.5)
    } finally graft.FailPoint.disarm()
    // routing unchanged: old epoch, old centroids, probes unaffected
    // (committed sub-cell rows exist but no centroid routes to them)
    assert(idx.epoch().get == e0)
    assert(idx.centroids().count() == 2)
    assert(fullProbeIds(idx, 10, q) == beforeIds)

    // retry: writes to FRESH sub-cell ids (id base rides in the token,
    // so the first attempt's committed rows can never be double-served
    // — its dirs are unreferenced and swept at publish)
    val split = idx.splitHotCells("vec_id", "embedding", maxFraction = 0.5)
    assert(split.nonEmpty)
    assert(idx.epoch().get.cv == e0.cv + 1)
    assert(fullProbeIds(idx, 10, q) == bruteIds(10, q))
    // every row is served exactly once through the live routing table
    val live = idx.centroids().select("cell").as[Int].collect().toSeq
    val routed = idx.cells().filter(col("cell").isin(live: _*))
      .select("vec_id").as[Long].collect().toSeq
    assert(routed.length == 80 && routed.toSet.size == 80)
    // the killed attempt allocated ids 2,3 (committed but never
    // routed); the retry allocated past them (4,5) and the sweep
    // reclaimed the superseded dirs
    assert(live.toSet.filter(_ >= 2) == Set(4, 5), live.toString)
    val cellDirs = new java.io.File(s"$base/ivf_cells").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName
        .stripPrefix("cell=").toInt).toSet
    assert(!cellDirs(2) && !cellDirs(3), cellDirs.toString)
  }

  test("kill after centroid-version write (before epoch flip): old " +
      "routing stays active; retry republishes and flips") {
    val base = Files.createTempDirectory("graft_ivfrebk2").toString
    val idx = new IvfIndex(spark, base)
    idx.build(emb, "vec_id", "embedding", k = 2, iters = 4)
    val e0 = idx.epoch().get
    val q = Seq(10.0, 2.0, 0.0, 0.0)

    graft.FailPoint.arm("ivf_split_after_centroids")
    try intercept[graft.FailPoint.Kill] {
      idx.splitHotCells("vec_id", "embedding", maxFraction = 0.5)
    } finally graft.FailPoint.disarm()
    assert(idx.epoch().get == e0)
    assert(idx.centroids().count() == 2) // cv still 0 -> old table
    val split = idx.splitHotCells("vec_id", "embedding", maxFraction = 0.5)
    assert(split.nonEmpty && idx.epoch().get.cv == e0.cv + 1)
    assert(fullProbeIds(idx, 10, q) == bruteIds(10, q))
  }

  test("recenter repairs drifted routing without moving rows; SQ " +
      "sibling stays valid; IVFPQ sibling refuses") {
    val base = Files.createTempDirectory("graft_ivfrec").toString
    val idx = new IvfIndex(spark, base)
    // build on half the corpus, then append the drifting other half:
    // frozen-quantizer appends file rows under training-time centroids
    val old = emb.filter($"vec_id" <= 40)
    val delta = emb.filter($"vec_id" > 40)
    idx.build(old, "vec_id", "embedding", k = 2, iters = 4)
    idx.append(delta, "vec_id", "embedding")
    val pq = new IvfPq(spark, idx, s"$base/pq")
    pq.build("vec_id", "embedding", m = 2, k = 4, iters = 3)
    val layoutBefore = idx.cells().select("vec_id", "cell")
      .as[(Long, Int)].collect().toSet

    val moved = idx.recenter("embedding", minCosine = 0.999999)
    assert(moved.nonEmpty)
    // rows did not move; only the routing table did
    assert(idx.cells().select("vec_id", "cell")
      .as[(Long, Int)].collect().toSet == layoutBefore)
    // recentred routing reports zero drift
    assert(idx.drift("embedding", minCosine = 0.999999)
      .filter(col("retrain")).count() == 0)
    // raw-vector SQ sibling survives a recenter (rows untouched)
    idx.ensureSq("vec_id", "embedding")
    val q = Seq(10.0, 2.0, 0.0, 0.0)
    val nCells = idx.centroids().count().toInt
    val sq = idx.searchQuantized("vec_id", "embedding", q, k = 5,
        rerank = 80, nprobe = nCells)
      .select("vec_id").as[Long].collect().toSeq
    assert(sq == bruteIds(5, q))
    // residual-coded IVFPQ must refuse: its codes were taken against
    // the pre-recenter centroids
    val ex = intercept[IllegalStateException] {
      pq.search("vec_id", "embedding", q, k = 5, rerank = 20)
    }
    assert(ex.getMessage.contains("stale"))

    // incremental repair: re-encode ONLY the recentred cells' residuals
    // (frozen codebooks); unchanged cells' code files stay byte-
    // identical, and the refreshed probe is exact again at full rerank
    def codeFiles(): Map[String, Set[String]] = {
      val root = new java.io.File(s"$base/pq/pq_codes")
      root.listFiles().filter(_.getName.startsWith("cell="))
        .map(d => d.getName ->
          d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet)
        .toMap
    }
    val filesBefore = codeFiles()
    val refreshed = pq.refreshRecentered("vec_id", "embedding")
    assert(refreshed.sorted == moved.sorted)
    val filesAfter = codeFiles()
    filesBefore.keys.foreach { cell =>
      val id = cell.stripPrefix("cell=").toInt
      if (refreshed.contains(id))
        assert(filesBefore(cell) != filesAfter(cell), s"$cell not rewritten")
      else
        assert(filesBefore(cell) == filesAfter(cell), s"$cell was rewritten")
    }
    val pqGot = pq.search("vec_id", "embedding", q, k = 5,
        rerank = emb.count().toInt, nprobe = nCells)
      .select("vec_id").as[Long].collect().toSeq
    assert(pqGot == bruteIds(5, q))
    // a second refresh is a no-op (already fresh)
    assert(pq.refreshRecentered("vec_id", "embedding").isEmpty)
  }

  test("kill after the recenter's centroid-version write (before the " +
      "epoch flip): old routing stays active; the retry matches an " +
      "uncrashed recenter") {
    def drifted(name: String): IvfIndex = {
      val idx = new IvfIndex(spark, Files.createTempDirectory(name).toString)
      idx.build(emb.filter($"vec_id" <= 40), "vec_id", "embedding", k = 2,
        iters = 4)
      idx.append(emb.filter($"vec_id" > 40), "vec_id", "embedding")
      idx
    }
    def routing(idx: IvfIndex): Seq[(Int, Seq[Double])] =
      idx.centroids().select("cell", "centroid")
        .as[(Int, Seq[Double])].collect().sortBy(_._1).toSeq
    val clean = drifted("graft_ivfrecc")
    val cleanMoved = clean.recenter("embedding", minCosine = 0.999999)
    assert(cleanMoved.nonEmpty)
    val idx = drifted("graft_ivfreck")
    val e0 = idx.epoch().get
    val before = routing(idx)
    graft.FailPoint.arm("ivf_recenter_after_centroids")
    try intercept[graft.FailPoint.Kill] {
      idx.recenter("embedding", minCosine = 0.999999)
    } finally graft.FailPoint.disarm()
    assert(idx.epoch().get == e0)
    assert(routing(idx) == before)
    assert(idx.recenter("embedding", minCosine = 0.999999) == cleanMoved)
    assert(idx.epoch().get.cv == clean.epoch().get.cv)
    assert(routing(idx) == routing(clean))
    val q = Seq(10.0, 2.0, 0.0, 0.0)
    assert(fullProbeIds(idx, 10, q) == fullProbeIds(clean, 10, q))
  }

  test("split retry after an INTERVENING append still converges with " +
      "no double-served rows") {
    val base = Files.createTempDirectory("graft_ivfrebiv").toString
    val idx = new IvfIndex(spark, base)
    val extra = (81 to 90).map { i =>
      (i.toLong, Array(10f + i * 0.01f, 0.1f, 0f, 0f)) }
      .toDF("vec_id", "embedding")
    idx.build(emb, "vec_id", "embedding", k = 2, iters = 4)
    graft.FailPoint.arm("ivf_split_after_append")
    try intercept[graft.FailPoint.Kill] {
      idx.splitHotCells("vec_id", "embedding", maxFraction = 0.5)
    } finally graft.FailPoint.disarm()
    // an ordinary append lands between the kill and the retry — the
    // retry's token AND id range differ from the killed attempt's, so
    // the first attempt's committed rows stay unrouted garbage
    idx.append(extra, "vec_id", "embedding")
    val split = idx.splitHotCells("vec_id", "embedding", maxFraction = 0.5)
    assert(split.nonEmpty)
    val all = emb.unionByName(extra)
    val q = Seq(10.0, 2.0, 0.0, 0.0)
    val got = fullProbeIds(idx, 10, q)
    val want = Similarity.bruteForceTopK(all, "vec_id", "embedding", q, 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(got == want, s"$got vs $want")
    val live = idx.centroids().select("cell").as[Int].collect().toSeq
    val routed = idx.cells().filter(col("cell").isin(live: _*))
      .select("vec_id").as[Long].collect().toSeq
    assert(routed.length == 90 && routed.toSet.size == 90,
      s"served ${routed.length} rows, ${routed.toSet.size} distinct")
  }

  test("IvfPq.append refuses after a recenter moved the centroids " +
      "(cv mismatch is not launderable by the mods-gap check)") {
    val base = Files.createTempDirectory("graft_ivfpqcv").toString
    val idx = new IvfIndex(spark, base)
    val old = emb.filter($"vec_id" <= 60)
    val delta = emb.filter($"vec_id" > 60)
    idx.build(old, "vec_id", "embedding", k = 2, iters = 4)
    idx.append(delta, "vec_id", "embedding")
    val pq = new IvfPq(spark, idx, s"$base/pq")
    pq.build("vec_id", "embedding", m = 2, k = 4, iters = 3)
    assert(idx.recenter("embedding", minCosine = 0.999999).nonEmpty)
    val extra = Seq((91L, Array(5f, 5f, 0f, 0f))).toDF("vec_id", "embedding")
    idx.append(extra, "vec_id", "embedding") // mods gap back to exactly 1
    val ex = intercept[IllegalStateException] {
      pq.append(extra, "vec_id", "embedding")
    }
    assert(ex.getMessage.contains("centroids moved"), ex.getMessage)
  }

  test("patchSqAfterSplit repairs the quantized sibling cell-scoped: " +
      "surviving cell untouched, retired dir reclaimed, probe exact") {
    val base = Files.createTempDirectory("graft_ivfsqp").toString
    val idx = new IvfIndex(spark, base)
    idx.build(emb, "vec_id", "embedding", k = 2, iters = 4)
    idx.ensureSq("vec_id", "embedding")
    val q = Seq(10.0, 2.0, 0.0, 0.0)
    def sqProbe(): Seq[Long] = {
      val n = idx.centroids().count().toInt
      idx.searchQuantized("vec_id", "embedding", q, k = 5, rerank = 80,
          nprobe = n)
        .select("vec_id").as[Long].collect().toSeq
    }
    assert(sqProbe() == bruteIds(5, q))
    val hotCell = idx.cells().groupBy(col("cell")).count()
      .orderBy(col("count").desc).head().getInt(0)
    val coldCell = 1 - hotCell
    def sqFiles(cell: Int): Set[String] = {
      val d = new java.io.File(s"$base/ivf_cells_sq/cell=$cell")
      if (!d.exists()) Set.empty
      else d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
    }
    val coldBefore = sqFiles(coldCell)
    assert(coldBefore.nonEmpty)

    val split = idx.splitHotCells("vec_id", "embedding", maxFraction = 0.5)
    assert(split == Seq(hotCell))
    // split UNGUARDS (not wipes): probes refuse until repaired
    val ex = intercept[IllegalStateException] { sqProbe() }
    assert(ex.getMessage.contains("ensureSq"))

    val patched = idx.patchSqAfterSplit("vec_id", "embedding")
    assert(patched == Seq(2, 3), patched.toString)
    // the surviving cell's quantized files are byte-untouched; the
    // retired hot cell's quantized dir is gone
    assert(sqFiles(coldCell) == coldBefore)
    assert(sqFiles(hotCell).isEmpty)
    assert(sqProbe() == bruteIds(5, q))
    // idempotent once stamped
    assert(idx.patchSqAfterSplit("vec_id", "embedding").isEmpty)

    // crash between a later split's unguard and its epoch flip: the
    // sibling is byte-complete for the UNCHANGED routing table, and
    // the already-stamped early return must restore the guard instead
    // of reporting success while probes keep refusing
    graft.FailPoint.arm("ivf_split_after_centroids")
    try intercept[graft.FailPoint.Kill] {
      idx.splitHotCells("vec_id", "embedding", maxFraction = 0.3)
    } finally graft.FailPoint.disarm()
    intercept[IllegalStateException] { sqProbe() } // unguarded
    assert(idx.patchSqAfterSplit("vec_id", "embedding").isEmpty)
    assert(sqProbe() == bruteIds(5, q)) // guard back, sibling valid

    // an append wipes the sibling whole — the patch path must refuse
    // and the full rebuild must restore service
    idx.append(Seq((99L, Array(0f, 10f, 0f, 0f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    val ex2 = intercept[IllegalStateException] {
      idx.patchSqAfterSplit("vec_id", "embedding")
    }
    assert(ex2.getMessage.contains("ensureSq"))
    idx.ensureSq("vec_id", "embedding")
    assert(sqProbe().head == bruteIds(5, q).head)
  }

  test("recenter carries the SQ epoch record forward: a later split " +
      "still patches cell-scoped instead of forcing the full rebuild") {
    val base = Files.createTempDirectory("graft_ivfsqrc").toString
    val idx = new IvfIndex(spark, base)
    idx.build(emb.filter($"vec_id" <= 40), "vec_id", "embedding",
      k = 2, iters = 4)
    idx.append(emb.filter($"vec_id" > 40), "vec_id", "embedding")
    idx.ensureSq("vec_id", "embedding")
    assert(idx.recenter("embedding", minCosine = 0.999999).nonEmpty)
    val split = idx.splitHotCells("vec_id", "embedding", maxFraction = 0.45)
    assert(split.nonEmpty)
    // exactly-one-split check passes BECAUSE the recenter advanced the
    // record's cv alongside the parent's — without the carry-forward
    // this would throw "run ensureSq" and re-quantize the corpus
    assert(idx.patchSqAfterSplit("vec_id", "embedding").nonEmpty)
    val q = Seq(10.0, 2.0, 0.0, 0.0)
    val n = idx.centroids().count().toInt
    val got = idx.searchQuantized("vec_id", "embedding", q, k = 5,
        rerank = 80, nprobe = n)
      .select("vec_id").as[Long].collect().toSeq
    assert(got == bruteIds(5, q), s"$got")
  }

  test("sweep retains one centroid generation and reclaims retired " +
      "cell dirs after consecutive maintenance ops") {
    val base = Files.createTempDirectory("graft_ivfswp").toString
    val idx = new IvfIndex(spark, base)
    idx.build(emb, "vec_id", "embedding", k = 2, iters = 4)
    val hot1 = idx.splitHotCells("vec_id", "embedding", maxFraction = 0.5)
    assert(hot1.nonEmpty)
    val fsDir = new java.io.File(s"$base/ivf_cells")
    // one-generation retention: the just-retired hot cell dir survives
    // the split that retired it (a reader on the previous cv)
    assert(fsDir.listFiles().exists(_.getName == s"cell=${hot1.head}"))
    // force a second maintenance op via a tiny threshold — its sweep
    // reclaims the first split's retired dir (two generations old now)
    val hot2 = idx.splitHotCells("vec_id", "embedding", maxFraction = 0.3)
    assert(hot2.nonEmpty)
    assert(!fsDir.listFiles().exists(_.getName == s"cell=${hot1.head}"))
    // content still exact through it all
    val q = Seq(10.0, 2.0, 0.0, 0.0)
    assert(fullProbeIds(idx, 10, q) == bruteIds(10, q))
    // v0 (build-time) centroid dir is always retained; intermediate
    // versions older than cv-1 are gone
    val cv = idx.epoch().get.cv
    val baseDir = new java.io.File(base)
    assert(baseDir.listFiles().exists(_.getName == "ivf_centroids"))
    val vdirs = baseDir.listFiles().map(_.getName)
      .filter(_.startsWith("ivf_centroids_v"))
      .map(_.stripPrefix("ivf_centroids_v").toLong)
    assert(vdirs.forall(v => v >= cv - 1), vdirs.toSeq.toString)
  }
}
