package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextIndexSpec extends SparkSpec {
  import spark.implicits._

  test("tfidfTopTerms scores tf*ln(N/df), ranks deterministically") {
    val docs = Seq(
      (1L, "a a b"),   // tf(a)=2 df(a)=2; tf(b)=1 df(b)=1
      (2L, "a c c c")  // tf(c)=3 df(c)=1
    ).toDF("id", "txt")
    val out = TextIndex.tfidfTopTerms(docs, "id", "txt", k = 1)
      .as[(Long, String, Long, Double)].collect().sortBy(_._1)
    // doc 1: a scores 2*ln(1)=0, b scores 1*ln(2) -> b wins
    // doc 2: c scores 3*ln(2) > a's 0
    assert(out.map(r => (r._1, r._2, r._3)).toSeq ==
      Seq((1L, "b", 1L), (2L, "c", 3L)))
    assert(math.abs(out(0)._4 - math.log(2.0)) < 1e-12)
    assert(math.abs(out(1)._4 - 3 * math.log(2.0)) < 1e-12)
  }

  test("search: bucket-pruned probe equals the brute-force intersection") {
    val docs = Seq(
      (1L, "spark join scan"), (2L, "join batch"), (3L, "spark batch"),
      (4L, "spark join other"), (5L, "none here")).toDF("id", "txt")
    val base = java.nio.file.Files
      .createTempDirectory("textindex").toString
    val postings = TextIndex.buildPostings(docs, "id", "txt", base,
      buckets = 8)
    val hits = TextIndex.search(postings, Seq("spark", "join"),
        buckets = 8)
      .as[Long].collect().sorted.toSeq
    assert(hits == Seq(1L, 4L))
    // single-term search degenerates to the posting list
    assert(TextIndex.search(postings, Seq("batch"), buckets = 8)
      .as[Long].collect().sorted.toSeq == Seq(2L, 3L))
    // the artifact is reused, not rebuilt: drop a marker row into the
    // corpus and confirm the served postings don't see it
    val postings2 = TextIndex.buildPostings(
      docs.unionAll(Seq((6L, "spark join")).toDF("id", "txt")),
      "id", "txt", base, buckets = 8)
    assert(TextIndex.search(postings2, Seq("spark", "join"), buckets = 8)
      .as[Long].collect().sorted.toSeq == Seq(1L, 4L))
  }

  test("probes prune to the query terms' bucket partitions (measured)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val docs = (1L to 40L).map(i => (i, s"w$i spark common"))
      .toDF("id", "txt")
    val base = java.nio.file.Files
      .createTempDirectory("textindex_prune").toString
    val (postings, stats) =
      TextIndex.buildScoredPostings(docs, "id", "txt", base, buckets = 8)
    // 42 distinct terms spread over 8 _bkt partitions; a 1-term query
    // must READ only that term's bucket partition — the difference
    // between an index probe and a corpus scan
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive
          .QueryStageExec => scans(q.plan) // AQE stages hide subplans
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }
    def partitionsRead(df: org.apache.spark.sql.DataFrame): Seq[Int] = {
      df.collect() // execute so AQE finalizes its physical plan
      scans(df.queryExecution.executedPlan)
        .filter(_.relation.location.rootPaths
          .exists(_.toString.contains("postings")))
        .map(_.selectedPartitions.partitionCount)
    }
    val probed = partitionsRead(TextIndex.bm25TopK(postings, stats,
      Seq("spark"), k = 3, buckets = 8))
    assert(probed.nonEmpty && probed.forall(_ == 1),
      s"1-term probe should read exactly 1 of 8 bucket partitions: $probed")
    val probed2 = partitionsRead(TextIndex.search(postings
      .drop("tf", "dl"), Seq("spark", "common"), buckets = 8)
      .limit(1000))
    assert(probed2.nonEmpty && probed2.forall(_ <= 2),
      s"2-term search should read <=2 of 8 bucket partitions: $probed2")
  }

  test("appendScoredPostings: incremental == from-scratch; " +
      "re-delivered delta no-ops") {
    val all = Seq(
      (1L, "spark spark spark join"), (2L, "spark scan"),
      (3L, "join join batch other"), (4L, "none of these terms"),
      (5L, "spark join batch extra words here")).toDF("id", "txt")
    val full = java.nio.file.Files
      .createTempDirectory("ti_incr_full").toString
    val incr = java.nio.file.Files
      .createTempDirectory("ti_incr_delta").toString
    val (fp, fs) = TextIndex.buildScoredPostings(all, "id", "txt",
      full, buckets = 8)
    TextIndex.buildScoredPostings(all.filter($"id" <= 2), "id", "txt",
      incr, buckets = 8)
    val delta = all.filter($"id" > 2)
    TextIndex.appendScoredPostings(delta, "id", "txt", incr, buckets = 8)
    // re-delivery of the SAME delta must change nothing (one token)
    val (ip, is) = TextIndex.appendScoredPostings(delta, "id", "txt",
      incr, buckets = 8)
    assert(is.count() == 2) // build row + exactly ONE delta row
    assert(ip.count() == fp.count())
    val q = Seq("spark", "join")
    val a = TextIndex.bm25TopK(fp, fs, q, k = 10, buckets = 8)
      .as[(Long, Double)].collect().toSeq
    val b = TextIndex.bm25TopK(ip, is, q, k = 10, buckets = 8)
      .as[(Long, Double)].collect().toSeq
    assert(a == b)
    // appending into a never-built root refuses loudly
    val empty = java.nio.file.Files
      .createTempDirectory("ti_incr_none").toString
    intercept[IllegalArgumentException] {
      TextIndex.appendScoredPostings(delta, "id", "txt", empty,
        buckets = 8)
    }
  }

  test("deleteScoredPostings: delete == from-scratch; overlapping " +
      "batches never double-subtract; redelivery and unknown ids " +
      "no-op; the stats-first kill window repairs") {
    val docs = Seq(
      (1L, "spark join scan"), (2L, "join batch join"),
      (3L, "spark batch"), (4L, "spark join other"),
      (5L, "batch batch spark"), (6L, "join alone")).toDF("id", "txt")
    def topk(p: org.apache.spark.sql.DataFrame,
             st: org.apache.spark.sql.DataFrame) =
      TextIndex.bm25TopK(p, st, Seq("spark", "join"), k = 6, buckets = 4)
        .as[(Long, Double)].collect().toSeq
    def fromScratch(remaining: org.apache.spark.sql.DataFrame) = {
      val b = java.nio.file.Files
        .createTempDirectory("textindex_fs").toString
      val (p, st) = TextIndex.buildScoredPostings(remaining, "id", "txt",
        b, buckets = 4)
      topk(p, st)
    }
    val base = java.nio.file.Files
      .createTempDirectory("textindex_del").toString
    TextIndex.buildScoredPostings(docs, "id", "txt", base, buckets = 4)
    // delete docs 1 and 2; then an overlapping batch {2,3}: doc 2 is
    // already tombstoned and must not subtract twice
    TextIndex.deleteScoredPostings(Seq(1L, 2L).toDF("id"), "id", base,
      buckets = 4)
    val (p1, st1) = TextIndex.deleteScoredPostings(
      Seq(2L, 3L).toDF("id"), "id", base, buckets = 4)
    assert(topk(p1, st1) ==
      fromScratch(docs.filter($"id" > 3)))
    // signed stats rows net to the surviving corpus exactly
    assert(st1.agg(sum($"n_docs"), sum($"total_dl"))
      .as[(Long, Long)].head() == ((3L, 8L)))
    // redelivery of the full set and unknown ids both no-op
    val (p2, st2) = TextIndex.deleteScoredPostings(
      Seq(1L, 2L, 3L, 99L).toDF("id"), "id", base, buckets = 4)
    assert(topk(p2, st2) == topk(p1, st1))
    assert(st2.agg(sum($"n_docs")).as[Long].head() == 3L)

    // kill between the tombstone and stats commits: the docs are
    // already invisible to probes while the totals still count them
    // (briefly conservative scores); the retry repairs the stats
    graft.FailPoint.arm("bm25_delete_after_tombstones")
    try intercept[graft.FailPoint.Kill] {
      TextIndex.deleteScoredPostings(Seq(4L).toDF("id"), "id", base,
        buckets = 4)
    } finally graft.FailPoint.disarm()
    val (p3, st3) = TextIndex.deleteScoredPostings(
      Seq(4L).toDF("id"), "id", base, buckets = 4)
    assert(topk(p3, st3) == fromScratch(docs.filter($"id" > 4)))
    assert(st3.agg(sum($"n_docs")).as[Long].head() == 2L)
  }

  test("deleteScoredPostings: a crashed delete interleaved with an " +
      "overlapping batch never double-subtracts, and its retry " +
      "repairs exactly its own remainder (ADVICE r14)") {
    val docs = Seq(
      (1L, "spark join scan"), (2L, "join batch join"),
      (3L, "spark batch"), (4L, "spark join other"),
      (5L, "batch batch spark"), (6L, "join alone")).toDF("id", "txt")
    val base = java.nio.file.Files
      .createTempDirectory("textindex_del_ix").toString
    TextIndex.buildScoredPostings(docs, "id", "txt", base, buckets = 4)
    // batch A = {1, 2} dies between its tombstone and stats commits
    graft.FailPoint.arm("bm25_delete_after_tombstones")
    try intercept[graft.FailPoint.Kill] {
      TextIndex.deleteScoredPostings(Seq(1L, 2L).toDF("id"), "id", base,
        buckets = 4)
    } finally graft.FailPoint.disarm()
    // overlapping batch B = {2, 3} runs BEFORE A's retry: it must see
    // A's committed tombstones and subtract only doc 3
    TextIndex.deleteScoredPostings(Seq(2L, 3L).toDF("id"), "id", base,
      buckets = 4)
    // A's retry: same raw id set -> same token -> it re-derives the
    // stats row from ITS OWN committed tombstone delta ({1, 2}), even
    // though every one of its ids is now tombstoned
    val (p, st) = TextIndex.deleteScoredPostings(
      Seq(1L, 2L).toDF("id"), "id", base, buckets = 4)
    // survivors = {4, 5, 6}: n_docs nets to 3 and each doc was
    // subtracted exactly once (docs 1..3 carry 3+3+2 = 8 tokens of
    // 16 total, leaving 8)
    assert(st.agg(sum($"n_docs"), sum($"total_dl"))
      .as[(Long, Long)].head() == ((3L, 8L)))
    val got = TextIndex.bm25TopK(p, st, Seq("spark", "join"), k = 6,
      buckets = 4).as[(Long, Double)].collect().toSeq
    val fsBase = java.nio.file.Files
      .createTempDirectory("textindex_del_ix_fs").toString
    val (fp2, fs2) = TextIndex.buildScoredPostings(
      docs.filter($"id" > 3), "id", "txt", fsBase, buckets = 4)
    assert(got == TextIndex.bm25TopK(fp2, fs2, Seq("spark", "join"),
      k = 6, buckets = 4).as[(Long, Double)].collect().toSeq)
  }

  test("token-scheme migration (VERDICT r16 #8): a planted pre-r15 " +
      "crash window — del_-token stats with no tombstone twin — is " +
      "swept, and the retried delete converges instead of " +
      "double-subtracting") {
    val docs = Seq(
      (1L, "spark join scan"), (2L, "join batch join"),
      (3L, "spark batch"), (4L, "spark join other"),
      (5L, "batch batch spark"), (6L, "join alone")).toDF("id", "txt")
    val base = java.nio.file.Files
      .createTempDirectory("textindex_mig").toString
    TextIndex.buildScoredPostings(docs, "id", "txt", base, buckets = 4)
    val root = s"$base/scored_postings_b4"
    // the old scheme committed the stats delta FIRST (effective-set
    // token) and died before its tombstones: docs 1 and 2 still
    // visible, their -2/-6 already subtracted
    StagedCommit.appendOnce(s"$root/stats", "del_oldscheme_crashed",
      Seq.empty, Seq((-2L, -6L)).toDF("n_docs", "total_dl"))
    // the standalone sweep identifies exactly that orphan; idempotent
    assert(TextIndex.sweepOrphanedDeleteStats(spark, base, buckets = 4)
      == Seq("del_oldscheme_crashed"))
    assert(TextIndex.sweepOrphanedDeleteStats(spark, base, buckets = 4)
      .isEmpty)
    // re-plant and let the RETRIED delete (new scheme, same docs)
    // converge through the automatic sweep: without it the stats
    // would net to 6 - 2 - 2 = 2 — the permanent skew
    StagedCommit.appendOnce(s"$root/stats", "del_oldscheme_crashed",
      Seq.empty, Seq((-2L, -6L)).toDF("n_docs", "total_dl"))
    val (p, st) = TextIndex.deleteScoredPostings(
      Seq(1L, 2L).toDF("id"), "id", base, buckets = 4)
    assert(st.agg(sum($"n_docs"), sum($"total_dl"))
      .as[(Long, Long)].head() == ((4L, 10L)))
    // and the served ranking equals a from-scratch rebuild over the
    // survivors — the stats AND the mask both converged
    val fsBase = java.nio.file.Files
      .createTempDirectory("textindex_mig_fs").toString
    val (fp2, fs2) = TextIndex.buildScoredPostings(
      docs.filter($"id" > 2), "id", "txt", fsBase, buckets = 4)
    def topk(pp: org.apache.spark.sql.DataFrame,
             ss: org.apache.spark.sql.DataFrame) =
      TextIndex.bm25TopK(pp, ss, Seq("spark", "join"), k = 6,
        buckets = 4).as[(Long, Double)].collect().toSeq
    assert(topk(p, st) == topk(fp2, fs2))
    // a COMPLETED delete's stats row (tombstone twin present) is never
    // mistaken for an orphan
    assert(TextIndex.sweepOrphanedDeleteStats(spark, base, buckets = 4)
      .isEmpty)
  }

  test("purgeDeletedPostings: rows physically gone, served view and " +
      "stats unchanged, purged tokens ledgered (the sweep never " +
      "mistakes them for orphans); refuses over an in-flight delete") {
    val docs = Seq(
      (1L, "spark join scan"), (2L, "join batch join"),
      (3L, "spark batch"), (4L, "spark join other"),
      (5L, "batch batch spark"), (6L, "join alone")).toDF("id", "txt")
    val base = java.nio.file.Files
      .createTempDirectory("textindex_purge").toString
    TextIndex.buildScoredPostings(docs, "id", "txt", base, buckets = 4)
    TextIndex.deleteScoredPostings(Seq(1L, 2L).toDF("id"), "id", base,
      buckets = 4)
    val (pBefore, stBefore) = TextIndex.scoredPostingsReaders(spark,
      base, buckets = 4)
    val before = TextIndex.bm25TopK(pBefore, stBefore,
      Seq("spark", "join"), k = 6, buckets = 4)
      .as[(Long, Double)].collect().toSeq
    assert(TextIndex.purgeDeletedPostings(spark, base, buckets = 4) > 0)
    // physically gone: the RAW committed postings hold no trace
    val root = s"$base/scored_postings_b4"
    assert(StagedCommit.readCommitted(spark, s"$root/postings")
      .filter($"doc_id".isin(1L, 2L)).count() == 0)
    assert(!new java.io.File(s"$root/tombstones").exists)
    // served view and stats identical to the masked form
    val (p, st) = TextIndex.scoredPostingsReaders(spark, base, buckets = 4)
    assert(TextIndex.bm25TopK(p, st, Seq("spark", "join"), k = 6,
      buckets = 4).as[(Long, Double)].collect().toSeq == before)
    assert(st.agg(sum($"n_docs"), sum($"total_dl"))
      .as[(Long, Long)].head() == ((4L, 10L)))
    // the purge ledger shields the completed delete's stats row from
    // the migration sweep
    assert(TextIndex.sweepOrphanedDeleteStats(spark, base, buckets = 4)
      .isEmpty)
    // an IN-FLIGHT delete (tombstones landed, stats half not) blocks
    // the purge: destroying the postings would lose the dl the retry
    // derives its subtraction from
    graft.FailPoint.arm("bm25_delete_after_tombstones")
    try intercept[graft.FailPoint.Kill] {
      TextIndex.deleteScoredPostings(Seq(3L).toDF("id"), "id", base,
        buckets = 4)
    } finally graft.FailPoint.disarm()
    assert(TextIndex.purgeDeletedPostings(spark, base, buckets = 4) == -1L)
    // completing the delete unblocks it
    TextIndex.deleteScoredPostings(Seq(3L).toDF("id"), "id", base,
      buckets = 4)
    assert(TextIndex.purgeDeletedPostings(spark, base, buckets = 4) >= 0)
    val (_, stAfter) = TextIndex.scoredPostingsReaders(spark, base,
      buckets = 4)
    assert(stAfter.agg(sum($"n_docs")).as[Long].head() == 3L)
  }

  test("purgeDeletedPostings: a kill after the postings swap " +
      "(tombstones not yet cleared) converges on retry to the " +
      "uncrashed purge") {
    val docs = Seq(
      (1L, "spark join scan"), (2L, "join batch join"),
      (3L, "spark batch"), (4L, "spark join other")).toDF("id", "txt")
    def deleted(name: String): String = {
      val base = java.nio.file.Files.createTempDirectory(name).toString
      TextIndex.buildScoredPostings(docs, "id", "txt", base, buckets = 4)
      TextIndex.deleteScoredPostings(Seq(1L, 2L).toDF("id"), "id", base,
        buckets = 4)
      base
    }
    def state(base: String) = {
      val (p, st) = TextIndex.scoredPostingsReaders(spark, base, buckets = 4)
      val root = s"$base/scored_postings_b4"
      (TextIndex.bm25TopK(p, st, Seq("spark", "join"), k = 6, buckets = 4)
        .as[(Long, Double)].collect().toSeq,
        st.agg(sum($"n_docs"), sum($"total_dl")).as[(Long, Long)].head(),
        StagedCommit.readCommitted(spark, s"$root/postings")
          .select("doc_id").as[Long].collect().sorted.toSeq,
        new java.io.File(s"$root/tombstones").exists,
        TextIndex.sweepOrphanedDeleteStats(spark, base, buckets = 4))
    }
    val clean = deleted("textindex_purgec")
    assert(TextIndex.purgeDeletedPostings(spark, clean, buckets = 4) > 0)
    val crashed = deleted("textindex_purgek")
    graft.FailPoint.arm("bm25_purge_after_overwrite")
    try intercept[graft.FailPoint.Kill] {
      TextIndex.purgeDeletedPostings(spark, crashed, buckets = 4)
    } finally graft.FailPoint.disarm()
    // the tombstones still mask the deleted docs until the retry
    assert(new java.io.File(s"$crashed/scored_postings_b4/tombstones").exists)
    assert(TextIndex.purgeDeletedPostings(spark, crashed, buckets = 4) >= 0)
    assert(state(crashed) == state(clean))
  }

  test("updateScoredPostings: in-place re-index == from-scratch; " +
      "repeated updates of the SAME doc each subtract (the salted " +
      "retire half); redelivery no-ops; post-purge crash converges") {
    val docs = Seq(
      (1L, "spark join scan"), (2L, "join batch join"),
      (3L, "spark batch"), (4L, "spark join other"),
      (5L, "batch batch spark"), (6L, "join alone")).toDF("id", "txt")
    val base = java.nio.file.Files
      .createTempDirectory("textindex_upd").toString
    TextIndex.buildScoredPostings(docs, "id", "txt", base, buckets = 4)
    def topk(pp: org.apache.spark.sql.DataFrame,
             ss: org.apache.spark.sql.DataFrame) =
      TextIndex.bm25TopK(pp, ss, Seq("spark", "join"), k = 6,
        buckets = 4).as[(Long, Double)].collect().toSeq
    def fromScratch(fin: org.apache.spark.sql.DataFrame) = {
      val b = java.nio.file.Files
        .createTempDirectory("textindex_upd_fs").toString
      val (pp, ss) = TextIndex.buildScoredPostings(fin, "id", "txt", b,
        buckets = 4)
      topk(pp, ss)
    }
    // update doc 2 twice — the second must subtract the FIRST update's
    // dl, not no-op against a raw-id-set token collision
    TextIndex.updateScoredPostings(
      Seq((2L, "spark spark join")).toDF("id", "txt"), "id", "txt",
      base, buckets = 4, salt = "i1")
    val (p1, st1) = TextIndex.updateScoredPostings(
      Seq((2L, "join other join spark")).toDF("id", "txt"), "id", "txt",
      base, buckets = 4, salt = "i2")
    val fin2 = docs.filter($"id" =!= 2L)
      .unionByName(Seq((2L, "join other join spark")).toDF("id", "txt"))
    assert(topk(p1, st1) == fromScratch(fin2))
    // totals: docs 1,3..6 carry 3+2+3+3+2 = 13 tokens + doc 2's 4
    assert(st1.agg(sum($"n_docs"), sum($"total_dl"))
      .as[(Long, Long)].head() == ((6L, 17L)))
    // redelivery of i2 no-ops
    val (p2, st2) = TextIndex.updateScoredPostings(
      Seq((2L, "join other join spark")).toDF("id", "txt"), "id", "txt",
      base, buckets = 4, salt = "i2")
    assert(topk(p2, st2) == topk(p1, st1))
    assert(st2.agg(sum($"n_docs")).as[Long].head() == 6L)
    // crash AFTER the purge, before the append: the retry's
    // re-tombstone derives an empty present-set whose stats no-op
    // against the original subtraction — no skew, and the doc's new
    // text lands
    graft.FailPoint.arm("bm25_purge_before_clear")
    try intercept[graft.FailPoint.Kill] {
      TextIndex.updateScoredPostings(
        Seq((4L, "batch batch")).toDF("id", "txt"), "id", "txt",
        base, buckets = 4, salt = "i3")
    } finally graft.FailPoint.disarm()
    val (p3, st3) = TextIndex.updateScoredPostings(
      Seq((4L, "batch batch")).toDF("id", "txt"), "id", "txt",
      base, buckets = 4, salt = "i3")
    val fin3 = fin2.filter($"id" =!= 4L)
      .unionByName(Seq((4L, "batch batch")).toDF("id", "txt"))
    assert(topk(p3, st3) == fromScratch(fin3))
    assert(st3.agg(sum($"n_docs"), sum($"total_dl"))
      .as[(Long, Long)].head() == ((6L, 16L)))
  }

  test("salted deletes (ADVICE r17 high): delete / purge / re-insert " +
      "/ delete of the SAME id set subtracts stats BOTH times; a " +
      "retry of one wave still no-ops") {
    val docs = Seq(
      (1L, "spark join scan"), (2L, "join batch join"),
      (3L, "spark batch"), (4L, "spark join other"),
      (5L, "batch batch spark"), (6L, "join alone")).toDF("id", "txt")
    val base = java.nio.file.Files
      .createTempDirectory("textindex_delsalt").toString
    TextIndex.buildScoredPostings(docs, "id", "txt", base, buckets = 4)
    // wave 1: delete {1,2}, physically purge (clears the tombstone
    // dir and its markers; the stats markers stay forever)
    TextIndex.deleteScoredPostings(Seq(1L, 2L).toDF("id"), "id", base,
      buckets = 4, salt = "w1")
    assert(TextIndex.purgeDeletedPostings(spark, base, buckets = 4) > 0)
    // re-insert the same ids with the same text (feed-position salt)
    TextIndex.appendScoredPostings(
      docs.filter($"id" <= 2L), "id", "txt", base, buckets = 4,
      salt = "w2")
    // wave 3: delete the SAME id set again — under the unsalted
    // raw-id-set token this stats half would no-op against wave 1's
    // still-present marker, permanently over-counting n_docs/total_dl
    val (p, st) = TextIndex.deleteScoredPostings(
      Seq(1L, 2L).toDF("id"), "id", base, buckets = 4, salt = "w3")
    assert(st.agg(sum($"n_docs"), sum($"total_dl"))
      .as[(Long, Long)].head() == ((4L, 10L)))
    def topk(pp: org.apache.spark.sql.DataFrame,
             ss: org.apache.spark.sql.DataFrame) =
      TextIndex.bm25TopK(pp, ss, Seq("spark", "join"), k = 6,
        buckets = 4).as[(Long, Double)].collect().toSeq
    val fsBase = java.nio.file.Files
      .createTempDirectory("textindex_delsalt_fs").toString
    val (fp2, fs2) = TextIndex.buildScoredPostings(
      docs.filter($"id" > 2), "id", "txt", fsBase, buckets = 4)
    assert(topk(p, st) == topk(fp2, fs2))
    // a RETRY of wave 3 (same salt, same ids -> same token) no-ops
    val (_, st2) = TextIndex.deleteScoredPostings(
      Seq(1L, 2L).toDF("id"), "id", base, buckets = 4, salt = "w3")
    assert(st2.agg(sum($"n_docs")).as[Long].head() == 4L)
  }

  test("purge ledger is ONE file (ADVICE r17 low): no per-token " +
      "markers accumulate, legacy markers fold in, and the sweep " +
      "still protects every purged token") {
    val docs = Seq(
      (1L, "spark join scan"), (2L, "join batch join"),
      (3L, "spark batch"), (4L, "spark join other")).toDF("id", "txt")
    val base = java.nio.file.Files
      .createTempDirectory("textindex_ledger").toString
    TextIndex.buildScoredPostings(docs, "id", "txt", base, buckets = 4)
    val root = s"$base/scored_postings_b4"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // plant a LEGACY per-token marker (earlier rounds' scheme) with a
    // matching completed-then-purged delete's stats row: the sweep
    // must read the legacy form and not reclaim it
    StagedCommit.appendOnce(s"$root/stats", "del_legacy_tok",
      Seq.empty, Seq((-1L, -3L)).toDF("n_docs", "total_dl"))
    fs.create(new org.apache.hadoop.fs.Path(root, "_purged_del_legacy_tok"),
      true).close()
    assert(TextIndex.sweepOrphanedDeleteStats(spark, base, buckets = 4)
      .isEmpty)
    // two purge rounds; each clears its wave's tombstone tokens
    TextIndex.deleteScoredPostings(Seq(1L).toDF("id"), "id", base,
      buckets = 4, salt = "wa")
    assert(TextIndex.purgeDeletedPostings(spark, base, buckets = 4) > 0)
    TextIndex.deleteScoredPostings(Seq(2L).toDF("id"), "id", base,
      buckets = 4, salt = "wb")
    assert(TextIndex.purgeDeletedPostings(spark, base, buckets = 4) > 0)
    // the root carries exactly ONE ledger file and ZERO per-token
    // markers — the legacy one was folded in and removed
    val rootNames = fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName).filter(_.startsWith("_purged")).toSeq
    assert(rootNames == Seq("_purged_ledger"), rootNames.toString)
    // every purged token (both waves + the folded legacy one) is still
    // shielded from the migration sweep
    assert(TextIndex.sweepOrphanedDeleteStats(spark, base, buckets = 4)
      .isEmpty)
    // and the stats delta markers are intact (redelivery fence): both
    // delete waves' rows net with the build row
    val (_, st) = TextIndex.scoredPostingsReaders(spark, base,
      buckets = 4)
    assert(st.agg(sum($"n_docs")).as[Long].head() == 1L)
  }

  test("compactScoredPostings folds delta files into base files with " +
      "markers preserved: served view unchanged, redelivered batches " +
      "still no-op, folded delete tokens survive the orphan sweep, " +
      "and purge still works afterwards") {
    val docs = Seq(
      (1L, "spark join scan"), (2L, "join batch join"),
      (3L, "spark batch"), (4L, "spark join other")).toDF("id", "txt")
    val base = java.nio.file.Files
      .createTempDirectory("textindex_compact").toString
    TextIndex.buildScoredPostings(docs, "id", "txt", base, buckets = 2)
    // churn: two appends, one delete (its negative stats row will be
    // folded), one more append
    TextIndex.appendScoredPostings(
      Seq((5L, "spark words more")).toDF("id", "txt"), "id", "txt",
      base, buckets = 2, salt = "b1")
    TextIndex.appendScoredPostings(
      Seq((6L, "join words")).toDF("id", "txt"), "id", "txt",
      base, buckets = 2, salt = "b2")
    TextIndex.deleteScoredPostings(Seq(2L).toDF("id"), "id", base,
      buckets = 2, salt = "b3")
    TextIndex.appendScoredPostings(
      Seq((7L, "batch alone")).toDF("id", "txt"), "id", "txt",
      base, buckets = 2, salt = "b4")
    val root = s"$base/scored_postings_b2"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parquetCount(p: String): Int = {
      var n = 0
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(p), true)
      while (it.hasNext) {
        if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      }
      n
    }
    def markerCount(p: String): Int =
      fs.listStatus(new org.apache.hadoop.fs.Path(p))
        .count { st => val n = st.getPath.getName
          n.startsWith("_delta_") && n.endsWith("_SUCCESS") }
    def topk() = {
      val (p, st) = TextIndex.scoredPostingsReaders(spark, base,
        buckets = 2)
      TextIndex.bm25TopK(p, st, Seq("spark", "join"), k = 10,
        buckets = 2).as[(Long, Double)].collect().toSeq
    }
    val before = topk()
    val postFilesBefore = parquetCount(s"$root/postings")
    val statFilesBefore = parquetCount(s"$root/stats")
    val markersBefore = (markerCount(s"$root/postings"),
      markerCount(s"$root/stats"))
    assert(statFilesBefore >= 5) // build + 4 deltas
    assert(TextIndex.compactScoredPostings(spark, base, buckets = 2) > 0)
    // fewer files, SAME markers, identical served results
    assert(parquetCount(s"$root/postings") < postFilesBefore)
    assert(parquetCount(s"$root/stats") == 1)
    assert((markerCount(s"$root/postings"),
      markerCount(s"$root/stats")) == markersBefore)
    assert(topk() == before)
    // a second compact is a no-op (everything within the cap)
    assert(TextIndex.compactScoredPostings(spark, base, buckets = 2) == 0)
    // redelivered old batches no-op file-level: nothing reappears
    TextIndex.appendScoredPostings(
      Seq((5L, "spark words more")).toDF("id", "txt"), "id", "txt",
      base, buckets = 2, salt = "b1")
    TextIndex.deleteScoredPostings(Seq(2L).toDF("id"), "id", base,
      buckets = 2, salt = "b3")
    assert(parquetCount(s"$root/stats") == 1)
    assert(topk() == before)
    // the folded delete token is ledgered: the orphan sweep must not
    // reclaim (= delete the marker of) a folded completed delete
    assert(TextIndex.sweepOrphanedDeleteStats(spark, base, buckets = 2)
      .isEmpty)
    assert((markerCount(s"$root/postings"),
      markerCount(s"$root/stats")) == markersBefore)
    // maintenance still composes: a fresh delete + purge after the fold
    TextIndex.deleteScoredPostings(Seq(1L).toDF("id"), "id", base,
      buckets = 2, salt = "b5")
    assert(TextIndex.purgeDeletedPostings(spark, base, buckets = 2) > 0)
    val (p2, st2) = TextIndex.scoredPostingsReaders(spark, base,
      buckets = 2)
    assert(st2.agg(sum($"n_docs")).as[Long].head() == 5L)
    assert(p2.filter($"doc_id" === 1L).count() == 0)
  }

  test("compactScoredPostings: a kill after the postings fold or after " +
      "the purge ledger converges on retry to the uncrashed compaction") {
    val docs = Seq(
      (1L, "spark join scan"), (2L, "join batch join"),
      (3L, "spark batch"), (4L, "spark join other")).toDF("id", "txt")
    def churned(name: String): String = {
      val base = java.nio.file.Files.createTempDirectory(name).toString
      TextIndex.buildScoredPostings(docs, "id", "txt", base, buckets = 2)
      TextIndex.appendScoredPostings(
        Seq((5L, "spark words more")).toDF("id", "txt"), "id", "txt",
        base, buckets = 2, salt = "b1")
      TextIndex.deleteScoredPostings(Seq(2L).toDF("id"), "id", base,
        buckets = 2, salt = "b2")
      TextIndex.appendScoredPostings(
        Seq((6L, "join words")).toDF("id", "txt"), "id", "txt",
        base, buckets = 2, salt = "b3")
      base
    }
    def state(base: String) = {
      val root = s"$base/scored_postings_b2"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def files(p: String, pick: String => Boolean): Int = {
        var n = 0
        val it = fs.listFiles(new org.apache.hadoop.fs.Path(p), true)
        while (it.hasNext) if (pick(it.next().getPath.getName)) n += 1
        n
      }
      val (p, st) = TextIndex.scoredPostingsReaders(spark, base, buckets = 2)
      (TextIndex.bm25TopK(p, st, Seq("spark", "join"), k = 10, buckets = 2)
        .as[(Long, Double)].collect().toSeq,
        st.agg(sum($"n_docs"), sum($"total_dl")).as[(Long, Long)].head(),
        files(s"$root/stats", _.endsWith(".parquet")),
        Seq("postings", "stats").map(d => files(s"$root/$d", n =>
          n.startsWith("_delta_") && n.endsWith("_SUCCESS"))),
        TextIndex.sweepOrphanedDeleteStats(spark, base, buckets = 2))
    }
    val clean = churned("textindex_compc")
    assert(TextIndex.compactScoredPostings(spark, clean, buckets = 2) > 0)
    val want = state(clean)
    for (site <- Seq("bm25_compact_after_postings",
                     "bm25_compact_after_ledger")) {
      val crashed = churned(s"textindex_compk_$site")
      graft.FailPoint.arm(site)
      try intercept[graft.FailPoint.Kill] {
        TextIndex.compactScoredPostings(spark, crashed, buckets = 2)
      } finally graft.FailPoint.disarm()
      assert(TextIndex.compactScoredPostings(spark, crashed, buckets = 2) >= 0,
        site)
      assert(state(crashed) == want, site)
    }
  }

  test("compactScoredPostings: a kill inside the stats-fold swap " +
      "(between delete-old and rename-in — zero stats data files on " +
      "disk) rolls forward at the next committed read instead of " +
      "requiring a rebuild (r18 swapBase)") {
    val docs = Seq(
      (1L, "spark join scan"), (2L, "join batch join"),
      (3L, "spark batch")).toDF("id", "txt")
    val base = java.nio.file.Files
      .createTempDirectory("textindex_swapcrash").toString
    TextIndex.buildScoredPostings(docs, "id", "txt", base, buckets = 2)
    TextIndex.appendScoredPostings(
      Seq((4L, "spark words more")).toDF("id", "txt"), "id", "txt",
      base, buckets = 2, salt = "b1")
    def topk() = {
      val (p, st) = TextIndex.scoredPostingsReaders(spark, base,
        buckets = 2)
      TextIndex.bm25TopK(p, st, Seq("spark", "join"), k = 10,
        buckets = 2).as[(Long, Double)].collect().toSeq
    }
    val before = topk()
    graft.FailPoint.arm("swap_after_delete")
    try intercept[graft.FailPoint.Kill] {
      TextIndex.compactScoredPostings(spark, base, buckets = 2)
    } finally graft.FailPoint.disarm()
    // the very next read serves the folded stats — identical results
    assert(topk() == before)
    val (_, st) = TextIndex.scoredPostingsReaders(spark, base,
      buckets = 2)
    assert(st.agg(sum($"n_docs")).as[Long].head() == 4L)
    // and a retried compact completes cleanly (recover-then-fold)
    assert(TextIndex.compactScoredPostings(spark, base, buckets = 2)
      >= 0)
    assert(topk() == before)
  }

  test("bm25TopK: hand-computed scores, rank order, tf saturation") {
    val docs = Seq(
      (1L, "spark spark spark join"), // tf(spark)=3 in a 4-token doc
      (2L, "spark scan"),             // tf(spark)=1, short doc
      (3L, "join join batch other"),
      (4L, "none of these terms")).toDF("id", "txt")
    val base = java.nio.file.Files
      .createTempDirectory("textindex_bm25").toString
    val (postings, stats) =
      TextIndex.buildScoredPostings(docs, "id", "txt", base, buckets = 8)
    val out = TextIndex.bm25TopK(postings, stats, Seq("spark", "join"),
        k = 10, buckets = 8)
      .as[(Long, Double)].collect()
    // only docs containing >=1 query term appear
    assert(out.map(_._1).toSet == Set(1L, 2L, 3L))
    // replay the exact formula: N=4, avgdl=14/4; df(spark)=2, df(join)=2
    def score(tf: Long, dl: Long, df: Long): Double = {
      val n = 4.0; val avgdl = 14.0 / 4
      val idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
      idf * (tf * 2.2) / (tf + 1.2 * (0.25 + dl.toDouble * 0.75 / avgdl))
    }
    val expected = Map(
      1L -> BigDecimal(score(3, 4, 2) + score(1, 4, 2))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
      2L -> BigDecimal(score(1, 2, 2))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
      3L -> BigDecimal(score(2, 4, 2))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    out.foreach { case (id, s) => assert(s == expected(id), s"doc $id") }
    // rank: matching both terms beats one; the result arrives ranked
    assert(out.map(_._1).toSeq == out.sortBy(r => (-r._2, r._1))
      .map(_._1).toSeq)
    assert(out.head._1 == 1L)
    // k truncates on the rounded-score/doc_id rank
    assert(TextIndex.bm25TopK(postings, stats, Seq("spark", "join"),
      k = 1, buckets = 8).as[(Long, Double)].collect().map(_._1)
      .toSeq == Seq(1L))
  }
}
