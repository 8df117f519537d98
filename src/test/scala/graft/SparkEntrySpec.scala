package graft

/** Driver-contract guards: the correctness gate is only as strong as the
  * queries↔oracle pairing, so key drift (a query added without its oracle,
  * or an oracle orphaned by a rename) must fail fast in CI rather than
  * silently downgrade a gate to rows-only. */
class SparkEntrySpec extends SparkSpec {

  test("every query has an oracle and every oracle has a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"orphan oracles: ${(o -- q).toSeq.sorted}")
    // full coverage: since round 5 there are zero rows-only gates — keep
    // it that way (a new engine-hash-only query needs an artifact-backed
    // oracle like x_dedup_simhash / x_mm_decode, not a missing entry)
    assert(q.subsetOf(o), s"queries without oracle: ${(q -- o).toSeq.sorted}")
  }

  test("every gate named in FLOORS.json and FLOORS_ISO.json is a query") {
    val q = SparkEntry.queries.keySet
    Seq("FLOORS.json", "FLOORS_ISO.json").foreach { f =>
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(f)), java.nio.charset.StandardCharsets.UTF_8)
      val at = txt.indexOf("\"_provenance\"")
      assert(at > 0, s"$f has no _provenance map")
      def keys(part: String) = """"([A-Za-z0-9_]+)"\s*:""".r
        .findAllMatchIn(part).map(_.group(1)).toSet - "_provenance"
      val (numbers, provenance) = (keys(txt.take(at)), keys(txt.drop(at)))
      assert(numbers.nonEmpty && provenance.nonEmpty, s"$f parsed empty")
      assert(numbers.subsetOf(q), s"$f orphan floors: ${(numbers -- q).toSeq.sorted}")
      assert(provenance.subsetOf(q),
        s"$f orphan provenance: ${(provenance -- q).toSeq.sorted}")
    }
  }

  test("oracle SQL references only path tokens Verify resolves") {
    val known = Set("__GRAFT_IVF__", "__GRAFT_SIMHASH__", "__GRAFT_MEDIA__",
      "__GRAFT_LSH__", "__GRAFT_PQ__", "__GRAFT_IVFPQ__", "__GRAFT_CMS__")
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      // multi-word tokens too (__GRAFT_MEDIA_V2__): words joined by
      // single underscores, terminated by the double underscore
      "__GRAFT_[A-Z0-9]+(?:_[A-Z0-9]+)*__".r.findAllIn(sql).toSet
        .foreach { (tok: String) =>
          assert(known.contains(tok), s"$name uses unresolved token $tok")
        }
    }
  }

  test("entry() (driver smoke) returns rows on sf0.001") {
    graft.plans.GraftExtensions.install(spark)
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
