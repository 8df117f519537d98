package graft.plans

import graft.SparkSpec

/** Resolution of the parallel-partition-discovery threshold (r22,
  * VERDICT r21 #4): env var wins; an EXPLICIT session setting is
  * respected; otherwise the default is scheme-aware — high for a
  * local default filesystem, Spark's 32 for remote schemes. */
class ListingDispatchSpec extends SparkSpec {
  private val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"

  test("scheme map: local filesystems get the driver-side threshold, " +
      "remote schemes keep Spark's default") {
    assert(GraftExtensions.listingThresholdFor("file") == "100000")
    assert(GraftExtensions.listingThresholdFor("local") == "100000")
    assert(GraftExtensions.listingThresholdFor(null) == "100000")
    for (s <- Seq("s3a", "s3", "abfs", "abfss", "gs", "hdfs", "oss"))
      assert(GraftExtensions.listingThresholdFor(s) == "32",
        s"remote scheme $s must keep Spark's default")
  }

  test("install sets the scheme default when unset, and never " +
      "clobbers an explicit session setting") {
    // test session's default FS is local ⇒ scheme default is 100000
    spark.conf.unset(key)
    GraftExtensions.install(spark)
    assert(spark.conf.get(key) == "100000",
      "fresh local session should get the driver-side threshold")
    // an explicitly pinned value survives a (re-)install — even
    // Spark's own default value, pinned on purpose
    spark.conf.set(key, "32")
    GraftExtensions.install(spark)
    assert(spark.conf.get(key) == "32",
      "install must not clobber an explicit runtime setting")
    spark.conf.set(key, "777")
    GraftExtensions.install(spark)
    assert(spark.conf.get(key) == "777")
    // restore the shared session to the installed state other specs
    // (and the engine entrypoints) expect
    spark.conf.unset(key)
    GraftExtensions.install(spark)
    assert(spark.conf.get(key) == "100000")
  }

  test("the reflective conf probe tells an explicit setting from the " +
      "registered default") {
    // a fresh session shares the context but none of the shared
    // session's runtime settings: the key serves its default there
    val fresh = spark.newSession()
    assert(!GraftExtensions.thresholdExplicitlySet(fresh, key),
      "a fresh session must not report the key as explicitly set")
    fresh.conf.set(key, fresh.conf.get(key))
    assert(GraftExtensions.thresholdExplicitlySet(fresh, key),
      "an explicit conf.set must be seen, even of the default value")
  }
}
