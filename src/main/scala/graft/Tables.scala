package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType}

/** TESTDATA table loader (TESTDATA.md): one parquet file per table under a
  * scale-factor dir. Scans stay fully declarative so Catalyst pushes filters
  * and prunes columns into the parquet reader (`PushedFilters`/`ReadSchema`
  * visible in `.explain("formatted")`).
  */
object Tables {
  val all: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** The physical encoding of `events.ts` has flipped between driver
    * testdata generations: parquet TIMESTAMP(NANOS) in some drops (which
    * Spark only reads via the ns-as-long legacy flag) and TIMESTAMP_MICROS
    * isAdjustedToUTC=false (TIMESTAMP_NTZ to Spark) in others. Dispatch on
    * the type the reader actually resolves instead of assuming either one.
    */
  private def eventsTsType(spark: SparkSession, dir: String): DataType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
  }

  /** Normalize a raw `ts` column of the given resolved type to a µs-precision
    * TimestampType. Nanos arrive as a ns-since-epoch long and are truncated
    * with integer arithmetic (the ns epoch ~1.7e18 overflows double's 2^53
    * mantissa — no float division); NTZ micros cast 1:1 under the UTC
    * session timezone every entrypoint pins. The DuckDB oracle applies the
    * identical truncation via CAST(ts AS TIMESTAMP).
    */
  private def normalizedTs(dt: DataType): Column = dt match {
    case LongType         => timestamp_micros(expr("ts DIV 1000"))
    case TimestampNTZType => col("ts").cast("timestamp")
    case _                => col("ts")
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      val raw = spark.read.parquet(s"$dir/events.parquet")
      raw.withColumn("ts", normalizedTs(raw.schema("ts").dataType))
    } else spark.read.parquet(s"$dir/$name.parquet")

  /** Streaming scan of any table projected to `cols`, with the stream
    * schema DERIVED from the batch-resolved schema — the round-8 lesson
    * generalized: a file stream needs an explicit schema, and
    * hard-coding one bakes in physical types the testdata generator has
    * already changed once. `ts` is excluded by contract (its physical
    * encoding varies — [[eventsStream]] owns that dispatch). */
  def stream(spark: SparkSession, dir: String, name: String,
             cols: String*): DataFrame = {
    require(!cols.contains("ts"),
      "ts needs physical-type dispatch - use Tables.eventsStream")
    val batch = load(spark, dir, name).schema
    val fields = org.apache.spark.sql.types.StructType(
      cols.map(c => batch(batch.fieldIndex(c))))
    spark.readStream.schema(fields).parquet(s"$dir/$name.parquet*")
  }

  /** Streaming scan of the events log projected to (user_id, ts, extra…)
    * with `ts` normalized exactly as [[load]] does for batch — file streams
    * need an explicit schema, so the DDL string is chosen from the
    * batch-resolved physical type rather than hard-coded. `extra` appends
    * more projected columns as DDL fragments (e.g. `"value DOUBLE"`);
    * parquet matches schema fields by name, not position.
    */
  def eventsStream(spark: SparkSession, dir: String,
                   extra: String*): DataFrame = {
    val dt = eventsTsType(spark, dir)
    val tsDdl = dt match {
      case LongType         => "ts BIGINT"
      case TimestampNTZType => "ts TIMESTAMP_NTZ"
      case _                => "ts TIMESTAMP"
    }
    spark.readStream
      .schema((Seq("user_id BIGINT", tsDdl) ++ extra).mkString(", "))
      .parquet(s"$dir/events.parquet*")
      .withColumn("ts", normalizedTs(dt))
  }

  /** Scale-adaptive compute spread (optimization guide §1.2/§2.2): a
    * round-robin repartition to the session's core count, applied ONLY
    * when the plan currently has fewer partitions — the
    * single-row-group testdata parquet files yield exactly one scan
    * split, which pins every expression-heavy stage-1 (shingling, CDC
    * chunking, per-row md5) to ONE core while the other 31 idle
    * (GateProfile measured taskTime ≈ wall on x_text_chunks_cdc /
    * a16_cms_freq / a18_profile). At production scale a 100 TB scan
    * has thousands of splits, the guard is never taken, and the extra
    * exchange never exists — this is "derive partitioning from input
    * size", not a local[32] constant (`spark.graft.spread.target`
    * overrides the target; ≤1 disables).
    *
    * The split count is derived from the LOGICAL plan's file relations
    * (Spark's own split sizing and file packing over their files) — never
    * from `df.rdd`, which finalizes the physical plan and under AQE
    * would eagerly materialize any upstream query stages (a hidden job
    * at plan-build time — ADVICE r21). A plan with no file scan at its
    * leaves (caller passed a joined/aggregated or in-memory frame)
    * conservatively gets NO spread: the exchange only provably helps
    * scan-rooted plans, which is the documented call-site contract.
    *
    * Results are placement-independent by construction at every call
    * site (aggregations, joins, per-row expressions); round-robin
    * repartition is retry-deterministic via Spark's
    * sort-before-repartition default (SPARK-23207). */
  def spread(df: DataFrame, by: Column*): DataFrame = {
    val spark = df.sparkSession
    val target = spark.conf.getOption("spark.graft.spread.target")
      .map(_.toInt)
      .getOrElse(spark.sparkContext.defaultParallelism)
    if (target <= 1) df
    else {
      val parts = try scanSplitEstimate(df).getOrElse(Int.MaxValue)
        catch { case _: Throwable => Int.MaxValue }
      if (parts >= target) df
      // hash-by-key when the caller names one: skips round-robin's
      // sort-before-repartition (a single-task sort of the whole input
      // when the scan has one split — the very bottleneck spread
      // removes). Explicit numPartitions on BOTH forms pins the count
      // so AQE cannot coalesce the tiny local exchange back to one.
      else if (by.nonEmpty) df.repartition(target, by: _*)
      else df.repartition(target)
    }
  }

  /** Estimated scan-split count of `df`'s file relations, from logical
    * plan metadata only (no physical planning, no jobs): per relation,
    * the count a file scan of it plans — Spark's own
    * `FilePartition.maxSplitBytes` (`spark.sql.files.maxPartitionBytes`
    * as the session parses it, `openCostInBytes`, the leaf parallelism)
    * and its `getFilePartitions` packing, applied to the relation's
    * (partition-pruned) files split as a scan splits them, so many tiny
    * files pack into few splits exactly as they will at execution.
    * None when the plan has no file relation — the caller broke the
    * scan-rooted contract and spread declines to act. */
  private[graft] def scanSplitEstimate(df: DataFrame): Option[Int] = {
    import org.apache.spark.sql.execution.PartitionedFileUtil
    import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}
    val rels = df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        l.relation.asInstanceOf[HadoopFsRelation]
    }
    if (rels.isEmpty) None
    else Some(rels.map { r =>
      val spark = r.sparkSession
      val dirs = r.location.listFiles(Nil, Nil)
      val maxSplit = FilePartition.maxSplitBytes(spark, dirs)
      val splits = dirs.flatMap { d =>
        d.files.flatMap { f =>
          PartitionedFileUtil.splitFiles(f, f.getPath,
            r.fileFormat.isSplitable(spark, r.options, f.getPath),
            maxSplit, d.values)
        }
      }.sortBy(-_.length)
      math.max(1, FilePartition.getFilePartitions(spark, splits, maxSplit).size)
    }.sum)
  }
}
