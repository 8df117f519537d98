package graft.pipeline

import graft.schema.PriceIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S4-S6 (SURVEY §2.1): delimited-file scan with the reference's quirks —
  * delimiter chosen by extension (csv/txt→`,`, sql→`;`; `2.1
  * leader-lambda-for-mysql.py:188,284-287`), ISO-8859-1 decoding
  * (`2.2 loading-lambda-for-mysql.py:195-198`), and corrupt-row accounting
  * against `maxerrors_allowed` (`R22:114,300-316`).
  *
  * PERMISSIVE parse + `columnNameOfCorruptRecord` keeps the scan one
  * distributed pass: bad rows land in the corrupt column instead of
  * failing the job, and the reconcile step counts them (A2).
  */
object Ingest {

  /** P4's delimiter table. */
  def delimiterFor(path: String): String =
    path.toLowerCase.split('.').lastOption match {
      case Some("sql") => ";"
      case _ => ","
    }

  /** Read a PriceIndex-shaped CSV: header, extension-driven delimiter,
    * ISO-8859-1, quoted commas honored, malformed rows captured. */
  def readPriceIndexCsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("delimiter", delimiterFor(path))
      .option("encoding", "ISO-8859-1")
      .option("quote", "\"")
      .option("escape", "\"")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", PriceIndex.corruptCol)
      .schema(PriceIndex.rawSchema)
      .csv(path)

  /** JSON-lines scan with the same corrupt-row protocol as the CSV path
    * (the reference's R1 source is a JSON dataset fetched over HTTP;
    * S1 lands it, this reads it distributed). Schema is REQUIRED — at
    * scale, schema inference is a full extra pass over the data. The
    * result feeds the same [[reconcile]] step as the CSV scan. */
  def readJsonLines(spark: SparkSession, path: String,
                    schemaDDL: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(schemaDDL)
      .add(PriceIndex.corruptCol, org.apache.spark.sql.types.StringType)
    spark.read
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", PriceIndex.corruptCol)
      .schema(schema)
      .json(path)
  }

  final case class Reconciled(clean: DataFrame, totalRows: Long,
                              corruptRows: Long, ok: Boolean,
                              private val raw: DataFrame,
                              cleanValues: Seq[String]) {
    /** Drop the cached raw scan. Call once `clean` has been fully
      * consumed (or on the failure path, immediately): Spark's cache
      * matches plans by CANONICALIZED form, so a pinned scan of
      * `path/x.csv` is served to every later read of that same path —
      * a retried file whose content changed on disk would silently
      * re-see the OLD bytes, and per-file cached blocks would pin
      * memory for the pipeline's lifetime. */
    def release(): Unit = { raw.unpersist(); () }
  }

  /** A2: split clean vs corrupt, reconcile counts within
    * `maxErrors` tolerance (reference default 5, `R22:114`). The raw frame
    * is cached first: Spark refuses corrupt-record-only projections over a
    * raw CSV scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN), and the cache also
    * means one physical parse feeds both the counts and the clean output.
    *
    * The counts are ONE exchange-free job over the cached scan (the
    * pattern of [[graft.operators.Upsert.distinctRowsOneJob]]): each task
    * returns its (total, corrupt) counts, and with `distinctCol` set also
    * the distinct values of that column over its clean rows, in string
    * form with nulls kept ([[Reconciled.cleanValues]]). A global
    * aggregate would pay a cache-build job, an AQE map-stage job and the
    * result job; a caller that needs the clean rows' partition values
    * (the ingest merge's touched partitions) would pay one more collect.
    * The distinct values are control-plane sized only when the column's
    * cardinality is — callers name a partition column.
    * The caller must [[Reconciled.release]] when done with `clean`. */
  def reconcile(raw: DataFrame, maxErrors: Long,
                distinctCol: Option[String] = None): Reconciled = {
    raw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // every exit either hands cache ownership to Reconciled (whose
    // release() the caller owns) or unpersists before rethrowing — a
    // count action that throws (file deleted between listing and load,
    // transient IO) must not leak the plan-keyed cache entry for the
    // pipeline's lifetime (ADVICE r12)
    try {
      import raw.sparkSession.implicits._
      val probe = raw.select(col(PriceIndex.corruptCol).isNotNull.as("_bad"),
        distinctCol.fold(lit(null).cast("string"))(col(_).cast("string"))
          .as("_v"))
      val keep = distinctCol.isDefined
      val perTask = probe.mapPartitions { it =>
        var total, bad = 0L
        val seen = new java.util.LinkedHashSet[String]()
        it.foreach { r =>
          total += 1
          if (r.getBoolean(0)) bad += 1
          else if (keep) seen.add(r.getString(1))
        }
        Iterator((total, bad,
          scala.jdk.CollectionConverters.SetHasAsScala(seen).asScala.toSeq))
      }.collect()
      val total = perTask.map(_._1).sum
      val bad = perTask.map(_._2).sum
      val values = perTask.iterator.flatMap(_._3).toSeq.distinct
      val clean = raw.filter(col(PriceIndex.corruptCol).isNull)
        .drop(PriceIndex.corruptCol)
      Reconciled(clean, total, bad, bad <= maxErrors, raw, values)
    } catch {
      case e: Throwable => raw.unpersist(); throw e
    }
  }
}
