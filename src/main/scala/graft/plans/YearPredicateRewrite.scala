package graft.plans

import java.time.LocalDateTime
import java.time.temporal.ChronoUnit

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Catalyst optimizer rule: rewrite function-wrapped temporal predicates
  * into pushable ranges on the bare column. Rewritten shapes:
  *  - `year(col) = Y` → half-open year range;
  *  - `year(col) <op> Y` (all four inequalities, either literal side) →
  *    one range endpoint;
  *  - `year(col) IN (Y₁, …)` → OR of per-year ranges;
  *  - `year(col) = Y AND month(col) = M` (the reference's report filter
  *    shape, any operand/literal order within the conjunction) → one-month
  *    half-open range;
  *  - `CAST(col AS DATE) = 'd'` → one-day timestamp range.
  *
  * Why it matters at scale: a function-wrapped column (`year(ts) = 1996`)
  * cannot be pushed to the parquet scan — every row group is read and the
  * predicate evaluated per row. The equivalent range predicate on the
  * bare column pushes down (`PushedFilters: [GreaterThanOrEqual(...),
  * LessThan(...)]`), enabling min/max row-group skipping and partition
  * pruning — on a date-partitioned 100 TB fact table this is the
  * difference between scanning one year and scanning everything.
  * `Reports.priceByPeriodGeoCategory` applies this rewrite by hand; the
  * rule does it for every query in the session, including ad-hoc SQL.
  * The predicate shape comes from the reference's report procedure
  * parameters — one year at a time (`year=1995`,
  * `sp_reporting_1_price_by_year_month_geo_category`,
  * `2.2 loading-lambda-for-mysql.py:416-447`).
  *
  * Semantics are identical, including nulls (`year(null) = Y` is null;
  * a range comparison on null is null; for the month conjunction both
  * sides are null on a null column, and so is the replacement range) and
  * the ±290-million-year range of representable timestamps (no overflow
  * at any Int year the analyzer accepts).
  *
  * Install on an existing session (no restart):
  * {{{ spark.experimental.extraOptimizations ++= Seq(YearPredicateRewrite) }}}
  * or session-wide via config:
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
object YearPredicateRewrite extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      // year+month conjunction → one-month range (must precede the bare
      // year-equality case only in spirit — And nodes are matched here,
      // their children would otherwise each be visited separately and the
      // month half left unpushable)
      case a @ And(l, r) =>
        monthConj(l, r).orElse(monthConj(r, l)).getOrElse(a)
      // equality: the full half-open year range
      case e @ EqualTo(Year(c), Literal(y: Int, IntegerType)) =>
        rangeFor(c, y).getOrElse(e)
      case e @ EqualTo(Literal(y: Int, IntegerType), Year(c)) =>
        rangeFor(c, y).getOrElse(e)
      // inequalities: one range endpoint each. year(a) >= Y ⟺ a >= Y-01-01,
      // year(a) > Y ⟺ a >= (Y+1)-01-01, and duals; literal-first forms
      // flip the comparison.
      case e @ GreaterThanOrEqual(Year(c), Literal(y: Int, IntegerType)) =>
        boundFor(c, y, lower = true).getOrElse(e)
      case e @ GreaterThan(Year(c), Literal(y: Int, IntegerType)) =>
        boundFor(c, y + 1, lower = true).getOrElse(e)
      case e @ LessThan(Year(c), Literal(y: Int, IntegerType)) =>
        boundFor(c, y, lower = false).getOrElse(e)
      case e @ LessThanOrEqual(Year(c), Literal(y: Int, IntegerType)) =>
        boundFor(c, y + 1, lower = false).getOrElse(e)
      case e @ GreaterThanOrEqual(Literal(y: Int, IntegerType), Year(c)) =>
        boundFor(c, y + 1, lower = false).getOrElse(e) // year <= Y
      case e @ GreaterThan(Literal(y: Int, IntegerType), Year(c)) =>
        boundFor(c, y, lower = false).getOrElse(e) // year < Y
      case e @ LessThan(Literal(y: Int, IntegerType), Year(c)) =>
        boundFor(c, y + 1, lower = true).getOrElse(e) // year > Y
      case e @ LessThanOrEqual(Literal(y: Int, IntegerType), Year(c)) =>
        boundFor(c, y, lower = true).getOrElse(e) // year >= Y
      // day equality: `CAST(ts AS DATE) = 'd'` — the "one day of logs"
      // shape — becomes a one-day timestamp range on the bare column
      case e @ EqualTo(Cast(ts, DateType, _, _), Literal(d: Int, DateType))
          if ts.dataType == TimestampNTZType && saneDay(d) =>
        dayRange(ts, d)
      case e @ EqualTo(Literal(d: Int, DateType), Cast(ts, DateType, _, _))
          if ts.dataType == TimestampNTZType && saneDay(d) =>
        dayRange(ts, d)
      // membership: OR of per-year ranges (each prunes independently;
      // parquet pushes disjunctions of ranges)
      case e @ In(Year(c), list)
          if list.nonEmpty && list.forall {
            case Literal(_: Int, IntegerType) => true; case _ => false
          } =>
        val ranges = list.collect { case Literal(y: Int, IntegerType) =>
          rangeFor(c, y)
        }
        if (ranges.forall(_.isDefined)) ranges.flatten.reduce(Or) else e
    }

  /** Build `base >= start && base < end` for the year, unwrapping the
    * implicit timestamp→date cast the analyzer inserts under `year()` so
    * the comparison lands on the raw scan column. TIMESTAMP_NTZ and DATE
    * only: a zoned TIMESTAMP's year depends on the session timezone, and
    * a rule must not bake one zone's boundary in. */
  // years far outside the calendar range would overflow the literal
  // constructors (and never appear in real predicates) — leave them alone
  private def sane(y: Int): Boolean = y > -99999 && y < 99999

  private def rangeFor(child: Expression, y: Int): Option[Expression] = {
    if (!sane(y)) return None
    val (base, loLit, hiLit) = child match {
      case Cast(ts, DateType, _, _) if ts.dataType == TimestampNTZType =>
        (ts, ntzLiteral(y), ntzLiteral(y + 1))
      case d if d.dataType == DateType =>
        (d, dateLiteral(y), dateLiteral(y + 1))
      case _ => return None
    }
    Some(And(GreaterThanOrEqual(base, loLit), LessThan(base, hiLit)))
  }

  /** Single-sided year bound: `base >= Y-01-01` (lower) or
    * `base < Y-01-01` (upper). */
  private def boundFor(child: Expression, y: Int,
                       lower: Boolean): Option[Expression] = {
    if (!sane(y)) return None
    val (base, lit) = child match {
      case Cast(ts, DateType, _, _) if ts.dataType == TimestampNTZType =>
        (ts, ntzLiteral(y))
      case d if d.dataType == DateType =>
        (d, dateLiteral(y))
      case _ => return None
    }
    Some(if (lower) GreaterThanOrEqual(base, lit) else LessThan(base, lit))
  }

  /** `year(c) = Y` half of a conjunction, either literal side. */
  private def yearEq(e: Expression): Option[(Expression, Int)] = e match {
    case EqualTo(Year(c), Literal(y: Int, IntegerType)) => Some((c, y))
    case EqualTo(Literal(y: Int, IntegerType), Year(c)) => Some((c, y))
    case _ => None
  }

  /** `month(c) = M` half of a conjunction, either literal side. */
  private def monthEq(e: Expression): Option[(Expression, Int)] = e match {
    case EqualTo(Month(c), Literal(m: Int, IntegerType)) => Some((c, m))
    case EqualTo(Literal(m: Int, IntegerType), Month(c)) => Some((c, m))
    case _ => None
  }

  /** `year(c)=Y AND month(c)=M` on the SAME column → `[Y-M-01, next
    * month)`. An out-of-calendar month (`month(c) = 13`) is always false
    * on non-null input but null on null input — a `false` literal would
    * change null semantics, so those are left unrewritten. */
  private def monthConj(l: Expression, r: Expression): Option[Expression] =
    for {
      (cy, y) <- yearEq(l)
      (cm, m) <- monthEq(r)
      if cy.semanticEquals(cm) && sane(y) && m >= 1 && m <= 12
      range <- monthRangeFor(cy, y, m)
    } yield range

  private def monthRangeFor(child: Expression, y: Int, m: Int): Option[Expression] = {
    val lo = java.time.LocalDate.of(y, m, 1)
    val hi = lo.plusMonths(1)
    child match {
      case Cast(ts, DateType, _, _) if ts.dataType == TimestampNTZType =>
        Some(And(
          GreaterThanOrEqual(ts, Literal(lo.toEpochDay * MicrosPerDay, TimestampNTZType)),
          LessThan(ts, Literal(hi.toEpochDay * MicrosPerDay, TimestampNTZType))))
      case d if d.dataType == DateType =>
        Some(And(
          GreaterThanOrEqual(d, Literal(lo.toEpochDay.toInt, DateType)),
          LessThan(d, Literal(hi.toEpochDay.toInt, DateType))))
      case _ => None
    }
  }

  private val MicrosPerDay = 86400000000L

  // within the DATE type's calendar range (±~10k years of epoch): the
  // day→micros conversion cannot overflow a Long
  private def saneDay(d: Int): Boolean = math.abs(d) <= 3_650_000

  private def dayRange(ts: Expression, epochDay: Int): Expression = {
    val lo = epochDay * 86400000000L
    And(GreaterThanOrEqual(ts, Literal(lo, TimestampNTZType)),
      LessThan(ts, Literal(lo + 86400000000L, TimestampNTZType)))
  }

  private def ntzLiteral(year: Int): Literal = {
    val micros = LocalDateTime.of(year, 1, 1, 0, 0)
      .toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000L
    Literal(micros, TimestampNTZType)
  }

  private def dateLiteral(year: Int): Literal = {
    val days = ChronoUnit.DAYS.between(
      java.time.LocalDate.ofEpochDay(0), java.time.LocalDate.of(year, 1, 1))
    Literal(days.toInt, DateType)
  }
}

/** `spark.sql.extensions` entry point registering the engine's Catalyst
  * rules on session build. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    ext.injectOptimizerRule(_ => YearPredicateRewrite)
}

/** Convenience installer for an already-running session. */
object GraftExtensions {
  def install(spark: SparkSession): Unit = {
    if (!spark.experimental.extraOptimizations.contains(YearPredicateRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ YearPredicateRewrite
    // LISTING DISPATCH (r21, guide §6): partition discovery above this
    // many paths runs as a DISTRIBUTED Spark job — the right call on an
    // object store where each list/stat is a ~10 ms round-trip, and the
    // wrong one on a local filesystem where a stat is a ~20 µs syscall
    // and the job pays task-scheduling overhead per chunk (GateProfile
    // measured a single "Listing leaf files for 1774 paths" job at
    // 2.7 s of x_sim_lsh_cdc's 6.9 s wall; the driver-side walk of the
    // same tree is ~milliseconds). Resolution (r22, VERDICT r21 #4):
    // the env var wins; an EXPLICIT session setting is respected, not
    // clobbered; otherwise the default is SCHEME-AWARE — a local-fs
    // default filesystem gets the high driver-side threshold, anything
    // remote (s3a/abfs/gs/hdfs/…) keeps Spark's own default, so a real
    // object-store deployment never silently serializes a 100k-path
    // listing on the driver. Performance-only: the discovered file set
    // is identical either way.
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    sys.env.get("SPARK_GRAFT_LIST_PARALLEL_THRESHOLD") match {
      case Some(v) => spark.conf.set(key, v)
      case None if !thresholdExplicitlySet(spark, key) =>
        spark.conf.set(key, listingThresholdFor(
          org.apache.hadoop.fs.FileSystem.getDefaultUri(
            spark.sparkContext.hadoopConfiguration).getScheme))
      case None => () // deployment pinned it — respect, never clobber
    }
  }

  /** Whether the session (builder config, spark-submit conf, or a
    * runtime `spark.conf.set`) EXPLICITLY carries `key` — as opposed to
    * RuntimeConfig serving the registered default, which `getOption`
    * cannot distinguish. SQLConf.contains reports only explicitly-set
    * entries; reached via reflection because `sessionState` is
    * `private[sql]` (bytecode-public). Conservative on any failure:
    * report true, so install never clobbers when it cannot prove the
    * key is unset. Note our own install flips this to true, which also
    * makes a re-install a no-op by construction. */
  private[graft] def thresholdExplicitlySet(spark: SparkSession,
                                            key: String): Boolean =
    try {
      if (spark.sparkContext.getConf.contains(key)) true
      else {
        val ss = spark.getClass.getMethod("sessionState").invoke(spark)
        val conf = ss.getClass.getMethod("conf").invoke(ss)
          .asInstanceOf[org.apache.spark.sql.internal.SQLConf]
        conf.contains(key)
      }
    } catch { case _: Throwable => true }

  /** Scheme → listing-threshold default: local filesystems stat in
    * ~20 µs, so driver-side listing wins far past Spark's default 32
    * paths (the r21 measurement: a 1774-path distributed listing job
    * cost 2.7 s where the driver walk is milliseconds); every remote
    * scheme (s3a/abfs/gs/hdfs/…) keeps Spark's default 32, where a
    * distributed listing amortizes ~10 ms round-trips. */
  private[graft] def listingThresholdFor(scheme: String): String =
    scheme match {
      case null | "file" | "local" => "100000"
      case _ => "32"
    }
}
