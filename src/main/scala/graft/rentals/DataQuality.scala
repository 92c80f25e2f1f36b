package graft.rentals

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality gate, re-designed from `jobs/data_quality.py`.
  *
  * Contract (C2-C4 in SURVEY.md §2.12): a check is a named pure predicate over
  * a DataFrame with a severity; the runner executes *all* checks eagerly,
  * tallies a summary, and only then throws `DataQualityError` if any
  * fail-severity check failed (`jobs/data_quality.py:161-225`). Warn-severity
  * failures never throw (`:156`).
  */
sealed trait Severity { def label: String }
case object Warn extends Severity { val label = "warn" }
case object Fail extends Severity { val label = "fail" }

/** `jobs/data_quality.py:24-38`, in aggregate form: the count aggregates a
  * check reads and a pass predicate over their values (in `aggregates`
  * order). Every check is evaluated the same way — as part of one
  * `df.agg` — so a gate of any size is one aggregation job.
  */
final case class DataQualityCheck(
    name: String,
    severity: Severity,
    description: String,
    aggregates: Seq[Column],
    passes: Seq[Long] => Boolean)

final case class CheckResult(
    name: String,
    passed: Boolean,
    severity: Severity,
    description: String)

final case class DataQualitySummary(
    total: Int,
    passed: Int,
    failed: Int,
    warnings: Int,
    details: Seq[CheckResult])

final class DataQualityError(msg: String) extends RuntimeException(msg)

object DataQuality {

  /** Null-fraction gate (`null_percentage_check`, `jobs/data_quality.py:41-66`):
    * passes when `nulls/total <= threshold`; an empty DataFrame passes
    * (`:53-54`). Severity: fail.
    */
  def nullPercentageCheck(column: String, threshold: Double): DataQualityCheck =
    DataQualityCheck(
      name = s"null_percentage_$column",
      severity = Fail,
      description = s"Null fraction of `$column` must be <= $threshold",
      aggregates = Seq(count(lit(1)), count(when(col(column).isNull, 1))),
      passes = { case Seq(total, nulls) =>
        total == 0L || nulls.toDouble / total.toDouble <= threshold })

  /** Minimum-row-count gate (`row_count_check`, `jobs/data_quality.py:69-87`):
    * passes when `count >= minRows`. Severity: fail.
    */
  def rowCountCheck(minRows: Long): DataQualityCheck =
    DataQualityCheck(
      name = "row_count",
      severity = Fail,
      description = s"Row count must be >= $minRows",
      aggregates = Seq(count(lit(1))),
      passes = { case Seq(total) => total >= minRows })

  /** Inclusive-range gate (`range_check`, `jobs/data_quality.py:90-120`):
    * passes when zero rows fall outside `[min, max]` (bounds inclusive; nulls
    * pass vacuously — a null comparison is filtered out, `:111`, and
    * `count(when(...))` skips it the same way). Severity: fail.
    */
  def rangeCheck(column: String, min: Double, max: Double): DataQualityCheck =
    DataQualityCheck(
      name = s"range_$column",
      severity = Fail,
      description = s"All `$column` values must lie in [$min, $max]",
      aggregates = Seq(count(when(col(column) < min || col(column) > max, 1))),
      passes = { case Seq(outOfRange) => outOfRange == 0L })

  /** Key-uniqueness gate (`uniqueness_check`, `jobs/data_quality.py:123-158`):
    * passes when `total == distinct(keys)` — *exact* distinct, the DQ contract
    * is `duplicate_count == 0` (`:151`). Severity: **warn** (`:156`).
    */
  def uniquenessCheck(columns: Seq[String]): DataQualityCheck =
    DataQualityCheck(
      name = s"uniqueness_${columns.mkString("_")}",
      severity = Warn,
      description = s"(${columns.mkString(", ")}) must be unique",
      aggregates = Seq(count(lit(1)), count_distinct(struct(columns.map(col): _*))),
      passes = { case Seq(total, distinct) => total == distinct })

  /** The reference pipeline's standard gate set, built from config thresholds
    * (`dags/rental_pipeline_dag.py:137-142` + `config/pipeline.yaml:18-22`).
    */
  def standardChecks(config: PipelineConfig = PipelineConfig()): Seq[DataQualityCheck] = Seq(
    nullPercentageCheck("median_rent", config.nullPctThreshold),
    rowCountCheck(config.minRows),
    rangeCheck("median_rent", config.rentMin, config.rentMax),
    uniquenessCheck(config.uniqueKeys))

  /** Run-all-then-throw runner (`run_quality_checks`,
    * `jobs/data_quality.py:161-225`). Every check runs (and logs) even if an
    * earlier one failed; `DataQualityError` is raised only at the end, naming
    * the failed fail-severity checks (`:218-223`).
    */
  def runQualityChecks(df: DataFrame, checks: Seq[DataQualityCheck]): DataQualitySummary = {
    val summary = summarize(df, checks)
    if (summary.failed > 0) {
      val names = summary.details
        .filter(r => !r.passed && r.severity == Fail)
        .map(_.name)
      throw new DataQualityError(
        s"${summary.failed} DQ check(s) failed: ${names.mkString(", ")}")
    }
    summary
  }

  /** Same evaluation without the terminal throw — for callers that want the
    * tally (e.g. the registered `dq_summary` query) rather than the gate.
    *
    * The whole list is one aggregation job (the reference runs one to two
    * count jobs per check). Each aggregate is aliased by its check's
    * position, so two checks never read each other's values; equal
    * aggregates such as the repeated `count(1)` are still computed once,
    * because the planner merges semantically equal aggregate expressions.
    * If that job throws (a typo'd column, a runtime cast error), every check
    * is evaluated alone: the offender is recorded as failed and the others
    * still run, preserving the run-all-then-throw contract.
    */
  def summarize(df: DataFrame, checks: Seq[DataQualityCheck]): DataQualitySummary = {
    val verdicts =
      try evaluate(df, checks)
      catch {
        case NonFatal(e) =>
          System.err.println(
            s"graft dq: gate threw ${e.getClass.getSimpleName}: ${e.getMessage}" +
              " — evaluating each check alone")
          checks.map { c =>
            // a throwing check is a config bug, not a data failure — record
            // it as failed but say so, or a Warn-severity bug would vanish
            try evaluate(df, Seq(c)).head
            catch {
              case NonFatal(e) =>
                System.err.println(
                  s"graft dq: check '${c.name}' threw ${e.getClass.getSimpleName}: " +
                    s"${e.getMessage} — recorded as failed")
                false
            }
          }
      }
    val details = checks.zip(verdicts).map { case (c, ok) =>
      CheckResult(c.name, ok, c.severity, c.description)
    }
    DataQualitySummary(
      total = details.size,
      passed = details.count(_.passed),
      failed = details.count(r => !r.passed && r.severity == Fail),
      warnings = details.count(r => !r.passed && r.severity == Warn),
      details = details)
  }

  /** One `df.agg` over every check's aggregates, then each predicate over
    * its own slice of the result row.
    */
  private def evaluate(df: DataFrame, checks: Seq[DataQualityCheck]): Seq[Boolean] =
    if (checks.isEmpty) Nil
    else {
      val aggs = checks.zipWithIndex.flatMap { case (c, i) =>
        c.aggregates.zipWithIndex.map { case (a, j) => a.as(s"dq_${i}_$j") }
      }
      val row = df.agg(aggs.head, aggs.tail: _*).head()
      val offsets = checks.scanLeft(0)(_ + _.aggregates.size)
      checks.zip(offsets).map { case (c, from) =>
        c.passes(c.aggregates.indices.map(j => row.getLong(from + j)))
      }
    }
}
