package graft.operators

import graft.telemetry.CalibrationEntry
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Calibration: rewrite eng_value per parameter from config-side entries.
  *
  * Reference semantics (/root/reference/src/mdp/plugins/transformers/
  * calibration.py:54-132): polynomial eng = Σ cᵢ·rawⁱ; table = piecewise
  * linear interpolation clamped at both ends; identity = passthrough;
  * non-numeric raw values keep the original sample; the entry's unit
  * overrides the sample unit; calibration_id records the method.
  *
  * Spark-first: calibrations are config constants, so each entry folds
  * into a literal expression at plan-build time (Horner chain / CASE-WHEN
  * segment chain) — Catalyst constant-folds and codegens it; no UDF, no
  * join, no shuffle, single pass over the samples.
  */
object Calibration {

  /** Polynomial via Horner's rule over literal coefficients. */
  def polynomial(raw: Column, coefficients: Seq[Double]): Column =
    if (coefficients.isEmpty) raw
    else coefficients.reverse.tail.foldLeft(lit(coefficients.last): Column)(
      (acc, c) => acc * raw + lit(c))

  /** Piecewise-linear interpolation with end clamping
    * (calibration.py:122-132) as a CASE-WHEN chain.
    */
  def tableInterp(raw: Column, xs: Seq[Double], ys: Seq[Double]): Column = {
    require(xs.nonEmpty && xs.size == ys.size, "bad interpolation table")
    val segments = xs.zip(ys).sliding(2).collect {
      case Seq((x0, y0), (x1, y1)) if x1 != x0 =>
        (x1, lit(y0) + (raw - lit(x0)) * lit((y1 - y0) / (x1 - x0)))
    }.toSeq
    val belowOrFirst = when(raw <= lit(xs.head), lit(ys.head))
    val chained = segments.foldLeft(belowOrFirst) {
      case (acc, (x1, segExpr)) => acc.when(raw < lit(x1), segExpr)
    }
    chained.otherwise(lit(ys.last)) // x >= xs.last clamps to ys.last
  }

  def engExpr(raw: Column, e: CalibrationEntry): Column = e.method match {
    case "polynomial" if e.coefficients.nonEmpty => polynomial(raw, e.coefficients)
    case "table" if e.table_raw.nonEmpty => tableInterp(raw, e.table_raw, e.table_eng)
    case _ => raw
  }

  /** Apply entries to a long-format sample frame. */
  def apply(samples: DataFrame, entries: Seq[CalibrationEntry]): DataFrame = {
    val raw = col("raw_value")
    val calibrable = raw.isNotNull // float(raw) guard (calibration.py:94-113)

    val (eng, unit, calId) = entries.foldLeft(
      (col("eng_value"), col("unit"), col("calibration_id"))) {
      case ((engAcc, unitAcc, idAcc), e) =>
        val hit = col("name") === e.parameter_name && calibrable
        (when(hit, engExpr(raw, e)).otherwise(engAcc),
          e.unit.fold(unitAcc)(u => when(hit, lit(u)).otherwise(unitAcc)),
          when(hit, lit(e.method)).otherwise(idAcc))
    }
    samples
      .withColumn("eng_value", eng)
      .withColumn("unit", unit)
      .withColumn("calibration_id", calId)
  }
}
