package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Evidence-based safe type coercion (reference:
  * sql/ingestion/safe_type_coercion.sql + tools/quality.py:173-261 type
  * analysis): measure per-column castability in ONE wide conditional-count
  * aggregate over the all-VARCHAR frame, then tighten every column whose
  * castable rate among non-nulls clears the confidence threshold (reference
  * default > 90%, tools/profiling.py:55-58).
  *
  * The measurement is the reference's wide-SELECT FILTER batching: 4
  * conditional counts per column, all in a single scan regardless of column
  * count. try_cast everywhere — an uncastable cell becomes NULL, never an
  * error (SAFE_CAST semantics).
  */
object Coercion {

  final case class ColumnEvidence(column: String, nonNull: Long, asLong: Long,
                                  asDouble: Long, asDate: Long, asBool: Long) {
    def rate(n: Long): Double = if (nonNull == 0) 0.0 else n.toDouble / nonNull
    /** Target type in priority order (reference coercion targets:
      * BIGINT > DOUBLE > DATE > BOOLEAN, safe_type_coercion.sql:10-46). */
    def target(threshold: Double): Option[String] =
      if (nonNull == 0) None
      else if (rate(asLong) > threshold) Some("bigint")
      else if (rate(asDouble) > threshold) Some("double")
      else if (rate(asDate) > threshold) Some("date")
      else if (rate(asBool) > threshold) Some("boolean")
      else None
  }

  /** The evidence agg's columns: 5 conditional counts per string column. */
  def measures(cols: Seq[String]): Seq[Column] =
    cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"nn_$c"),
        count(expr(s"try_cast($c as bigint)")).as(s"lg_$c"),
        count(expr(s"try_cast($c as double)")).as(s"db_$c"),
        count(expr(s"try_cast($c as date)")).as(s"dt_$c"),
        count(expr(s"try_cast($c as boolean)")).as(s"bl_$c"))
    }

  /** Evidence read off a row that holds [[measures]]. */
  def evidence(cols: Seq[String], measured: Row): Seq[ColumnEvidence] =
    cols.map { c =>
      ColumnEvidence(c,
        measured.getAs[Long](s"nn_$c"), measured.getAs[Long](s"lg_$c"),
        measured.getAs[Long](s"db_$c"), measured.getAs[Long](s"dt_$c"),
        measured.getAs[Long](s"bl_$c"))
    }

  /** One-scan castability evidence for string columns. */
  def analyze(df: DataFrame, cols: Seq[String]): Seq[ColumnEvidence] = {
    val aggs = measures(cols)
    evidence(cols, df.agg(aggs.head, aggs.tail: _*).head())
  }

  def stringColumns(df: DataFrame): Seq[String] =
    df.schema.fields.filter(_.dataType == StringType).map(_.name).toSeq

  /** column -> target type for every column whose evidence clears
    * `threshold`. */
  def targets(evidence: Seq[ColumnEvidence], threshold: Double): Map[String, String] =
    evidence.flatMap(e => e.target(threshold).map(e.column -> _)).toMap

  /** try_cast each targeted column; the others pass through. */
  def cast(df: DataFrame, targets: Map[String, String]): DataFrame =
    df.select(df.columns.map { c =>
      targets.get(c) match {
        case Some(t) => expr(s"try_cast($c as $t)").as(c)
        case None => col(c)
      }
    }.toSeq: _*)

  /** Coerce every column whose evidence clears `threshold`; others stay
    * string. Invariant (ScalaCheck'd): coercion never loses non-null cells
    * beyond the measured uncastable remainder. */
  def coerce(df: DataFrame, threshold: Double = 0.9): DataFrame = {
    val stringCols = stringColumns(df)
    if (stringCols.isEmpty) df
    else cast(df, targets(analyze(df, stringCols), threshold))
  }
}
