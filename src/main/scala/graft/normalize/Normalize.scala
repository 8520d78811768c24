package graft.normalize

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.core.Measure

/** Column-name normalization to lowercase snake_case with camelCase expansion
  * and duplicate suffixes (reference: datagrunt_agent/core/column_normalizer.py:16-63).
  * Pure driver-side string work — schema metadata, never data.
  */
object ColumnNameNormalizer {

  def normalizeName(name: String): String = {
    val expanded = name
      // camelCase / PascalCase boundaries -> underscore
      .replaceAll("([a-z0-9])([A-Z])", "$1_$2")
      .replaceAll("([A-Z]+)([A-Z][a-z])", "$1_$2")
    val cleaned = expanded.toLowerCase
      .replaceAll("[^a-z0-9]+", "_")
      .replaceAll("_+", "_")
      .stripPrefix("_").stripSuffix("_")
    val base = if (cleaned.isEmpty) "col" else cleaned
    if (base.head.isDigit) s"c_$base" else base
  }

  /** Normalize all names; duplicates get _1, _2 suffixes in column order
    * (reference dedup suffixes, column_normalizer.py). */
  def normalizeAll(names: Seq[String]): Seq[String] = {
    val used = scala.collection.mutable.Set.empty[String]
    names.map { n =>
      val base = normalizeName(n)
      // the suffixed candidate must itself be collision-checked: for input
      // (a, a, a_1) the naive a_1 suffix would collide with the third column
      var candidate = base
      var k = 0
      while (used.contains(candidate)) {
        k += 1
        candidate = s"${base}_$k"
      }
      used += candidate
      candidate
    }
  }

  def apply(df: DataFrame): DataFrame = df.toDF(normalizeAll(df.columns.toSeq): _*)
}

/** CSV overflow repair (reference: sql/ingestion/repair_overflow.sql +
  * tools/ingestion.py:222-296): trailing columns that are >= `threshold` null
  * are parser-overflow phantoms — drop them, and flag rows that had spilled
  * values with `is_shifted`. One wide agg to measure, one projection to fix.
  */
object OverflowRepair {
  val Threshold = 0.8

  /** The measuring agg's columns: the row count and every column's
    * non-null count. */
  def measures(cols: Seq[String]): Seq[Column] =
    count(lit(1)).as("__total") +: cols.map(c => count(col(c)).as(s"nn_$c"))

  /** The trailing run of >= threshold-null columns, read off a row that
    * holds [[measures]]. */
  def phantom(cols: Seq[String], measured: Row, threshold: Double): Seq[String] = {
    val total = measured.getAs[Long]("__total")
    if (total == 0) return Seq.empty
    def nullRate(c: String) = (total - measured.getAs[Long](s"nn_$c")).toDouble / total
    cols.reverse.takeWhile(c => nullRate(c) >= threshold).reverse
  }

  /** Drop the phantom columns and flag the rows that spilled into them. */
  def flag(df: DataFrame, phantom: Seq[String]): DataFrame =
    if (phantom.isEmpty) df
    else {
      val keep = df.columns.toSeq.dropRight(phantom.length)
      val spill = phantom.map(c => col(c).isNotNull).reduce(_ || _)
      df.withColumn("is_shifted", spill).select((keep :+ "is_shifted").map(col): _*)
    }

  def repair(df: DataFrame, threshold: Double = Threshold): DataFrame = {
    val cols = df.columns.toSeq
    flag(df, phantom(cols, Measure.row(df, measures(cols)), threshold))
  }
}
