package graft.lake

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Per-file min/max zone-map sidecar for RANGE file skipping — the
  * manifest-stats layer of an Iceberg-style lake (reference:
  * pmgraham/biglake-iceberg-pipeline terraform/bigquery_tables.tf:97-116
  * declares Iceberg tables whose manifests carry exactly these bounds; no
  * engine-side analogue exists there — this is a beyond-reference scale
  * component). One of the three kinds of evidence [[AutoSkip.read]]'s
  * FileIndex prunes on:
  *
  *  - partition values ([[PartitionedTable]]'s manifest) — by partition value;
  *  - [[BloomIndex]] — point lookups on high-cardinality unclustered ids;
  *  - zone maps (this) — RANGE predicates, where a Bloom filter is blind.
  *
  * Why above-parquet: row-group footer stats prune ranges too, but only
  * AFTER the scheduler has listed, opened and footer-read every file. At
  * 100 TB / ~1M files the win is pruning the FILE LIST driver-side from an
  * index that is files-sized, not data-sized — same argument as the Bloom
  * sidecar, for the orderable columns you did not cluster by.
  *
  * Bounds are stored IN THE COLUMN'S OWN TYPE (one sidecar row per file,
  * a `<col>__min`/`<col>__max`/`<col>__nulls` triple per indexed column),
  * so pruning comparisons are exact — no double rounding on int64 keys, no
  * collation surprises on strings. Strings longer than 32 code units are
  * truncated the way Iceberg truncates manifest bounds: lower bounds
  * truncate to a prefix (always a valid lower bound); upper bounds truncate
  * and INCREMENT the last kept code unit — if no code unit below U+FFFF
  * exists to increment, the full string is kept (correctness first, width
  * second).
  *
  * Superset guarantee: a file that contains a row matching the range always
  * survives [[AutoSkip.read]]'s pruning; false survivors only cost file
  * opens — Spark re-applies the exact predicate after the scan. Rows whose
  * indexed column is NULL never match a range predicate, so all-null files
  * prune away.
  */
object ZoneMapIndex {

  /** Length a string bound is truncated to: code points for the lower
    * bound (Spark's `substring`), UTF-16 code units for the upper bound. */
  private val MaxStrLen = 32

  /** Iceberg-style upper-bound truncation (see Iceberg spec §Appendix D,
    * "Single-value serialization... truncate(L, s)"): keep `maxLen` code
    * units, then increment the last one that is neither U+FFFF nor a
    * surrogate half and drop the rest (U+D7FF steps over the surrogate range
    * to U+E000); None when no kept unit qualifies (no safe short upper
    * bound). A surrogate half is skipped because Spark stores a lone one as
    * '?', which sorts below the value it should bound, and the file would
    * be pruned from reads that match it. */
  private[graft] def truncatedUpper(s: String, maxLen: Int): Option[String] = {
    if (s.length <= maxLen) return Some(s)
    val prefix = s.substring(0, maxLen).toCharArray
    var i = prefix.length - 1
    while (i >= 0 && (prefix(i) == '\uFFFF' || Character.isSurrogate(prefix(i)))) i -= 1
    if (i < 0) None
    else Some(new String(prefix, 0, i) +
      (if (prefix(i) == '\uD7FF') '\uE000' else (prefix(i) + 1).toChar))
  }

  private def boundCols(df: DataFrame, c: String): Seq[Column] = {
    val isStr = df.schema(c).dataType == StringType
    val lower =
      if (isStr) substring(min(col(c)), 1, MaxStrLen)
      else min(col(c))
    val upper =
      if (isStr) {
        val fn = udf((s: String) =>
          if (s == null) null else truncatedUpper(s, MaxStrLen).getOrElse(s))
        fn(max(col(c)))
      } else max(col(c))
    Seq(lower.as(s"${c}__min"), upper.as(s"${c}__max"),
      sum(when(col(c).isNull, 1L).otherwise(0L)).cast("bigint").as(s"${c}__nulls"))
  }

  /** Build the sidecar from a file-backed scan: ONE pass, grouped by the
    * file each row physically lives in, with map-side-combined min/max —
    * shuffle carries files x columns bound pairs, never data. The string
    * `udf` sits on the files-sized AGGREGATED frame (post-shuffle, one value
    * per file), not in the row-scan hot path. */
  def build(table: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "index at least one column")
    cols.foreach { c =>
      val dt = table.schema(c).dataType
      require(org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(dt),
        s"zone maps need an orderable column; $c is ${dt.sql}")
    }
    val aggs = count(lit(1)).cast("bigint").as("rows") +:
      cols.flatMap(boundCols(table, _))
    table.select((input_file_name().as("file") +: cols.map(col)): _*)
      .groupBy("file")
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Incremental sidecar maintenance after appends/compaction — the index
    * stays per-file, so freshness is SET algebra, no retrain: rows for
    * files no longer in the table drop (compaction rewrote them), files the
    * sidecar has stay untouched, and ONLY missing files are read and
    * profiled (the append increment, not the table). The missing-file list
    * is collected driver-side — file-manifest-sized, the same budget the
    * scheduler itself spends listing the table. */
  def refresh(table: DataFrame, index: DataFrame, cols: Seq[String]): DataFrame = {
    val spark = table.sparkSession
    val present = table.select(input_file_name().as("file")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val kept = index.join(present, Seq("file"), "left_semi")
    val missing = present
      .join(index.select("file").distinct(), Seq("file"), "left_anti")
      .collect().map(_.getString(0))
    present.unpersist()
    if (missing.isEmpty) kept
    else kept.unionByName(
      build(spark.read.schema(table.schema).parquet(missing.toIndexedSeq: _*),
        cols))
  }
}
