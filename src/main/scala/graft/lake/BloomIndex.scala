package graft.lake

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Measure

/** Per-file Bloom-filter sidecar for point-lookup file skipping — the lake
  * analogue of Delta's bloom filter index, for columns footer min/max stats
  * cannot prune (high-cardinality ids scattered across every file: user_id
  * in an event log, doc_id in a corpus). Z-order ([[ZOrder]]) is the layout
  * answer for up-to-a-few clustered columns; the Bloom sidecar is the
  * answer for the columns you did NOT cluster by.
  *
  * Same Kirsch-Mitzenmacher double-hash construction as the query-time
  * Bloom join (graft.operators.Scale.bloomPrune — reference
  * pmgraham/biglake-iceberg-pipeline has no analogue; this is a
  * beyond-reference scale component), but aggregated PER FILE at write/index
  * time and persisted, so membership tests run against an index of
  * files x bits/64 rows without touching data files at all.
  *
  * 100 TB shape: build is ONE scan with a map-side-combined bit_or
  * aggregate (shuffle carries at most files x bits/64 words); lookup cost
  * is index-sized, never data-sized; [[AutoSkip.read]] then opens only
  * candidate files. No false negatives by construction — a file containing
  * a looked-up value always survives; false positives only cost extra file
  * opens, never wrong results, because Spark re-applies the exact predicate
  * after the scan.
  *
  * Maintenance is [[AutoSkip.index]]'s and the lake's commit hook's: one
  * driver-side difference between the files a [[Sidecar]] covers and the
  * manifest's live files keeps the rows of live files, drops the rest, and
  * runs [[build]] over only the uncovered live files under the stored
  * (bits, k).
  */
object BloomIndex {

  private def h1(c: Column, bits: Int) = pmod(xxhash64(c), lit(bits.toLong))
  private def h2(c: Column, bits: Int) =
    pmod(xxhash64(c, lit(0x9e3779b9L)), lit(bits.toLong))
  /** Kirsch-Mitzenmacher: position_i = (h1 + i*h2) mod bits, both hashes
    * pre-reduced into [0, bits) so the mix can never overflow ANSI mode. */
  private def pos(c: Column, i: Int, bits: Int) =
    pmod(h1(c, bits) + lit(i.toLong) * h2(c, bits), lit(bits.toLong))

  private def requireParams(bits: Int, k: Int): Unit = {
    require(bits >= 64 && (bits & (bits - 1)) == 0,
      "bits must be a power of two >= 64")
    require(k >= 1 && k <= 8, "k must be in [1, 8]")
  }

  /** Build the sidecar from a file-backed scan: one pass, grouped by the
    * file each row physically lives in — (file, w, bm, bits, k) where word
    * `w` holds bits [64w, 64w+64) of that file's filter. Size per file is AT
    * MOST bits/64 rows (only words with a set bit materialize), so sizing
    * bits for the expected distinct-per-file count is a memory knob, not a
    * correctness one.
    *
    * The (bits, k) hash parameters are PERSISTED ON EVERY INDEX ROW: bit
    * positions are only meaningful under the parameters that computed them,
    * so an index queried with different parameters would silently return
    * false negatives — missing files, breaking the superset guarantee. The
    * read path ([[candidateFiles]]) therefore takes no parameter
    * arguments at all; it recovers them from the index, surviving any lake
    * round-trip. Two int32 columns per ≤ bits/64 rows per file is sidecar
    * noise next to the 8-byte bitmap word they ride with. */
  def build(table: DataFrame, c: String, bits: Int = 1 << 16, k: Int = 2): DataFrame = {
    requireParams(bits, k)
    // hash the CANONICAL STRING form so build and lookup agree regardless of
    // the column's native type (xxhash64 of 5L and of "5" differ)
    table.select(input_file_name().as("file"), col(c).cast("string").as("__c"))
      .na.drop()
      .select(col("file"),
        explode(array((0 until k).map(i => pos(col("__c"), i, bits)): _*)).as("p"))
      .groupBy(col("file"), expr("p div 64").as("w"))
      .agg(bit_or(expr("shiftleft(cast(1 as bigint), cast(p % 64 as int))")).as("bm"))
      .withColumn("bits", lit(bits))
      .withColumn("k", lit(k))
  }

  /** A sidecar resolved for lookups: the files it covers and the (bits, k)
    * it was BUILT with. */
  final case class Sidecar(index: DataFrame, files: Set[String], bits: Int, k: Int)

  /** Resolve `index` in one index-sized aggregate (the sidecar is files x
    * bits/64 rows): its covered files and its stored (bits, k) — never trust
    * a caller default on the read path. A mixed-parameter index fails loudly
    * instead of returning silent false negatives. */
  def sidecar(index: DataFrame): Sidecar = {
    require(index.columns.contains("bits") && index.columns.contains("k"),
      "index carries no (bits, k) metadata (a pre-r9 legacy sidecar) — " +
        "rebuild it with BloomIndex.build; the deliberate loud break beats " +
        "trusting a caller default that may silently false-negative")
    val m = Measure.row(index,
      Seq(collect_set(col("file")), collect_set(struct(col("bits"), col("k")))))
    val ps = m.getSeq[Row](1)
    require(ps.length == 1,
      s"index carries ${ps.length} distinct (bits, k) pairs — refusing to guess; " +
        "rebuild the index under one parameter set")
    val (bits, k) = (ps.head.getInt(0), ps.head.getInt(1))
    requireParams(bits, k)
    Sidecar(index, m.getSeq[String](0).toSet, bits, k)
  }

  /** Files that MIGHT contain at least one of `values` in column `c`: a
    * value is admitted by a file iff ALL k of its bits are set in that
    * file's filter. Index-sized work only — the lookup set joins the
    * sidecar on word index, no data file is opened. Superset guarantee:
    * every file truly containing a value is returned. Hash parameters come
    * from the index itself (see [[build]]). */
  def candidateFiles(spark: SparkSession, index: DataFrame,
                     values: Seq[Any]): Seq[String] =
    if (values.isEmpty) Seq.empty else candidateFiles(spark, sidecar(index), values)

  /** [[candidateFiles]] over a sidecar already resolved: one membership
    * join, no parameter pass. */
  def candidateFiles(spark: SparkSession, s: Sidecar, values: Seq[Any]): Seq[String] = {
    if (values.isEmpty) return Seq.empty
    val Sidecar(index, _, bits, k) = s
    import spark.implicits._
    val vals = values.map(_.toString).toDF("__v").na.drop().distinct()
    val positions = vals.select(col("__v"),
      posexplode(array((0 until k).map(i => pos(col("__v"), i, bits)): _*)))
      .toDF("__v", "i", "p")
      .withColumn("w", expr("p div 64"))
    positions.join(index.select("file", "w", "bm"), Seq("w"))
      .filter(expr("(shiftright(bm, cast(p % 64 as int)) & cast(1 as bigint)) = 1"))
      .groupBy(col("file"), col("__v"))
      .agg(countDistinct(col("i")).as("hit_bits"))
      .filter(col("hit_bits") === k)
      .select("file").distinct()
      .collect().map(_.getString(0)).toSeq
  }
}
