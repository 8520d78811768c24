package graft.sources

import java.util.regex.Pattern
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.core.Measure
import graft.normalize.OverflowRepair

/** CSV recovery path (reference tools/ingestion.py:481-511, 1028-1074):
  * when the strict fast path fails the atomic row-count guarantee, re-parse
  * under each quote/escape strategy with a null-padded wide schema (DuckDB's
  * `null_padding = true` analogue), score each parse by how many padding
  * columns actually caught spilled data, keep the best, repair the overflow,
  * and re-assert zero row loss.
  *
  * Scale: every parse is a distributed scan; the driver reads the file's
  * lines once (line count, header, token width — as the fast path's atomic
  * check does) and one small score row per config. The number of configs is
  * a constant 4, so recovery costs ~5 passes over the one file being
  * recovered — the same multiple the reference pays. Nothing is cached: a
  * cached relation would run as a query stage of its own, one job more per
  * read, while a parse of one small file is one split and its score is one
  * job (see [[graft.core.Measure]]).
  */
object CsvRecovery {

  /** The reference's parse strategies (tools/ingestion.py:481-511): doubled
    * quotes, backslash escapes, single quotes, quoting disabled. */
  final case class Config(quote: String, escape: String, label: String)
  val Configs: Seq[Config] = Seq(
    Config("\"", "\"", "quoted-doubled"),
    Config("\"", "\\", "quoted-backslash"),
    Config("'", "\\", "single-quoted"),
    Config("\u0000", "\u0000", "unquoted"))

  final case class Scored(df: DataFrame, config: Config, rows: Long,
                          spilledCols: Int, shiftedRows: Long, allNullExtras: Seq[String])

  /** Strip one layer of surrounding quotes from a header token. */
  private def unquote(s: String): String = {
    val t = s.trim
    if (t.length >= 2 && (t.head == '"' || t.head == '\'') && t.last == t.head)
      t.substring(1, t.length - 1)
    else t
  }

  /** Recovery load: multi-strategy scored parse -> drop untouched padding ->
    * overflow repair (trailing >=threshold-null columns -> `is_shifted`) ->
    * atomic row-count guarantee. Throws if no strategy preserves every row. */
  def recover(spark: SparkSession, path: String, sep: String = ",",
              header: Boolean = true, overflowThreshold: Double = 0.8): DataFrame = {
    // one driver pass over the non-blank lines: their count, the first one,
    // and the quote-blind token width — the widest row under null-padding.
    // Recovery is line-oriented by construction (multiline quoted records
    // belong to the strict fast path, which handles them before recovery is
    // reached).
    val splitter = Pattern.compile(Pattern.quote(sep))
    val (lineCount, width, firstLine) =
      SourceLines.foldNonBlank(spark, path, (0L, 0, Option.empty[String])) {
        case ((n, w, first), l) =>
          (n + 1, math.max(w, splitter.split(l, -1).length), first.orElse(Some(l)))
      }
    require(firstLine.isDefined, s"csv recovery: $path has no non-blank line")
    val srcRows = lineCount - (if (header) 1L else 0L)
    val headerNames: Seq[String] =
      if (header) splitter.split(firstLine.get, -1).toSeq.map(unquote)
      else Seq.tabulate(width)(i => s"column$i")
    val base = headerNames.length
    val names = headerNames ++ (base until width).map(i => s"column$i")
    val schema = StructType(Seq.tabulate(width)(i => StructField(s"__w$i", StringType)))

    val attempts = Configs.flatMap { cfg =>
      try {
        val df = spark.read
          .option("sep", sep).option("quote", cfg.quote).option("escape", cfg.escape)
          .option("header", header).option("mode", "PERMISSIVE")
          .option("nullValue", "").option("enforceSchema", true)
          .schema(schema).csv(path)
          .toDF(names: _*)
        val extras = names.drop(base)
        val agg = Measure.row(df, count(lit(1)).as("__rows") +:
          extras.map(c => count(col(c)).as(s"nn_$c")) :+
          (if (extras.nonEmpty)
             count(when(extras.map(c => col(c).isNotNull).reduce(_ || _), lit(1)))
               .as("__shifted")
           else lit(0L).as("__shifted")))
        val rows = agg.getAs[Long]("__rows")
        val spilled = extras.count(c => agg.getAs[Long](s"nn_$c") > 0)
        val allNull = extras.filter(c => agg.getAs[Long](s"nn_$c") == 0)
        Some(Scored(df, cfg, rows, spilled, agg.getAs[Long]("__shifted"), allNull))
      } catch { case _: Exception => None }
    }
    require(attempts.nonEmpty, s"csv recovery: no parse strategy succeeded for $path")

    // fewest data-bearing padding columns, then closest row count, then
    // fewest shifted rows; ties resolve to the earliest (most standard) config
    val best = attempts.minBy(s => (s.spilledCols, math.abs(s.rows - srcRows), s.shiftedRows))
    if (best.rows != srcRows)
      throw new IllegalStateException(
        s"csv recovery failed atomic check: best strategy ${best.config.label} " +
          s"loaded ${best.rows} rows vs $srcRows source lines in $path")
    OverflowRepair.repair(best.df.drop(best.allNullExtras: _*), overflowThreshold)
  }
}

/** JSON/JSONL validation + repair with the reference's atomicity guarantee
  * (tools/ingestion.py:618-773; semantics of test_ingestion.py:155-200):
  * malformed records are repaired by heuristics (trailing commas, single
  * quotes); any record that remains unparseable fails the WHOLE load — the
  * exact opposite of Spark's permissive reader, which silently drops bad
  * JSONL lines.
  *
  * Scale: validation and repair are per-line projections over a distributed
  * text scan (`try_parse_json` + regexp), then one distributed JSON parse of
  * the repaired dataset, each re-reading the file rather than a cache (as
  * in [[CsvRecovery]]). Nothing is collected for JSONL; array documents are
  * driver-side by design (the reference uses arrays for report-sized files
  * only) with an explicit size guard.
  */
object JsonRepair {

  /** Repair heuristics (reference tools/ingestion.py:750-773): drop trailing
    * commas before a closing brace/bracket; rewrite single-quoted strings to
    * double-quoted. Applied only to records that failed validation, then
    * re-validated — a record an heuristic would mangle still fails loudly. */
  def repair(c: Column): Column =
    regexp_replace(regexp_replace(c, ",\\s*([}\\]])", "$1"), "'([^']*)'", "\"$1\"")

  private def repairString(s: String): String =
    s.replaceAll(",\\s*([}\\]])", "$1").replaceAll("'([^']*)'", "\"$1\"")

  /** A JSONL parse whose loaded-rows check has not run yet: `frame` holds
    * the parsed records, `sourceRows` counts the file's non-blank lines.
    * Nothing is cached: every action on the frame parses the file again. */
  final case class Jsonl(path: String, frame: DataFrame, sourceRows: Long) {
    /** Atomic-load guarantee: loaded rows == source lines. `measured` is an
      * aggregate row over `frame` that holds the row count as `__total`. */
    def check(measured: Row): Unit = {
      val loaded = measured.getAs[Long]("__total")
      if (loaded != sourceRows)
        throw new IllegalStateException(
          s"json atomic check failed: $loaded rows loaded vs $sourceRows source lines in $path")
    }

    /** The frame, checked by an aggregate of its own. */
    def checked: DataFrame = {
      check(Measure.row(frame, Seq(count(lit(1)).as("__total"))))
      frame
    }
  }

  /** JSONL load: validate every line, repair failures, fail loudly if any
    * line remains unparseable, and assert loaded rows == source lines. */
  def jsonlAtomic(spark: SparkSession, path: String): DataFrame = jsonlParse(spark, path).checked

  /** [[jsonlAtomic]] up to its loaded-rows check, which the caller runs
    * (see [[Jsonl.check]]): a load can read the count off an aggregate it
    * runs anyway.
    *
    * Validation requires each line to be a JSON OBJECT, not merely valid
    * JSON: a bare scalar would pass `try_parse_json` yet land as a junk
    * all-null row, and a top-level array would explode into several rows —
    * both silent corruptions the atomicity contract forbids. */
  def jsonlParse(spark: SparkSession, path: String): Jsonl = {
    import spark.implicits._
    def isObject(c: Column): Column =
      try_parse_json(c).isNotNull && ltrim(c).startsWith("{")
    val checked = spark.read.textFile(path)
      .filter((l: String) => l.trim.nonEmpty)
      .toDF("line")
      .withColumn("fixed",
        when(isObject(col("line")), col("line")).otherwise(repair(col("line"))))
    val counts = Measure.row(checked, Seq(count(lit(1)), count(when(!isObject(col("fixed")), 1))))
    val (n, bad) = (counts.getLong(0), counts.getLong(1))
    if (bad > 0)
      throw new IllegalStateException(
        s"json repair failed: $bad of $n lines are not parseable JSON objects " +
          s"in $path (atomic guarantee: no silent row loss)")
    val out = spark.read.json(checked.select("fixed").as[String])
    if (out.columns.contains("_corrupt_record"))
      throw new IllegalStateException(
        s"json atomic check failed: reader flagged corrupt records in $path")
    Jsonl(path, out, n)
  }

  /** JSON array document load with repair. Array exports are report-sized in
    * the reference (sql/export/to_json.sql), so the document is repaired
    * driver-side under an explicit size guard. */
  def arrayAtomic(spark: SparkSession, path: String,
                  maxBytes: Long = 64L * 1024 * 1024): DataFrame = {
    import spark.implicits._
    val size = java.nio.file.Files.size(java.nio.file.Paths.get(path))
    require(size <= maxBytes,
      s"json array document $path is $size bytes (> $maxBytes); arrays are for " +
        "report-sized files — use JSONL for data")
    val doc = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)
    val out = spark.read.json(Seq(repairString(doc)).toDS())
    if (out.columns.contains("_corrupt_record"))
      throw new IllegalStateException(
        s"json repair failed: document $path remains unparseable after repair")
    out
  }

  /** The array-vs-lines sniff (reference tools/ingestion.py:599-615): does
    * the document open with `[`? */
  def isArrayDocument(path: String): Boolean = {
    val head = {
      val in = new java.io.FileInputStream(path)
      try {
        val buf = new Array[Byte](64)
        val n = in.read(buf)
        new String(buf.take(math.max(n, 0)), java.nio.charset.StandardCharsets.UTF_8)
      } finally in.close()
    }
    head.dropWhile(_.isWhitespace).headOption.contains('[')
  }

  /** Route by [[isArrayDocument]]. */
  def loadAtomic(spark: SparkSession, path: String): DataFrame =
    if (isArrayDocument(path)) arrayAtomic(spark, path) else jsonlAtomic(spark, path)
}
