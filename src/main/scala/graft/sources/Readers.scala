package graft.sources

import com.univocity.parsers.csv.CsvParser
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.core.Measure

/** File-format detection + raw readers, mirroring the reference ingestion
  * engine (datagrunt_agent/core/file_detector.py, sql/ingestion/load_*.sql).
  *
  * Raw loads are all-VARCHAR (reference `all_varchar = true`,
  * load_csv.sql:11): schema tightening is a separate, evidence-based step
  * (see [[graft.operators.Coercion]]), exactly like the reference's
  * safe_type_coercion. Readers return plain DataFrames; nothing is collected.
  */
object Formats extends Enumeration {
  val Csv, Tsv, Json, Jsonl, Parquet, Excel, Unknown = Value
}

object FormatDetector {
  /** Extension map (reference: file_detector.py:19-31). */
  def byExtension(path: String): Formats.Value = {
    val ext = path.reverse.takeWhile(_ != '.').reverse.toLowerCase
    ext match {
      case "csv" | "txt" => Formats.Csv
      case "tsv" => Formats.Tsv
      case "json" => Formats.Json
      case "jsonl" | "ndjson" => Formats.Jsonl
      case "parquet" | "pq" => Formats.Parquet
      case "xlsx" | "xls" => Formats.Excel
      case _ => Formats.Unknown
    }
  }

  /** Magic bytes (reference: file_detector.py:34-37): PAR1, PK.., '{'/'['. */
  def byMagic(head: Array[Byte]): Formats.Value = {
    def startsWith(p: Array[Byte]) = head.length >= p.length && head.take(p.length).sameElements(p)
    if (startsWith("PAR1".getBytes)) Formats.Parquet
    else if (startsWith(Array[Byte]('P', 'K', 3, 4))) Formats.Excel
    // OLE2 magic: legacy .xls (Excel.read dispatches zip vs BIFF8 itself)
    else if (startsWith(Array(0xD0, 0xCF, 0x11, 0xE0).map(_.toByte))) Formats.Excel
    else {
      val firstPrintable = head.dropWhile(b => b == ' ' || b == '\n' || b == '\r' || b == '\t')
      if (firstPrintable.headOption.contains('{'.toByte)) Formats.Json
      else if (firstPrintable.headOption.contains('['.toByte)) Formats.Json
      else Formats.Unknown
    }
  }

  def detect(path: String): Formats.Value = {
    val byExt = byExtension(path)
    if (byExt != Formats.Unknown) byExt
    else {
      val in = new java.io.FileInputStream(path)
      try {
        val head = new Array[Byte](16)
        val n = in.read(head)
        byMagic(head.take(math.max(n, 0)))
      } finally in.close()
    }
  }
}

/** Delimiter frequency analysis (reference: core/delimiter_detector.py:18-75):
  * the winning delimiter has a consistent, non-zero per-line count across the
  * sample. Driver-side over a small head sample — never the whole file. */
object DelimiterDetector {
  val Candidates: Seq[Char] = Seq(',', ';', '\t', '|')

  def detect(sampleLines: Seq[String]): Char = {
    val lines = sampleLines.filter(_.nonEmpty)
    if (lines.isEmpty) return ','
    val scored = Candidates.map { d =>
      val counts = lines.map(_.count(_ == d))
      val modal = counts.groupBy(identity).maxBy { case (v, g) => (g.size, v) }._1
      val consistent = counts.count(_ == modal)
      (d, if (modal == 0) -1 else consistent, modal)
    }
    scored.maxBy { case (_, consistent, modal) => (consistent, modal) }._1
  }

  def detectFile(spark: SparkSession, path: String, sample: Int = 100): Char =
    detect(SourceLines.head(spark, path, sample))
}

/** The lines `spark.read.textFile` yields for one uncompressed file, read
  * on the driver instead of by a Spark job. They match it line for line:
  *  - lines break on LF, CR and CRLF, as in Hadoop's `LineReader`, and a
  *    final line break adds no empty line;
  *  - a UTF-8 BOM at the start of the file is dropped, as
  *    `LineRecordReader` drops it;
  *  - each line is decoded as UTF-8 with replacement, as
  *    `UTF8String.toString` decodes it.
  *
  * For a head sample, and for counting the lines of a file the driver
  * already reads whole to hash it. */
object SourceLines {
  private val Bom = Array(0xEF, 0xBB, 0xBF).map(_.toByte)

  def head(spark: SparkSession, path: String, n: Int): Seq[String] =
    withLines(spark, path)(_.take(n).toVector)

  def fold[T](spark: SparkSession, path: String, zero: T)(f: (T, String) => T): T =
    withLines(spark, path)(_.foldLeft(zero)(f))

  /** Fold over the lines that are not blank after `String.trim`: the lines
    * the CSV parser can turn into records. */
  def foldNonBlank[T](spark: SparkSession, path: String, zero: T)(f: (T, String) => T): T =
    withLines(spark, path)(_.filter(_.trim.nonEmpty).foldLeft(zero)(f))

  def countNonBlank(spark: SparkSession, path: String): Long =
    foldNonBlank(spark, path, 0L)((n, _) => n + 1)

  private def withLines[T](spark: SparkSession, path: String)(f: Iterator[String] => T): T = {
    val p = new org.apache.hadoop.fs.Path(path)
    val in = new java.io.PushbackInputStream(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p), Bom.length)
    try {
      val start = in.readNBytes(Bom.length)
      if (!start.sameElements(Bom)) in.unread(start)
      f(new LineIterator(in))
    } finally in.close()
  }

  private final class LineIterator(in: java.io.InputStream) extends Iterator[String] {
    private val chunk = new Array[Byte](64 * 1024)
    private var len = 0
    private var pos = 0
    private val line = new java.io.ByteArrayOutputStream()

    private def read(): Int = {
      if (pos == len) {
        len = math.max(in.read(chunk), 0)
        pos = 0
      }
      if (len == 0) -1 else { pos += 1; chunk(pos - 1) & 0xFF }
    }

    private var b = read()
    def hasNext: Boolean = b != -1
    def next(): String = {
      if (b == -1) throw new NoSuchElementException("no more lines")
      line.reset()
      while (b != -1 && b != '\n' && b != '\r') { line.write(b); b = read() }
      if (b == '\r') { b = read(); if (b == '\n') b = read() }
      else if (b == '\n') b = read()
      line.toString(java.nio.charset.StandardCharsets.UTF_8)
    }
  }
}

/** CSV/JSON/Parquet raw readers (reference load_csv.sql & variants). */
object Readers {

  /** Strict CSV: explicit sep/quote/escape, header, all VARCHAR, permissive
    * with corrupt-record capture (reference load_csv.sql:1-12). */
  def csvStrict(spark: SparkSession, path: String, sep: String = ",",
                quote: String = "\"", escape: String = "\\",
                header: Boolean = true, multiLine: Boolean = false): DataFrame =
    spark.read
      .option("sep", sep).option("quote", quote).option("escape", escape)
      .option("header", header).option("inferSchema", false)
      .option("mode", "PERMISSIVE")
      .option("multiLine", multiLine)
      .option("nullValue", "")
      .csv(path)

  /** Lenient CSV: no quote/escape handling (reference load_csv_lenient.sql). */
  def csvLenient(spark: SparkSession, path: String, sep: String = ",",
                 header: Boolean = true): DataFrame =
    spark.read
      .option("sep", sep)
      .option("quote", "\u0000")
      .option("header", header).option("inferSchema", false)
      .option("mode", "PERMISSIVE")
      .option("nullValue", "")
      .csv(path)

  /** No-header variants rename positional _c0.. to column0.. */
  def csvNoHeader(spark: SparkSession, path: String, sep: String = ",",
                  lenient: Boolean = false): DataFrame = {
    val raw = if (lenient) csvLenient(spark, path, sep, header = false)
              else csvStrict(spark, path, sep, header = false)
    raw.toDF((0 until raw.columns.length).map(i => s"column$i"): _*)
  }

  /** JSONL (newline-delimited) vs JSON array — format sniff by first
    * non-whitespace byte (reference tools/ingestion.py:599-615). */
  def json(spark: SparkSession, path: String): DataFrame = {
    val head = {
      val in = new java.io.FileInputStream(path)
      try {
        val buf = new Array[Byte](64)
        val n = in.read(buf)
        new String(buf.take(math.max(n, 0)), java.nio.charset.StandardCharsets.UTF_8)
      } finally in.close()
    }
    val isArray = head.dropWhile(_.isWhitespace).headOption.contains('[')
    spark.read.option("multiLine", isArray).json(path)
  }

  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** The column the strict parse routes a malformed row's text to. */
  val Corrupt = "_corrupt_record"

  /** The count of malformed rows [[StrictCsv.check]] reads. */
  val CorruptCount: Column = count(col(Corrupt)).as("__corrupt")

  /** A strict CSV parse whose atomic check has not run yet. `frame` holds the
    * header's columns, all strings, and [[Corrupt]]; `sourceRows` counts the
    * source lines that can become records, header excluded. Nothing is
    * cached: every action on the frame parses the file again. */
  final case class StrictCsv(path: String, frame: DataFrame, sourceRows: Long) {
    def data: DataFrame = frame.drop(Corrupt)

    /** [[check]]'s measures over `frame` alone. Spark refuses a query of a
      * raw CSV file that reads only the capture column, so they count every
      * column's values too. */
    def measures: Seq[Column] =
      Seq(count(lit(1)).as("__total"), CorruptCount) ++ data.columns.map(c => count(col(c)))

    /** Atomic-load guarantee (reference tools/ingestion.py:537-557): the
      * loaded row count must equal the source line count (minus header), AND
      * no row may be silently truncated. Spark's permissive CSV keeps a row
      * whose extra tokens overflow the schema but discards the overflow —
      * value loss the row count cannot see — so the parse carries an
      * explicit [[Corrupt]] column: token-overflow rows land there and fail
      * the load loudly (routing the file to [[CsvRecovery]] in the
      * pipeline). `measured` is an aggregate row over `frame` that holds
      * [[CorruptCount]] and the row count as `__total`. */
    def check(measured: Row): Unit = {
      val (loaded, corrupt) = (measured.getAs[Long]("__total"), measured.getAs[Long]("__corrupt"))
      if (corrupt > 0)
        throw new IllegalStateException(
          s"atomic load failed: $corrupt malformed rows (token overflow or bad " +
            s"quoting) in $path")
      if (loaded != sourceRows)
        throw new IllegalStateException(
          s"atomic load failed: $loaded rows loaded vs $sourceRows source lines in $path")
    }
  }

  /** Parse `path` strictly, with the header names and the source line count
    * taken on the driver in one pass over the file's lines (see
    * [[csvHeader]]); no Spark job runs. A file without a non-blank line has
    * no columns to parse: it fails the atomic check here. */
  def strictCsv(spark: SparkSession, path: String, sep: String, header: Boolean,
                multiLine: Boolean): StrictCsv = {
    val (names, lines) = csvHeader(spark, path, sep, header, multiLine)
    if (names.isEmpty)
      throw new IllegalStateException(s"atomic load failed: no non-blank line in $path")
    val schema = StructType(
      names.map(StructField(_, StringType)) :+ StructField(Corrupt, StringType))
    val frame = spark.read
      .options(csvOptions(sep, header, multiLine))
      .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", Corrupt)
      .schema(schema).csv(path)
    // the CSV parser silently skips blank/whitespace-only lines; count only
    // lines that can become records so legitimate files don't fail the check
    StrictCsv(path, frame, lines - (if (header) 1L else 0L))
  }

  /** The strict parse of [[atomicCsv]] and [[strictCsv]]: [[csvStrict]]'s
    * quote, escape and null settings. */
  private def csvOptions(sep: String, header: Boolean, multiLine: Boolean): Map[String, String] =
    Map("sep" -> sep, "quote" -> "\"", "escape" -> "\\", "header" -> header.toString,
      "multiLine" -> multiLine.toString, "nullValue" -> "")

  /** The column names `csvStrict(...).schema` infers, and the number of
    * lines that are not blank after `String.trim`, from one driver pass.
    * Spark infers the names from the first line that is not empty after
    * trimming spaces; it parses that line with the reader's own univocity
    * settings and makes the names safe: an empty or null-value name becomes
    * `_c<i>`, and a duplicate name (case-insensitive unless
    * `spark.sql.caseSensitive`) gets its index appended. A header must sit
    * on one line. */
  private def csvHeader(spark: SparkSession, path: String, sep: String, header: Boolean,
                        multiLine: Boolean): (Seq[String], Long) = {
    val (first, lines) = SourceLines.fold(spark, path, (Option.empty[String], 0L)) {
      case ((first, n), l) =>
        (first.orElse(Some(l).filter(_.exists(_ != ' '))), if (l.trim.nonEmpty) n + 1 else n)
    }
    val options = new CSVOptions(csvOptions(sep, header, multiLine), true,
      spark.conf.get("spark.sql.session.timeZone"))
    val names = first.flatMap(l => Option(new CsvParser(options.asParserSettings).parseLine(l)))
      .map(CSVUtils.makeSafeHeader(_, spark.conf.get("spark.sql.caseSensitive").toBoolean, options))
    (names.toSeq.flatten, lines)
  }

  /** The strict parse, checked by its own aggregate: a clean file's frame,
    * or an `IllegalStateException` for a file that breaks the atomic-load
    * guarantee (see [[StrictCsv.check]]). */
  def atomicCsv(spark: SparkSession, path: String, sep: String = ",",
                header: Boolean = true, multiLine: Boolean = false): DataFrame = {
    val strict = strictCsv(spark, path, sep, header, multiLine)
    strict.check(Measure.row(strict.frame, strict.measures))
    strict.data
  }
}

/** Sinks (reference: the templates under sql/export/ + tools/export.py). Parquet is the
  * canonical output; Avro/ORC round out the columnar formats available in
  * this Spark build. JSON-array export is driver-side by design in the
  * reference (single report files), but here it stays distributed: JSONL out,
  * with the array form left to consumers. */
object Sinks {
  def parquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)
  def csv(df: DataFrame, path: String, header: Boolean = true): Unit =
    df.write.mode("overwrite").option("header", header).csv(path)
  def jsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)
  def orc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** JSON-array export (reference sql/export/to_json.sql `ARRAY true`) — a
    * single `[...]` document. The reference uses this for report-sized
    * outputs only; `maxRows` guards against someone pointing it at data
    * (collects to the driver by design). */
  def jsonArray(df: DataFrame, path: String, maxRows: Int = 100000): Unit = {
    val rows = df.toJSON.take(maxRows + 1)
    require(rows.length <= maxRows,
      s"jsonArray is for report-sized outputs (> $maxRows rows); use jsonl")
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      rows.mkString("[", ",", "]").getBytes("UTF-8"))
  }
}
