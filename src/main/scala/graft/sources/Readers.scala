package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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

  /** Atomic-load guarantee (reference tools/ingestion.py:537-557): the loaded
    * row count must equal the source line count (minus header), AND no row may
    * be silently truncated. Spark's permissive CSV keeps a row whose extra
    * tokens overflow the schema but discards the overflow — value loss the
    * row count cannot see — so the data pass re-reads with an explicit
    * `_corrupt_record` column: token-overflow rows land there and fail the
    * load loudly (routing the file to [[CsvRecovery]] in the pipeline).
    * Returns the loaded frame and the cached parse it reads from, which the
    * caller unpersists once the frame's last action has run (a failed load
    * has released it already). */
  def atomicCsv(spark: SparkSession, path: String, sep: String = ",",
                header: Boolean = true,
                multiLine: Boolean = false): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val cols = csvStrict(spark, path, sep = sep, header = header,
      multiLine = multiLine).schema.fieldNames
    val checkedSchema = StructType(
      cols.map(c => StructField(c, StringType)) :+ StructField("_corrupt_record", StringType))
    val df = spark.read
      .option("sep", sep).option("quote", "\"").option("escape", "\\")
      .option("header", header).option("mode", "PERMISSIVE")
      .option("multiLine", multiLine).option("nullValue", "")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(checkedSchema).csv(path)
      .cache()
    val counts = df.agg(count(lit(1)), count(col("_corrupt_record"))).head()
    val (loaded, corrupt) = (counts.getLong(0), counts.getLong(1))
    if (corrupt > 0) {
      df.unpersist()
      throw new IllegalStateException(
        s"atomic load failed: $corrupt malformed rows (token overflow or bad " +
          s"quoting) in $path")
    }
    // the CSV parser silently skips blank/whitespace-only lines; count only
    // lines that can become records so legitimate files don't fail the check
    val rawLines = SourceLines.countNonBlank(spark, path) - (if (header) 1L else 0L)
    if (loaded != rawLines) {
      df.unpersist()
      throw new IllegalStateException(
        s"atomic load failed: $loaded rows loaded vs $rawLines source lines in $path")
    }
    (df.drop("_corrupt_record"), df)
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
