package graft.pipeline

import java.io.OutputStream
import java.nio.file.{Files, Paths}
import java.security.{DigestInputStream, MessageDigest}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Measure
import graft.lake.TableFormat
import graft.normalize.{ColumnNameNormalizer, OverflowRepair}
import graft.operators.{Cleaning, Coercion}
import graft.sources.{CsvRecovery, DelimiterDetector, Encoding, FormatDetector, Formats,
  JsonRepair, Readers}

/** Per-file processing status, rank-monotonic like the reference's Firestore
  * ledger (services/logger/main.py:14-19 STATUS_RANK): a file's status can
  * only move forward; replayed/out-of-order events cannot regress it. */
object Status {
  /** 'failed' ranks BELOW 'loaded' and ties with 'cleaned': failure is a
    * retryable state, and the fold resolves rank ties toward the newer
    * record, so a successful retry overwrites an earlier failure while a
    * stray late failure can never regress a completed load. */
  val Rank: Map[String, Int] = Map(
    "received" -> 0, "cleaned" -> 1, "failed" -> 1, "loaded" -> 2)
}

final case class FileRecord(fileHash: String, path: String, table: String,
                            status: String, rows: Long)

/** Driver-side idempotency ledger (reference: loader/main.py:44-46 +
  * logger rank-monotonic upsert). File-level state is tiny — thousands of
  * entries, not data — so it lives in a compact JSONL the driver owns; the
  * DATA path stays fully distributed. */
class Ledger(path: String) {
  private val file = Paths.get(path)

  def all(): Map[String, FileRecord] =
    if (!Files.exists(file)) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      val entries = Files.readAllLines(file).asScala.flatMap { ln =>
        ln.split("\t", -1) match {
          case Array(h, p, t, s, r) => Some(FileRecord(h, p, t, s, r.toLong))
          case _ => None
        }
      }.toSeq
      // last-wins per hash, but rank-monotonic
      entries.foldLeft(Map.empty[String, FileRecord]) { (m, r) =>
        m.get(r.fileHash) match {
          case Some(prev) if Status.Rank(prev.status) > Status.Rank(r.status) => m
          case _ => m + (r.fileHash -> r)
        }
      }
    }

  def record(r: FileRecord): Unit = {
    val line = s"${r.fileHash}\t${r.path}\t${r.table}\t${r.status}\t${r.rows}\n"
    Files.write(file, line.getBytes,
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
  }

  def isLoaded(fileHash: String): Boolean =
    all().get(fileHash).exists(_.status == "loaded")

  /** Per-table routing aggregates — the reference logger's table_routing doc
    * (services/logger/main.py:157-190): files/rows loaded counters plus
    * first/last-load markers per target table, maintained there as Firestore
    * transactional increments on LOADER_BIGQUERY_COMPLETE. Here they are a
    * one-line groupBy over the rank-folded ledger view: only files whose
    * final status is 'loaded' count (received/failed/cleaned files are
    * in-flight or dead, and a stray late event can never regress a load —
    * [[all]]'s monotonic fold guarantees it before aggregation). First/last
    * markers use the lexicographic min/max load path, the deterministic
    * stand-in for the reference's wall-clock first_load_at/last_load_at.
    * Ledger state is driver-sized (thousands of files, not data), so the
    * frame is built from the folded map directly. */
  def tableRouting(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val loaded = all().values.filter(_.status == "loaded").toSeq
    loaded.toDF()
      .groupBy(col("table").as("table_name"))
      .agg(
        count(lit(1)).cast("bigint").as("total_files_loaded"),
        sum(col("rows")).cast("bigint").as("total_rows_loaded"),
        min(col("path")).as("first_load_path"),
        max(col("path")).as("last_load_path"))
  }
}

/** The reference's event-driven file pipeline, end to end
  * (services/data-cleaning-agent/main.py:93-236 + loader): detect format ->
  * raw all-VARCHAR load with the atomic row-count guarantee -> normalize
  * column names -> overflow repair -> drop empty rows -> evidence-based
  * coercion -> string cleaning protocol -> processed_at stamp -> duplicate
  * flag -> append into the lake table. Exactly-once per file content via
  * sha256 + the ledger.
  */
object FilePipeline {

  /** sha256 of the file's bytes, streamed: the file is never held whole. */
  def fileHash(path: String): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val in = new DigestInputStream(Files.newInputStream(Paths.get(path)), md)
    try in.transferTo(OutputStream.nullOutputStream())
    finally in.close()
    md.digest().map("%02x".format(_)).mkString
  }

  /** Load a raw file into an all-string DataFrame by detected format. Text
    * formats go through encoding recovery first (reference ensure_utf8,
    * file_detector.py:127-165): BOM/UTF-16/Windows-1252 inputs are transcoded
    * to clean UTF-8 before parsing.
    *
    * CSV follows the reference's fast-path-first control flow
    * (tools/ingestion.py:915-920, 1028-1074): the strict atomic load runs
    * first; only a file that fails it pays for the multi-strategy scored
    * recovery parse ([[graft.sources.CsvRecovery]]). JSON always goes through
    * the validate/repair path ([[graft.sources.JsonRepair]]) because Spark's
    * permissive reader silently drops malformed JSONL lines — the exact row
    * loss the reference's atomic guarantee forbids.
    *
    * The strict CSV and the JSONL checks run here in aggregates of their
    * own; [[processFile]] runs the same parses and checks with the checks'
    * measures inside its load profile instead. Nothing is left cached. */
  def loadRaw(spark: SparkSession, path: String): DataFrame =
    parse(spark, path) { strict =>
      strict.check(Measure.row(strict.frame, strict.measures))
      strict.data
    }(_.checked)(identity)

  /** Load `path` by detected format. `strict` receives a strict CSV parse
    * whose atomic check is still to run; if the check fails, `raw` receives
    * the [[CsvRecovery]] parse instead. Only the check's deliberate failure
    * routes to recovery; infrastructure errors (missing file, FS faults)
    * surface as-is. `jsonl` receives a JSONL parse whose loaded-rows check
    * is still to run, and `raw` every other format's checked frame. */
  private def parse[T](spark: SparkSession, path: String)(strict: Readers.StrictCsv => T)(
      jsonl: JsonRepair.Jsonl => T)(raw: DataFrame => T): T =
    FormatDetector.detect(path) match {
      case Formats.Csv | Formats.Tsv =>
        val utf8 = Encoding.ensureUtf8(path).toString
        val sep = DelimiterDetector.detectFile(spark, utf8).toString
        try strict(Readers.strictCsv(spark, utf8, sep, header = true, multiLine = false))
        catch {
          case _: IllegalStateException => raw(CsvRecovery.recover(spark, utf8, sep = sep))
        }
      case Formats.Json | Formats.Jsonl =>
        val utf8 = Encoding.ensureUtf8(path).toString
        if (JsonRepair.isArrayDocument(utf8)) raw(JsonRepair.arrayAtomic(spark, utf8))
        else jsonl(JsonRepair.jsonlParse(spark, utf8))
      case Formats.Parquet => raw(Readers.parquet(spark, path))
      case Formats.Excel => raw(graft.sources.Excel.read(spark, path))
      case f => throw new IllegalArgumentException(s"unsupported format $f for $path")
    }

  final case class Result(fileHash: String, status: String, rows: Long,
                          skipped: Boolean, quarantinedRows: Long = 0L)

  /** Quarantine table name for overflow-shifted rows. */
  def quarantineTable(table: String): String = s"${table}_quarantine"

  /** Archive a processed inbox file (reference loader/cleanup.py:15-46
    * inbox -> archive move + staging delete): atomic same-volume rename. A
    * transcoded `.utf8` sibling left by [[graft.sources.Encoding.ensureUtf8]]
    * is derived data — deleted so the inbox drains completely. */
  def archive(path: String, archiveDir: String): java.nio.file.Path = {
    val src = Paths.get(path)
    val dir = Paths.get(archiveDir)
    Files.createDirectories(dir)
    Files.deleteIfExists(src.resolveSibling(src.getFileName.toString + ".utf8"))
    Files.move(src, dir.resolve(src.getFileName),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** What a load needs to know about its raw frame: the phantom columns
    * [[OverflowRepair]] drops, the types [[Coercion]] tightens to, and how
    * many rows reach the main and the quarantine table. */
  private final case class Profile(phantom: Seq[String], targets: Map[String, String],
                                   rows: Long, quarantined: Long)

  /** Measure [[Profile]] in ONE aggregate over the raw frame — the same
    * evidence as `OverflowRepair.repair` -> `na.drop("all")` ->
    * `Coercion.coerce` -> `count`, which take three passes:
    *  - an all-null row adds nothing to any `count(c)` or
    *    `count(try_cast(c ...))`, so castability evidence over the raw frame
    *    equals the evidence over its non-empty rows;
    *  - a flag column is never null, so `na.drop("all")` drops no row of a
    *    flagged frame, and its rows split by the flag: the rows whose phantom
    *    columns are all null are clean. A frame without a flag loses its
    *    all-null rows. Both are counts of rows whose last k columns are null,
    *    taken for every k because the phantom run is known only after the
    *    pass.
    *
    * The same aggregate carries `checks`, the measures a strict CSV parse's
    * atomic check reads, so a clean CSV load checks and profiles its file in
    * one job: it runs over `measured`, which holds `named`'s columns and the
    * columns `checks` read. Returns the profile and the aggregate's row. */
  private def profile(named: DataFrame, measured: DataFrame, coercionThreshold: Double,
                      checks: Seq[Column]): (Profile, Row) = {
    val cols = named.columns.toSeq
    val strings = Coercion.stringColumns(named)
    // index of the row's last non-null column, -1 for an all-null row
    val last =
      if (cols.isEmpty) lit(-1)
      else greatest(lit(-1) +: cols.zipWithIndex.map { case (c, i) => when(col(c).isNotNull, i) }: _*)
    val trailingNull = (0 to cols.length).map(k => count(when(last < cols.length - k, 1)).as(s"__null_last_$k"))
    val flagged = cols.contains("is_shifted")
    val split =
      if (flagged) Seq(count(when(!col("is_shifted"), 1)).as("__clean"),
                       count(when(col("is_shifted"), 1)).as("__shifted"))
      else Seq.empty
    val m = Measure.row(measured,
      OverflowRepair.measures(cols) ++ Coercion.measures(strings) ++ trailingNull ++ split ++ checks)
    val phantom = OverflowRepair.phantom(cols, m, OverflowRepair.Threshold)
    val total = m.getAs[Long]("__total")
    def nullLast(k: Int): Long = m.getAs[Long](s"__null_last_$k")
    val (rows, quarantined) =
      if (phantom.nonEmpty) (nullLast(phantom.length), total - nullLast(phantom.length))
      else if (flagged) (m.getAs[Long]("__clean"), m.getAs[Long]("__shifted"))
      else (total - nullLast(cols.length), 0L)
    (Profile(phantom, Coercion.targets(Coercion.evidence(strings, m), coercionThreshold),
      rows, quarantined), m)
  }

  /** The file's raw frame with normalized names, and its profile. A strict
    * CSV parse and a JSONL parse are checked on the profile's own row (its
    * `__total` is the loaded-row count); a CSV that fails the check is
    * recovered and profiled again. */
  private def loadProfiled(spark: SparkSession, path: String,
                           coercionThreshold: Double): (DataFrame, Profile) = {
    def profiled(raw: DataFrame): (DataFrame, Profile) = {
      val named = ColumnNameNormalizer(raw)
      (named, profile(named, named, coercionThreshold, Seq.empty)._1)
    }
    parse(spark, path) { strict =>
      // normalized names never start with '_', so none meets the capture
      val measured = strict.frame.toDF(
        ColumnNameNormalizer.normalizeAll(strict.data.columns.toSeq) :+ Readers.Corrupt: _*)
      val named = measured.drop(Readers.Corrupt)
      val (p, m) = profile(named, measured, coercionThreshold, Seq(Readers.CorruptCount))
      strict.check(m)
      (named, p)
    } { jsonl =>
      val named = ColumnNameNormalizer(jsonl.frame)
      val (p, m) = profile(named, named, coercionThreshold, Seq.empty)
      jsonl.check(m)
      (named, p)
    }(profiled)
  }

  def processFile(spark: SparkSession, path: String, table: String,
                  lake: TableFormat, ledger: Ledger,
                  coercionThreshold: Double = 0.9): Result = {
    val hash = fileHash(path)
    val priorStatus = ledger.all().get(hash).map(_.status)
    if (priorStatus.contains("loaded"))
      return Result(hash, "loaded", 0L, skipped = true)
    ledger.record(FileRecord(hash, path, table, "received", 0L))
    try {
      val (named, p) = loadProfiled(spark, path, coercionThreshold)
      val nonEmpty = OverflowRepair.flag(named, p.phantom).na.drop("all")
      val coerced = Coercion.cast(nonEmpty, p.targets)
      val cleaned = coerced.select(coerced.schema.fields.map { f =>
        if (f.dataType == org.apache.spark.sql.types.StringType)
          Cleaning.protocol(col(f.name)).as(f.name)
        else col(f.name)
      }.toIndexedSeq: _*)
      // processed_at is captured ONCE on the driver and stamped as a literal:
      // current_timestamp() is per-action, and this frame feeds two actions
      // (main append, quarantine append) — a file's main and quarantine rows
      // must carry the same stamp.
      val processedAt = java.time.Instant.now()
      val stamped = cleaned
        .withColumn("processed_at",
          lit(java.sql.Timestamp.from(processedAt)))
        .withColumn("_source_file_hash", lit(hash))
      // Quarantine routing (reference prompts/coordinator.py:63-64: shifted
      // rows are suspect — route them for review, never into silver). Rows
      // the overflow repair flagged go to `<table>_quarantine` WITH the flag
      // column for context; the main table receives only clean rows and
      // keeps its schema free of the flag.
      val good = if (stamped.columns.contains("is_shifted"))
                   stamped.filter(!col("is_shifted")).drop("is_shifted")
                 else stamped
      ledger.record(FileRecord(hash, path, table, "cleaned", p.rows))
      // Idempotent commit token: the file hash travels WITH the data, so a
      // crash between the lake append and the 'loaded' ledger record cannot
      // cause a double append — the re-run finds the hash already committed
      // and only repairs the ledger. The token SCAN runs only when the
      // ledger shows the crash window is possible (this hash reached
      // 'cleaned'/'failed' before): the happy path stays O(new data), not
      // O(table) per file. Main and quarantine commits are checked
      // independently — a crash between the two appends must not drop the
      // quarantine rows on replay.
      val crashWindowPossible = priorStatus.exists(s => s == "cleaned" || s == "failed")
      def alreadyCommitted(t: String): Boolean =
        crashWindowPossible && lake.exists(t) && {
          val df = lake.read(spark, t)
          df.columns.contains("_source_file_hash") &&
            !df.filter(col("_source_file_hash") === hash).isEmpty
        }
      if (!alreadyCommitted(table)) lake.append(good, table)
      if (p.quarantined > 0 && !alreadyCommitted(quarantineTable(table)))
        lake.append(stamped.filter(col("is_shifted")), quarantineTable(table))
      ledger.record(FileRecord(hash, path, table, "loaded", p.rows))
      // the transcoded sibling is derived data; drop it once the load is done
      val utf8Sibling = Paths.get(path).resolveSibling(
        Paths.get(path).getFileName.toString + ".utf8")
      Files.deleteIfExists(utf8Sibling)
      Result(hash, "loaded", p.rows, skipped = false, quarantinedRows = p.quarantined)
    } catch {
      case e: Exception =>
        ledger.record(FileRecord(hash, path, table, "failed", 0L))
        throw e
    }
  }
}
