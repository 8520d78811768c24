package graft.lake

import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetReadSupport}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

/** PLANNER-INTEGRATED data skipping: a [[FileIndex]] that prunes on each
  * data file's own Parquet footer statistics and on the [[BloomIndex]]
  * sidecar, from the filters Spark itself pushes down — so a plain
  * `AutoSkip.read(spark, root, t).filter(...)` prunes files for ANY
  * predicate, without the caller naming an index (the reference gets this
  * transparently from its engine: pmgraham/biglake-iceberg-pipeline
  * terraform/bigquery_tables.tf:97-116 declares Iceberg tables, whose
  * manifests carry per-file column bounds written with the data, and
  * tools/quality.py queries never name an index — the engine prunes). It is
  * the lake's only pruned read path: the skipping gates in
  * [[graft.queries.Events]] go through it too.
  *
  * How it plugs into Spark: [[read]] returns a DataFrame over a
  * `HadoopFsRelation` whose location is a [[SidecarFileIndex]]. Catalyst
  * optimizes the query normally; `FileSourceStrategy` hands the pushed-down
  * data filters to `FileIndex.listFiles`, which keeps only files whose
  * evidence admits a match. The physical plan RETAINS the full filter, so
  * pruning can only drop files that provably contain no matching row —
  * correctness never depends on the evidence, it only shrinks I/O.
  *
  * Range and partition evidence: the footer of every live file, read once
  * on the driver per read handle (no Spark job), gives both the handle's
  * schema and each column's [min, max], nulls and rows, folded over its row
  * groups. Partition columns live in the data files ([[PartitionedTable]]'s
  * shadow layout), so the footer bounds them too. The evidence cannot go
  * stale: data files are immutable, and the footer is written with them.
  *
  * Point evidence: one Bloom sidecar per indexed column. Superset guarantee
  * under churn: commits add or remove whole files, never rewrite in place,
  * and a file the sidecar does not cover is kept UNCONDITIONALLY. So a stale
  * sidecar — mid-refresh, racing an append or compaction, missing entirely,
  * torn — can only cost extra file opens, never rows. The pruning decision
  * per file: (no footer evidence OR bounds overlap) AND (no bloom evidence
  * OR bloom admits).
  *
  * Cost at scale: one footer read per live file per read handle — the
  * driver already lists every live file to plan the scan, and a footer is
  * a few KB at the file's tail. The Bloom membership test runs as one
  * index-sized Spark job per distinct point-value set, never touching data
  * files. */
object AutoSkip {

  /** The one key a data file is known by on the read path: the decoded
    * path component of its URI. Both sides take the URI form — a manifest
    * listing's `getPath.toUri`, a sidecar's `input_file_name()` string — so
    * a `%`-escaped partition directory (`s=%09P`) keys alike on both. */
  private[graft] def fileKey(uri: String): String = new java.net.URI(uri).getPath
  private def fileKey(st: FileStatus): String = st.getPath.toUri.getPath

  private def idxLake(root: String, t: String) =
    new ParquetDirFormat(s"$root/$t/idx")
  private def bloomTable(c: String) = s"bloom__$c"

  // serialize in-process refreshers per table: two concurrent index() calls
  // racing the SAME next version of the sidecar lake could tear each other's
  // snapshot write (ParquetDirFormat is single-writer; the DATA lake's CAS
  // protocol is PartitionedTable's). Cross-process races stay benign — a
  // torn generation reads as "no sidecar" and costs pruning, never rows.
  private val refreshLocks =
    scala.collection.concurrent.TrieMap.empty[String, Object]

  /** Check the table's range columns and build (or refresh) one Bloom
    * filter per `bloomCols` entry. Range evidence comes from the data
    * files' footers, so nothing is stored for `zoneCols`: each must exist
    * and be orderable. The Bloom sidecars are VERSIONED
    * [[ParquetDirFormat]] tables under the table directory, so every later
    * [[read]] finds them without being told. Each refresh that changes a
    * sidecar commits a NEW immutable snapshot and old generations are
    * retained (see [[expireIndexGenerations]]), so a read handle opened
    * against any committed generation stays stable under concurrent
    * refreshes — the superset guarantee needs no coordination. */
  def index(spark: SparkSession, root: String, t: String,
            zoneCols: Seq[String], bloomCols: Seq[String] = Seq.empty): Unit = {
    val table = PartitionedTable.open(root, t)
    val files = table.dataFileStatuses(t).map(_._2)
    if (zoneCols.nonEmpty) {
      val schema = footerSchema(footers(spark, files)).getOrElse(table.read(spark, t).schema)
      zoneCols.foreach { c =>
        val dt = schema(c).dataType
        require(RowOrdering.isOrderable(dt),
          s"range skipping needs an orderable column; $c is ${dt.sql}")
      }
    }
    refreshBlooms(spark, root, t, table, files, bloomCols)
  }

  /** Bring each `cols` Bloom sidecar to the live file list `files`: one
    * driver-side set difference between the files the sidecar covers and
    * the live ones. Rows of live files are kept, rows of files no longer
    * live drop, and only uncovered live files are read — by their
    * `FileStatus`, never by a path string — under the sidecar's stored
    * (bits, k). A sidecar already current commits nothing. */
  private def refreshBlooms(spark: SparkSession, root: String, t: String,
                            table: PartitionedTable, files: Seq[FileStatus],
                            cols: Seq[String]): Unit =
    refreshLocks.getOrElseUpdate(s"$root/$t", new Object).synchronized {
      val lake = idxLake(root, t)
      val live = files.map(fileKey).toSet
      cols.foreach { c =>
        val name = bloomTable(c)
        val current =
          if (lake.exists(name)) Some(BloomIndex.sidecar(lake.read(spark, name))) else None
        val covered = current.fold(Set.empty[String])(_.files.filter(f => live(fileKey(f))))
        val coveredKeys = covered.map(fileKey)
        val uncovered = files.filterNot(st => coveredKeys(fileKey(st)))
        if (current.forall(s => uncovered.nonEmpty || covered.size < s.files.size)) {
          def built = {
            val schema = footerSchema(footers(spark, uncovered))
              .filter(_.fieldNames.contains(c)).getOrElse(table.read(spark, t).schema)
            val scan = frameOver(spark, new SidecarFileIndex(spark, new HPath(s"$root/$t"),
              uncovered, Map.empty, Seq.empty, _ => None), StructType(Seq(schema(c))))
            current.fold(BloomIndex.build(scan, c))(s => BloomIndex.build(scan, c, s.bits, s.k))
          }
          val snap = current match {
            case None => built
            case Some(s) =>
              val kept = s.index.filter(col("file").isin(covered.toSeq: _*))
              if (uncovered.isEmpty) kept else kept.unionByName(built)
          }
          lake.overwrite(snap.coalesce(1), name)
        }
      }
    }

  /** Maintenance: drop superseded sidecar generations, RETAINING the
    * `retainLast` most recent predecessors of the current one (each refresh
    * that changes a sidecar commits a new generation, so in-flight read
    * handles opened up to `retainLast` refreshes ago keep their snapshot;
    * older handles degrade to unpruned-but-correct reads via the superset
    * guarantee). The write-transparent refresh ([[refreshAfterCommit]])
    * applies this policy automatically so per-commit refreshes cannot
    * accumulate one sidecar snapshot per table commit forever; call
    * directly for a tighter schedule. */
  def expireIndexGenerations(root: String, t: String, retainLast: Int = 0): Unit = {
    val lake = idxLake(root, t)
    lake.tables().filter(_.startsWith("bloom__"))
      .foreach(lake.expireSnapshots(_, retainLast))
  }

  /** How many superseded sidecar generations a write-transparent refresh
    * retains (see [[expireIndexGenerations]]). */
  val CommitRefreshRetain = 3

  /** WRITE-transparent sidecar maintenance — the commit hook
    * [[PartitionedTable]] calls after a successful data commit: iff the
    * table has Bloom sidecars (someone called [[index]] with Bloom columns
    * at least once), refresh them against the just-committed manifest's
    * file list, discovering the indexed columns from the `bloom__<c>` table
    * names. A plain `append` → plain [[read]] therefore prunes the NEW
    * files with no `index()` call in user code — the reference's engines
    * maintain statistics on every load the same way (BigQuery keeps Iceberg
    * metadata itself, terraform/bigquery_tables.tf:97-116; DuckDB computes
    * zone maps at write time).
    *
    * Cost: one index-sized aggregate per Bloom column to learn the covered
    * files, then a read of only the live files the sidecar does not cover.
    * For APPENDS that is the increment just written; for REWRITE verbs
    * (overwrite/compact/z-order/heavy upserts) it is what the commit
    * rewrote — proportional to the commit's own write volume, never to an
    * untouched remainder. Un-indexed tables pay one directory listing. Old
    * generations beyond [[CommitRefreshRetain]] are expired here too, so
    * steady-state sidecar storage is O(retain), not O(commits). Failure
    * NEVER fails the data commit (it already landed): any error degrades to
    * a stale sidecar, which the superset guarantee makes
    * correct-but-unpruned. The sidecars themselves live in a
    * [[ParquetDirFormat]] lake, whose commits never call this hook. */
  private[lake] def refreshAfterCommit(spark: SparkSession, root: String, t: String): Unit =
    try {
      val bloomCols = scala.util.Try(idxLake(root, t).tables()).getOrElse(Seq.empty)
        .filter(_.startsWith("bloom__")).map(_.stripPrefix("bloom__"))
      if (bloomCols.nonEmpty) {
        val table = PartitionedTable.open(root, t)
        refreshBlooms(spark, root, t, table, table.dataFileStatuses(t).map(_._2), bloomCols)
        expireIndexGenerations(root, t, CommitRefreshRetain)
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        log.warn(s"sidecar refresh after commit on $root/$t failed " +
          s"(reads stay correct, pruning may lag until the next refresh): $e")
    }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Open the table for reading THROUGH its evidence: any filter later
    * applied to the returned frame prunes files automatically. Missing or
    * unreadable sidecars degrade to an unpruned (still correct) scan. The
    * handle snapshots the manifest at call time, like every other read in
    * this lake. */
  def read(spark: SparkSession, root: String, t: String): DataFrame = {
    val table = PartitionedTable.open(root, t)
    val files = footers(spark, table.dataFileStatuses(t).map(_._2))
    val schema = footerSchema(files).getOrElse(table.read(spark, t).schema)
    val zones = files.map { case (st, meta) => fileKey(st) -> footerZones(meta, schema) }.toMap

    // a column's Bloom sidecar resolves through the VERSIONED index lake:
    // the handle pins one committed immutable generation, resolved LAZILY on
    // the first listFiles that pins a point value on that column (a read
    // must not pay a Spark job for a sidecar it cannot use). Existence-gated
    // (no probe cost for indexes never built); a torn/unreadable sidecar
    // degrades to "no pruning" via the Try.
    val lake = idxLake(root, t)
    val bloomF: StructField => Option[BloomSidecar] = f =>
      scala.util.Try {
        if (!lake.exists(bloomTable(f.name))) None
        else {
          val s = BloomIndex.sidecar(lake.read(spark, bloomTable(f.name)))
          Some(BloomSidecar(s, s.files.map(fileKey)))
        }
      }.toOption.flatten

    frameOver(spark, new SidecarFileIndex(spark, new HPath(s"$root/$t"),
      files.map(_._1), zones, schema.fields.toSeq.filter(f => bloomSafeType(f.dataType)),
      bloomF), schema)
  }

  private def frameOver(spark: SparkSession, index: FileIndex, schema: StructType): DataFrame = {
    val relation = HadoopFsRelation(index, new StructType(), schema, None,
      new ParquetFileFormat, Map.empty[String, String])(spark)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .baseRelationToDataFrame(relation)
  }

  /** Each file's footer with its row-group statistics, read on the driver. */
  private def footers(spark: SparkSession,
                      files: Seq[FileStatus]): Seq[(FileStatus, ParquetMetadata)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    files.map(st => st -> ParquetFileReader.readFooter(conf, st, ParquetMetadataConverter.NO_FILTER))
  }

  private def sparkSchemaOf(meta: ParquetMetadata): Option[StructType] =
    Option(meta.getFileMetaData.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
      .map(DataType.fromJson(_).asInstanceOf[StructType])

  /** The schema a merged parquet read of the files yields, from their
    * footers instead of by a Spark job. Spark merges the files' schemas in
    * the order of their paths: the first file's columns in its order, then
    * each column a later file adds, all nullable. Files of one table may
    * order their columns differently (a write keeps its frame's order), so
    * the table's SCHEMA file cannot stand in. None — the merged read
    * decides — when there is no file, a footer carries no Spark schema, or
    * two files type a column differently. */
  private def footerSchema(files: Seq[(FileStatus, ParquetMetadata)]): Option[StructType] = {
    val schemas = files.sortBy(_._1.getPath.toString).map(f => sparkSchemaOf(f._2))
    if (schemas.isEmpty || schemas.contains(None)) None
    else {
      val all = schemas.flatten.flatMap(_.fields)
      val fields = all.distinctBy(_.name)
      val typed = fields.map(f => f.name -> f.dataType).toMap
      if (all.forall(f => typed(f.name) == f.dataType)) Some(StructType(fields).toNullable)
      else None
    }
  }

  /** Per-column evidence of one file, folded over its row groups under
    * each column's Spark ordering, for the `schema` columns the file
    * stores with the same type. A column gets no entry — the file is kept
    * for any predicate on it — when a row group has no statistics or no
    * null count, or lacks min/max though it holds a non-null value (parquet
    * drops them for a chunk holding a NaN, or when together they pass
    * 4 KB), or when the column is nested or its type has no mapping in
    * [[statValue]]. */
  private def footerZones(meta: ParquetMetadata, schema: StructType): Map[String, ColZone] = {
    val own = sparkSchemaOf(meta).map(_.fields.map(f => f.name -> f.dataType).toMap)
      .getOrElse(Map.empty)
    // Spark's SPARK_LEGACY_DATETIME_METADATA_KEY (private to its sql package)
    val legacyDates = meta.getFileMetaData.getKeyValueMetaData
      .containsKey("org.apache.spark.legacyDateTime")
    val blocks = meta.getBlocks.asScala.toSeq
    schema.fields.toSeq.filter(f => own.get(f.name).contains(f.dataType)).flatMap { f =>
      val ord = TypeUtils.getInterpretedOrdering(f.dataType)
      def lo(a: Any, b: Any) = if (a == null || (b != null && ord.lt(b, a))) b else a
      def hi(a: Any, b: Any) = if (a == null || (b != null && ord.gt(b, a))) b else a
      val zones = blocks.map(b => for {
        cc <- b.getColumns.asScala.find(_.getPath.toArray.sameElements(Array(f.name)))
        conv <- statValue(f.dataType, cc.getPrimitiveType, legacyDates)
        z <- chunkZone(cc.getStatistics, b.getRowCount, conv)
      } yield z)
      if (zones.contains(None)) None
      else Some(f.name -> zones.flatten.foldLeft(ColZone(null, null, 0L, 0L))((a, z) =>
        ColZone(lo(a.min, z.min), hi(a.max, z.max), a.nulls + z.nulls, a.rows + z.rows)))
    }.toMap
  }

  /** One row group's evidence for a column, or None when it gives none. */
  private def chunkZone(s: Statistics[_], rows: Long, conv: Any => Any): Option[ColZone] =
    if (s == null || s.isEmpty || !s.isNumNullsSet) None
    else if (s.hasNonNullValue)
      Some(ColZone(conv(s.genericGetMin), conv(s.genericGetMax), s.getNumNulls, rows))
    else if (s.getNumNulls >= rows) Some(ColZone(null, null, s.getNumNulls, rows))
    else None

  /** How a footer statistic of physical type `p` becomes the CATALYST value
    * of Spark type `dt`; None for types without a mapping (INT96 or
    * nanosecond timestamps) and for dates and timestamps a legacy-calendar
    * writer rebased. Parquet orders strings by unsigned
    * bytes, which is Spark's UTF8_BINARY order. */
  private def statValue(dt: DataType, p: PrimitiveType, legacyDates: Boolean): Option[Any => Any] = {
    import PrimitiveTypeName._
    (dt, p.getPrimitiveTypeName) match {
      case (LongType, INT64) | (IntegerType, INT32) | (BooleanType, BOOLEAN) |
           (DoubleType, DOUBLE) | (FloatType, FLOAT) => Some(identity)
      case (ShortType, INT32) => Some(v => v.asInstanceOf[Integer].toShort)
      case (ByteType, INT32) => Some(v => v.asInstanceOf[Integer].toByte)
      case (DateType, INT32) if !legacyDates => Some(identity)
      case (StringType, BINARY) => Some(v => UTF8String.fromBytes(v.asInstanceOf[Binary].getBytes))
      case (d: DecimalType, INT32 | INT64) =>
        Some(v => Decimal(v.asInstanceOf[Number].longValue, d.precision, d.scale))
      case (d: DecimalType, FIXED_LEN_BYTE_ARRAY | BINARY) =>
        Some(v => Decimal(new java.math.BigDecimal(
          new java.math.BigInteger(v.asInstanceOf[Binary].getBytes), d.scale), d.precision, d.scale))
      case (TimestampType | TimestampNTZType, INT64) if !legacyDates =>
        p.getLogicalTypeAnnotation match {
          case ts: TimestampLogicalTypeAnnotation if ts.getUnit == TimeUnit.MICROS => Some(identity)
          case ts: TimestampLogicalTypeAnnotation if ts.getUnit == TimeUnit.MILLIS =>
            Some(v => Math.multiplyExact(v.asInstanceOf[java.lang.Long].longValue, 1000L))
          case _ => None
        }
      case _ => None
    }
  }

  /** The [[SidecarFileIndex]] behind a frame [[read]] produced (after any
    * number of filters/projections/joins; the first one in the plan) — lets
    * specs assert which files the last action actually opened via
    * [[SidecarFileIndex.lastKept]]. */
  private[graft] def fileIndexOf(df: DataFrame): Option[SidecarFileIndex] =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation => lr.relation
    }.collect { case h: HadoopFsRelation => h.location }
      .collectFirst { case s: SidecarFileIndex => s }

  /** Per-file, per-column pruning evidence in CATALYST-INTERNAL values
    * (UTF8String for strings, raw primitives elsewhere) so comparisons run
    * in the column's own type against filter literals directly. A null
    * min/max with nulls >= rows means "no non-null value in this file". */
  private[graft] final case class ColZone(min: Any, max: Any, nulls: Long, rows: Long)

  /** One column's Bloom sidecar and the files it covers, as file keys. */
  private[graft] final case class BloomSidecar(sidecar: BloomIndex.Sidecar, covered: Set[String])

  /** Types whose JVM toString equals Spark's CAST(x AS STRING) — the
    * canonical form [[BloomIndex]] hashes. Restricting bloom pruning to
    * these types is what keeps a rendering mismatch from becoming a false
    * negative (= lost rows). */
  private def bloomSafeType(dt: DataType): Boolean = dt match {
    case StringType | IntegerType | LongType | ShortType | ByteType => true
    case _ => false
  }

  /** The [[FileIndex]] doing the transparent pruning. Its partition schema
    * is empty on purpose: partition columns live IN the data files
    * (PartitionedTable's shadow-column layout), so every predicate arrives
    * as a data filter, Spark re-applies all of them after the scan, and one
    * bounds mechanism covers partition and range evidence uniformly.
    * `zones` maps a [[fileKey]] to its footer evidence; `bloomCols` are the
    * columns a Bloom sidecar may exist for; `bloomF` resolves one, at most
    * once per column per handle. */
  private[graft] final class SidecarFileIndex(
      spark: SparkSession, root: HPath, allFiles: Seq[FileStatus],
      private[graft] val zones: Map[String, Map[String, ColZone]],
      bloomCols: Seq[StructField],
      bloomF: StructField => Option[BloomSidecar])
    extends FileIndex {

    private val blooms =
      scala.collection.concurrent.TrieMap.empty[String, Option[BloomSidecar]]

    /** Last pruning outcome, for specs asserting which files a query opened. */
    @volatile var lastKept: Seq[String] = allFiles.map(_.getPath.toString)

    override def rootPaths: Seq[HPath] = Seq(root)
    override def partitionSchema: StructType = new StructType()
    override def sizeInBytes: Long = allFiles.map(_.getLen).sum
    override def inputFiles: Array[String] = allFiles.map(_.getPath.toString).toArray
    override def refresh(): Unit = () // snapshot handle — reopen via AutoSkip.read

    // one bloom membership job per distinct (column, value-set) per handle
    private val bloomCache =
      scala.collection.concurrent.TrieMap.empty[(String, Set[String]), Set[String]]

    override def listFiles(partitionFilters: Seq[Expression],
                           dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
      val filters = partitionFilters ++ dataFilters
      if (filters.isEmpty) {
        // nothing can prune — answer from the listing alone, never forcing
        // a sidecar read
        lastKept = allFiles.map(_.getPath.toString)
        return Seq(PartitionDirectory(InternalRow.empty, allFiles.toArray))
      }
      val bloomKeeps: Seq[(BloomSidecar, Set[String])] = bloomCols.flatMap { f =>
        pointValues(filters, f.name, f.dataType).flatMap { vs =>
          blooms.getOrElseUpdate(f.name, bloomF(f)).map { b =>
            b -> bloomCache.getOrElseUpdate((f.name, vs),
              BloomIndex.candidateFiles(spark, b.sidecar, vs.toSeq.sorted)
                .map(fileKey).toSet)
          }
        }
      }
      val kept = allFiles.filter { st =>
        val key = fileKey(st)
        val bounds = zones.getOrElse(key, Map.empty)
        filters.forall(f => keepByBounds(bounds, f)) &&
          bloomKeeps.forall { case (b, cand) => !b.covered(key) || cand(key) }
      }
      lastKept = kept.map(_.getPath.toString)
      Seq(PartitionDirectory(InternalRow.empty, kept.toArray))
    }

    /** Conservative zone evaluation: true = the file MIGHT contain a
      * matching row (keep), false = provably cannot (prune). Unhandled
      * expression shapes keep the file — pruning is an optimization with a
      * one-sided error budget. */
    private def keepByBounds(b: Map[String, ColZone], e: Expression): Boolean = e match {
      case And(l, r) => keepByBounds(b, l) && keepByBounds(b, r)
      case Or(l, r) => keepByBounds(b, l) || keepByBounds(b, r)
      case EqualTo(a: AttributeReference, Literal(v, dt)) => overlaps(b, a, dt, Some(v), Some(v))
      case EqualTo(Literal(v, dt), a: AttributeReference) => overlaps(b, a, dt, Some(v), Some(v))
      case EqualNullSafe(a: AttributeReference, Literal(null, _)) => mightBeNull(b, a)
      case EqualNullSafe(a: AttributeReference, Literal(v, dt)) => overlaps(b, a, dt, Some(v), Some(v))
      case GreaterThan(a: AttributeReference, Literal(v, dt)) => overlaps(b, a, dt, Some(v), None)
      case GreaterThanOrEqual(a: AttributeReference, Literal(v, dt)) => overlaps(b, a, dt, Some(v), None)
      case LessThan(a: AttributeReference, Literal(v, dt)) => overlaps(b, a, dt, None, Some(v))
      case LessThanOrEqual(a: AttributeReference, Literal(v, dt)) => overlaps(b, a, dt, None, Some(v))
      case GreaterThan(Literal(v, dt), a: AttributeReference) => overlaps(b, a, dt, None, Some(v))
      case GreaterThanOrEqual(Literal(v, dt), a: AttributeReference) => overlaps(b, a, dt, None, Some(v))
      case LessThan(Literal(v, dt), a: AttributeReference) => overlaps(b, a, dt, Some(v), None)
      case LessThanOrEqual(Literal(v, dt), a: AttributeReference) => overlaps(b, a, dt, Some(v), None)
      case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        vs.exists { case Literal(v, dt) => overlaps(b, a, dt, Some(v), Some(v)) }
      case InSet(a: AttributeReference, vs) =>
        vs.exists(v => overlaps(b, a, a.dataType, Some(v), Some(v)))
      case IsNull(a: AttributeReference) => mightBeNull(b, a)
      case IsNotNull(a: AttributeReference) =>
        b.get(a.name).forall(z => z.nulls < z.rows)
      case _ => true
    }

    private def mightBeNull(b: Map[String, ColZone], a: AttributeReference): Boolean =
      b.get(a.name).forall(_.nulls > 0L)

    /** Does the file's [min, max] for `a` overlap [lo, hi]? Literal values
      * whose type differs from the stored bounds' type keep the file (a
      * cast the planner inserted that we will not second-guess). A file
      * with no non-null value for the column cannot match any range. */
    private def overlaps(b: Map[String, ColZone], a: AttributeReference,
                         dt: DataType, lo: Option[Any], hi: Option[Any]): Boolean =
      b.get(a.name) match {
        case None => true
        case Some(z) =>
          if (z.nulls >= z.rows || z.min == null || z.max == null) false
          else if (dt != a.dataType) true
          else {
            val ord = TypeUtils.getInterpretedOrdering(dt)
            lo.forall(v => v == null || ord.compare(z.max, v) >= 0) &&
              hi.forall(v => v == null || ord.compare(z.min, v) <= 0)
          }
      }

    /** Point values a TOP-LEVEL conjunct pins `c` to, rendered in the
      * canonical string form the Bloom sidecar hashes; None when no such
      * conjunct exists (no bloom pruning for this query). */
    private def pointValues(filters: Seq[Expression], c: String,
                            dt: DataType): Option[Set[String]] = {
      def render(v: Any): Option[String] =
        Option(v).map(x => CatalystTypeConverters.convertToScala(x, dt).toString)
      val sets = filters.flatMap {
        case EqualTo(a: AttributeReference, Literal(v, ldt))
          if a.name == c && ldt == dt => render(v).map(Set(_))
        case EqualTo(Literal(v, ldt), a: AttributeReference)
          if a.name == c && ldt == dt => render(v).map(Set(_))
        case In(a: AttributeReference, vs)
          if a.name == c && vs.forall { case Literal(_, ldt) => ldt == dt; case _ => false } =>
          Some(vs.flatMap { case Literal(v, _) => render(v) }.toSet)
        case InSet(a: AttributeReference, vs) if a.name == c =>
          Some(vs.flatMap(render).toSet)
        case _ => None
      }
      if (sets.isEmpty) None else Some(sets.reduce(_ intersect _))
    }
  }
}
