package graft.lake

import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetReadSupport}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.filter2.compat.{FilterCompat, RowGroupFilter}
import org.apache.parquet.filter2.compat.RowGroupFilter.FilterLevel
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

/** PLANNER-INTEGRATED data skipping: a [[FileIndex]] that prunes on each
  * data file's own Parquet footer statistics and Bloom filters, from the
  * filters Spark itself pushes down — so a plain
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
  * `HadoopFsRelation` whose location is a [[FooterFileIndex]]. Catalyst
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
  * shadow layout), so the footer bounds them too.
  *
  * Point evidence: the files' own Parquet Bloom filters and dictionaries.
  * [[index]] declares the Bloom columns of a table; every later write of
  * the table writes one filter per column chunk. A point conjunct on the
  * read side becomes a parquet filter predicate that parquet-mr's own
  * row-group filter tests, on the driver, against each file the bounds
  * kept: a file goes only when no row group survives. A chunk without a
  * filter or a dictionary gives no evidence and is kept.
  *
  * The evidence cannot go stale: data files are immutable, and the footer,
  * the dictionaries and the filters are written with them. Cost at scale:
  * one footer read per live file per read handle, and one reader open per
  * bounds-kept file for a read that pins a point value. */
object AutoSkip {

  /** The one key a data file is known by on the read path: the decoded
    * path component of its URI. Both sides take the URI form — a manifest
    * listing's `getPath.toUri`, an `input_file_name()` string — so a
    * `%`-escaped partition directory (`s=%09P`) keys alike on both. */
  private[graft] def fileKey(uri: String): String = new java.net.URI(uri).getPath
  private def fileKey(st: FileStatus): String = st.getPath.toUri.getPath

  /** Check the table's range columns and declare its Bloom columns. Range
    * evidence comes from the data files' footers, so nothing is stored for
    * `zoneCols`: each must exist and be orderable. `bloomCols` join the
    * table's declared set ([[PartitionedTable.bloomColumns]]), which every
    * later write honours; then the manifest entries holding a file whose
    * declared chunks lack point evidence are rewritten in one commit. A
    * table already covered commits nothing. The rewrite is read-modify-write,
    * like [[PartitionedTable.compact]]: a racing commit aborts it with a
    * ConcurrentModificationException, and the caller retries. */
  def index(spark: SparkSession, root: String, t: String,
            zoneCols: Seq[String], bloomCols: Seq[String] = Seq.empty): Unit = {
    val table = PartitionedTable.open(root, t)
    val listed = table.dataFileStatuses(t)
    val files = footers(spark, listed.map(_._2))
    if (zoneCols.nonEmpty || bloomCols.nonEmpty) {
      val schema = footerSchema(files).getOrElse(table.read(spark, t).schema)
      zoneCols.foreach { c =>
        val dt = schema(c).dataType
        require(RowOrdering.isOrderable(dt),
          s"range skipping needs an orderable column; $c is ${dt.sql}")
      }
      bloomCols.foreach(c => require(schema.fieldNames.contains(c), s"no column $c to filter on"))
    }
    table.declareBloom(t, bloomCols)
    val declared = table.bloomColumns(t).toSet
    val uncovered = listed.zip(files).collect {
      case ((id, _), (_, meta)) if !covered(meta, declared) => id
    }.toSet
    if (uncovered.nonEmpty) table.rewriteEntries(spark, t, "bloom")(_ => uncovered)
  }

  /** Does every chunk of a `cols` column the file holds carry point
    * evidence: a Bloom filter, or a dictionary that encodes all its pages?
    * parquet-mr writes no filter for a chunk its dictionary fully encodes. */
  private def covered(meta: ParquetMetadata, cols: Set[String]): Boolean =
    meta.getBlocks.asScala.forall(_.getColumns.asScala.forall { cc =>
      val path = cc.getPath.toArray
      !(path.length == 1 && cols(path(0))) || cc.getBloomFilterOffset >= 0 ||
        Option(cc.getEncodingStats).exists(s => s.hasDictionaryPages && !s.hasNonDictionaryEncodedPages)
    })

  /** Open the table for reading THROUGH its evidence: any filter later
    * applied to the returned frame prunes files automatically. The handle
    * snapshots the manifest at call time, like every other read in this
    * lake. */
  def read(spark: SparkSession, root: String, t: String): DataFrame = {
    val table = PartitionedTable.open(root, t)
    val files = footers(spark, table.dataFileStatuses(t).map(_._2))
    val schema = footerSchema(files).getOrElse(table.read(spark, t).schema)
    val relation = HadoopFsRelation(
      new FooterFileIndex(spark, new HPath(s"$root/$t"), files, schema),
      new StructType(), schema, None, new ParquetFileFormat, Map.empty[String, String])(spark)
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

  /** The [[FooterFileIndex]] behind a frame [[read]] produced (after any
    * number of filters/projections/joins; the first one in the plan) — lets
    * specs assert which files the last action actually opened via
    * [[FooterFileIndex.lastKept]]. */
  private[graft] def fileIndexOf(df: DataFrame): Option[FooterFileIndex] =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation => lr.relation
    }.collect { case h: HadoopFsRelation => h.location }
      .collectFirst { case s: FooterFileIndex => s }

  /** Per-file, per-column pruning evidence in CATALYST-INTERNAL values
    * (UTF8String for strings, raw primitives elsewhere) so comparisons run
    * in the column's own type against filter literals directly. A null
    * min/max with nulls >= rows means "no non-null value in this file". */
  private[graft] final case class ColZone(min: Any, max: Any, nulls: Long, rows: Long)

  /** The row-group tests a point predicate runs: dictionary, then Bloom. */
  private val PointLevels = java.util.List.of(FilterLevel.DICTIONARY, FilterLevel.BLOOMFILTER)

  /** The [[FileIndex]] doing the transparent pruning, over the live files
    * and their footers. Its partition schema is empty on purpose: partition
    * columns live IN the data files (PartitionedTable's shadow-column
    * layout), so every predicate arrives as a data filter, Spark re-applies
    * all of them after the scan, and one bounds mechanism covers partition
    * and range evidence uniformly. `zones` maps a [[fileKey]] to its footer
    * bounds. */
  private[graft] final class FooterFileIndex(
      spark: SparkSession, root: HPath, files: Seq[(FileStatus, ParquetMetadata)],
      schema: StructType)
    extends FileIndex {

    private val allFiles = files.map(_._1)
    private[graft] val zones: Map[String, Map[String, ColZone]] =
      files.map { case (st, meta) => fileKey(st) -> footerZones(meta, schema) }.toMap

    // built once per handle: building them per open costs ~17 ms a file
    private lazy val conf = spark.sparkContext.hadoopConfiguration
    private lazy val readOptions = HadoopReadOptions.builder(conf).build()

    /** Last pruning outcome, for specs asserting which files a query opened. */
    @volatile var lastKept: Seq[String] = allFiles.map(_.getPath.toString)

    override def rootPaths: Seq[HPath] = Seq(root)
    override def partitionSchema: StructType = new StructType()
    override def sizeInBytes: Long = allFiles.map(_.getLen).sum
    override def inputFiles: Array[String] = allFiles.map(_.getPath.toString).toArray
    override def refresh(): Unit = () // snapshot handle — reopen via AutoSkip.read

    override def listFiles(partitionFilters: Seq[Expression],
                           dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
      val filters = partitionFilters ++ dataFilters
      val points = filters.flatMap(pointConjunct)
      val kept = files.filter { case (st, meta) =>
        val bounds = zones.getOrElse(fileKey(st), Map.empty)
        filters.forall(f => keepByBounds(bounds, f)) && (points.isEmpty || mayHold(st, meta, points))
      }.map(_._1)
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

    /** A top-level conjunct pinning a column to point values — `EqualTo`,
      * `In` or `InSet` over literals of the column's own type, on a column
      * of [[pointType]] — as (column, type, non-null values). A dotted
      * name would read as a nested parquet path, so it gives no evidence. */
    private def pointConjunct(e: Expression): Option[(String, DataType, Set[Any])] = {
      def pinned(a: AttributeReference, vs: Iterable[Any]) =
        Some((a.name, a.dataType, vs.filter(_ != null).toSet))
          .filter(p => pointType(p._2) && !p._1.contains('.') && p._3.nonEmpty)
      e match {
        case EqualTo(a: AttributeReference, Literal(v, dt)) if dt == a.dataType => pinned(a, Seq(v))
        case EqualTo(Literal(v, dt), a: AttributeReference) if dt == a.dataType => pinned(a, Seq(v))
        case In(a: AttributeReference, vs)
          if vs.forall { case Literal(_, dt) => dt == a.dataType; case _ => false } =>
          pinned(a, vs.map(_.asInstanceOf[Literal].value))
        case InSet(a: AttributeReference, vs) => pinned(a, vs)
        case _ => None
      }
    }

    /** Might the file hold a row meeting every point conjunct? parquet-mr's
      * row-group filter answers from the file's dictionaries and Bloom
      * filters; the file goes only when no row group survives. Conjuncts on
      * a column the file's own schema lacks or types differently give no
      * evidence, and any failure to read keeps the file. */
    private def mayHold(st: FileStatus, meta: ParquetMetadata,
                        points: Seq[(String, DataType, Set[Any])]): Boolean = {
      val own = sparkSchemaOf(meta).map(_.fields.map(f => f.name -> f.dataType).toMap)
        .getOrElse(Map.empty)
      val preds = points.collect { case (c, dt, vs) if own.get(c).contains(dt) => inPredicate(c, dt, vs) }
      preds.reduceOption(FilterApi.and).forall { pred =>
        scala.util.Try {
          val in = HadoopInputFile.fromStatus(st, conf)
          val reader = ParquetFileReader.open(in, meta, readOptions, in.newStream())
          try !RowGroupFilter.filterRowGroups(PointLevels, FilterCompat.get(pred),
            meta.getBlocks, reader).isEmpty
          finally reader.close()
        }.getOrElse(true)
      }
    }
  }

  /** Column types whose point values map one-to-one onto the parquet
    * physical values a dictionary or Bloom filter holds. */
  private def pointType(dt: DataType): Boolean = dt match {
    case StringType | IntegerType | LongType | ShortType | ByteType => true
    case _ => false
  }

  /** `c IN vs` as a parquet predicate over the column's physical values:
    * strings as their UTF-8 bytes, the small integers as INT32. */
  private def inPredicate(c: String, dt: DataType, vs: Set[Any]): FilterPredicate = dt match {
    case StringType =>
      FilterApi.in(FilterApi.binaryColumn(c),
        vs.map(v => Binary.fromConstantByteArray(v.asInstanceOf[UTF8String].getBytes)).asJava)
    case LongType =>
      FilterApi.in(FilterApi.longColumn(c), vs.map(v => Long.box(v.asInstanceOf[Long])).asJava)
    case _ =>
      FilterApi.in(FilterApi.intColumn(c),
        vs.map(v => Int.box(v.asInstanceOf[Number].intValue)).asJava)
  }
}
