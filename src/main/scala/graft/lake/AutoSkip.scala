package graft.lake

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetReadSupport}
import org.apache.spark.sql.types._
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader

/** PLANNER-INTEGRATED data skipping: a [[FileIndex]] that consults the
  * manifest's partition values, the [[ZoneMapIndex]] sidecar, and the
  * [[BloomIndex]] sidecar from the filters Spark itself pushes down — so a
  * plain `AutoSkip.read(spark, root, t).filter(...)` prunes files for ANY
  * predicate, without the caller naming an index (the reference gets this
  * transparently from its engine: pmgraham/biglake-iceberg-pipeline
  * terraform/bigquery_tables.tf:97-116 declares Iceberg tables and
  * tools/quality.py queries never name an index — the engine prunes). It is
  * the lake's only pruned read path: the skipping gates in
  * [[graft.queries.Events]] go through it too.
  *
  * How it plugs into Spark: [[read]] returns a DataFrame over a
  * `HadoopFsRelation` whose location is a [[SidecarFileIndex]]. Catalyst
  * optimizes the query normally; `FileSourceStrategy` hands the pushed-down
  * data filters to `FileIndex.listFiles`, which keeps only files whose
  * sidecar evidence admits a match. The physical plan RETAINS the full
  * filter, so pruning can only drop files that provably contain no matching
  * row — correctness never depends on the sidecars, they only shrink I/O.
  *
  * Superset guarantee under churn: data files in this lake are IMMUTABLE
  * (commits add or remove whole files, never rewrite in place), and a file
  * the sidecars do not cover is kept UNCONDITIONALLY. So a stale sidecar —
  * mid-refresh, racing an append or compaction, missing entirely, torn —
  * can only cost extra file opens, never rows. The pruning decision per
  * file: (no zone evidence OR zone overlaps) AND (no bloom evidence OR
  * bloom admits).
  *
  * 100 TB shape: the pruning decision is file-manifest-sized driver work
  * (the same budget the scheduler spends listing the table); the zone/
  * partition bounds are collected once per read handle (files × indexed
  * columns), and the Bloom membership test runs as one index-sized Spark
  * job per distinct point-value set, never touching data files. */
object AutoSkip {

  private def pathOf(s: String): String = LakePaths.pathOf(s)

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

  /** Build (or incrementally refresh) the table's skipping sidecars: a zone
    * map over `zoneCols` and one Bloom filter per `bloomCols` entry, stored
    * as VERSIONED [[ParquetDirFormat]] tables under the table directory so
    * every later [[read]] finds them without being told. Refresh is the
    * sidecars' own set algebra — only files missing from the sidecar are
    * scanned. Each refresh commits a NEW immutable snapshot and old
    * generations are retained (see [[expireIndexGenerations]]), so a read
    * handle opened against any committed generation stays stable under
    * concurrent refreshes — the superset guarantee needs no coordination. */
  def index(spark: SparkSession, root: String, t: String,
            zoneCols: Seq[String], bloomCols: Seq[String] = Seq.empty): Unit =
    indexFrom(spark, root, t, PartitionedTable.open(root, t).read(spark, t),
      zoneCols, bloomCols)

  private def indexFrom(spark: SparkSession, root: String, t: String,
                        df: DataFrame, zoneCols: Seq[String],
                        bloomCols: Seq[String]): Unit =
    refreshLocks.getOrElseUpdate(s"$root/$t", new Object).synchronized {
      val lake = idxLake(root, t)
      def put(build: => DataFrame, name: String): Unit = {
        val snap = build.coalesce(1)
        if (lake.exists(name)) lake.overwrite(snap, name)
        else lake.create(snap, name)
      }
      if (zoneCols.nonEmpty) put(
        if (lake.exists("zonemap"))
          ZoneMapIndex.refresh(df, lake.read(spark, "zonemap"), zoneCols)
        else ZoneMapIndex.build(df, zoneCols),
        "zonemap")
      bloomCols.foreach { c =>
        put(
          if (lake.exists(bloomTable(c)))
            BloomIndex.refresh(df, lake.read(spark, bloomTable(c)), c)
          else BloomIndex.build(df, c),
          bloomTable(c))
      }
    }

  /** Maintenance: drop superseded sidecar generations, RETAINING the
    * `retainLast` most recent predecessors of the current one (each refresh
    * commits a new generation, so in-flight read handles opened up to
    * `retainLast` refreshes ago keep their snapshot; older handles degrade
    * to unpruned-but-correct reads via the superset guarantee). The
    * write-transparent refresh ([[refreshAfterCommit]]) applies this policy
    * automatically so per-commit refreshes cannot accumulate one sidecar
    * snapshot per table commit forever; call directly for a tighter
    * schedule. */
  def expireIndexGenerations(root: String, t: String, retainLast: Int = 0): Unit = {
    val lake = idxLake(root, t)
    (Seq("zonemap") ++ lake.tables().filter(_.startsWith("bloom__")))
      .distinct.filter(lake.exists)
      .foreach(lake.expireSnapshots(_, retainLast))
  }

  /** How many superseded sidecar generations a write-transparent refresh
    * retains (see [[expireIndexGenerations]]). */
  val CommitRefreshRetain = 3

  /** WRITE-transparent sidecar maintenance — the commit hook
    * [[PartitionedTable]] calls after a successful data commit: iff the
    * table has sidecars (someone called [[index]] at least once), refresh them
    * against the just-committed snapshot, discovering the indexed column
    * sets from the sidecars themselves (zone columns from the zonemap's
    * `<c>__min` fields, Bloom columns from the `bloom__<c>` table names).
    * A plain `append` → plain [[read]] therefore prunes the NEW files with
    * no `index()` call in user code — the reference's engines maintain
    * statistics on every load the same way (BigQuery keeps Iceberg metadata
    * itself, terraform/bigquery_tables.tf:97-116; DuckDB computes zone maps
    * at write time).
    *
    * Cost: refresh is the sidecars' own set algebra — only files missing
    * from the sidecar are scanned. For APPENDS that is the increment just
    * written; for REWRITE verbs (overwrite/compact/z-order/heavy upserts)
    * every rewritten file is "missing", so the hook re-profiles what the
    * commit rewrote — one extra read of the rewritten volume for the zone
    * map plus one per Bloom column. That is the price of stats-at-write
    * (DuckDB pays it inside the write; BigQuery maintains Iceberg metadata
    * per load) and it is proportional to the commit's own write volume,
    * never to an untouched remainder. Un-indexed tables pay two file
    * stats. Old generations beyond
    * [[CommitRefreshRetain]] are expired here too, so steady-state sidecar
    * storage is O(retain), not O(commits). Failure NEVER fails the data
    * commit (it already landed): any error degrades to a stale sidecar,
    * which the superset guarantee makes correct-but-unpruned. The sidecars
    * themselves live in a [[ParquetDirFormat]] lake, whose commits never
    * call this hook. */
  private[lake] def refreshAfterCommit(spark: SparkSession, root: String,
                                       t: String, df: => DataFrame): Unit =
    try {
      val lake = idxLake(root, t)
      val hasZone = lake.exists("zonemap")
      val bloomCols = scala.util.Try(lake.tables()).getOrElse(Seq.empty)
        .filter(_.startsWith("bloom__")).map(_.stripPrefix("bloom__"))
      if (!hasZone && bloomCols.isEmpty) return
      val zoneCols =
        if (!hasZone) Seq.empty[String]
        else lake.read(spark, "zonemap").schema.fieldNames.toSeq
          .filter(_.endsWith("__min")).map(_.stripSuffix("__min"))
      indexFrom(spark, root, t, df, zoneCols, bloomCols)
      expireIndexGenerations(root, t, CommitRefreshRetain)
    } catch {
      case scala.util.control.NonFatal(e) =>
        log.warn(s"sidecar refresh after commit on $root/$t failed " +
          s"(reads stay correct, pruning may lag until the next refresh): $e")
    }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Open the table for reading THROUGH the sidecars: any filter later
    * applied to the returned frame prunes files automatically. Missing or
    * unreadable sidecars degrade to an unpruned (still correct) scan. The
    * handle snapshots the manifest at call time, like every other read in
    * this lake. */
  def read(spark: SparkSession, root: String, t: String): DataFrame = {
    val table = PartitionedTable.open(root, t)
    val withId = table.dataFileStatuses(t)
    val schema = footerSchema(spark, withId.map(_._2)).getOrElse(table.read(spark, t).schema)
    // partition values from the layout's path mapping: exact bounds
    // (min = max = value) for STRING partition columns; Hive's default-
    // partition marker means "this column is null here". Non-string
    // partition columns are skipped (their path rendering is not the
    // column's value space) — the zone sidecar covers those if indexed.
    val stringPartCols = schema.fields
      .filter(_.dataType == StringType).map(_.name).toSet
    val partBounds: Map[String, Map[String, ColZone]] = withId.map {
      case (id, st) =>
        val zones = table.idToValues(id).collect {
          case (c, raw) if stringPartCols(c) =>
            if (raw == "__HIVE_DEFAULT_PARTITION__")
              c -> ColZone(null, null, nulls = 1L, rows = 1L)
            else {
              val v = org.apache.spark.unsafe.types.UTF8String.fromString(raw)
              c -> ColZone(v, v, nulls = 0L, rows = 1L)
            }
        }
        pathOf(st.getPath.toString) -> zones
    }.toMap

    // sidecars resolve through the VERSIONED index lake: the handle pins one
    // committed immutable generation of each sidecar, resolved LAZILY — the
    // zone map on the first listFiles that carries filters, a column's Bloom
    // filter on the first one that pins a point value on that column (a read
    // must not pay a Spark job for a sidecar it cannot use). Existence-gated
    // (no probe cost for indexes never built); a torn/unreadable sidecar
    // degrades to "no pruning" via the Try.
    val lake = idxLake(root, t)
    val zonesF: () => Map[String, Map[String, ColZone]] = () =>
      if (!lake.exists("zonemap")) Map.empty
      else scala.util.Try(collectZones(lake.read(spark, "zonemap")))
        .getOrElse(Map.empty)

    val bloomF: StructField => Option[BloomSidecar] = f =>
      scala.util.Try {
        if (!lake.exists(bloomTable(f.name))) None
        else {
          val s = BloomIndex.sidecar(lake.read(spark, bloomTable(f.name)))
          Some(BloomSidecar(s, s.files.map(pathOf)))
        }
      }.toOption.flatten

    val fileIndex = new SidecarFileIndex(spark, new HPath(s"$root/$t"),
      withId.map(_._2), partBounds, zonesF,
      schema.fields.toSeq.filter(f => bloomSafeType(f.dataType)), bloomF)
    val relation = HadoopFsRelation(fileIndex, new StructType(), schema, None,
      new ParquetFileFormat, Map.empty[String, String])(spark)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .baseRelationToDataFrame(relation)
  }

  /** The schema a merged parquet read of `files` yields, from their footers
    * read on the driver instead of by a Spark job. Spark merges the files'
    * schemas in the order of their paths: the first file's columns in its
    * order, then each column a later file adds, all nullable. Files of one
    * table may order their columns differently (a write keeps its frame's
    * order), so the table's SCHEMA file cannot stand in. None — the
    * merged read decides — when there is no file, a footer carries no Spark
    * schema, or two files type a column differently. */
  private def footerSchema(spark: SparkSession, files: Seq[FileStatus]): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val schemas = files.sortBy(_.getPath.toString).map { st =>
      Option(ParquetFileReader.readFooter(conf, st, ParquetMetadataConverter.SKIP_ROW_GROUPS)
        .getFileMetaData.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
        .map(DataType.fromJson(_).asInstanceOf[StructType])
    }
    if (schemas.isEmpty || schemas.contains(None)) None
    else {
      val all = schemas.flatten.flatMap(_.fields)
      val fields = all.distinctBy(_.name)
      val typed = fields.map(f => f.name -> f.dataType).toMap
      if (all.forall(f => typed(f.name) == f.dataType)) Some(StructType(fields).toNullable)
      else None
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

  /** One column's Bloom sidecar and the files it covers, as path keys. */
  private[graft] final case class BloomSidecar(sidecar: BloomIndex.Sidecar, covered: Set[String])

  /** Types whose JVM toString equals Spark's CAST(x AS STRING) — the
    * canonical form [[BloomIndex]] hashes. Restricting bloom pruning to
    * these types is what keeps a rendering mismatch from becoming a false
    * negative (= lost rows). */
  private def bloomSafeType(dt: DataType): Boolean = dt match {
    case StringType | IntegerType | LongType | ShortType | ByteType => true
    case _ => false
  }

  private def collectZones(idx: DataFrame): Map[String, Map[String, ColZone]] = {
    val cols = idx.schema.fieldNames.filter(_.endsWith("__min")).map(_.dropRight(5))
    val rowsIdx = idx.schema.fieldIndex("rows")
    val fileIdx = idx.schema.fieldIndex("file")
    val colMeta = cols.map { c =>
      val dt = idx.schema(s"${c}__min").dataType
      (c, idx.schema.fieldIndex(s"${c}__min"), idx.schema.fieldIndex(s"${c}__max"),
        idx.schema.fieldIndex(s"${c}__nulls"),
        CatalystTypeConverters.createToCatalystConverter(dt))
    }
    idx.collect().map { r =>
      val rows = r.getLong(rowsIdx)
      val zones = colMeta.map { case (c, mi, ma, nu, conv) =>
        val mn = if (r.isNullAt(mi)) null else conv(r.get(mi))
        val mx = if (r.isNullAt(ma)) null else conv(r.get(ma))
        c -> ColZone(mn, mx, r.getLong(nu), rows)
      }.toMap
      pathOf(r.getString(fileIdx)) -> zones
    }.toMap
  }

  /** The [[FileIndex]] doing the transparent pruning. Its partition schema
    * is empty on purpose: partition columns live IN the data files
    * (PartitionedTable's shadow-column layout), so every predicate arrives
    * as a data filter, Spark re-applies all of them after the scan, and one
    * bounds mechanism covers partition, zone, and bloom evidence uniformly.
    * `bloomCols` are the columns a Bloom sidecar may exist for; `bloomF`
    * resolves one, at most once per column per handle. */
  private[graft] final class SidecarFileIndex(
      spark: SparkSession, root: HPath, allFiles: Seq[FileStatus],
      partBounds: Map[String, Map[String, ColZone]],
      zonesF: () => Map[String, Map[String, ColZone]],
      bloomCols: Seq[StructField],
      bloomF: StructField => Option[BloomSidecar])
    extends FileIndex {

    // forced only by a filtered listFiles — see the read() comment
    private lazy val zones = zonesF()
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
        // the sidecar reads
        lastKept = allFiles.map(_.getPath.toString)
        return Seq(PartitionDirectory(InternalRow.empty, allFiles.toArray))
      }
      val bloomKeeps: Seq[(BloomSidecar, Set[String])] = bloomCols.flatMap { f =>
        pointValues(filters, f.name, f.dataType).flatMap { vs =>
          blooms.getOrElseUpdate(f.name, bloomF(f)).map { b =>
            b -> bloomCache.getOrElseUpdate((f.name, vs),
              BloomIndex.candidateFiles(spark, b.sidecar, vs.toSeq.sorted)
                .map(pathOf).toSet)
          }
        }
      }
      val kept = allFiles.filter { st =>
        val key = pathOf(st.getPath.toString)
        val bounds = partBounds.getOrElse(key, Map.empty) ++
          zones.getOrElse(key, Map.empty)
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
