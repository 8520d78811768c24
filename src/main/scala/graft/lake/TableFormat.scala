package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Options, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Write-path semantics of the reference loader (services/loader/
  * bigquery_manager.py): create / append / overwrite / upsert with additive
  * schema evolution, re-expressed on Parquet tables (no Iceberg jars ship in
  * this build; the trait boundary is where an Iceberg catalog implementation
  * would slot in — `df.writeTo(t).append()` etc. — without touching callers).
  *
  * Semantics preserved from the reference:
  *  - schema evolution is ADDITIVE: new columns append, old rows read NULL
  *    (bigquery_manager.py:27-79 evolve_schema);
  *  - column alignment casts with try_cast and fills missing with NULL
  *    (bigquery_manager.py:220-256 _build_cast_select) — applied on BOTH the
  *    append and upsert paths;
  *  - upsert = delete target rows matching source keys, then insert
  *    (bigquery_manager.py:259-316) — here a left_anti join + union;
  *  - writers never mutate in place: each commit writes fresh immutable
  *    directories and atomically flips a pointer file, so readers see atomic
  *    swaps (the moral equivalent of the reference's staging->archive move,
  *    loader/cleanup.py:15-46).
  *
  * Two implementations:
  *  - [[ParquetDirFormat]]: whole-snapshot versions. Simple, right for small
  *    reference tables; every commit is O(table).
  *  - [[PartitionedTable]]: partition-scoped manifest commits. Appends move
  *    only the new data into place; upserts rewrite only partitions containing
  *    touched keys and commit every other partition BY REFERENCE — the
  *    100 TB-safe write path.
  */
trait TableFormat {
  def create(df: DataFrame, table: String): Unit
  def append(df: DataFrame, table: String): Unit
  def overwrite(df: DataFrame, table: String): Unit
  def upsert(df: DataFrame, table: String, keys: Seq[String]): Unit
  def read(spark: SparkSession, table: String): DataFrame
  def exists(table: String): Boolean

  /** Row-level DELETE WHERE — the DML verb the reference's loader exposes
    * through BigQuery DML (services/loader/bigquery_manager.py:259-316 builds
    * MERGE with a delete clause) and Iceberg through delete-files. SQL DELETE
    * semantics: rows where `pred` is TRUE go; FALSE and NULL stay. Returns
    * the deleted-row count. A no-match delete commits NOTHING — no new
    * snapshot, the table stays byte-identical. Default implementation is one
    * probe (column-pruned to the predicate's columns) plus one rewrite;
    * [[PartitionedTable]] overrides with a partition-scoped rewrite. */
  def deleteWhere(spark: SparkSession, table: String, pred: Column): Long = {
    val target = read(spark, table)
    val matches = target.filter(pred).count()
    if (matches == 0L) return 0L
    overwrite(target.filter(!coalesce(pred, lit(false))), table)
    matches
  }

  /** Key-targeted DELETE: remove the target rows whose key tuple appears in
    * `keyRows` (null-safe, like [[upsert]]'s matching). The deletion half of
    * a MERGE — [[upsert]] without the insert. Like [[deleteWhere]], a
    * no-match delete commits NOTHING — no new snapshot (so a replayed CDC
    * batch whose deletes target absent keys never churns an O(table)
    * rewrite). Default probes with a semi-join then rewrites the snapshot;
    * [[PartitionedTable]] overrides partition-scoped. */
  def deleteMatching(keyRows: DataFrame, table: String, keys: Seq[String]): Unit = {
    val target = read(keyRows.sparkSession, table)
    val srcKeys = keyRows.select(keys.map(k => col(k).as(s"__k_$k")): _*).distinct()
    val cond = keys.map(k => target(k) <=> srcKeys(s"__k_$k")).reduce(_ && _)
    val hits = target.select(keys.map(col): _*).join(srcKeys, cond, "left_semi")
    if (hits.isEmpty) return
    overwrite(target.join(srcKeys, cond, "left_anti"), table)
  }

  /** CDC / changefeed apply — the general MERGE the reference drives through
    * BigQuery DML (services/loader/bigquery_manager.py:259-316) and
    * Delta/Iceberg expose as MERGE INTO: a batch of change rows carrying an
    * op column ('insert'/'update'/'delete', upsert semantics for the first
    * two) and an ordering column collapses to ONE final action per key
    * (latest by `orderCol`, so an insert+update+delete lifecycle inside one
    * batch nets to the delete), then lands as one key-targeted delete plus
    * one upsert. Replaying the same batch converges to the same state:
    * upserted keys re-upsert to identical rows, deleted keys re-delete
    * nothing. A batch carrying BOTH deletes and upserts lands in ONE commit
    * (one pointer/manifest flip): a reader concurrent with the apply sees
    * either the old table or the fully-merged table, never
    * deletes-applied-but-updates-absent — the atomicity Iceberg's
    * single-commit MERGE gives, preserved here because both halves reduce
    * to one anti-join + union snapshot ([[PartitionedTable]] overrides with
    * the partition-scoped single-commit twin). A one-sided batch delegates
    * to the cheaper single verb, which is already one commit.
    *
    * `orderCol` SHOULD order a key's versions uniquely (the same contract as
    * [[upsertVersioned]]); when a feed violates that, the collapse
    * tie-breaks DETERMINISTICALLY — delete outranks upsert at equal
    * `orderCol` (a same-version delete is terminal), then a stable row hash
    * decides — so replaying the batch always converges to the same final
    * state instead of landing whichever row the aggregation saw last. */
  def applyCdc(changes: DataFrame, table: String, keys: Seq[String],
               opCol: String, orderCol: String): Unit = {
    val (dels, ups) = cdcCollapse(changes, keys, opCol, orderCol)
    if (!exists(table)) { if (!ups.isEmpty) upsert(ups, table, keys); return }
    val (delsEmpty, upsEmpty) = (dels.isEmpty, ups.isEmpty)
    if (delsEmpty && upsEmpty) return
    if (delsEmpty) { upsert(ups, table, keys); return }
    if (upsEmpty) { deleteMatching(dels.select(keys.map(col): _*), table, keys); return }
    // both halves present: ONE snapshot commit — anti-join the target on ALL
    // change keys (deleted keys vanish, upserted keys are replaced), union
    // the aligned upserts, flip once
    val target = read(changes.sparkSession, table)
    val aligned = Align.to(ups, target.schema.map(f => f.name -> f.dataType).toMap)
    val allKeys = dels.select(keys.map(col): _*)
      .unionByName(ups.select(keys.map(col): _*))
      .select(keys.map(k => col(k).as(s"__k_$k")): _*).distinct()
    val cond = keys.map(k => target(k) <=> allKeys(s"__k_$k")).reduce(_ && _)
    val kept = target.join(allKeys, cond, "left_anti")
    overwrite(kept.unionByName(aligned, allowMissingColumns = true), table)
  }

  /** Shared CDC collapse: one final action per key (latest by `orderCol`,
    * delete outranks upsert at equal `orderCol`, then a stable row hash) —
    * see [[applyCdc]] for the contract. Returns (deletes, upserts-sans-op). */
  protected def cdcCollapse(changes: DataFrame, keys: Seq[String],
                            opCol: String, orderCol: String): (DataFrame, DataFrame) = {
    val tieBreak = struct(
      col(orderCol),
      when(lower(col(opCol)) === "delete", lit(1)).otherwise(lit(0)),
      xxhash64(changes.columns.map(col): _*))
    val latest = changes
      .groupBy(keys.map(col): _*)
      .agg(max_by(struct(changes.columns.map(col): _*), tieBreak).as("__r"))
      .select(col("__r.*"))
    (latest.filter(lower(col(opCol)) === "delete"),
      latest.filter(lower(col(opCol)) =!= "delete").drop(opCol))
  }

  /** Version-aware MERGE: apply only incoming rows STRICTLY newer (per
    * `orderCol`) than the current row for their key — the event-time floor
    * that keeps a replayed stale file from resurrecting old row versions
    * (the continuous-medallion hazard [[upsert]]'s last-write-wins semantics
    * cannot see; mirrors StreamingDedup's horizon eviction, but keyed).
    *
    * Within the incoming batch itself keep-latest-per-key applies first (a
    * redelivery plus a fresh file may carry two versions of one key), so
    * `orderCol` must order versions of a key uniquely, the same contract as
    * the silver dedup. A wholly-stale batch commits NOTHING — no new
    * snapshot, the table is byte-identical. Matched keys whose current
    * `orderCol` is NULL accept any incoming version. Keys compare null-safe,
    * like [[upsert]].
    *
    * Cost: one key+orderCol-pruned aggregate over the target on top of the
    * implementation's own upsert — the price of the floor. */
  def upsertVersioned(df: DataFrame, table: String, keys: Seq[String],
                      orderCol: String): Unit = {
    if (!exists(table)) { create(df, table); return }
    val cols = df.columns
    val latest = df.groupBy(keys.map(col): _*)
      .agg(max_by(struct(cols.map(col).toIndexedSeq: _*), col(orderCol)).as("__row"))
      .select(cols.map(c => col(s"__row.`$c`").as(c)).toIndexedSeq: _*)
    val cur = read(df.sparkSession, table)
      .groupBy(keys.map(k => col(k).as(s"__k_$k")): _*)
      .agg(max(col(orderCol)).as("__cur"))
    val cond = keys.map(k => latest(k) <=> cur(s"__k_$k")).reduce(_ && _)
    val fresh = latest.join(cur, cond, "left")
      .filter(col("__cur").isNull || col(orderCol) > col("__cur"))
      .select(cols.map(latest(_)).toIndexedSeq: _*)
    if (!fresh.isEmpty) upsert(fresh, table, keys)
  }
}

private[lake] object Align {
  /** try_cast columns whose type drifted from the target's; leave the rest.
    * Brand-new columns pass through (additive evolution via unionByName). */
  def to(df: DataFrame, targetTypes: Map[String, DataType]): DataFrame =
    df.select(df.columns.map { c =>
      targetTypes.get(c) match {
        case Some(t) if df.schema(c).dataType != t =>
          expr(s"try_cast($c as ${t.sql})").as(c)
        case _ => col(c)
      }
    }.toIndexedSeq: _*)
}

/** All lake file operations go through the Hadoop FileSystem API, so the same
  * code runs on local disk, HDFS, or an object store (the reference's GCS).
  * Pointer flips use FileContext rename with OVERWRITE — atomic on HDFS and
  * POSIX; on object stores the pointer is a single small object, so readers
  * observe old-or-new, never partial. */
private[lake] final class LakeFs(root: String) {
  private def conf: Configuration =
    SparkSession.getActiveSession.map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())
  // a PRIVATE (non-Hadoop-cached) FileSystem with checksum sidecars OFF: the
  // lake's metadata files are small parsed text whose integrity the atomic-
  // rename commit protocol already guarantees (a torn read fails parsing),
  // while ChecksumFileSystem moves a file and its .crc as TWO renames —
  // racing CAS committers can strand a LOSER's .crc beside the WINNER's
  // manifest, a permanent mismatch no retry clears (LakeSpec racing-appender
  // flake). newInstance (not get) so the cached, checksum-verifying
  // FileSystem every other reader in the JVM shares is untouched — but ONE
  // such instance per scheme/authority for the whole JVM ([[LakeFs.fsFor]]):
  // a per-LakeFs newInstance is never closed, so every `new PartitionedTable`
  // (e.g. one per skipping-triad query call) would leak a FileSystem and its
  // statistics registration for the JVM lifetime.
  val fs: FileSystem = LakeFs.fsFor(root, conf)
  private lazy val fc = org.apache.hadoop.fs.FileContext.getFileContext(
    new HPath(root).toUri, conf)

  def exists(p: String): Boolean = fs.exists(new HPath(p))
  def mkdirs(p: String): Unit = fs.mkdirs(new HPath(p))

  def readString(p: String): String = {
    // ChecksumFileSystem (the LocalFS default) renames the data file and its
    // .crc sidecar as TWO operations, so a reader racing a CAS commit can
    // see the committed file beside a not-yet-renamed checksum and throw
    // ChecksumException. The committed file is immutable from the moment its
    // rename lands, so a short bounded retry reads the settled pair; on
    // HDFS/object stores the window does not exist and the first attempt
    // wins. (Surfaced by LakeSpec's racing-appender case, rarely.)
    var attempt = 0
    while (true) {
      try {
        val in = fs.open(new HPath(p))
        try return scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      } catch {
        case e: org.apache.hadoop.fs.ChecksumException =>
          attempt += 1
          if (attempt >= 20) throw e
          Thread.sleep(5L * attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  def writeString(p: String, s: String): Unit = {
    val out = fs.create(new HPath(p), true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  /** Write a temp sibling then atomically rename over the destination. */
  def writeStringAtomic(p: String, s: String): Unit = {
    val tmp = s"$p.tmp${System.nanoTime()}"
    writeString(tmp, s)
    fc.rename(new HPath(tmp), new HPath(p), Options.Rename.OVERWRITE)
  }

  /** Best-effort [[writeStringAtomic]] for ADVISORY files (the LAST version
    * hint): FileContext's OVERWRITE rename is delete-then-refusing-rename
    * on a local FS, so racing hint writers can interleave such that a
    * loser's rename sees a winner's fresh file and throws — which is fine
    * for a hint (correctness is max(hint, scan); SOMEONE's fresh hint is in
    * place). Swallows exactly that race and cleans ONLY ITS OWN temp file —
    * never a sibling's, whose rename may still be in flight. */
  def writeHint(p: String, s: String): Unit = {
    val tmp = s"$p.tmp${System.nanoTime()}-${Thread.currentThread().getId}"
    try {
      writeString(tmp, s)
      fc.rename(new HPath(tmp), new HPath(p), Options.Rename.OVERWRITE)
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException
           | _: java.nio.file.FileAlreadyExistsException
           | _: java.io.FileNotFoundException =>
        try fs.delete(new HPath(tmp), false) catch { case _: Exception => () }
    }
  }

  /** Compare-and-swap commit primitive: write a temp sibling, then publish
    * it to the destination REFUSING an existing one — the winner of a race
    * creates the file, every loser gets false. Same protocol as Iceberg's
    * Hadoop table-operations version-file commit (public design).
    *
    * On a LOCAL filesystem the publish is `link(2)` (Files.createLink),
    * the one POSIX primitive whose no-overwrite failure is ATOMIC —
    * FileContext's Rename.NONE is an existence CHECK over File.renameTo,
    * which silently REPLACES, so two racing winners could both "succeed"
    * and one commit's manifest would vanish (LakeSpec's racing-appender
    * case caught exactly that, ~2% of runs). Non-local schemes keep the
    * FileContext rename, which HDFS implements atomically server-side. */
  def writeStringIfAbsent(p: String, s: String): Boolean = {
    if (exists(p)) return false
    val tmp = s"$p.tmp${System.nanoTime()}"
    writeString(tmp, s)
    val uri = new HPath(p).toUri
    val local = uri.getScheme == null || uri.getScheme == "file"
    try {
      if (local) {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(uri.getPath),
          java.nio.file.Paths.get(new HPath(tmp).toUri.getPath))
        fs.delete(new HPath(tmp), false)
      } else fc.rename(new HPath(tmp), new HPath(p), Options.Rename.NONE)
      true
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
        fs.delete(new HPath(tmp), false); false
      case _: java.nio.file.FileAlreadyExistsException =>
        fs.delete(new HPath(tmp), false); false
    }
  }

  /** Move a directory into place (parents created; destination must be new). */
  def rename(src: String, dst: String): Unit = {
    val d = new HPath(dst)
    fs.mkdirs(d.getParent)
    if (!fs.rename(new HPath(src), d))
      throw new java.io.IOException(s"rename failed: $src -> $dst")
  }

  def delete(p: String): Unit = fs.delete(new HPath(p), true)

  def list(p: String): Seq[FileStatus] =
    if (!exists(p)) Seq.empty else fs.listStatus(new HPath(p)).toSeq

  /** All regular files under `p`, recursively. */
  def listFilesRecursive(p: String): Seq[FileStatus] = {
    if (!exists(p)) return Seq.empty
    val it = fs.listFiles(new HPath(p), true)
    val buf = scala.collection.mutable.ArrayBuffer.empty[FileStatus]
    while (it.hasNext) buf += it.next()
    buf.toSeq
  }
}

private[lake] object LakeFs {
  // JVM-wide checksum-disabled FileSystem per (scheme/authority, fs-conf
  // fingerprint): bounded by the number of distinct stores (times their few
  // conf variants) a process talks to, not by how many table handles callers
  // construct. The fingerprint covers the `fs.<scheme>.` settings —
  // credentials, endpoints, impl switches — so a caller whose conf differs
  // on anything that changes the CONNECTION gets its own instance instead of
  // silently receiving the first caller's (r12 ADVICE); confs differing only
  // outside that prefix intentionally share. computeIfAbsent makes creation
  // atomic so a racing first call can never leak a second never-closed
  // instance.
  private val instances =
    new java.util.concurrent.ConcurrentHashMap[String, FileSystem]()

  private[lake] def fsFor(root: String, conf: Configuration): FileSystem = {
    val uri = new HPath(root).toUri
    val scheme = Option(uri.getScheme).getOrElse("file")
    // the FULL canonical props string, not its 32-bit hashCode: a collision
    // between two credential sets must never silently share a connection.
    // Growth is bounded by distinct conf VARIANTS per store (a deployment
    // rotating credentials should close/rotate at its own layer; instances
    // here are deliberately never closed, as before)
    val fsProps = new java.util.TreeMap[String, String](
      conf.getPropsWithPrefix(s"fs.$scheme."))
    val key = s"$scheme://${Option(uri.getAuthority).getOrElse("")}#$fsProps"
    instances.computeIfAbsent(key, _ => {
      val f = FileSystem.newInstance(uri, conf)
      f.setWriteChecksum(false)
      f.setVerifyChecksum(false)
      f
    })
  }
}

/** Versioned Parquet-directory table: `<root>/<table>/v<N>/` + `LAST` pointer.
  * Readers resolve the pointer then scan one immutable snapshot directory —
  * writers commit by writing v<N+1> fully, then flipping the pointer (atomic
  * rename). Concurrent readers never see partial data. Every commit is
  * O(table) — use [[PartitionedTable]] where that matters. */
class ParquetDirFormat(root: String) extends TableFormat {
  private val io = new LakeFs(root)

  private def tableDir(table: String): String = s"$root/$table"
  private def pointer(table: String): String = s"${tableDir(table)}/LAST"
  private def partSpecFile(table: String): String = s"${tableDir(table)}/PARTITION"

  /** Partition columns recorded at create time; every later commit rewrites
    * with the same layout so readers always get directory-level pruning. */
  def partitionSpec(table: String): Seq[String] =
    if (!io.exists(partSpecFile(table))) Seq.empty
    else io.readString(partSpecFile(table)).trim match {
      case "" => Seq.empty
      case s => s.split(",").toSeq
    }

  /** Create with a partition layout (e.g. days(created_at) materialized as a
    * date column). Partition pruning on these columns is then automatic for
    * every reader — the property the reference loses by leaving its Iceberg
    * tables unpartitioned (SURVEY §4). */
  def createPartitioned(df: DataFrame, table: String, partitionCols: Seq[String]): Unit = {
    require(!exists(table), s"table already exists: $table")
    io.mkdirs(tableDir(table))
    io.writeString(partSpecFile(table), partitionCols.mkString(","))
    commit(df, table)
  }

  /** The LAST pointer is a best-effort HINT ([[LakeFs.writeHint]] swallows
    * rename races), so a committed version whose hint write lost must still
    * be visible: resolution takes max(hint, scan) like [[PartitionedTable]].
    * The scan only counts v<N> directories carrying Spark's _SUCCESS marker —
    * a writer that died mid-write leaves no marker and stays invisible, so
    * the "write v<N+1> fully, then publish" protocol is preserved. */
  private def currentVersion(table: String): Option[Int] = {
    val hint =
      if (io.exists(pointer(table)))
        scala.util.Try(io.readString(pointer(table)).trim.toInt).toOption
      else None
    val scanned = io.list(tableDir(table)).map(_.getPath.getName)
      .filter(_.matches("v\\d+")).map(_.drop(1).toInt)
      .filter(v => io.exists(s"${versionDir(table, v)}/_SUCCESS"))
    (hint.toSeq ++ scanned).maxOption
  }

  private def versionDir(table: String, v: Int): String =
    s"${tableDir(table)}/v$v"

  override def exists(table: String): Boolean = currentVersion(table).isDefined

  override def read(spark: SparkSession, table: String): DataFrame = {
    val v = currentVersion(table).getOrElse(
      throw new IllegalArgumentException(s"no such table: $table"))
    spark.read.parquet(versionDir(table, v))
  }

  private def commit(df: DataFrame, table: String): Unit = {
    val next = currentVersion(table).getOrElse(-1) + 1
    val dir = versionDir(table, next)
    val writer = df.write.mode(SaveMode.Overwrite)
    val parts = partitionSpec(table)
    (if (parts.nonEmpty) writer.partitionBy(parts: _*) else writer).parquet(dir)
    io.writeHint(pointer(table), next.toString)
  }

  override def create(df: DataFrame, table: String): Unit = {
    require(!exists(table), s"table already exists: $table")
    commit(df, table)
  }

  /** Align `df` to the target's types (try_cast), then union: brand-new
    * columns append (additive evolution), columns absent from `df` read NULL. */
  override def append(df: DataFrame, table: String): Unit = {
    if (!exists(table)) { create(df, table); return }
    val target = read(df.sparkSession, table)
    val aligned = Align.to(df, target.schema.map(f => f.name -> f.dataType).toMap)
    commit(target.unionByName(aligned, allowMissingColumns = true), table)
  }

  override def overwrite(df: DataFrame, table: String): Unit = commit(df, table)

  /** Delete-matching-then-insert (reference upsert): rows in the target whose
    * key appears in the source are replaced by the source rows. The source is
    * type-aligned first, same as append — a drifted column upserts through
    * try_cast instead of corrupting the committed schema. Key matching is
    * NULL-SAFE (`<=>`): a NULL key in the source replaces the target's NULL
    * key row — a plain equality anti-join would keep the old NULL row AND add
    * the new one, accumulating one extra NULL-key row per upsert (the silver
    * uncastable-pk representative hits exactly this). */
  override def upsert(df: DataFrame, table: String, keys: Seq[String]): Unit = {
    if (!exists(table)) { create(df, table); return }
    val target = read(df.sparkSession, table)
    val aligned = Align.to(df, target.schema.map(f => f.name -> f.dataType).toMap)
    val srcKeys = aligned.select(keys.map(k => col(k).as(s"__k_$k")): _*).distinct()
    val cond = keys.map(k => target(k) <=> srcKeys(s"__k_$k")).reduce(_ && _)
    val kept = target.join(srcKeys, cond, "left_anti")
    commit(kept.unionByName(aligned, allowMissingColumns = true), table)
  }

  // ---- maintenance (the Iceberg-side operations of the reference stack) ----

  /** Small-file compaction: rewrite the current snapshot into
    * ceil(rows / rowsPerFile) files — the Parquet-dir analogue of Iceberg's
    * rewrite_data_files. Appends accumulate one file set per commit; compact
    * before the file count, not the data size, becomes the scan bottleneck. */
  def compact(spark: SparkSession, table: String, rowsPerFile: Long = 1000000L): Unit = {
    val df = read(spark, table)
    val rows = df.count()
    val nFiles = math.max(1L, (rows + rowsPerFile - 1) / rowsPerFile).toInt
    commit(df.repartition(nFiles), table)
  }

  /** Names of all tables under this root (directories with a LAST pointer
    * or at least one committed version). Listing-sized driver work. */
  def tables(): Seq[String] =
    io.list(root).filter(_.isDirectory).map(_.getPath.getName)
      .filter(exists).sorted

  /** All snapshot versions currently on disk (oldest first). */
  def versions(table: String): Seq[Int] =
    io.list(tableDir(table)).map(_.getPath.getName)
      .filter(_.matches("v\\d+")).map(_.drop(1).toInt).sorted

  /** Time-travel read: the table exactly as committed at `version` (see
    * [[versions]]) — Iceberg's VERSION AS OF. Snapshots are immutable once
    * the pointer moves past them, so a pinned reader sees a stable world
    * until [[expireSnapshots]] reclaims it. */
  def readVersion(spark: SparkSession, table: String, version: Int): DataFrame = {
    require(versions(table).contains(version),
      s"version $version not on disk for $table (have ${versions(table)})")
    spark.read.parquet(versionDir(table, version))
  }

  /** Snapshot expiration: delete version directories older than the current
    * pointer (Iceberg's expire_snapshots), RETAINING the `retainLast` most
    * recent predecessors (0 = drop every superseded snapshot). Readers
    * pinned to expired snapshots lose them — call on a maintenance
    * schedule, not per commit. */
  def expireSnapshots(table: String, retainLast: Int = 0): Seq[Int] = {
    val cur = currentVersion(table).getOrElse(return Seq.empty)
    val old = versions(table).filter(_ < cur).sorted.dropRight(retainLast)
    old.foreach(v => io.delete(versionDir(table, v)))
    old
  }

  /** Table metadata snapshot: version, files, bytes, rows. */
  def stats(spark: SparkSession, table: String): Map[String, Long] = {
    val v = currentVersion(table).getOrElse(
      throw new IllegalArgumentException(s"no such table: $table"))
    val parquets = io.listFilesRecursive(versionDir(table, v))
      .filter(_.getPath.getName.endsWith(".parquet"))
    Map("version" -> v.toLong, "data_files" -> parquets.size.toLong,
      "bytes" -> parquets.map(_.getLen).sum,
      "rows" -> read(spark, table).count())
  }
}

/** Partition-scoped Parquet table with an Iceberg-style manifest.
  *
  * Layout:
  * {{{
  *   <root>/<table>/PARTITION          partition column names
  *   <root>/<table>/SCHEMA             the table schema, as Spark JSON
  *   <root>/<table>/BLOOM              declared Bloom columns (optional)
  *   <root>/<table>/LAST               current-version HINT (commit point is
  *                                     the manifest file itself, CAS-created)
  *   <root>/<table>/m/MANIFEST.v<N>    lines: <partitionId>\t<dir>,<dir>,...
  *   <root>/<table>/p/<partitionId>/<tag>-<nonce>-<i>/  immutable data dirs
  * }}}
  *
  * Concurrency: writers serialize through a compare-and-swap on the next
  * manifest file (Iceberg's Hadoop version-file protocol, public design) —
  * compose-against-any-base commits (append/overwrite) rebase and retry on a
  * lost CAS, so racing appenders all land; read-modify-write commits
  * (upsert/delete/CDC/compact) abort with ConcurrentModificationException
  * when their base moved, and the caller retries the operation.
  *
  * A commit stages one distributed `partitionBy` write, MOVES each staged
  * partition directory into place (metadata-only rename), and writes a fresh
  * manifest referencing new directories for touched partitions and the
  * EXISTING directories for everything else. So:
  *  - append is O(new data): no old data is read or rewritten;
  *  - upsert reads and rewrites ONLY partitions containing touched keys —
  *    at 100 TB an upsert of one day's keys into a date-partitioned table
  *    costs one partition, not the table;
  *  - data files retain every column (partition directories are commit
  *    granularity, not schema), so a multi-directory read is one
  *    `spark.read.parquet(dirs*)` with mergeSchema — no per-partition unions.
  *
  * Partition ids are the `c=v` path segments Spark itself writes (shadow
  * `__p_`-prefixed duplicate columns keep the real columns in the files), so
  * value escaping always matches what is on disk.
  */
object PartitionedTable {
  /** Open an existing table from its recorded PARTITION spec — the handle a
    * reader constructs without knowing the layout (e.g. [[AutoSkip.read]]). */
  def open(root: String, t: String): PartitionedTable = {
    val io = new LakeFs(root)
    val pf = s"$root/$t/PARTITION"
    require(io.exists(pf), s"no PARTITION spec at $pf — not a PartitionedTable layout")
    new PartitionedTable(root, io.readString(pf).trim.split(",").toSeq)
  }
}

class PartitionedTable(root: String, partitionCols: Seq[String]) extends TableFormat {
  require(partitionCols.nonEmpty, "PartitionedTable needs partition columns")
  private val io = new LakeFs(root)
  private val Shadow = "__p_"

  /** The table's CURRENT partition spec — the PARTITION file when the table
    * exists (it may have been [[evolvePartitionSpec]]d after this handle was
    * constructed), else the constructor's columns. New stages always write
    * under the current spec; manifests may reference directories of EARLIER
    * specs (ids are self-describing `__p_c=v` paths), which every reader
    * parses per entry. */
  private def specOf(t: String): Seq[String] = {
    val pf = s"${tableDir(t)}/PARTITION"
    if (io.exists(pf)) io.readString(pf).trim.split(",").toSeq
    else partitionCols
  }

  /** PARTITION-SPEC EVOLUTION (Iceberg's evolve-spec semantics, spec §4
    * "Partition Evolution" — public design): change how FUTURE writes are
    * partitioned without rewriting a single existing file. Existing manifest
    * entries keep their old-spec directory ids (readable and
    * manifest-prunable exactly as committed — old snapshots keep the old
    * spec); new appends stage under the new spec; a partition-scoped rewrite
    * (upsert/compact) MIGRATES the partitions it touches to the current
    * spec, so tables converge lazily. Data files carry every real column
    * regardless of spec (the shadow-column layout), so no read path depends
    * on which spec wrote a file. Mixed-spec correctness notes: [[upsert]]'s
    * keys-determine-partition shortcut disables itself while any old-spec
    * entry remains, and [[AutoSkip.read]] prunes per file from the file's
    * own footer, which no spec change touches. Racing writers are benign: a
    * stage in flight under the old spec commits old-spec ids, which are
    * exactly the mixed state this supports. */
  def evolvePartitionSpec(t: String, newCols: Seq[String]): Unit = {
    require(newCols.nonEmpty, "partition spec needs at least one column")
    require(exists(t), s"no such table: $t")
    storedSchema(t).foreach { schema =>
      val missing = newCols.filterNot(schema.fieldNames.contains)
      require(missing.isEmpty,
        s"partition columns not in table schema: ${missing.mkString(", ")}")
    }
    io.writeString(s"${tableDir(t)}/PARTITION", newCols.mkString(","))
  }

  private def tableDir(t: String) = s"$root/$t"
  private def pointer(t: String) = s"${tableDir(t)}/LAST"
  private def manifestFile(t: String, v: Int) = s"${tableDir(t)}/m/MANIFEST.v$v"
  private def dataDir(t: String) = s"${tableDir(t)}/p"

  /** The MANIFEST FILE is the commit point: the current version is the
    * highest MANIFEST.v<N> on disk (a manifest appears atomically via
    * no-overwrite rename, so a half-written one is never visible). The LAST
    * pointer is a read-optimization HINT written after each commit — under
    * a writer race it can briefly trail (or even momentarily regress), so
    * correctness never depends on it: resolution takes max(hint, scan). */
  private def currentVersion(t: String): Option[Int] = {
    val hint =
      if (io.exists(pointer(t)))
        scala.util.Try(io.readString(pointer(t)).trim.toInt).toOption
      else None
    val scanned = io.list(s"${tableDir(t)}/m").map(_.getPath.getName)
      .filter(_.matches("MANIFEST\\.v\\d+")).map(_.drop(10).toInt)
    (hint.toSeq ++ scanned).maxOption
  }

  override def exists(t: String): Boolean = currentVersion(t).isDefined

  /** partitionId -> relative data dirs, insertion-ordered. */
  private def manifest(t: String): Seq[(String, Seq[String])] = manifestAt(t)._2

  /** (version, entries) read together, so a writer can commit against the
    * exact base it computed from (optimistic concurrency). */
  private def manifestAt(t: String): (Int, Seq[(String, Seq[String])]) = {
    val v = currentVersion(t).getOrElse(
      throw new IllegalArgumentException(s"no such table: $t"))
    (v, manifestEntriesAt(t, v))
  }

  /** Manifest entries at an EXPLICIT committed version — every commit leaves
    * its manifest behind (they are the version history), so this reads any
    * version whose manifest has not been expired. */
  private def manifestEntriesAt(t: String, v: Int): Seq[(String, Seq[String])] = {
    require(io.exists(manifestFile(t, v)),
      s"table $t has no manifest for version $v (never committed, or expired)")
    io.readString(manifestFile(t, v)).split("\n").toSeq
      .filter(_.nonEmpty).map { ln =>
        val Array(id, dirs) = ln.split("\t", 2)
        id -> dirs.split(",").toSeq
      }
  }

  /** Try to land `entries` as version `base`+1 through a compare-and-swap on
    * the manifest file ([[LakeFs.writeStringIfAbsent]]); true iff this writer
    * won that version. */
  private def casCommit(t: String, base: Option[Int],
                        entries: Seq[(String, Seq[String])]): Boolean = {
    val next = base.getOrElse(-1) + 1
    val body = entries.map { case (id, dirs) => s"$id\t${dirs.mkString(",")}" }
      .mkString("\n")
    if (!io.writeStringIfAbsent(manifestFile(t, next), body)) return false
    // hint only (see currentVersion) — losers of the hint race are benign,
    // including FileContext's OVERWRITE-rename TOCTOU under racing winners
    io.writeHint(pointer(t), next.toString)
    true
  }

  /** Optimistic-concurrency commit for operations whose new entries COMPOSE
    * against any base (append: add directories; overwrite: replace all),
    * Iceberg-style: on losing the CAS, re-read the winner's entries and
    * rebase via `rebase` — two racing appenders thus BOTH land (neither
    * lost) instead of last-writer-wins. */
  private def commitRebase(t: String)(
      rebase: Seq[(String, Seq[String])] => Seq[(String, Seq[String])]): Unit = {
    var attempts = 0
    while (attempts < 32) {
      val cur = currentVersion(t)
      val entries = rebase(cur.map(_ => manifestAt(t)._2).getOrElse(Seq.empty))
      if (casCommit(t, cur, entries)) return
      attempts += 1
    }
    throw new IllegalStateException(
      s"commit on $t lost the manifest CAS $attempts times — giving up")
  }

  /** One-shot commit for READ-MODIFY-WRITE operations (upsert/delete/compact/
    * CDC): their staged rewrite is only valid against the exact base they
    * computed from, so a conflicting concurrent commit cannot be rebased —
    * it aborts with ConcurrentModificationException (the staged directories
    * become unreferenced; expireUnreferenced cleans them) and the CALLER
    * retries the whole operation: Iceberg's validation-failure semantics.
    * `base` = None expects the table to not exist yet (create). */
  private def commitExpect(t: String, base: Option[Int],
                           entries: Seq[(String, Seq[String])]): Unit = {
    val cur = currentVersion(t)
    if (cur != base || !casCommit(t, base, entries))
      throw new java.util.ConcurrentModificationException(
        s"concurrent write detected on $t: computed against " +
          s"${base.map("v" + _).getOrElse("an absent table")} but " +
          s"${currentVersion(t).map("v" + _).getOrElse("nothing")} is now current; " +
          "this commit is aborted and its staged directories are unreferenced " +
          "(expireUnreferenced cleans them) — retry the operation")
  }

  private def bloomFile(t: String) = s"${tableDir(t)}/BLOOM"

  /** The table's declared Bloom columns: every stage writes a Parquet Bloom
    * filter for each, into every column chunk whose dictionary does not
    * encode all its pages (see [[AutoSkip.index]], which declares them). */
  def bloomColumns(t: String): Seq[String] =
    if (!io.exists(bloomFile(t))) Seq.empty
    else io.readString(bloomFile(t)).trim.split(",").toSeq.filter(_.nonEmpty)

  /** Add `cols` to the declared Bloom columns; files already written keep
    * what they carry until a rewrite ([[rewriteEntries]]). */
  private[lake] def declareBloom(t: String, cols: Seq[String]): Unit = {
    val cur = bloomColumns(t)
    val all = (cur ++ cols).distinct
    if (all != cur) io.writeString(bloomFile(t), all.mkString(","))
  }

  /** Stage-write `df` partitioned by shadow columns, move each staged
    * partition dir under `p/<id>/v<N>-<i>/`, return (id -> relative dir).
    * The write enables the declared Bloom columns' filters as options of
    * its own, never as session conf, each capped at 8 KB (parquet's 1 MB
    * default would dwarf a small file). */
  private def stage(df: DataFrame, t: String, tag: String): Seq[(String, String)] = {
    // names carry a per-staging nonce, not the target version: two RACING
    // writers staging against the same base must land disjoint directories
    // (the CAS commit then serializes whose manifest references what)
    val next = java.util.UUID.randomUUID().toString.take(8)
    val staging = s"${tableDir(t)}/.staging-$tag-$next"
    val spec = specOf(t) // stages always write under the CURRENT spec
    val shadowed = spec.foldLeft(df)((d, c) => d.withColumn(Shadow + c, col(c)))
    shadowed.write.options(bloomColumns(t).map(c => s"parquet.bloom.filter.enabled#$c" -> "true").toMap)
      .option("parquet.bloom.filter.max.bytes", 8192L).mode(SaveMode.Overwrite)
      .partitionBy(spec.map(Shadow + _): _*).parquet(staging)
    // discover the partition directories Spark wrote (canonical escaping);
    // only `name=value` segments count — _SUCCESS/_temporary never match
    def leaves(dir: String, rel: String, depth: Int): Seq[(String, String)] =
      if (depth == 0) Seq(dir -> rel)
      else io.list(dir).filter(st => st.isDirectory && st.getPath.getName.contains("="))
        .flatMap { st =>
          val name = st.getPath.getName
          leaves(st.getPath.toString,
            if (rel.isEmpty) name else s"$rel/$name", depth - 1)
        }
    val staged = leaves(staging, "", spec.length)
    val moved = staged.zipWithIndex.map { case ((src, id), i) =>
      val rel = s"$id/$tag-$next-$i"
      io.rename(src, s"${dataDir(t)}/$rel")
      id -> rel
    }
    io.delete(staging)
    moved
  }

  private def readDirs(spark: SparkSession, t: String, rels: Seq[String]): DataFrame =
    spark.read.option("mergeSchema", true)
      .parquet(rels.map(r => s"${dataDir(t)}/$r"): _*)

  override def read(spark: SparkSession, t: String): DataFrame = {
    val dirs = manifest(t).flatMap(_._2)
    // an all-empty commit (e.g. create of an empty frame: partitionBy stages
    // zero partition dirs) must still read back as an empty frame with the
    // table schema, not throw on a zero-path parquet scan
    if (dirs.isEmpty) emptyFrame(spark, t) else readDirs(spark, t, dirs)
  }

  private def schemaFile(t: String) = s"${tableDir(t)}/SCHEMA"

  /** The SCHEMA file, if the table has one. */
  private def storedSchema(t: String): Option[StructType] =
    if (!io.exists(schemaFile(t))) None
    else Some(DataType.fromJson(io.readString(schemaFile(t))).asInstanceOf[StructType])

  private def emptyFrame(spark: SparkSession, t: String): DataFrame = {
    val schema = storedSchema(t)
    require(schema.isDefined, s"table $t has no data and no SCHEMA file")
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema.get)
  }

  /** Manifest-level partition pruning: read only partitions whose column->raw
    * (unescaped) value map satisfies `pred`. The file-level min/max stats
    * prune further inside Spark. A predicate matching no partitions is a
    * normal query — it returns an empty frame with the table schema, not an
    * error. */
  def readPartitions(spark: SparkSession, t: String,
                     pred: Map[String, String] => Boolean): DataFrame = {
    val keep = manifest(t).filter { case (id, _) => pred(idToValues(id)) }
    if (keep.isEmpty) read(spark, t).limit(0)
    else readDirs(spark, t, keep.flatMap(_._2))
  }

  /** (partitionId, FileStatus) for every data file in the current manifest
    * snapshot — the raw material for a [[AutoSkip.FooterFileIndex]], which
    * needs sizes and Hadoop paths, not path strings. Manifest-sized listing
    * work; no data file is read. */
  def dataFileStatuses(t: String): Seq[(String, FileStatus)] =
    manifest(t).flatMap { case (id, dirs) =>
      dirs.flatMap(rel => io.listFilesRecursive(s"${dataDir(t)}/$rel"))
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .map(id -> _)
    }

  /** Decode a partition id (`__p_c=v/...`) to column -> raw value. */
  def idToValues(id: String): Map[String, String] =
    id.split("/").map { seg =>
      val Array(k, v) = seg.split("=", 2)
      k.stripPrefix(Shadow) -> unescapePathName(v)
    }.toMap

  /** Inverse of Spark/Hive partition-path escaping (%xx sequences). */
  private def unescapePathName(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 3 <= s.length) {
        try {
          sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  override def create(df: DataFrame, t: String): Unit = {
    require(!exists(t), s"table already exists: $t")
    io.mkdirs(tableDir(t))
    io.writeString(s"${tableDir(t)}/PARTITION", partitionCols.mkString(","))
    // schema survives independently of data files, so an empty create (or a
    // later overwrite-to-empty) still reads/appends with the right columns
    io.writeString(schemaFile(t), df.schema.json)
    commitExpect(t, None, mergeEntries(Seq.empty, stage(df, t, "create")))
  }

  /** Fold newly staged (id, dir) pairs into existing entries: touched
    * partitions gain a directory, untouched entries pass through verbatim. */
  private def mergeEntries(existing: Seq[(String, Seq[String])],
                           staged: Seq[(String, String)]): Seq[(String, Seq[String])] = {
    val byId = staged.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val kept = existing.map { case (id, dirs) => id -> (dirs ++ byId.getOrElse(id, Seq.empty)) }
    val newIds = staged.map(_._1).distinct.filterNot(existing.map(_._1).contains)
    kept ++ newIds.map(id => id -> byId(id))
  }

  /** O(new data): stage the aligned rows, move them in, reference everything
    * else from the previous manifest. No existing data is read or copied,
    * and no data file is opened to align: the target types come from the
    * SCHEMA file, which create, overwrite and every evolving write keep
    * current. Only a table without one falls back to the merged read
    * schema. */
  override def append(df: DataFrame, t: String): Unit = {
    if (!exists(t)) { create(df, t); return }
    val target = storedSchema(t).getOrElse(read(df.sparkSession, t).schema)
    val aligned = Align.to(df, target.map(f => f.name -> f.dataType).toMap)
    val staged = stage(aligned, t, "append")
    commitRebase(t)(cur => mergeEntries(cur, staged))
    healSchemaFile(t, target, aligned.schema)
  }

  /** Additive evolution must reach the SCHEMA file too, or every
    * schema-from-SCHEMA consumer (emptyFrame, readChanges' canonical order)
    * reads the pre-evolution shape whenever the current version happens to
    * be empty. Called by EVERY evolving write verb (append, upsert,
    * applyCdc — Align passes new columns through on all of them), only
    * AFTER the commit landed (the overwrite rule: an aborted commit must
    * not leave SCHEMA describing data that never became current). Racing
    * writers adding DIFFERENT columns are last-writer-wins here — data
    * reads are unaffected (mergeSchema) and the next evolving write heals
    * the file. */
  private def healSchemaFile(t: String,
                             target: StructType,
                             aligned: StructType): Unit = {
    val added = aligned.fields.filterNot(f => target.fieldNames.contains(f.name))
    if (added.nonEmpty)
      io.writeString(schemaFile(t),
        StructType(target.fields ++ added).json)
  }

  override def overwrite(df: DataFrame, t: String): Unit = {
    if (!exists(t)) { create(df, t); return }
    val staged = stage(df, t, "overwrite")
    commitRebase(t)(_ => mergeEntries(Seq.empty, staged))
    // only after the commit landed: an aborted commit must not leave SCHEMA
    // describing data that never became current
    io.writeString(schemaFile(t), df.schema.json)
  }

  /** Partition id of a data file path: the segments between `p/` and the
    * version directory. Depth is derived from the path itself — id segments
    * always carry `=` (Spark's path escaping never leaves a raw `=` inside a
    * value) and tag/version dirs never do — so mixed-spec manifests (after
    * [[evolvePartitionSpec]]) resolve every file to its OWN spec's id. */
  private def idOfFilePath(t: String, filePath: String): String = {
    val p = if (filePath.contains(":")) new java.net.URI(filePath).getPath else filePath
    val d = {
      val dd = dataDir(t)
      if (dd.contains(":")) new java.net.URI(dd).getPath else dd
    }
    require(p.startsWith(d + "/"), s"file $filePath is outside $d")
    p.stripPrefix(d + "/").split("/").takeWhile(_.contains("=")).mkString("/")
  }

  /** Partition-scoped delete-matching-then-insert: partitions that receive
    * source rows are rewritten; every partition that neither receives rows
    * nor CONTAINS A MATCHING KEY is committed by reference. When the keys do
    * not functionally determine the partition (partitionCols ⊄ keys), a key
    * may have moved partitions, so untouched partitions are scanned —
    * key-columns only, column-pruned — for matches, and hit partitions join
    * the rewrite set; the delete-matching contract therefore holds globally,
    * while rewrite I/O stays proportional to partitions with matches. */
  override def upsert(df: DataFrame, t: String, keys: Seq[String]): Unit = {
    if (!exists(t)) { create(df, t); return }
    val spark = df.sparkSession
    val target = read(spark, t)
    val aligned = Align.to(df, target.schema.map(f => f.name -> f.dataType).toMap)
    val (baseV, existing) = manifestAt(t)
    // stage the source rows first — their on-disk ids name the touched partitions
    val stagedNew = stage(aligned, t, "upsert-new")
    val touched = stagedNew.map(_._1).distinct.toSet
    val untouched0 = existing.filterNot(e => touched.contains(e._1))
    // null-safe key matching throughout (<=>): NULL source keys must delete
    // the target's NULL-key rows, not duplicate them
    val srcKeys = keyFrame(aligned, keys)
    // the keys-determine-partition shortcut is only sound when EVERY
    // remaining entry is under the current spec: an old-spec partition can
    // hold a staged key even when the new spec's columns are all keys.
    // Compared by the id's COLUMN NAMES, not its depth — a same-length
    // evolution (day -> et) changes the columns without changing depth
    val spec = specOf(t)
    def idCols(id: String): Seq[String] =
      id.split("/").toSeq.map(_.split("=", 2)(0).stripPrefix(Shadow))
    val allCurrentSpec = untouched0.forall(e => idCols(e._1) == spec)
    val hitIds: Set[String] =
      if ((spec.forall(keys.contains) && allCurrentSpec) || untouched0.isEmpty) Set.empty
      else keyHitIds(spark, t, untouched0, keys, srcKeys)
    val rewriteIds = touched ++ hitIds
    val rewriteOldDirs = existing.filter(e => rewriteIds.contains(e._1)).flatMap(_._2)
    val stagedKept =
      if (rewriteOldDirs.isEmpty) Seq.empty
      else {
        val old = readDirs(spark, t, rewriteOldDirs)
        stage(old.join(srcKeys, keyMatch(old, srcKeys, keys), "left_anti"), t, "upsert-kept")
      }
    val untouched = existing.filterNot(e => rewriteIds.contains(e._1))
    commitExpect(t, Some(baseV), mergeEntries(untouched, stagedNew ++ stagedKept))
    healSchemaFile(t, target.schema, aligned.schema)
  }

  /** Partition-scoped SINGLE-COMMIT CDC apply: the delete half and the
    * upsert half land in one manifest flip, so a concurrent reader sees the
    * old table or the fully-merged table, never deletes-without-updates —
    * while rewrite I/O stays proportional to partitions holding changed
    * keys, exactly like [[upsert]]. Shape: stage the upserts (their on-disk
    * ids name the receiving partitions), probe every other partition —
    * key-columns only, column-pruned — for ANY change key (deleted keys
    * and moved upserted keys both need locating; the probe costs what the
    * old two-commit deleteMatching probe cost), anti-join the union of
    * rewrite partitions on all change keys, commit once. One-sided batches
    * delegate to the single cheaper verb, already one commit. */
  override def applyCdc(changes: DataFrame, t: String, keys: Seq[String],
                        opCol: String, orderCol: String): Unit = {
    val (dels, ups) = cdcCollapse(changes, keys, opCol, orderCol)
    if (!exists(t)) { if (!ups.isEmpty) upsert(ups, t, keys); return }
    val (delsEmpty, upsEmpty) = (dels.isEmpty, ups.isEmpty)
    if (delsEmpty && upsEmpty) return
    if (delsEmpty) { upsert(ups, t, keys); return }
    if (upsEmpty) { deleteMatching(dels.select(keys.map(col): _*), t, keys); return }
    val spark = changes.sparkSession
    val target = read(spark, t)
    val aligned = Align.to(ups, target.schema.map(f => f.name -> f.dataType).toMap)
    val (baseV, existing) = manifestAt(t)
    val stagedNew = stage(aligned, t, "cdc-new")
    val touched = stagedNew.map(_._1).distinct.toSet
    val untouched0 = existing.filterNot(e => touched.contains(e._1))
    val allKeys = keyFrame(dels.select(keys.map(col): _*).unionByName(ups.select(keys.map(col): _*)), keys)
    val hitIds =
      if (untouched0.isEmpty) Set.empty[String] else keyHitIds(spark, t, untouched0, keys, allKeys)
    val rewriteIds = touched ++ hitIds
    val rewriteOldDirs = existing.filter(e => rewriteIds.contains(e._1)).flatMap(_._2)
    val stagedKept =
      if (rewriteOldDirs.isEmpty) Seq.empty
      else {
        val old = readDirs(spark, t, rewriteOldDirs)
        stage(old.join(allKeys, keyMatch(old, allKeys, keys), "left_anti"), t, "cdc-kept")
      }
    val untouched = existing.filterNot(e => rewriteIds.contains(e._1))
    commitExpect(t, Some(baseV), mergeEntries(untouched, stagedNew ++ stagedKept))
    healSchemaFile(t, target.schema, aligned.schema)
  }

  /** Partition-scoped key-targeted DELETE: a key-columns-only probe (the
    * same column-pruned semi-join shape as [[upsert]]'s moved-key scan)
    * finds the partitions holding matching keys; only those rewrite via
    * anti-join, everything else commits by reference. No match, no commit. */
  override def deleteMatching(keyRows: DataFrame, t: String, keys: Seq[String]): Unit = {
    val spark = keyRows.sparkSession
    val (baseV, entries) = manifestAt(t)
    if (entries.isEmpty) return
    val srcKeys = keyFrame(keyRows, keys)
    val hitIds = keyHitIds(spark, t, entries, keys, srcKeys)
    if (hitIds.isEmpty) return
    val old = readDirs(spark, t, entries.filter(e => hitIds.contains(e._1)).flatMap(_._2))
    val kept = old.join(srcKeys, keyMatch(old, srcKeys, keys), "left_anti")
    commitExpect(t, Some(baseV), mergeEntries(entries.filterNot(e => hitIds.contains(e._1)),
      stage(kept, t, "delete-keys")))
  }

  /** The distinct key tuples of `df`, renamed `__k_<key>` so they join the
    * target without ambiguity. */
  private def keyFrame(df: DataFrame, keys: Seq[String]): DataFrame =
    df.select(keys.map(k => col(k).as(s"__k_$k")): _*).distinct()

  /** Null-safe (`<=>`) match of `df`'s keys against a [[keyFrame]]: a NULL
    * key must meet the target's NULL-key rows, not duplicate them. */
  private def keyMatch(df: DataFrame, keyed: DataFrame, keys: Seq[String]): Column =
    keys.map(k => df(k) <=> keyed(s"__k_$k")).reduce(_ && _)

  /** Ids of the partitions among `entries` holding a key tuple of `keyed`:
    * a key-columns-only (column-pruned) semi-join, read back by file. */
  private def keyHitIds(spark: SparkSession, t: String, entries: Seq[(String, Seq[String])],
                        keys: Seq[String], keyed: DataFrame): Set[String] = {
    val scan = readDirs(spark, t, entries.flatMap(_._2))
      .select(keys.map(col) :+ input_file_name().as("__file"): _*)
    scan.join(keyed, keyMatch(scan, keyed, keys), "left_semi")
      .select("__file").distinct().collect()
      .map(r => idOfFilePath(t, r.getString(0))).toSet
  }

  /** Partition-scoped DELETE WHERE: one probe scan — column-pruned to the
    * predicate's columns, parquet footer min/max pruning applies (z-order
    * clustering makes it sparse) — locates the partitions that actually
    * CONTAIN matching rows via file identity; only those partitions are
    * rewritten with the inverted predicate, everything else is committed by
    * reference. At 100 TB a delete of one tenant/day costs the partitions
    * holding it, not the table. A partition whose every row matches simply
    * vanishes from the manifest (zero staged directories). The probe's
    * match count doubles as the deleted-row count — no extra pass. */
  override def deleteWhere(spark: SparkSession, t: String, pred: Column): Long = {
    val (baseV, entries) = manifestAt(t)
    if (entries.isEmpty) return 0L
    val all = readDirs(spark, t, entries.flatMap(_._2))
    val hits = all.filter(pred)
      .groupBy(input_file_name().as("__file")).count().collect()
    if (hits.isEmpty) return 0L
    val deleted = hits.map(_.getLong(1)).sum
    val hitIds = hits.map(r => idOfFilePath(t, r.getString(0))).toSet
    val rewriteDirs = entries.filter(e => hitIds.contains(e._1)).flatMap(_._2)
    val kept = readDirs(spark, t, rewriteDirs).filter(!coalesce(pred, lit(false)))
    val staged = stage(kept, t, "delete")
    commitExpect(t, Some(baseV),
      mergeEntries(entries.filterNot(e => hitIds.contains(e._1)), staged))
    deleted
  }

  /** Rewrite multi-directory partitions into one directory each; partitions
    * already compact are referenced, not rewritten. */
  def compact(spark: SparkSession, t: String): Unit =
    rewriteEntries(spark, t, "compact")(_.collect { case (id, dirs) if dirs.length > 1 => id }.toSet)

  /** Rewrite the current manifest's entries whose ids `pick` names, each
    * into the directories one stage writes under the current spec, in one
    * commit; every other entry is committed by reference. Nothing is
    * committed when `pick` names none. Compaction and the Bloom declaration
    * ([[AutoSkip.index]]) share it. */
  private[lake] def rewriteEntries(spark: SparkSession, t: String, tag: String)(
      pick: Seq[(String, Seq[String])] => Set[String]): Unit = {
    val (baseV, entries) = manifestAt(t)
    val ids = pick(entries)
    val (rewrite, keep) = entries.partition(e => ids.contains(e._1))
    if (rewrite.isEmpty) return
    commitExpect(t, Some(baseV),
      mergeEntries(keep, stage(readDirs(spark, t, rewrite.flatMap(_._2)), t, tag)))
  }

  /** OPTIMIZE ... ZORDER BY: rewrite the whole table with files clustered on
    * the Morton curve over `zCols` WITHIN each partition (Delta's OPTIMIZE
    * ZORDER / Iceberg's sort-order rewrite, public designs). Rows
    * range-partition on (partition columns, zv), so every task holds a
    * contiguous z-range of one (or at a boundary, two) partitions and the
    * staged files inside a partition carry disjoint z-spans — parquet footer
    * min/max stats then prune on ANY clustered column, the layout
    * [[ZOrder]] gives unpartitioned paths, composed with the manifest
    * commit. One table scan + the one range exchange any clustered rewrite
    * must pay; `nTasks` sizes the output file count. */
  def compactZOrdered(spark: SparkSession, t: String, zCols: Seq[String],
                      nTasks: Int, bits: Int = 16): Unit = {
    require(zCols.nonEmpty && nTasks >= 1, "need z-columns and >= 1 task")
    val (baseV, entries) = manifestAt(t)
    if (entries.isEmpty) return
    val all = readDirs(spark, t, entries.flatMap(_._2))
    // Morton key under an internal name: a table that legitimately carries a
    // user 'zv' column (e.g. one a z-ordered writer produced) must survive
    // the rewrite with that column intact
    val zc = "__zv_compact"
    val keyCols = (specOf(t) :+ zc).map(col)
    val arranged = ZOrder.withZValue(all, zCols, bits, zc)
      .repartitionByRange(nTasks, keyCols: _*)
      .sortWithinPartitions(keyCols: _*)
      .drop(zc)
    commitExpect(t, Some(baseV), mergeEntries(Seq.empty, stage(arranged, t, "zorder")))
  }

  /** Delete data directories no longer referenced by the current manifest and
    * manifests older than the pointer. */
  def expireUnreferenced(t: String): Seq[String] = {
    val live = manifest(t).flatMap(_._2).toSet
    val removed = scala.collection.mutable.ArrayBuffer.empty[String]
    // descend while segments are partition ids (`c=v`); the first non-id
    // level is the tag directory the manifest references. Path-derived, not
    // spec-length-derived: after evolvePartitionSpec the tree holds ids of
    // several depths, and a fixed depth would misread old-spec tag dirs as
    // id levels and delete LIVE data.
    def walk(dir: String, prefix: String): Unit =
      io.list(dir).filter(_.isDirectory).foreach { st =>
        val name = st.getPath.getName
        val rel = if (prefix.isEmpty) name else s"$prefix/$name"
        if (name.contains("=")) walk(st.getPath.toString, rel)
        else if (!live.contains(rel)) { io.delete(st.getPath.toString); removed += rel }
      }
    walk(dataDir(t), "")
    val cur = currentVersion(t).getOrElse(return removed.toSeq)
    io.list(s"${tableDir(t)}/m").map(_.getPath.getName)
      .filter(n => (n.matches("MANIFEST\\.v\\d+") && n.drop(10).toInt < cur) ||
        n.contains(".tmp")) // a crashed CAS loser's temp sibling
      .foreach(n => io.delete(s"${tableDir(t)}/m/$n"))
    removed.toSeq
  }

  /** Absolute data directories of one partition — for tests and inspection. */
  def partitionDirs(t: String, id: String): Seq[String] =
    manifest(t).find(_._1 == id).map(_._2.map(r => s"${dataDir(t)}/$r")).getOrElse(Seq.empty)

  /** Current manifest entries (partitionId -> relative dirs). */
  def entries(t: String): Seq[(String, Seq[String])] = manifest(t)

  /** Current committed version — for tests and inspection (commit-count
    * assertions: a single-commit operation advances this by exactly 1). */
  def version(t: String): Option[Int] = currentVersion(t)

  /** All committed versions whose manifests are still on disk, ascending. */
  def versions(t: String): Seq[Int] =
    io.list(s"${tableDir(t)}/m").map(_.getPath.getName)
      .filter(_.matches("MANIFEST\\.v\\d+")).map(_.drop(10).toInt).sorted

  /** Time-travel read: the table exactly as version `v` committed it —
    * manifests are the retained version history, so this is a plain read of
    * that version's file list (fails if the version's manifest, or data dirs
    * an expiry removed, are gone — the Iceberg/Delta retention contract). */
  def readVersion(spark: SparkSession, t: String, v: Int): DataFrame = {
    val dirs = manifestEntriesAt(t, v).flatMap(_._2)
    if (dirs.isEmpty) emptyFrame(spark, t) else readDirs(spark, t, dirs)
  }

  /** Incremental changefeed read — the Delta `table_changes` / Iceberg
    * incremental-scan analogue (both public behaviors; reference engines
    * expose the same via BigQuery table snapshots/changes): every row added
    * or removed between two committed versions, tagged `_change_type`
    * ('insert' | 'delete') and `_commit_version` (the commit that did it).
    *
    * Granularity is the FILE DIFF of consecutive manifests: appends surface
    * as pure inserts; a partition-scoped upsert/delete surfaces the
    * rewritten partition's old files as deletes and its new files as inserts
    * (an unchanged row inside a rewritten partition reports as delete +
    * insert — exactly Delta CDF's behavior without per-row change tracking).
    * Cost is proportional to CHANGED files only — untouched partitions are
    * committed by reference, so they never enter the diff; nothing rescans
    * the table. Downstream incremental consumers (silver/gold maintenance)
    * fold the delete leg as retractions and the insert leg as additions.
    * Requires the in-between manifests and their removed files to still
    * exist (run before [[expireUnreferenced]], the retention contract). */
  def readChanges(spark: SparkSession, t: String, fromV: Int, toV: Int): DataFrame = {
    require(fromV <= toV, s"fromV $fromV must be <= toV $toV")
    var prev = manifestEntriesAt(t, fromV).flatMap(_._2).toSet
    val legs = (fromV + 1 to toV).flatMap { v =>
      val cur = manifestEntriesAt(t, v).flatMap(_._2).toSet
      val out = Seq(((cur -- prev).toSeq.sorted, "insert"),
          ((prev -- cur).toSeq.sorted, "delete"))
        .collect { case (dirs, ct) if dirs.nonEmpty =>
          readDirs(spark, t, dirs)
            .withColumn("_change_type", lit(ct))
            .withColumn("_commit_version", lit(v))
        }
      prev = cur
      out
    }
    if (legs.isEmpty)
      emptyFrame(spark, t)
        .withColumn("_change_type", lit(""))
        .withColumn("_commit_version", lit(0))
        .limit(0)
    // allowMissingColumns: a range spanning an additive schema-evolution
    // commit has pre-evolution legs without the later-added columns — they
    // read NULL there (Delta CDF's behavior) instead of failing the union.
    // Then read with the CURRENT table schema regardless of range (the Delta
    // CDF contract): a range ending entirely BEFORE an evolution still
    // carries every later-added column, as typed nulls, and the column order
    // is canonical (current-schema order for the data columns, change
    // columns last) — without this, both the changefeed's width and the
    // change columns' ordinals a positional consumer reads would depend on
    // which commits the range happens to span.
    else {
      val u0 = legs.reduce(_.unionByName(_, allowMissingColumns = true))
      // emptyFrame's SCHEMA file IS the current schema — create, overwrite,
      // AND evolving appends all rewrite it — so learning the column list
      // costs one small JSON read, never a footer scan of the snapshot (the
      // changefeed's cost contract: proportional to changed files only)
      val current = emptyFrame(spark, t).schema
      val u = current.fields.filterNot(f => u0.columns.contains(f.name))
        .foldLeft(u0)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
      val data = current.fieldNames.filter(u.columns.contains) ++
        u.columns.filterNot(c => current.fieldNames.contains(c) ||
          c == "_change_type" || c == "_commit_version")
      u.select((data :+ "_change_type" :+ "_commit_version").map(col): _*)
    }
  }
}
