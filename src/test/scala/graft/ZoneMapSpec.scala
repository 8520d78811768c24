package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.lake.{AutoSkip, PartitionedTable, ZoneMapIndex}

/** Zone-map sidecar pins: per-file bounds, range pruning superset guarantee,
  * actual file skipping through [[AutoSkip.read]], typed (non-rounded) int64
  * bounds, Iceberg-style string upper-bound truncation, null semantics. */
class ZoneMapSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tempDir(): String = {
    val root = java.nio.file.Files.createTempDirectory("graft_zonemap_").toString
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import java.nio.file.{Files, Path}
      val p = Path.of(root)
      if (Files.exists(p))
        Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(q => Files.delete(q))
    }))
    root
  }

  /** A [[PartitionedTable]] `t` (one constant partition `p`) committed one
    * file per frame, zone-indexed on `zoneCols`. */
  private def lakeOf(frames: Seq[DataFrame], zoneCols: Seq[String]): String = {
    val root = tempDir()
    val table = new PartitionedTable(root, Seq("p"))
    frames.map(_.withColumn("p", lit("x")).coalesce(1)).zipWithIndex.foreach {
      case (f, 0) => table.create(f, "t")
      case (f, _) => table.append(f, "t")
    }
    AutoSkip.index(spark, root, "t", zoneCols)
    root
  }

  /** [[lakeOf]] of 4 files with disjoint known ranges: file k holds v in
    * [1000k, 1000k+99]. */
  private def rangedLake(): String = {
    import spark.implicits._
    lakeOf((0 until 4).map { k =>
      (0 until 100).map(i => (1000L * k + i, s"name_${1000 * k + i}")).toDF("v", "s")
    }, Seq("v", "s"))
  }

  private def keptOf(df: DataFrame): Seq[String] = AutoSkip.fileIndexOf(df).get.lastKept

  /** 4 files with disjoint known ranges: file k holds v in [1000k, 1000k+99]. */
  private def writeRanged(): String = {
    import spark.implicits._
    val dir = tempDir()
    (0 until 4).foreach { k =>
      (0 until 100).map(i => (1000L * k + i, s"name_${1000 * k + i}"))
        .toDF("v", "s").coalesce(1)
        .write.mode("append").parquet(dir)
    }
    dir
  }

  test("build: one row per file, exact typed bounds, null accounting") {
    import spark.implicits._
    val dir = writeRanged()
    val idx = ZoneMapIndex.build(spark.read.parquet(dir), Seq("v", "s"))
    val rows = idx.collect()
    assert(rows.length == 4, "one sidecar row per file")
    rows.foreach { r =>
      val mn = r.getAs[Long]("v__min"); val mx = r.getAs[Long]("v__max")
      assert(mx - mn == 99L && mn % 1000 == 0, s"bounds $mn..$mx not a file range")
      assert(r.getAs[Long]("rows") == 100L && r.getAs[Long]("v__nulls") == 0L)
    }
    // int64 bounds exceeding double precision survive exactly (no rounding)
    val bigDir = tempDir()
    val big = (1L << 53) + 1L
    Seq(big, big + 3L).toDF("v").coalesce(1).write.mode("append").parquet(bigDir)
    val bigIdx = ZoneMapIndex.build(spark.read.parquet(bigDir), Seq("v")).collect()
    assert(bigIdx.head.getAs[Long]("v__min") == big, "2^53+1 must not round")
  }

  test("range read prunes files and keeps the superset; the pruned read is exact") {
    val root = rangedLake()
    def read(pred: org.apache.spark.sql.Column) = AutoSkip.read(spark, root, "t").filter(pred)
    def plain(pred: org.apache.spark.sql.Column) =
      PartitionedTable.open(root, "t").read(spark, "t").filter(pred)
    def values(df: DataFrame) = df.collect().map(_.getAs[Long]("v")).sorted.toSeq
    // a range inside one file's bounds: exactly 1 of 4 files survives
    val one = read(col("v") >= 2010L && col("v") <= 2020L)
    assert(values(one).size == 11 && keptOf(one).size == 1)
    // straddling two files: both survive, and the pruned read equals the
    // full-scan filter row for row
    val straddle = col("v") >= 1090L && col("v") <= 2010L
    val two = read(straddle)
    assert(values(two) == values(plain(straddle)) && values(two).nonEmpty)
    assert(keptOf(two).size == 2)
    // outside every range: zero files, and the read returns nothing
    val none = read(col("v") >= 9000L)
    assert(none.count() == 0L && keptOf(none).isEmpty)
    // open-ended bounds
    val low = read(col("v") <= 5L)
    assert(low.count() == 6L && keptOf(low).size == 1)
  }

  test("string bounds: truncation keeps the superset; upper bound increments") {
    // unit pins on the truncation rule
    assert(ZoneMapIndex.truncatedUpper("short", 10).contains("short"))
    assert(ZoneMapIndex.truncatedUpper("abcdef", 3).contains("abd"), "last kept unit +1")
    assert(ZoneMapIndex.truncatedUpper("ab\uFFFFzz", 3).contains("ac"),
      "skip unincrementable tail unit")
    assert(ZoneMapIndex.truncatedUpper("\uFFFF\uFFFF\uFFFFx", 3).isEmpty,
      "all-FFFF prefix has no short upper bound")
    assert(ZoneMapIndex.truncatedUpper("ab\uD83D\uDE00z", 3).contains("ac"),
      "a surrogate half is never incremented or kept alone")
    assert(ZoneMapIndex.truncatedUpper("a\uD7FFzz", 2).contains("a\uE000"),
      "U+D7FF steps over the surrogate range")
    import spark.implicits._
    // bounds keep 32 characters: every value below is longer
    val (lo, hi) = ("prefix_" + "a" * 40, "prefix_" + "z" * 40)
    val ffff = "\uFFFF" * 40
    // a surrogate pair straddles the 32-unit cut
    val emoji = "a" * 31 + "\uD83D\uDE00" + "tail"
    val root = lakeOf(Seq(Seq(lo, hi).toDF("s"), Seq(ffff).toDF("s"), Seq(emoji).toDF("s")),
      Seq("s"))
    val bounds = new graft.lake.ParquetDirFormat(s"$root/t/idx").read(spark, "zonemap")
      .collect().map(r => (r.getAs[String]("s__min"), r.getAs[String]("s__max"))).toSet
    // lower bound: the 32-unit prefix; upper bound: the prefix with its last
    // unit incremented; an all-U+FFFF prefix has no short upper bound, so the
    // full string is kept; the surrogate pair is kept whole by the lower
    // bound (32 code points) and never split by the upper one
    assert(bounds == Set(("prefix_" + "a" * 25, "prefix_" + "z" * 24 + "{"),
      (ffff.take(32), ffff), (emoji.take(33), "a" * 30 + "b")), bounds.toString)
    // every real value still falls inside its file's truncated bounds: a
    // point probe keeps exactly the file holding it and reads the value
    for (v <- Seq(lo, hi, ffff, emoji)) {
      val df = AutoSkip.read(spark, root, "t").filter(col("s") === v)
      assert(df.collect().map(_.getAs[String]("s")).toSeq == Seq(v))
      assert(keptOf(df).size == 1, s"${v.take(10)}: kept ${keptOf(df).size} of 3")
    }
  }

  test("null semantics: all-null files prune, mixed files survive") {
    import spark.implicits._
    val root = lakeOf(Seq(Seq[Option[Long]](None, None).toDF("v"),
      Seq[Option[Long]](Some(7L), None).toDF("v")), Seq("v"))
    // range probes never match NULL, so the all-null file is skippable
    val range = AutoSkip.read(spark, root, "t").filter(col("v") >= 0L && col("v") <= 100L)
    assert(range.collect().map(_.getAs[Long]("v")).toSeq == Seq(7L))
    assert(keptOf(range).size == 1)
    val notNull = AutoSkip.read(spark, root, "t").filter(col("v").isNotNull)
    assert(notNull.count() == 1L && keptOf(notNull).size == 1)
    // non-orderable columns refuse loudly
    val m = Seq((1L, Map("a" -> 1))).toDF("v", "m")
    intercept[IllegalArgumentException](ZoneMapIndex.build(m, Seq("m")))
  }

  test("refresh: appended files profile incrementally, rewritten files drop") {
    import spark.implicits._
    val dir = tempDir()
    (0 until 2).foreach { k =>
      (0 until 50).map(i => 1000L * k + i).toDF("v").coalesce(1)
        .write.mode("append").parquet(dir)
    }
    val idx0 = ZoneMapIndex.build(spark.read.parquet(dir), Seq("v"))
      .localCheckpoint(true)
    assert(idx0.count() == 2)
    // append two more files: refresh profiles ONLY them and keeps the rest
    (2 until 4).foreach { k =>
      (0 until 50).map(i => 1000L * k + i).toDF("v").coalesce(1)
        .write.mode("append").parquet(dir)
    }
    val idx1 = ZoneMapIndex.refresh(spark.read.parquet(dir), idx0, Seq("v"))
      .localCheckpoint(true)
    assert(idx1.count() == 4)
    assert(idx1.filter(col("v__min") <= 3010L && col("v__max") >= 3000L).count() == 1)
    // the two original sidecar rows survive byte-identical
    val keep0 = idx0.collect().map(_.toSeq.toString).toSet
    val keep1 = idx1.collect().map(_.toSeq.toString).toSet
    assert(keep0.subsetOf(keep1), "existing rows must pass through untouched")
    // compaction: rewrite the whole table into one file — stale rows drop
    val dir2 = tempDir()
    spark.read.parquet(dir).coalesce(1).write.mode("append").parquet(dir2)
    val idx2 = ZoneMapIndex.refresh(spark.read.parquet(dir2), idx1, Seq("v"))
    val r = idx2.collect()
    assert(r.length == 1 && r.head.getAs[Long]("rows") == 200L,
      "compacted layout leaves one fresh row, no stale files")
    // no-op refresh returns the index unchanged
    assert(ZoneMapIndex.refresh(spark.read.parquet(dir2), idx2, Seq("v"))
      .collect().map(_.toSeq.toString).toSet == r.map(_.toSeq.toString).toSet)
  }

  test("key-bounds prune: bounded build cohort opens only overlapping files, join-exact") {
    import spark.implicits._
    val root = rangedLake() // 4 files, file k holds v in [1000k, 1000k+99]
    val plain = PartitionedTable.open(root, "t").read(spark, "t")
    def probe(keys: DataFrame) = graft.queries.Events.withinKeyBounds(
      AutoSkip.read(spark, root, "t"), "v", keys)
    def values(df: DataFrame) = df.collect().map(_.getAs[Long]("v")).sorted.toSeq
    // build cohort spans [2010, 2040] — only file 2 can overlap
    val build = Seq(2010L, 2025L, 2040L, 2025L).toDF("k")
    val scanned = probe(build)
    // inner-join equivalence: prune+join == plain join, row for row
    val got = values(scanned.join(build.distinct(), col("v") === col("k")))
    assert(keptOf(scanned).size == 1, "3 of 4 files must be skipped")
    val want = values(plain.join(build.distinct(), col("v") === col("k")))
    assert(got == want && want == Seq(2010L, 2025L, 2040L))
    // straddling cohort keeps the superset (2 files), never loses a match
    val wide = Seq(1090L, 2010L).toDF("k")
    val scannedWide = probe(wide)
    assert(scannedWide.join(wide, col("v") === col("k")).count() == 2L)
    assert(keptOf(scannedWide).size == 2)
    // an empty or all-null build side folds to NULL bounds: the optimizer
    // drops the scan, so nothing is read
    for (keys <- Seq(Seq.empty[Long].toDF("k"), Seq[Option[Long]](None, None).toDF("k"))) {
      val none = probe(keys)
      assert(none.count() == 0L)
      assert(none.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
      }.isEmpty, "no file scan may be planned")
    }
  }
}
