package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.lake.{AutoSkip, PartitionedTable}

/** Range evidence pins: [[AutoSkip.read]] bounds every file from its own
  * Parquet footer. Exact typed bounds per file, equal to a per-file scan
  * for every mapped type; range pruning through the FileIndex with the
  * superset guarantee; null semantics; and the footers that give no
  * evidence (a NaN, an over-long string, an INT96 timestamp), whose files
  * must be kept. */
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

  /** A [[PartitionedTable]] `t` partitioned by `p` (the constant "x" where a
    * frame carries none), committed one file per frame. */
  private def lakeOf(frames: Seq[DataFrame]): (String, PartitionedTable) = {
    val root = tempDir()
    val table = new PartitionedTable(root, Seq("p"))
    frames.map(f => (if (f.columns.contains("p")) f else f.withColumn("p", lit("x"))).coalesce(1))
      .zipWithIndex.foreach {
        case (f, 0) => table.create(f, "t")
        case (f, _) => table.append(f, "t")
      }
    (root, table)
  }

  /** [[lakeOf]] of 4 files with disjoint known ranges: file k holds v in
    * [1000k, 1000k+99]. */
  private def rangedLake(): String = {
    import spark.implicits._
    lakeOf((0 until 4).map { k =>
      (0 until 100).map(i => (1000L * k + i, s"name_${1000 * k + i}")).toDF("v", "s")
    })._1
  }

  private def keptOf(df: DataFrame): Seq[String] = AutoSkip.fileIndexOf(df).get.lastKept

  /** The footer evidence a read handle holds, by file key. */
  private def zonesOf(root: String): Map[String, Map[String, AutoSkip.ColZone]] =
    AutoSkip.fileIndexOf(AutoSkip.read(spark, root, "t")).get.zones

  private def keyOfKept(path: String): String =
    AutoSkip.fileKey(new org.apache.hadoop.fs.Path(path).toUri.toString)

  /** The same evidence built by a scan: per file, each column's min, max,
    * null count and row count, in catalyst values. */
  private def scanZones(root: String, cols: Seq[String]): Map[String, Map[String, AutoSkip.ColZone]] = {
    val df = PartitionedTable.open(root, "t").read(spark, "t")
    val aggs = count(lit(1)).as("__rows") +: cols.flatMap(c => Seq(min(col(c)), max(col(c)),
      sum(when(col(c).isNull, 1L).otherwise(0L))))
    df.groupBy(input_file_name().as("__file")).agg(aggs.head, aggs.tail: _*).collect().map { r =>
      val rows = r.getLong(1)
      AutoSkip.fileKey(r.getString(0)) -> cols.zipWithIndex.map { case (c, i) =>
        val conv = CatalystTypeConverters.createToCatalystConverter(df.schema(c).dataType)
        c -> AutoSkip.ColZone(conv(r.get(2 + 3 * i)), conv(r.get(3 + 3 * i)), r.getLong(4 + 3 * i), rows)
      }.toMap
    }.toMap
  }

  /** Equal under the column's own Spark ordering (so -0.0 equals 0.0). */
  private def sameZone(dt: DataType, a: AutoSkip.ColZone, b: AutoSkip.ColZone): Boolean = {
    val ord = TypeUtils.getInterpretedOrdering(dt)
    def eq(x: Any, y: Any) = if (x == null || y == null) x == null && y == null else ord.equiv(x, y)
    eq(a.min, b.min) && eq(a.max, b.max) && a.nulls == b.nulls && a.rows == b.rows
  }

  test("build: one row per file, exact typed bounds, null accounting") {
    import spark.implicits._
    val root = rangedLake()
    val zones = zonesOf(root)
    assert(zones.size == 4, "one evidence entry per file")
    zones.values.foreach { z =>
      val v = z("v")
      val (mn, mx) = (v.min.asInstanceOf[Long], v.max.asInstanceOf[Long])
      assert(mx - mn == 99L && mn % 1000 == 0, s"bounds $mn..$mx not a file range")
      assert(v.rows == 100L && v.nulls == 0L)
    }
    // int64 bounds exceeding double precision survive exactly (no rounding),
    // and nulls are counted per column
    val big = (1L << 53) + 1L
    val (bigRoot, _) = lakeOf(Seq(Seq(Some(big), Some(big + 3L), None).toDF("v")))
    val z = zonesOf(bigRoot).values.head("v")
    assert(z.min == big && z.max == big + 3L, "2^53+1 must not round")
    assert(z.nulls == 1L && z.rows == 3L)
  }

  test("footer zones equal a per-file scan for every mapped type; NaN, long strings and INT96 keep their file") {
    val schema = StructType(Seq(
      StructField("tag", StringType), StructField("p", StringType),
      StructField("l", LongType), StructField("i", IntegerType),
      StructField("sh", ShortType), StructField("b", ByteType),
      StructField("dt", DateType), StructField("s", StringType),
      StructField("d", DoubleType), StructField("f", FloatType),
      StructField("dec9", DecimalType(9, 2)), StructField("dec18", DecimalType(18, 4)),
      StructField("dec30", DecimalType(30, 5)), StructField("bo", BooleanType),
      StructField("ntz", TimestampNTZType), StructField("ts", TimestampType)))
    val cols = schema.fieldNames.toSeq.filterNot(_ == "tag")
    def row(tag: String, p: String, n: Long, s: String, d: Double, f: Float): Row = Row(
      tag, p, n * 1000003L, n.toInt * 7, (n * 3).toShort, n.toByte,
      java.time.LocalDate.of(2024, 1, 1).plusDays(n), s, d, f,
      new java.math.BigDecimal(n).movePointLeft(2), new java.math.BigDecimal(n * 100001L).movePointLeft(4),
      new java.math.BigDecimal(n).multiply(new java.math.BigDecimal("1e20")).movePointLeft(5),
      n % 2 == 0, java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusSeconds(n * 3601L),
      java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(n * 7L))
    def frame(rows: Row*): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val long = "z" * 5000
    val (root, table) = lakeOf(Seq(
      // negatives, multi-byte and astral strings
      frame(row("mixed", "x", -5L, "é", -2.5, -1.5f), row("mixed", "x", 9L, "日本", 3.25, 7.5f),
        row("mixed", "x", 2L, "\uD83D\uDE00", 1.0, 0.5f), row("mixed", "x", -1L, "a", 0.0, 0.0f)),
      frame(row("zeros", "x", 1L, "b", -0.0, -0.0f), row("zeros", "x", 3L, "c", 0.0, 0.0f)),
      frame(row("default_part", null, 4L, "d", 4.0, 4.0f), row("default_part", null, 6L, "e", 6.0, 6.0f)),
      frame(row("tab_part", "\tP", 7L, "\tq", 7.0, 7.0f), row("tab_part", "\tP", 8L, " q", 8.0, 8.0f)),
      frame(Row.fromSeq("all_null" +: "x" +: Seq.fill(schema.length - 2)(null)),
        Row.fromSeq("all_null" +: "x" +: Seq.fill(schema.length - 2)(null))),
      frame(row("nan", "x", 10L, "f", Double.NaN, Float.NaN), row("nan", "x", 11L, "g", 1.0, 1.0f)),
      frame(row("long", "x", 12L, long, 12.0, 12.0f), row("long", "x", 13L, "h", 13.0, 13.0f))))
    val plain = table.read(spark, "t")
    val fileOf = plain.groupBy(input_file_name()).agg(first("tag")).collect()
      .map(r => r.getString(1) -> AutoSkip.fileKey(r.getString(0))).toMap
    assert(fileOf.size == 7, fileOf.toString)
    val zones = zonesOf(root)
    val scanned = scanZones(root, cols)
    // Spark writes TimestampType as INT96 unless told otherwise; INT96 has
    // no defined order, so its footer gives no evidence
    val int96 = spark.conf.get("spark.sql.parquet.outputTimestampType") == "INT96"
    val noEvidence = Set("nan" -> "d", "nan" -> "f", "long" -> "s") ++
      (if (int96) fileOf.keys.map(_ -> "ts") else Nil)
    for ((tag, key) <- fileOf; c <- cols) {
      val got = zones(key).get(c)
      if (noEvidence(tag -> c)) assert(got.isEmpty, s"$tag.$c must give no evidence: $got")
      else assert(got.exists(sameZone(schema(c).dataType, _, scanned(key)(c))),
        s"$tag.$c: footer $got, scan ${scanned(key)(c)}")
    }
    assert(zones(fileOf("default_part"))("p") == AutoSkip.ColZone(null, null, 2L, 2L))
    assert(zones(fileOf("all_null"))("l") == AutoSkip.ColZone(null, null, 2L, 2L))
    // the kept files answer exactly: NaN sorts above every double in Spark,
    // so a range above all finite values must still find the NaN row
    def check(pred: org.apache.spark.sql.Column, rows: Long, mustKeep: String*): Unit = {
      val df = AutoSkip.read(spark, root, "t").filter(pred)
      val got = df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
      assert(got == plain.filter(pred).collect().map(_.toSeq.mkString("|")).sorted.toSeq, pred.toString)
      assert(got.size == rows, s"$pred: ${got.size} rows")
      val kept = keptOf(df).map(keyOfKept).toSet
      mustKeep.foreach(t => assert(kept(fileOf(t)), s"$pred must keep the $t file"))
    }
    check(col("d") > 1e9, 1L, "nan")
    check(col("f") > 1e9f, 1L, "nan")
    check(col("s") === long, 1L, "long")
    check(col("d") === 0.0, 3L, "mixed", "zeros")
    check(col("ts") === java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:28Z")), 1L)
    check(col("p").isNull, 2L, "default_part")
    check(col("p") === "\tP", 2L, "tab_part")
    // the partition evidence is exact: those two reads keep one file each
    val tabPart = AutoSkip.read(spark, root, "t").filter(col("p") === "\tP")
    assert(tabPart.count() == 2L && keptOf(tabPart).size == 1)
    val nullPart = AutoSkip.read(spark, root, "t").filter(col("p").isNull)
    assert(nullPart.count() == 2L && keptOf(nullPart).size == 1)
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

  test("string bounds: footer strings bound exactly; unboundable strings keep their file") {
    import spark.implicits._
    val (lo, hi) = ("prefix_" + "a" * 40, "prefix_" + "z" * 40)
    val ffff = "\uFFFF" * 40
    val emoji = "a" * 31 + "\uD83D\uDE00" + "tail"
    // parquet keeps a chunk's min and max only while together they fit in
    // 4 KB: `mid` is bounded, `huge` is not
    val (mid, huge) = ("m" * 1500, "n" * 3000)
    val (root, _) = lakeOf(Seq(Seq(lo, hi).toDF("s"), Seq(ffff).toDF("s"), Seq(emoji).toDF("s"),
      Seq(mid).toDF("s"), Seq(huge).toDF("s")))
    val bounds = zonesOf(root).values.map(_.get("s").map(z => (z.min.toString, z.max.toString)))
    assert(bounds.toSet == Set(Some((lo, hi)), Some((ffff, ffff)), Some((emoji, emoji)),
      Some((mid, mid)), None), bounds.toString)
    // a point probe keeps the file holding the value, plus the one file
    // with no evidence; the probe for `huge` keeps that file alone
    for (v <- Seq(lo, hi, ffff, emoji, mid, huge)) {
      val df = AutoSkip.read(spark, root, "t").filter(col("s") === v)
      assert(df.collect().map(_.getAs[String]("s")).toSeq == Seq(v))
      assert(keptOf(df).size == (if (v == huge) 1 else 2), s"${v.take(10)}: kept ${keptOf(df).size} of 5")
    }
  }

  test("null semantics: all-null files prune, mixed files survive") {
    import spark.implicits._
    val (root, _) = lakeOf(Seq(Seq[Option[Long]](None, None).toDF("v"),
      Seq[Option[Long]](Some(7L), None).toDF("v")))
    // range probes never match NULL, so the all-null file is skippable
    val range = AutoSkip.read(spark, root, "t").filter(col("v") >= 0L && col("v") <= 100L)
    assert(range.collect().map(_.getAs[Long]("v")).toSeq == Seq(7L))
    assert(keptOf(range).size == 1)
    val notNull = AutoSkip.read(spark, root, "t").filter(col("v").isNotNull)
    assert(notNull.count() == 1L && keptOf(notNull).size == 1)
    // index() refuses a range column that is missing or not orderable
    val (mapRoot, _) = lakeOf(Seq(Seq((1L, Map("a" -> 1))).toDF("v", "m")))
    intercept[IllegalArgumentException](AutoSkip.index(spark, mapRoot, "t", Seq("m")))
    intercept[IllegalArgumentException](AutoSkip.index(spark, mapRoot, "t", Seq("absent")))
    AutoSkip.index(spark, mapRoot, "t", Seq("v"))
  }

  test("footer zones follow commits: appended files are bounded, rewritten files drop") {
    import spark.implicits._
    def frame(k: Int) = (0 until 50).map(i => (1000L * k + i, "x")).toDF("v", "p").coalesce(1)
    val (root, table) = lakeOf(Seq(frame(0), frame(1)))
    val z0 = zonesOf(root)
    assert(z0.size == 2)
    // two appended files: a new handle bounds them and keeps the rest as is
    (2 until 4).foreach(k => table.append(frame(k), "t"))
    val z1 = zonesOf(root)
    assert(z1.size == 4)
    assert(z1.values.count { z =>
      z("v").min.asInstanceOf[Long] <= 3010L && z("v").max.asInstanceOf[Long] >= 3000L
    } == 1)
    assert(z0.toSet.subsetOf(z1.toSet), "existing files keep their evidence")
    // compaction rewrites every file: only the new files carry evidence, and
    // it equals a scan of them
    table.compact(spark, "t")
    val z2 = zonesOf(root)
    assert(z2.keySet.intersect(z1.keySet).isEmpty && z2.values.map(_("v").rows).sum == 200L)
    val scanned = scanZones(root, Seq("v"))
    assert(z2.keySet == scanned.keySet &&
      z2.forall { case (k, z) => sameZone(LongType, z("v"), scanned(k)("v")) })
    val df = AutoSkip.read(spark, root, "t").filter(col("v") >= 3000L && col("v") <= 3010L)
    assert(df.count() == 11L)
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
