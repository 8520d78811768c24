package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.lake.{AutoSkip, PartitionedTable}

/** Point evidence from the data files' own Parquet Bloom filters and
  * dictionaries: every lake verb writes the filters of a table's declared
  * columns with the data, and a pruned point read through [[AutoSkip.read]]
  * keeps every file that truly holds a value. */
class BloomIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // 20k events over 5k users in 16 files of 1250 consecutive event ids: a
  // user's 4 rows land in 4 files, and every file's user_ids span the whole
  // range — exactly the layout footer min/max stats cannot prune. One
  // constant partition; user_id is declared on the empty table, so the one
  // write carries its Bloom filters
  private lazy val lakeRoot = {
    val root = Files.createTempDirectory("graft-bloom").toString
    val rows = spark.range(0L, 20000L, 1L, 16).select(col("id").as("event_id"),
      ((col("id") * 7919L) % 5000L).as("user_id"),
      concat(lit("v"), col("id")).as("payload"), lit("x").as("p"))
    val table = new PartitionedTable(root, Seq("p"))
    table.create(rows.limit(0), "t")
    AutoSkip.index(spark, root, "t", zoneCols = Seq.empty, bloomCols = Seq("user_id"))
    table.append(rows, "t")
    root
  }

  private def keys(paths: Seq[String]): Set[String] =
    paths.map(p => AutoSkip.fileKey(new org.apache.hadoop.fs.Path(p).toUri.toString)).toSet

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  /** The pruned read of `pred` keeps every file truly holding a match and
    * returns the plain read's rows; returns the kept files' keys. */
  private def assertSuperset(root: String, pred: Column, what: String): Set[String] = {
    val plain = PartitionedTable.open(root, "t").read(spark, "t").filter(pred)
    val truth = plain.select(input_file_name()).distinct().collect()
      .map(r => AutoSkip.fileKey(r.getString(0))).toSet
    val pruned = AutoSkip.read(spark, root, "t").filter(pred)
    assert(rows(pruned) == rows(plain), s"$what: rows differ from the plain read")
    val kept = keys(AutoSkip.fileIndexOf(pruned).get.lastKept)
    assert(truth.subsetOf(kept), s"$what: files ${truth -- kept} hold a match but were skipped")
    kept
  }

  test("no false negatives: every file truly holding a value is a candidate") {
    for (u <- Seq(0L, 777L, 4999L)) {
      val truth = PartitionedTable.open(lakeRoot, "t").read(spark, "t")
        .filter(col("user_id") === u).select(input_file_name()).distinct().count()
      assert(truth > 1, s"user $u must scatter over several files in the fixture")
      assertSuperset(lakeRoot, col("user_id") === u, s"user $u")
    }
  }

  test("absent keys skip most files; lookup reads only candidates, exact rows") {
    val plain = PartitionedTable.open(lakeRoot, "t").read(spark, "t")
    val total = plain.inputFiles.length
    // a point read opens only the files whose filters admit the value and
    // returns exactly the true rows (false positives cleared by the
    // retained filter), including for multi-value lookups
    val got = AutoSkip.read(spark, lakeRoot, "t").filter(col("user_id").isin(777L, 987654321L))
    assert(rows(got) == rows(plain.filter(col("user_id") === 777L)))
    assert(AutoSkip.fileIndexOf(got).get.lastKept.size < total)
    // an absent key opens no file at an 8 KB filter's false-positive rate
    // and returns an empty, well-typed frame
    val none = AutoSkip.read(spark, lakeRoot, "t").filter(col("user_id") === 111222333L)
    assert(none.count() == 0 && none.schema == plain.schema)
    assert(AutoSkip.fileIndexOf(none).get.lastKept.size <= 1)
  }

  test("the filters live in the data files, one of at most 8 KB per column chunk") {
    val bytes = BloomFooters.filterBytes(lakeRoot, "t", "user_id")
    assert(bytes.size == 16 && bytes.forall(b => b > 0 && b <= 8192 + 64), bytes.mkString(","))
    assert(BloomFooters.filterBytes(lakeRoot, "t", "payload").forall(_ < 0),
      "an undeclared column must carry no filter")
    assert(!Files.exists(java.nio.file.Paths.get(lakeRoot, "t", "idx")))
    assert(PartitionedTable.open(lakeRoot, "t").bloomColumns("t") == Seq("user_id"))
  }

  test("declaring rewrites only uncovered entries; a covered table commits nothing") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_bloomdecl_").toString
    val table = new PartitionedTable(root, Seq("p"))
    // p=x: unique ids, which parquet writes plain; p=y: three ids, which its
    // dictionary encodes whole, so that chunk is point evidence already
    def unique(from: Long) = (0 until 50).map(i => (from + i, "x")).toDF("id", "p").coalesce(1)
    val few = (0 until 50).map(i => (i % 3L, "y")).toDF("id", "p").coalesce(1)
    table.create(unique(0L).union(few), "t")
    val (v0, x0, y0) = (table.version("t").get, table.partitionDirs("t", "__p_p=x"),
      table.partitionDirs("t", "__p_p=y"))
    assert(BloomFooters.uncovered(root, "t").isEmpty, "nothing is declared yet")
    AutoSkip.index(spark, root, "t", zoneCols = Seq.empty, bloomCols = Seq("id"))
    assert(table.version("t").get == v0 + 1, "the declaration rewrites in one commit")
    assert(table.partitionDirs("t", "__p_p=y") == y0, "a dictionary-covered entry is kept")
    assert(table.partitionDirs("t", "__p_p=x") != x0)
    assert(BloomFooters.uncovered(root, "t").isEmpty)
    // an append writes its filters; an index call on a covered table commits
    // nothing
    table.append(unique(9000L), "t")
    assert(BloomFooters.uncovered(root, "t").isEmpty)
    val v1 = table.version("t").get
    AutoSkip.index(spark, root, "t", zoneCols = Seq.empty, bloomCols = Seq("id"))
    assert(table.version("t").get == v1)
    val got = AutoSkip.read(spark, root, "t").filter(col("id").isin(9007L, 45L))
    assert(got.collect().map(_.getAs[Long]("id")).sorted.toSeq == Seq(45L, 9007L))
  }

  test("every lake verb writes the declared filters into every file it stages") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_bloomverbs_").toString
    val table = new PartitionedTable(root, Seq("cat"))
    def batch(from: Long, n: Int) = (0 until n).map { i =>
      val v = from + i
      (if (v % 2 == 0) "a" else "b", v, s"name_$v", (v % 3).toInt, v * 3)
    }.toDF("cat", "id", "name", "g", "w").repartition(2)
    def check(step: String): Unit = {
      assert(BloomFooters.uncovered(root, "t").isEmpty,
        s"$step left files without point evidence: ${BloomFooters.uncovered(root, "t")}")
      assert(BloomFooters.filterBytes(root, "t", "id").forall(_ > 0), s"$step: unique ids carry filters")
    }
    table.create(batch(0L, 200), "t")
    AutoSkip.index(spark, root, "t", zoneCols = Seq.empty, bloomCols = Seq("id", "name"))
    check("create + index")
    table.append(batch(1000L, 100), "t")
    check("append")
    table.overwrite(batch(2000L, 200), "t")
    check("overwrite")
    table.upsert(batch(2100L, 200), "t", Seq("id"))
    check("upsert")
    val changes = batch(2250L, 100)
      .withColumn("op", when(col("id") % 5 === 0, "delete").otherwise("update"))
    table.applyCdc(changes, "t", Seq("id"), "op", "w")
    check("applyCdc")
    assert(table.deleteWhere(spark, "t", col("id") < 2050L) == 50L)
    check("deleteWhere")
    table.deleteMatching(batch(2300L, 10).select("id"), "t", Seq("id"))
    check("deleteMatching")
    table.append(batch(5000L, 50), "t")
    table.compact(spark, "t")
    check("compact")
    table.compactZOrdered(spark, "t", Seq("id", "w"), nTasks = 4)
    check("compactZOrdered")
    table.evolvePartitionSpec("t", Seq("g"))
    table.upsert(batch(2200L, 20), "t", Seq("id"))
    assert(table.entries("t").exists(_._1.startsWith("__p_g=")), "the upsert migrates")
    check("migrating upsert")
    assertSuperset(root, col("id") === 2210L && col("name") === "name_2210", "after every verb")
  }

  test("adversarial point evidence: the kept files hold every match, the rows equal the plain read") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_bloomadv_").toString
    val table = new PartitionedTable(root, Seq("cat"))
    // six files, one per f; cat "\tP" escapes to s=%09P on disk. s is unique
    // per row (plain chunks, Bloom filters), color is one value per file (a
    // chunk its dictionary encodes whole, which gets no filter), n is null
    // in every row of file 2, and the typed columns hold distinct values
    val cats = Seq("\tP", " P", "Q")
    val src = (for (f <- 0 until 6; i <- 0 until 40) yield {
      val k = 40 * f + i
      (f, cats(f % 3), if (k == 17) "\tP" else s"k_$k", Seq("red", "green", "blue")(f % 3),
        if (f == 2) None else Some(s"n_$k"), k.toShort, (k % 120).toByte, k * 1000, k * 100000000000L)
    }).toDF("f", "cat", "s", "color", "n", "sh", "by", "in", "lg")
    table.create(src.repartitionByRange(6, col("f")), "t")
    val typed = Seq("s", "color", "n", "sh", "by", "in", "lg")
    AutoSkip.index(spark, root, "t", zoneCols = Seq.empty, bloomCols = typed)
    // additive evolution: later files carry a column the older ones lack
    table.append(Seq((6, "Q", "k_late", "red", Option("n_late"), 999.toShort, 7.toByte, 1, 1L,
      "late_1")).toDF("f", "cat", "s", "color", "n", "sh", "by", "in", "lg", "late"), "t")
    AutoSkip.index(spark, root, "t", zoneCols = Seq.empty, bloomCols = Seq("late"))
    val v = table.version("t").get
    AutoSkip.index(spark, root, "t", zoneCols = Seq.empty, bloomCols = typed :+ "late")
    assert(table.version("t").get == v, "a covered table, all-null chunks included, commits nothing")
    val total = table.read(spark, "t").inputFiles.length
    val cases: Seq[(String, Column)] = Seq(
      "plain string" -> (col("s") === "k_131"),
      "tab string" -> (col("s") === "\tP"),
      "tab partition key" -> (col("cat") === "\tP" && col("s") === "k_17"),
      "dictionary-only chunk" -> (col("color") === "green"),
      "absent from every dictionary" -> (col("color") === "purple"),
      "beside an all-null chunk" -> (col("n") === "n_85"),
      "25-value InSet" -> col("s").isin((0 until 25).map(i => s"k_${9 * i}"): _*),
      "short" -> (col("sh") === lit(77.toShort)),
      "byte" -> (col("by") === lit(99.toByte)),
      "int" -> (col("in") === 123000),
      "long" -> (col("lg") === 2300000000000L),
      "column older files lack" -> (col("late") === "late_1"))
    val kept = cases.map { case (what, pred) => what -> assertSuperset(root, pred, what) }.toMap
    // the evidence engages: filters and dictionaries both prune
    for (what <- Seq("plain string", "dictionary-only chunk", "beside an all-null chunk",
                     "short", "byte", "int", "long"))
      assert(kept(what).size < total, s"$what kept ${kept(what).size} of $total files")
    assert(kept("absent from every dictionary").isEmpty)
  }
}
