package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.lake.{AutoSkip, PartitionedTable}

/** The composed file-skipping triad through [[AutoSkip.read]]: a partition
  * predicate, a zone-map range and a Bloom point set prune in one
  * `listFiles`. Pins: the triad keeps exactly the intersection of what each
  * leg keeps alone, every leg prunes, an appended-to table stays exact and
  * covered, and an empty intersection reads nothing. */
class SkippingScanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tempDir(): String = {
    val root = java.nio.file.Files.createTempDirectory("graft_skipscan_").toString
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import java.nio.file.{Files, Path}
      val p = Path.of(root)
      if (Files.exists(p))
        Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(q => Files.deleteIfExists(q))
    }))
    root
  }

  /** cat in {a, b}; per cat, v clustered into 4 known stripes of 100; id is
    * v-correlated so Bloom candidates are a few stripes, not everything.
    * Zone map on v, Bloom filter on id. */
  private def build(): (String, PartitionedTable) = {
    import spark.implicits._
    val root = tempDir()
    val rows = for {
      cat <- Seq("a", "b"); k <- 0 until 4; i <- 0 until 100
    } yield (cat, 1000L * k + i, s"id_${cat}_${1000L * k + i}")
    val table = new PartitionedTable(root, Seq("cat"))
    table.create(rows.toDF("cat", "v", "id").repartitionByRange(8, col("cat"), col("v")), "t")
    AutoSkip.index(spark, root, "t", Seq("v"), Seq("id"))
    (root, table)
  }

  private def cat(c: String): Column = col("cat") === c
  private def range(lo: Long, hi: Long): Column = col("v") >= lo && col("v") <= hi
  private def points(ids: String*): Column = col("id").isin(ids: _*)

  private def norm(f: String): String = new java.net.URI(f).getPath

  /** The files (as URI paths) a pruned read of `pred` keeps, and its rows. */
  private def read(root: String, pred: Column): (Set[String], Seq[String]) = {
    val df = AutoSkip.read(spark, root, "t").filter(pred)
    val rows = df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    (AutoSkip.fileIndexOf(df).get.lastKept.map(norm).toSet, rows)
  }

  private def plainRows(table: PartitionedTable, pred: Column): Seq[String] =
    table.read(spark, "t").filter(pred).collect().map(_.toSeq.mkString("|")).sorted.toSeq

  test("triad intersection opens only candidate files; result == direct filter") {
    val (root, table) = build()
    val total = table.read(spark, "t").inputFiles.length
    val (p, z, b) = (cat("a"), range(2000L, 2099L), points("id_a_2010", "id_a_2020"))
    val (kept, rows) = read(root, p && z && b)
    assert(kept.nonEmpty && kept.size < total, s"triad must skip files: ${kept.size} of $total")
    // the triad keeps exactly what every leg alone keeps
    assert(kept == (read(root, p)._1 & read(root, z)._1 & read(root, b)._1))
    // exactness vs the direct triple-predicate scan
    assert(rows == plainRows(table, p && z && b) && rows.size == 2)
  }

  test("each leg prunes: dropping any one predicate's index keeps more files") {
    val (root, table) = build()
    val total = table.read(spark, "t").inputFiles.length
    val (p, z, b) = (cat("a"), range(2000L, 2099L), points("id_a_2010"))
    val tight = read(root, p && z && b)._1
    // widen one leg at a time: each relaxation can only ADD files
    for (relaxed <- Seq(z && b, p && b, p && z)) {
      val wider = read(root, relaxed)._1
      assert(tight.subsetOf(wider))
    }
    // and each leg alone prunes
    for (leg <- Seq(p, z, b)) assert(read(root, leg)._1.size < total)
    assert(tight != read(root, points(("id_a_2010" +: (0 until 50).map(i => s"id_b_${1000 + i}")): _*))._1,
      "fully relaxed triad must differ from the tight one")
  }

  test("append + sidecar refresh: the triad stays exact and sees the new files") {
    import spark.implicits._
    val (root, table) = build()
    def files() = table.read(spark, "t").inputFiles.map(norm).toSet
    val before = files()
    // append a new cat=a stripe carrying fresh v range + fresh ids; the
    // append writes their bounds and Bloom filters with the data
    table.append(Seq.tabulate(50)(i => ("a", 9000L + i, s"id_a_${9000L + i}"))
      .toDF("cat", "v", "id").repartition(1), "t")
    val added = files() -- before
    assert(added.nonEmpty)
    // a query into the NEW range/ids must find them through the triad
    val fresh = cat("a") && range(9000L, 9049L) && points("id_a_9005", "id_a_9049")
    val (kept, rows) = read(root, fresh)
    assert(rows == plainRows(table, fresh) && rows.size == 2)
    assert(kept.nonEmpty && kept.subsetOf(added))
    // and a query into the OLD stripes prunes the new files: their own
    // footers cover them (an uncovered file is kept unconditionally)
    val old = cat("a") && range(2000L, 2099L) && points("id_a_2010")
    val (keptOld, rowsOld) = read(root, old)
    assert(rowsOld == plainRows(table, old) && rowsOld.size == 1)
    assert(keptOld.nonEmpty && keptOld.intersect(added).isEmpty)
  }

  test("empty intersection reads nothing; empty points match nothing") {
    val (root, _) = build()
    // partition says cat=a, range says stripe 3, points say an id from cat=b
    // stripe 0 — each leg keeps files, their intersection is empty
    val (kept, rows) = read(root, cat("a") && range(3000L, 3099L) && points("id_b_1"))
    assert(kept.isEmpty && rows.isEmpty)
    assert(read(root, points())._2.isEmpty)
  }
}
