package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.lake.{AutoSkip, BloomIndex, PartitionedTable}

class BloomIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val Bits = 1 << 14
  private val K = 2

  // 20k events over 2k users, hash-partitioned into 16 files by event id, so
  // a user's rows scatter across files — exactly the layout footer min/max
  // stats cannot prune
  private lazy val dir = {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-bloom").toString
    (0 until 20000).map(i => (i.toLong, (i * 7919L) % 2000L, s"v$i"))
      .toDF("event_id", "user_id", "payload")
      .repartition(16, col("event_id"))
      .write.mode("overwrite").parquet(d)
    d
  }

  // the same rows as a PartitionedTable (one constant partition) with a
  // Bloom sidecar on user_id, for reads through AutoSkip.read
  private lazy val lakeRoot = {
    val root = Files.createTempDirectory("graft-bloom-autoskip").toString
    new PartitionedTable(root, Seq("p"))
      .create(spark.read.parquet(dir).withColumn("p", lit("x"))
        .repartition(16, col("event_id")), "t")
    AutoSkip.index(spark, root, "t", zoneCols = Seq.empty, bloomCols = Seq("user_id"))
    root
  }

  test("no false negatives: every file truly holding a value is a candidate") {
    val table = spark.read.parquet(dir)
    val idx = BloomIndex.build(table, "user_id", Bits, K)
    for (u <- Seq(0L, 777L, 1999L)) {
      val truth = table.filter(col("user_id") === u)
        .select(input_file_name()).distinct().collect().map(_.getString(0)).toSet
      assert(truth.nonEmpty, s"user $u must exist in the fixture")
      val cand = BloomIndex.candidateFiles(spark, idx, Seq(u)).toSet
      assert(truth.subsetOf(cand),
        s"user $u: files ${truth -- cand} truly contain it but were skipped")
    }
  }

  test("absent keys skip most files; lookup reads only candidates, exact rows") {
    val table = spark.read.parquet(dir)
    val idx = BloomIndex.build(table, "user_id", Bits, K)
    // a key that never occurs: with ~1250 distinct strings per file at 2^14
    // bits / k=2 the per-file fp rate is ~2%, so candidates must stay far
    // below the 16 files a stats-blind reader would open
    val ghosts = BloomIndex.candidateFiles(spark, idx, Seq(987654321L))
    assert(ghosts.length <= 8, s"expected heavy skipping, got ${ghosts.length}/16 files")
    // a point read through AutoSkip.read opens only the Bloom candidates
    // and returns exactly the true rows (false positives cleared by the
    // retained filter), including for multi-value lookups
    val plain = PartitionedTable.open(lakeRoot, "t").read(spark, "t")
    val total = plain.inputFiles.length
    val got = AutoSkip.read(spark, lakeRoot, "t").filter(col("user_id").isin(777L, 987654321L))
    val want = plain.filter(col("user_id") === 777L)
    assert(got.count() == want.count())
    assert(got.select(sum("event_id")).collect()(0).getLong(0) ==
      want.select(sum("event_id")).collect()(0).getLong(0))
    assert(AutoSkip.fileIndexOf(got).get.lastKept.size < total)
    // an absent key opens no file and returns an empty, well-typed frame
    val none = AutoSkip.read(spark, lakeRoot, "t").filter(col("user_id") === 111222333L)
    assert(none.count() == 0 && none.schema == plain.schema)
    assert(AutoSkip.fileIndexOf(none).get.lastKept.isEmpty)
  }

  test("index is sidecar-sized; (bits, k) survive the lake round trip") {
    val table = spark.read.parquet(dir)
    // NON-default parameters: the round trip must serve from the stored
    // (bits, k), not from any reader-side default — querying a 2^13/k=3
    // index under the 2^16/k=2 defaults would return false negatives
    val idx = BloomIndex.build(table, "user_id", 1 << 13, 3)
    // at most files x bits/64 words ever materialize
    assert(idx.count() <= 16L * ((1 << 13) / 64))
    val lake = new graft.lake.ParquetDirFormat(
      Files.createTempDirectory("graft-bloom-lake").toString)
    lake.create(idx, "bloom_user_id")
    val roundTripped = lake.read(spark, "bloom_user_id")
    val served = BloomIndex.candidateFiles(spark, roundTripped, Seq(777L)).toSet
    assert(served == BloomIndex.candidateFiles(spark, idx, Seq(777L)).toSet)
    // superset guarantee holds THROUGH the round trip
    val truth = table.filter(col("user_id") === 777L)
      .select(input_file_name()).distinct().collect().map(_.getString(0)).toSet
    assert(truth.subsetOf(served))
    // a parameter-mixed index (e.g. two builds unioned) fails loudly rather
    // than guessing and silently missing files
    val mixed = idx.unionByName(BloomIndex.build(table, "user_id", Bits, K))
    assertThrows[IllegalArgumentException] {
      BloomIndex.candidateFiles(spark, mixed, Seq(777L))
    }
  }

  test("refresh: appended files get filters under the stored (bits, k), stale drop") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_bloomref_").toString
    val table = new PartitionedTable(root, Seq("p"))
    def frame(from: Long) = (0 until 50).map(i => (from + i, "x")).toDF("id", "p").coalesce(1)
    table.create(frame(0L), "t")
    table.append(frame(1000L), "t")
    // a sidecar under NON-default (bits, k) at the layout AutoSkip.index uses
    val idx = new graft.lake.ParquetDirFormat(s"$root/t/idx")
    idx.create(BloomIndex.build(table.read(spark, "t"), "id", bits = 1 << 10, k = 2), "bloom__id")
    def sidecar() = BloomIndex.sidecar(idx.read(spark, "bloom__id"))
    def live() = table.dataFileStatuses("t").map(_._2.getPath.toUri.getPath).toSet
    // the append's commit refreshes the sidecar: the new file is covered
    // under the stored parameters, and the covered set is the live one
    table.append(frame(9000L), "t")
    val s1 = sidecar()
    assert((s1.bits, s1.k) == (1 << 10, 2) && s1.files.map(AutoSkip.fileKey) == live())
    assert(BloomIndex.candidateFiles(spark, s1, Seq(9007L)).nonEmpty,
      "appended value must be indexed after refresh")
    val got = AutoSkip.read(spark, root, "t").filter(col("id").isin(9007L, 1003L))
    assert(got.collect().map(_.getAs[Long]("id")).sorted.toSeq == Seq(1003L, 9007L))
    // an index call on a current sidecar commits nothing
    val gens = idx.versions("bloom__id")
    AutoSkip.index(spark, root, "t", zoneCols = Seq.empty, bloomCols = Seq("id"))
    assert(idx.versions("bloom__id") == gens)
    // compaction rewrites every file: rows of the old files drop, the new
    // file is covered, still under one (bits, k) pair
    table.compact(spark, "t")
    val s2 = sidecar()
    assert((s2.bits, s2.k) == (1 << 10, 2) && s2.files.map(AutoSkip.fileKey) == live())
    assert(s2.index.select("bits", "k").distinct().count() == 1)
  }
}
