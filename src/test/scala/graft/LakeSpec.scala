package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.lake.{ParquetDirFormat, PartitionedTable}

class LakeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def fmt() = new ParquetDirFormat(
    Files.createTempDirectory("graft-lake").toString)

  private def pfmt(cols: String*) = new PartitionedTable(
    Files.createTempDirectory("graft-plake").toString, cols.toSeq)

  test("create / read / overwrite") {
    import spark.implicits._
    val t = fmt()
    t.create(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "t1")
    assert(t.read(spark, "t1").count() == 2)
    t.overwrite(Seq((9L, "z")).toDF("id", "v"), "t1")
    assert(t.read(spark, "t1").collect().map(_.getLong(0)).toSeq == Seq(9L))
  }

  test("time travel: readVersion pins an immutable snapshot") {
    import spark.implicits._
    val t = fmt()
    t.create(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "tt")
    t.upsert(Seq((2L, "B2"), (3L, "c")).toDF("id", "v"), "tt", Seq("id"))
    t.overwrite(Seq((9L, "z")).toDF("id", "v"), "tt")
    val vs = t.versions("tt")
    assert(vs.size == 3)
    def snap(v: Int) = t.readVersion(spark, "tt", v).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(snap(vs(0)) == Map(1L -> "a", 2L -> "b"))
    assert(snap(vs(1)) == Map(1L -> "a", 2L -> "B2", 3L -> "c"))
    assert(snap(vs(2)) == Map(9L -> "z"))
    // current read == newest snapshot; unknown version fails loudly
    assert(t.read(spark, "tt").count() == 1)
    intercept[IllegalArgumentException](t.readVersion(spark, "tt", 999))
  }

  test("append with additive schema evolution") {
    import spark.implicits._
    val t = fmt()
    t.create(Seq((1L, "a")).toDF("id", "v"), "t2")
    // new column arrives: old rows must read NULL
    t.append(Seq((2L, "b", 3.5)).toDF("id", "v", "score"), "t2")
    val out = t.read(spark, "t2").orderBy("id").collect()
    assert(out.length == 2)
    assert(out(0).isNullAt(out(0).fieldIndex("score")))
    assert(out(1).getDouble(out(1).fieldIndex("score")) == 3.5)
  }

  test("append aligns mismatched types with try_cast") {
    import spark.implicits._
    val t = fmt()
    t.create(Seq((1L, 10L)).toDF("id", "n"), "t3")
    t.append(Seq(("2", "20"), ("3", "oops")).toDF("id", "n"), "t3")
    val out = t.read(spark, "t3").orderBy("id").collect()
    assert(out.map(r => Option(r.get(r.fieldIndex("n")))).toSeq ==
      Seq(Some(10L), Some(20L), None))
  }

  test("upsert replaces matching keys and inserts new ones") {
    import spark.implicits._
    val t = fmt()
    t.create(Seq((1L, "old1"), (2L, "old2")).toDF("id", "v"), "t4")
    t.upsert(Seq((2L, "new2"), (3L, "new3")).toDF("id", "v"), "t4", Seq("id"))
    val out = t.read(spark, "t4").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "old1", 2L -> "new2", 3L -> "new3"))
  }

  test("compaction, snapshot expiry and stats") {
    import spark.implicits._
    val t = fmt()
    t.create((1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v"), "t6")
    // several small appends -> many files across versions
    (1 to 3).foreach(b =>
      t.append(Seq((1000L + b, "x")).toDF("id", "v").repartition(4), "t6"))
    val before = t.stats(spark, "t6")
    assert(before("rows") == 103)
    t.compact(spark, "t6", rowsPerFile = 1000)
    val after = t.stats(spark, "t6")
    assert(after("rows") == 103)
    assert(after("data_files") == 1)
    assert(after("data_files") <= before("data_files"))
    val expired = t.expireSnapshots("t6")
    assert(expired.nonEmpty)
    assert(t.versions("t6").size == 1)
    assert(t.read(spark, "t6").count() == 103)
  }

  test("partitioned create prunes directories on read") {
    import spark.implicits._
    val t = fmt()
    val df = (1 to 200).map(i => (i.toLong, s"2024-0${i % 3 + 1}", i * 1.0))
      .toDF("id", "month", "v")
    t.createPartitioned(df, "t7", Seq("month"))
    t.append(Seq((999L, "2024-02", 9.0)).toDF("id", "month", "v"), "t7")
    assert(t.read(spark, "t7").count() == 201)
    // the filtered plan must scan only the matching partition directory
    val filtered = t.read(spark, "t7").filter(col("month") === "2024-02")
    val scan = filtered.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(month"), scan.take(800))
    assert(filtered.count() > 0)
  }

  test("upsert aligns drifted source types with try_cast (no schema corruption)") {
    import spark.implicits._
    val t = fmt()
    t.create(Seq((1L, 10L), (2L, 20L)).toDF("id", "n"), "t8")
    // source arrives all-string (raw load): must upsert through try_cast
    t.upsert(Seq(("2", "99"), ("3", "oops")).toDF("id", "n"), "t8", Seq("id"))
    val out = t.read(spark, "t8")
    assert(out.schema("n").dataType == org.apache.spark.sql.types.LongType)
    val m = out.collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(m == Map(1L -> Some(10L), 2L -> Some(99L), 3L -> None))
  }

  test("partitioned table: create, read, manifest-level pruning") {
    import spark.implicits._
    val t = pfmt("day")
    val df = (1 to 90).map(i => (i.toLong, s"2024-01-0${i % 3 + 1}", i * 1.0))
      .toDF("id", "day", "v")
    t.create(df, "pt1")
    assert(t.read(spark, "pt1").count() == 90)
    // data files keep the partition column (no reconstruction unions needed)
    assert(t.read(spark, "pt1").columns.toSeq == Seq("id", "day", "v"))
    val pruned = t.readPartitions(spark, "pt1", vals => vals("day") == "2024-01-02")
    assert(pruned.count() == 30)
    assert(pruned.select("day").distinct().head().getString(0) == "2024-01-02")
  }

  test("partitioned append is O(new data): untouched partitions keep their dirs") {
    import spark.implicits._
    val t = pfmt("day")
    t.create(Seq((1L, "d1", 1.0), (2L, "d2", 2.0)).toDF("id", "day", "v"), "pt2")
    val dirsBefore = t.entries("pt2").toMap
    t.append(Seq((3L, "d2", 3.0)).toDF("id", "day", "v"), "pt2")
    val dirsAfter = t.entries("pt2").toMap
    // d1 entry identical (same directory, by reference); d2 gained one dir
    assert(dirsAfter("__p_day=d1") == dirsBefore("__p_day=d1"))
    assert(dirsAfter("__p_day=d2").length == dirsBefore("__p_day=d2").length + 1)
    assert(dirsAfter("__p_day=d2").startsWith(dirsBefore("__p_day=d2")))
    assert(t.read(spark, "pt2").count() == 3)
  }

  test("partition-scoped upsert: untouched partition files are byte-identical") {
    import spark.implicits._
    val t = pfmt("day")
    t.create((1 to 60).map(i => (i.toLong, s"d${i % 3}", s"v$i"))
      .toDF("id", "day", "v"), "pt3")
    def files(id: String) = t.partitionDirs("pt3", id).flatMap { d =>
      val dir = java.nio.file.Paths.get(new java.net.URI(
        if (d.startsWith("file:")) d else "file://" + d).getPath)
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(dir)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => (p.toString, java.nio.file.Files.size(p),
          java.nio.file.Files.getLastModifiedTime(p).toMillis)).toList
      finally s.close()
    }
    val d1Before = files("__p_day=d1")
    val d2Before = files("__p_day=d2")
    assert(d1Before.nonEmpty && d2Before.nonEmpty)
    // upsert rows only into partition d0
    t.upsert(Seq((3L, "d0", "NEW"), (999L, "d0", "INS")).toDF("id", "day", "v"),
      "pt3", Seq("id"))
    // untouched partitions: same paths, sizes, and mtimes — not rewritten
    assert(files("__p_day=d1") == d1Before)
    assert(files("__p_day=d2") == d2Before)
    val out = t.read(spark, "pt3")
    assert(out.count() == 61)
    assert(out.filter($"id" === 3L).head().getString(2) == "NEW")
    assert(out.filter($"id" === 999L).head().getString(2) == "INS")
    // d0 was rewritten: its directory set changed
    assert(t.partitionDirs("pt3", "__p_day=d0").nonEmpty)
  }

  test("partitioned upsert deletes a key that MOVED partitions (global contract)") {
    import spark.implicits._
    val t = pfmt("day")
    t.create(Seq((1L, "d1", "a"), (2L, "d1", "b"), (3L, "d2", "c"))
      .toDF("id", "day", "v"), "pt6")
    // id=1 moves from partition d1 to d3: the d1 copy must be deleted even
    // though d1 receives no source rows
    t.upsert(Seq((1L, "d3", "moved")).toDF("id", "day", "v"), "pt6", Seq("id"))
    val out = t.read(spark, "pt6").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(out == Map(1L -> ("d3", "moved"), 2L -> ("d1", "b"), 3L -> ("d2", "c")))
    // d2 had no matching keys: committed by reference, not rewritten
    assert(t.entries("pt6").toMap.apply("__p_day=d2").length == 1)
  }

  test("partitioned upsert skips the key scan when keys determine the partition") {
    import spark.implicits._
    val t = pfmt("day")
    t.create(Seq((1L, "d1", "a"), (2L, "d2", "b")).toDF("id", "day", "v"), "pt7")
    val d2Before = t.entries("pt7").toMap.apply("__p_day=d2")
    // keys include the partition column -> cross-partition moves impossible
    t.upsert(Seq((1L, "d1", "new")).toDF("id", "day", "v"), "pt7", Seq("id", "day"))
    assert(t.entries("pt7").toMap.apply("__p_day=d2") == d2Before)
    assert(t.read(spark, "pt7").filter($"id" === 1L).head().getString(2) == "new")
  }

  test("partition-spec evolution: old files unrewritten, new spec for new writes, mixed reads exact") {
    import spark.implicits._
    val t = pfmt("day")
    t.create(Seq((1L, "d1", "web", "a"), (2L, "d2", "api", "b"))
      .toDF("id", "day", "et", "v"), "ptev")
    val oldEntries = t.entries("ptev").toMap
    val oldFiles = t.dataFileStatuses("ptev").map(_._2.getPath.toString).toSet
    t.evolvePartitionSpec("ptev", Seq("day", "et"))
    // new writes land under the new spec; OLD entries keep their dirs verbatim
    t.append(Seq((3L, "d1", "web", "c")).toDF("id", "day", "et", "v"), "ptev")
    val after = t.entries("ptev").toMap
    assert(after("__p_day=d1") == oldEntries("__p_day=d1"), "old entry rewritten")
    assert(after("__p_day=d2") == oldEntries("__p_day=d2"), "old entry rewritten")
    assert(after.keySet.contains("__p_day=d1/__p_et=web"), after.keySet.toString)
    assert(oldFiles.subsetOf(
      t.dataFileStatuses("ptev").map(_._2.getPath.toString).toSet),
      "spec evolution must not touch existing data files")
    // mixed-spec read is exact; manifest pruning parses each entry's OWN spec
    assert(t.read(spark, "ptev").count() == 3)
    assert(t.readPartitions(spark, "ptev", _("day") == "d1").count() == 2)
    assert(t.readPartitions(spark, "ptev",
      v => v.get("et").contains("web")).count() == 1) // only new-spec entries expose et
    // upsert whose keys ⊇ NEW spec must still find a key living in an
    // OLD-spec partition (the keys-determine-partition shortcut is unsound
    // while mixed): no duplicate, value replaced, partition migrated
    t.upsert(Seq((1L, "d1", "web", "A2")).toDF("id", "day", "et", "v"),
      "ptev", Seq("id", "day", "et"))
    val one = t.read(spark, "ptev").filter($"id" === 1L).collect()
    assert(one.length == 1, s"duplicate key after mixed-spec upsert: ${one.length}")
    assert(one.head.getString(3) == "A2")
    assert(t.read(spark, "ptev").count() == 3)
    // unreferenced-dir expiry walks BOTH spec depths without deleting live data
    t.expireUnreferenced("ptev")
    assert(t.read(spark, "ptev").count() == 3)
    // rewritten (migrated) partitions now carry new-spec ids only
    assert(t.entries("ptev").forall { case (id, _) =>
      !id.startsWith("__p_day=d1") || id.split("/").length == 2 }, t.entries("ptev").toString)
  }

  test("SAME-LENGTH spec evolution still disables the upsert shortcut (column names, not depth)") {
    import spark.implicits._
    val t = pfmt("day")
    t.create(Seq((1L, "d1", "web", "a")).toDF("id", "day", "et", "v"), "ptev2")
    // day -> et: same spec LENGTH, different column — the old __p_day=d1
    // entry can still hold a staged key, so the keys-superset shortcut must
    // not skip the scan (a depth-only check would)
    t.evolvePartitionSpec("ptev2", Seq("et"))
    t.upsert(Seq((1L, "d1", "web", "A2")).toDF("id", "day", "et", "v"),
      "ptev2", Seq("id", "et"))
    val one = t.read(spark, "ptev2").filter($"id" === 1L).collect()
    assert(one.length == 1, s"duplicate key after same-length spec evolution: ${one.length}")
    assert(one.head.getString(3) == "A2")
  }

  test("readPartitions with no matching partition returns empty, not an error") {
    import spark.implicits._
    val t = pfmt("day")
    t.create(Seq((1L, "d1", "a")).toDF("id", "day", "v"), "pt8")
    val none = t.readPartitions(spark, "pt8", vals => vals("day") == "d9")
    assert(none.count() == 0)
    assert(none.columns.toSeq == Seq("id", "day", "v"))
  }

  test("partitioned table: compaction and unreferenced-dir expiry") {
    import spark.implicits._
    val t = pfmt("day")
    t.create(Seq((1L, "d1", 1.0)).toDF("id", "day", "v"), "pt4")
    (2 to 4).foreach(i => t.append(Seq((i.toLong, "d1", i * 1.0)).toDF("id", "day", "v"), "pt4"))
    assert(t.entries("pt4").toMap.apply("__p_day=d1").length == 4)
    t.compact(spark, "pt4")
    assert(t.entries("pt4").toMap.apply("__p_day=d1").length == 1)
    assert(t.read(spark, "pt4").count() == 4)
    val removed = t.expireUnreferenced("pt4")
    assert(removed.length == 4, s"expected 4 expired dirs, got $removed")
    assert(t.read(spark, "pt4").count() == 4)
  }

  test("partitioned upsert with schema evolution (new column, drifted type)") {
    import spark.implicits._
    val t = pfmt("day")
    t.create(Seq((1L, "d1", 10L), (2L, "d2", 20L)).toDF("id", "day", "n"), "pt5")
    // new column arrives + n arrives as string
    t.upsert(Seq(("2", "d2", "99", "extra")).toDF("id", "day", "n", "note"),
      "pt5", Seq("id"))
    val out = t.read(spark, "pt5").orderBy("id").collect()
    assert(out.length == 2)
    assert(out(1).getLong(out(1).fieldIndex("n")) == 99L)
    assert(out(1).getString(out(1).fieldIndex("note")) == "extra")
    assert(out(0).isNullAt(out(0).fieldIndex("note")))
  }

  test("partitioned append aligns from the SCHEMA file, and by the merged read without one") {
    import spark.implicits._
    import org.apache.spark.sql.types.{DataType, StructType}
    val roots = Seq.fill(2)(Files.createTempDirectory("graft-plake"))
    val tables = roots.map(r => new PartitionedTable(r.toString, Seq("day")))
    def schemaFile(i: Int) = roots(i).resolve("pa").resolve("SCHEMA")
    tables.foreach { t =>
      t.create(Seq((1L, "d1", 10L)).toDF("id", "day", "n"), "pa")
      // additive evolution: the new column must reach the SCHEMA file
      t.append(Seq((2L, "d2", 20L, 1.5)).toDF("id", "day", "n", "score"), "pa")
    }
    val stored = DataType.fromJson(Files.readString(schemaFile(0))).asInstanceOf[StructType]
    assert(stored.map(f => f.name -> f.dataType.simpleString) ==
      Seq("id" -> "bigint", "day" -> "string", "n" -> "bigint", "score" -> "double"))
    // the second table loses its SCHEMA file: its append falls back to the read
    Files.delete(schemaFile(1))
    // type drift: every column arrives as a string
    val drifted = Seq(("3", "d1", "30", "2.5"), ("4", "d2", "oops", "x")).toDF("id", "day", "n", "score")
    tables.foreach(_.append(drifted, "pa"))
    val outs = tables.map { t =>
      val df = t.read(spark, "pa")
      (df.schema.map(f => f.name -> f.dataType.simpleString),
        df.orderBy("id").collect().map(_.toSeq.map(Option(_))).toSeq)
    }
    assert(outs(0)._1 == stored.map(f => f.name -> f.dataType.simpleString))
    assert(outs(0)._2 == Seq(
      Seq(Some(1L), Some("d1"), Some(10L), None),
      Seq(Some(2L), Some("d2"), Some(20L), Some(1.5)),
      Seq(Some(3L), Some("d1"), Some(30L), Some(2.5)),
      Seq(Some(4L), Some("d2"), None, None)))
    assert(outs(1) == outs(0), "the SCHEMA path and the read path must align alike")
    assert(!Files.exists(schemaFile(1)), "a non-evolving append writes no SCHEMA file")
  }

  test("partitioned empty create is readable and appendable, not a broken table") {
    import spark.implicits._
    val t = pfmt("k")
    val empty = Seq.empty[(Long, String)].toDF("id", "k")
    t.create(empty, "pe1")
    assert(t.read(spark, "pe1").count() == 0)
    assert(t.read(spark, "pe1").schema.fieldNames.toSeq == Seq("id", "k"))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "k"), "pe1")
    assert(t.read(spark, "pe1").count() == 2)
  }

  test("a stale LAST pointer cannot lose an update: commit point is the manifest CAS") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-plake").toString
    val t1 = new PartitionedTable(root, Seq("k"))
    val t2 = new PartitionedTable(root, Seq("k"))
    t1.create(Seq((1L, "a")).toDF("id", "k"), "pc1")
    t2.append(Seq((2L, "b")).toDF("id", "k"), "pc1")
    // the historical lost-update setup: the hint pointer regresses to 0
    // (drop Hadoop's .crc sidecar too, or the raw write trips checksumming)
    val ptr = java.nio.file.Paths.get(root, "pc1", "LAST")
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(root, "pc1", ".LAST.crc"))
    java.nio.file.Files.write(ptr, "0".getBytes)
    // version resolution takes max(hint, manifest scan), and the manifest CAS
    // serializes the commit — the append lands as v2 and NOTHING is lost
    t1.append(Seq((3L, "c")).toDF("id", "k"), "pc1")
    assert(t1.version("pc1").contains(2))
    assert(t1.read(spark, "pc1").collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
  }

  test("racing appenders all land: manifest CAS + rebase, no last-writer-wins") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-plake").toString
    val base = new PartitionedTable(root, Seq("k"))
    base.create(Seq((0L, "a")).toDF("id", "k"), "race")
    val n = 6
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = (1 to n).map { i =>
      new Thread(() => {
        try {
          start.await()
          // each writer its own handle, same table dir — a separate committer
          new PartitionedTable(root, Seq("k"))
            .append(Seq((i.toLong, s"k$i")).toDF("id", "k"), "race")
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); start.countDown(); threads.foreach(_.join())
    assert(errs.isEmpty, s"appenders must not fail: ${errs}")
    assert(base.version("race").contains(n), "every append serialized into its own version")
    assert(base.read(spark, "race").collect().map(_.getLong(0)).toSet ==
      (0 to n).map(_.toLong).toSet, "no append lost")
  }

  test("read-modify-write commit against a moved base aborts instead of clobbering") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-plake").toString
    val t1 = new PartitionedTable(root, Seq("k"))
    val t2 = new PartitionedTable(root, Seq("k"))
    t1.create(Seq((1L, "a"), (2L, "b")).toDF("id", "k"), "rmw")
    // interleave: t1 starts an upsert (reads base v0)... simulated by letting
    // t2 commit first, then t1's upsert computes against the NEW base — so to
    // force the conflict we race two upserts via threads until one aborts
    val start = new java.util.concurrent.CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ths = Seq(
      new Thread(() => { try { start.await()
        t1.upsert(Seq((1L, "a"), (3L, "c")).toDF("id", "k"), "rmw", Seq("id"))
      } catch { case e: Throwable => errs.add(e) } }),
      new Thread(() => { try { start.await()
        t2.upsert(Seq((2L, "b"), (4L, "d")).toDF("id", "k"), "rmw", Seq("id"))
      } catch { case e: Throwable => errs.add(e) } }))
    ths.foreach(_.start()); start.countDown(); ths.foreach(_.join())
    // either they serialized cleanly (both landed) or the loser aborted with
    // the documented exception and the table reflects the winner only —
    // NEVER a silently lost committed update
    val ids = t1.read(spark, "rmw").collect().map(_.getLong(0)).toSet
    if (errs.isEmpty) assert(ids == Set(1L, 2L, 3L, 4L))
    else {
      assert(errs.size == 1)
      assert(errs.peek().isInstanceOf[java.util.ConcurrentModificationException])
      assert(ids == Set(1L, 2L, 3L) || ids == Set(1L, 2L, 4L))
      // staged leftovers of the aborted commit are unreferenced and reclaimable
      t1.expireUnreferenced("rmw")
      assert(t1.read(spark, "rmw").collect().map(_.getLong(0)).toSet == ids)
    }
  }

  test("applyCdc with deletes AND upserts is ONE commit on both formats") {
    import spark.implicits._
    // ParquetDirFormat: version count advances by exactly 1
    val t = fmt()
    t.create(Seq((1L, "a", 0L), (2L, "b", 0L), (3L, "c", 0L)).toDF("id", "v", "ver"), "one")
    val changes = Seq((1L, "A2", 1L, "update"), (2L, "b", 1L, "delete"))
      .toDF("id", "v", "ver", "op")
    val v0 = t.versions("one").size
    t.applyCdc(changes, "one", Seq("id"), "op", "ver")
    assert(t.versions("one").size == v0 + 1,
      "delete+upsert must land atomically in one snapshot flip")
    assert(t.read(spark, "one").collect().map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "A2", 3L -> "c"))
    // PartitionedTable: manifest version advances by exactly 1
    val p = pfmt("day")
    p.create(Seq((1L, "d0", "a", 0L), (2L, "d1", "b", 0L), (3L, "d1", "c", 0L))
      .toDF("id", "day", "v", "ver"), "pone")
    val pv0 = p.version("pone").get
    p.applyCdc(Seq((1L, "d0", "A2", 1L, "update"), (3L, "d1", "c", 1L, "delete"))
      .toDF("id", "day", "v", "ver", "op"), "pone", Seq("id"), "op", "ver")
    assert(p.version("pone").contains(pv0 + 1),
      "partition-scoped delete+upsert must be one manifest flip")
    assert(p.read(spark, "pone").collect().map(r => r.getLong(0) -> r.getString(2)).toMap ==
      Map(1L -> "A2", 2L -> "b"))
    // replay converges and is still one commit
    p.applyCdc(Seq((1L, "d0", "A2", 1L, "update"), (3L, "d1", "c", 1L, "delete"))
      .toDF("id", "day", "v", "ver", "op"), "pone", Seq("id"), "op", "ver")
    assert(p.read(spark, "pone").collect().map(r => r.getLong(0) -> r.getString(2)).toMap ==
      Map(1L -> "A2", 2L -> "b"))
  }

  test("commits are versioned: failed reader never sees partial state") {
    import spark.implicits._
    val t = fmt()
    t.create(Seq((1L, "a")).toDF("id", "v"), "t5")
    val before = t.read(spark, "t5")
    t.overwrite(Seq((2L, "b")).toDF("id", "v"), "t5")
    // the old snapshot directory still resolves (immutable versions)
    assert(before.count() == 1)
    assert(t.read(spark, "t5").head().getLong(0) == 2L)
  }

  test("deleteWhere: SQL semantics (NULL pred keeps), count, no-op commits nothing") {
    import spark.implicits._
    val t = fmt()
    t.create(Seq((1L, "a"), (2L, "b"), (3L, null), (4L, "b"))
      .toDF("id", "v"), "dw")
    val v0 = t.versions("dw").max
    // v = 'b' is NULL for id=3 — that row must STAY (SQL DELETE semantics)
    assert(t.deleteWhere(spark, "dw", col("v") === "b") == 2L)
    assert(t.read(spark, "dw").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    // time travel still sees the pre-delete snapshot
    assert(t.readVersion(spark, "dw", v0).count() == 4)
    // no-match delete: zero rows, NO new snapshot
    val vBefore = t.versions("dw").max
    assert(t.deleteWhere(spark, "dw", col("v") === "zzz") == 0L)
    assert(t.versions("dw").max == vBefore)
  }

  test("partitioned deleteWhere rewrites only partitions containing matches") {
    import spark.implicits._
    val t = pfmt("day")
    t.create((1 to 60).map(i => (i.toLong, s"d${i % 3}", i % 5))
      .toDF("id", "day", "v"), "pdw")
    val before = t.entries("pdw").toMap
    // matches live only in d1 (ids ≡ 1 mod 3 with v = id % 5 = 0 → id 10, 25, 40, 55)
    val deleted = t.deleteWhere(spark, "pdw",
      col("day") === "d1" && col("v") === 0)
    assert(deleted == 4L)
    val after = t.entries("pdw").toMap
    assert(after("__p_day=d0") == before("__p_day=d0"), "d0 must commit by reference")
    assert(after("__p_day=d2") == before("__p_day=d2"), "d2 must commit by reference")
    assert(after("__p_day=d1") != before("__p_day=d1"), "d1 must be rewritten")
    assert(t.read(spark, "pdw").count() == 56)
    assert(t.read(spark, "pdw")
      .filter(col("day") === "d1" && col("v") === 0).count() == 0)
    // delete an ENTIRE partition: its manifest entry disappears
    assert(t.deleteWhere(spark, "pdw", col("day") === "d2") == 20L)
    assert(!t.entries("pdw").toMap.contains("__p_day=d2"))
    assert(t.read(spark, "pdw").count() == 36)
  }

  test("CDC apply: latest-per-key collapse, delete wins, idempotent replay") {
    import spark.implicits._
    val t = fmt()
    t.create(Seq((1L, "a", 0L), (2L, "b", 0L), (3L, "c", 0L))
      .toDF("id", "v", "ver"), "cdc")
    // one batch: update 1, delete 2, insert 4, and a full lifecycle on 5
    // (insert -> update -> delete nets to NOTHING on a row that never existed)
    val changes = Seq(
      (1L, "A2", 1L, "update"),
      (2L, "b", 1L, "delete"),
      (4L, "d", 1L, "insert"),
      (5L, "e1", 1L, "insert"),
      (5L, "e2", 2L, "update"),
      (5L, "e3", 3L, "delete"))
      .toDF("id", "v", "ver", "op")
    t.applyCdc(changes, "cdc", Seq("id"), "op", "ver")
    def state() = t.read(spark, "cdc").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(state() == Map(1L -> "A2", 3L -> "c", 4L -> "d"))
    // replaying the identical batch converges to the same state
    t.applyCdc(changes, "cdc", Seq("id"), "op", "ver")
    assert(state() == Map(1L -> "A2", 3L -> "c", 4L -> "d"))
  }

  test("deleteMatching: absent keys commit NOTHING — replayed CDC deletes don't churn") {
    import spark.implicits._
    val t = fmt()
    t.create(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "dm")
    val v0 = t.versions("dm")
    t.deleteMatching(Seq(99L, 100L).toDF("id"), "dm", Seq("id"))
    assert(t.versions("dm") == v0, "no-match delete must not commit a new snapshot")
    t.deleteMatching(Seq(2L, 99L).toDF("id"), "dm", Seq("id"))
    assert(t.versions("dm").size == v0.size + 1)
    assert(t.read(spark, "dm").collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("CDC tie on orderCol is deterministic: delete outranks upsert, replay converges") {
    import spark.implicits._
    val t = fmt()
    t.create(Seq((1L, "a", 0L), (2L, "b", 0L)).toDF("id", "v", "ver"), "tie")
    // a feed violating orderCol uniqueness: update and delete for key 1 at
    // the SAME version — the collapse must land the same final state every
    // replay, and a same-version delete is terminal
    val changes = Seq(
      (1L, "A1", 5L, "update"),
      (1L, "zz", 5L, "delete")).toDF("id", "v", "ver", "op")
    t.applyCdc(changes, "tie", Seq("id"), "op", "ver")
    def state() = t.read(spark, "tie").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(state() == Map(2L -> "b"))
    t.applyCdc(changes, "tie", Seq("id"), "op", "ver")
    assert(state() == Map(2L -> "b"))
  }

  test("partitioned CDC apply touches only partitions holding changed keys") {
    import spark.implicits._
    val t = pfmt("day")
    t.create((1 to 60).map(i => (i.toLong, s"d${i % 3}", s"v$i"))
      .toDF("id", "day", "v"), "pcdc")
    val before = t.entries("pcdc").toMap
    // all changed keys live in d1 (ids ≡ 1 mod 3)
    val changes = Seq(
      (1L, "d1", "V1", 1L, "update"),
      (4L, "d1", "v4", 1L, "delete"),
      (61L, "d1", "v61", 1L, "insert"))
      .toDF("id", "day", "v", "ver", "op")
    t.applyCdc(changes, "pcdc", Seq("id"), "op", "ver")
    val after = t.entries("pcdc").toMap
    assert(after("__p_day=d0") == before("__p_day=d0"), "d0 untouched by reference")
    assert(after("__p_day=d2") == before("__p_day=d2"), "d2 untouched by reference")
    val got = t.read(spark, "pcdc").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got(1L) == "V1" && got(61L) == "v61" && !got.contains(4L))
    assert(got.size == 60) // 60 - 1 delete + 1 insert
  }

  test("snapshot diff classifies added/removed/changed and drops unchanged") {
    import spark.implicits._
    val t = fmt()
    t.create(Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30), (4L, null, 40))
      .toDF("id", "v", "n"), "sd")
    t.overwrite(Seq((2L, "b", 20), (3L, "C2", 30), (4L, "d", 40), (5L, "e", 50))
      .toDF("id", "v", "n"), "sd")
    val got = graft.lake.SnapshotDiff.diff(spark, t, "sd", 0, 1, Seq("id"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "removed", 3L -> "changed",
      4L -> "changed", 5L -> "added"))
  }

  test("readChanges: per-commit attribution, rewrite = delete+insert, untouched partitions silent") {
    import spark.implicits._
    val t = pfmt("p")
    t.create(Seq((1L, "a", "x"), (2L, "a", "y"), (3L, "b", "z")).toDF("id", "p", "v"), "cf")
    t.append(Seq((4L, "b", "w")).toDF("id", "p", "v"), "cf")
    t.upsert(Seq((2L, "a", "Y2")).toDF("id", "p", "v"), "cf", Seq("id"))
    def rows(from: Int, to: Int) = t.readChanges(spark, "cf", from, to).collect()
      .map(r => (r.getLong(0), r.getString(2),
        r.getString(3), r.getInt(4))).toSet // (id, v, _change_type, _commit_version)
    // v0 -> v1 is a pure append: one insert, attributed to commit 1
    assert(rows(0, 1) == Set((4L, "w", "insert", 1)))
    // v1 -> v2 (the upsert) rewrote ONLY partition a: its old rows report delete, the
    // merged rows insert (unchanged row 1 reports as delete+insert — file
    // granularity); partition b never enters the diff
    assert(rows(1, 2) == Set(
      (1L, "x", "delete", 2), (2L, "y", "delete", 2),
      (1L, "x", "insert", 2), (2L, "Y2", "insert", 2)))
    // the two-hop feed is the union of the single hops; same-version is empty
    assert(rows(0, 2) == rows(0, 1) ++ rows(1, 2))
    assert(t.readChanges(spark, "cf", 1, 1).count() == 0)
    // folding the feed over the base reproduces the current table: base
    // minus deletes plus inserts == read (the incremental-consumer contract)
    val base = t.readVersion(spark, "cf", 0).collect()
      .map(r => (r.getLong(0), r.getString(2))).toSet
    val feed = rows(0, 2)
    val folded = base --
      feed.collect { case (id, v, "delete", _) => (id, v) } ++
      feed.collect { case (id, v, "insert", _) => (id, v) }
    val cur = t.read(spark, "cf").collect()
      .map(r => (r.getLong(0), r.getString(2))).toSet
    assert(folded == cur)
  }

  test("readChanges across a spec evolution + migrating rewrite: exactly-once attribution") {
    import spark.implicits._
    val t = pfmt("day")
    // v0 under spec (day); evolve to (day, et); v1 appends under the NEW
    // spec; v2's upsert touches old-spec partition d1 and MIGRATES it
    t.create(Seq((1L, "d1", "web", "a"), (2L, "d1", "api", "b"),
      (3L, "d2", "web", "c")).toDF("id", "day", "et", "v"), "cfev")
    t.evolvePartitionSpec("cfev", Seq("day", "et"))
    t.append(Seq((4L, "d2", "api", "d")).toDF("id", "day", "et", "v"), "cfev")
    t.upsert(Seq((1L, "d1", "web", "A2")).toDF("id", "day", "et", "v"),
      "cfev", Seq("id", "day", "et"))
    // the migrated partition now carries new-spec ids (precondition of the case)
    assert(t.entries("cfev").exists(_._1 == "__p_day=d1/__p_et=web"),
      t.entries("cfev").map(_._1).toString)
    val raw = t.readChanges(spark, "cfev", 0, 2).collect()
      .map(r => (r.getLong(0), r.getString(3), r.getString(4), r.getInt(5)))
    // exactly-once: no duplicated (row, change, version) attribution even
    // though the rewrite spans two partition specs
    assert(raw.length == raw.toSet.size, s"duplicated feed rows: ${raw.toSeq}")
    assert(raw.toSet == Set(
      (4L, "d", "insert", 1),                               // new-spec append
      (1L, "a", "delete", 2), (2L, "b", "delete", 2),       // old-spec d1 files out
      (1L, "A2", "insert", 2), (2L, "b", "insert", 2)),     // new-spec d1 files in
      raw.toSeq.toString)                                   // d2 legs silent
    // fold contract survives the spec boundary: base v0 - deletes + inserts
    // == current read
    val base = t.readVersion(spark, "cfev", 0).collect()
      .map(r => (r.getLong(0), r.getString(3))).toSet
    val folded = base --
      raw.collect { case (id, v, "delete", _) => (id, v) } ++
      raw.collect { case (id, v, "insert", _) => (id, v) }
    val cur = t.read(spark, "cfev").collect()
      .map(r => (r.getLong(0), r.getString(3))).toSet
    assert(folded == cur)
  }

  test("readChanges always reads with the CURRENT schema, whatever the range") {
    import spark.implicits._
    val t = pfmt("p")
    // v0/v1 under (id, p, v); v2 adds `score` (additive evolution)
    t.create(Seq((1L, "a", "x")).toDF("id", "p", "v"), "cfsch")
    t.append(Seq((2L, "a", "b")).toDF("id", "p", "v"), "cfsch")
    t.append(Seq((3L, "b", "c", 3.5)).toDF("id", "p", "v", "score"), "cfsch")
    // a non-empty range entirely BEFORE the evolution still carries the
    // later-added column — as a typed null — in current-schema order (the
    // Delta CDF contract: the feed's schema never varies by range)
    val pre = t.readChanges(spark, "cfsch", 0, 1)
    val span = t.readChanges(spark, "cfsch", 0, 2)
    assert(pre.schema == span.schema,
      s"pre-evolution range schema drifted: ${pre.schema} vs ${span.schema}")
    assert(pre.columns.toSeq ==
      Seq("id", "p", "v", "score", "_change_type", "_commit_version"))
    val preRow = pre.collect()
    assert(preRow.map(r => (r.getLong(0), r.getString(2))).toSet == Set((2L, "b")))
    assert(preRow.forall(_.isNullAt(3)), "later-added column must read as null")
    assert(pre.schema("score").dataType ==
      org.apache.spark.sql.types.DoubleType)
    // the empty-range frame agrees too
    assert(t.readChanges(spark, "cfsch", 1, 1).columns.toSeq ==
      pre.columns.toSeq)
    // the evolving APPEND rewrote the SCHEMA file, so the contract survives
    // even when the current version holds no data at all (emptyFrame is the
    // schema source then — a footer-derived schema would vanish here)
    t.deleteWhere(spark, "cfsch", org.apache.spark.sql.functions.lit(true))
    assert(t.read(spark, "cfsch").count() == 0)
    assert(t.readChanges(spark, "cfsch", 0, 1).columns.toSeq ==
      pre.columns.toSeq,
      "pre-evolution range must keep the current schema after a delete-to-empty")
  }

  test("UPSERT- and CDC-driven schema evolution heal the SCHEMA file too") {
    import spark.implicits._
    val t = pfmt("p")
    t.create(Seq((1L, "a", "x")).toDF("id", "p", "v"), "cfup")
    // evolving upsert: `note` arrives through Align's passthrough
    t.upsert(Seq((2L, "a", "b", "n2")).toDF("id", "p", "v", "note"),
      "cfup", Seq("id"))
    val pre = t.readChanges(spark, "cfup", 0, 0)
    assert(pre.columns.contains("note"),
      s"pre-evolution range must carry the upsert-added column: ${pre.columns.toSeq}")
    // and after a delete-to-empty, SCHEMA (not footers) is the only source
    t.deleteWhere(spark, "cfup", org.apache.spark.sql.functions.lit(true))
    assert(t.read(spark, "cfup").columns.contains("note"),
      "emptied table must keep the upsert-evolved schema")
    // evolving CDC apply (both halves non-empty so it takes the CDC path)
    val t2 = pfmt("p")
    t2.create(Seq((1L, "a", "x", 0L), (2L, "a", "y", 0L))
      .toDF("id", "p", "v", "seq"), "cfcdc")
    val changes = Seq(
      ("delete", 1L, "a", "x", null.asInstanceOf[String], 1L),
      ("update", 2L, "a", "y2", "n", 2L))
      .toDF("op", "id", "p", "v", "note", "seq")
    t2.applyCdc(changes, "cfcdc", Seq("id"), "op", "seq")
    t2.deleteWhere(spark, "cfcdc", org.apache.spark.sql.functions.lit(true))
    assert(t2.read(spark, "cfcdc").columns.contains("note"),
      "emptied table must keep the CDC-evolved schema")
  }

  test("partitioned time travel: readVersion pins snapshots, versions enumerate") {
    import spark.implicits._
    val t = pfmt("p")
    t.create(Seq((1L, "a", "x")).toDF("id", "p", "v"), "tt2")
    t.append(Seq((2L, "b", "y")).toDF("id", "p", "v"), "tt2")
    t.upsert(Seq((1L, "a", "X2")).toDF("id", "p", "v"), "tt2", Seq("id"))
    assert(t.versions("tt2") == Seq(0, 1, 2))
    def snap(v: Int) = t.readVersion(spark, "tt2", v).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(snap(0) == Map(1L -> "x"))
    assert(snap(1) == Map(1L -> "x", 2L -> "y"))
    assert(snap(2) == Map(1L -> "X2", 2L -> "y"))
    assert(intercept[IllegalArgumentException](
      t.readVersion(spark, "tt2", 9)).getMessage.contains("version 9"))
  }

  test("manifest layout holds the Iceberg Hadoop version-file invariants") {
    // Interop pin for the CAS commit protocol: it deliberately mirrors
    // Iceberg's documented HadoopTableOperations scheme (Iceberg spec,
    // "File System Tables": versioned metadata files committed by atomic
    // no-overwrite rename, plus an ADVISORY version-hint file; the reference
    // declares exactly such tables — terraform/bigquery_tables.tf:97-116),
    // so a future real-catalog binding is a thin adapter. The invariants a
    // HadoopCatalog-style reader relies on:
    //  1. one metadata file per committed version, versions contiguous from 0
    //     — history immutable (old version files never rewritten);
    //  2. the hint names the latest version, but correctness never depends on
    //     it: resolution is max(hint, scan), so a stale or REGRESSED hint
    //     (losers of the hint race) still resolves to the newest manifest;
    //  3. every data dir a manifest references exists on disk at commit time
    //     (metadata never points at unwritten data).
    import spark.implicits._
    val root = Files.createTempDirectory("graft-iceberg-interop").toString
    val t = new PartitionedTable(root, Seq("p"))
    t.create(Seq((1L, "a"), (2L, "b")).toDF("id", "p"), "tt")
    t.append(Seq((3L, "a")).toDF("id", "p"), "tt")
    t.append(Seq((4L, "c")).toDF("id", "p"), "tt")

    val mdir = java.nio.file.Path.of(root, "tt", "m")
    val names = java.nio.file.Files.list(mdir).map(_.getFileName.toString)
      .toArray.map(_.toString).filterNot(_.startsWith(".")) // Hadoop .crc sidecars
      .sorted.toSeq
    // (1) naming + contiguity from v0
    assert(names.forall(_.matches("MANIFEST\\.v\\d+")), s"unexpected: $names")
    val versions = names.map(_.stripPrefix("MANIFEST.v").toInt).sorted
    assert(versions == (0 until versions.length), s"non-contiguous: $versions")
    assert(versions.length == 3, "create + 2 appends = 3 committed versions")
    // (2) hint = latest, advisory only: regress it and reads still see v2
    val hint = java.nio.file.Path.of(root, "tt", "LAST")
    assert(java.nio.file.Files.readString(hint).trim == "2")
    val latest = t.read(spark, "tt").collect().map(_.getLong(0)).toSet
    java.nio.file.Files.writeString(hint, "0")
    assert(t.read(spark, "tt").collect().map(_.getLong(0)).toSet == latest,
      "a regressed hint must not roll back reads (resolution = max(hint, scan))")
    // ...and the next commit self-heals past the bad hint instead of
    // colliding with an existing version file
    t.append(Seq((5L, "a")).toDF("id", "p"), "tt")
    assert(t.read(spark, "tt").count() == 5)
    assert(java.nio.file.Files.readString(hint).trim == "3")
    // (3) every manifest-referenced dir exists (all versions, full history)
    (0 to 3).foreach { v =>
      val body = java.nio.file.Files.readString(
        java.nio.file.Path.of(root, "tt", "m", s"MANIFEST.v$v"))
      body.split("\n").filter(_.nonEmpty).foreach { ln =>
        ln.split("\t", 2)(1).split(",").foreach { rel =>
          assert(java.nio.file.Files.isDirectory(
            java.nio.file.Path.of(root, "tt", "p", rel)),
            s"v$v references missing dir $rel")
        }
      }
    }
    // old version files stayed byte-stable across later commits: v0's
    // referenced dirs still read back the create-time rows alone (the manual
    // parse is itself the interop claim — any reader of the layout can
    // time-travel from the version files without our code)
    val v0dirs = java.nio.file.Files.readString(
        java.nio.file.Path.of(root, "tt", "m", "MANIFEST.v0"))
      .split("\n").filter(_.nonEmpty)
      .flatMap(_.split("\t", 2)(1).split(","))
      .map(rel => s"$root/tt/p/$rel").toSeq
    assert(spark.read.parquet(v0dirs: _*).count() == 2L)
  }
}
