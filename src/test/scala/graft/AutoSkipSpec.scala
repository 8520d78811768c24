package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import graft.lake.{AutoSkip, PartitionedTable}

/** Planner-integrated skipping pins: a PLAIN `AutoSkip.read(...).filter(...)`
  * must (a) return exactly what an unpruned scan returns for every predicate
  * shape, and (b) demonstrably open only the files whose footer evidence
  * admits a match — without the query naming any index. Coverage cases pin
  * the superset guarantee: a file without point evidence is never pruned
  * on a point value. */
class AutoSkipSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tempDir(): String = {
    val root = java.nio.file.Files.createTempDirectory("graft_autoskip_").toString
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import java.nio.file.{Files, Path}
      val p = Path.of(root)
      if (Files.exists(p))
        Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(q => Files.deleteIfExists(q))
    }))
    root
  }

  /** cat in {a, b} partitions; v clustered into 4 stripes of 100 per cat;
    * id high-cardinality, scattered per stripe — the triad's shape. */
  private def build(indexed: Boolean = true): (String, PartitionedTable) = {
    import spark.implicits._
    val root = tempDir()
    val rows = for {
      cat <- Seq("a", "b"); k <- 0 until 4; i <- 0 until 100
    } yield (cat, 1000L * k + i, s"id_${cat}_${1000L * k + i}")
    val src = rows.toDF("cat", "v", "id")
      .repartitionByRange(8, col("cat"), col("v"))
    val table = new PartitionedTable(root, Seq("cat"))
    table.create(src, "t")
    if (indexed) AutoSkip.index(spark, root, "t", Seq("v"), Seq("id"))
    (root, table)
  }

  private def keptOf(df: DataFrame): Seq[String] =
    AutoSkip.fileIndexOf(df).get.lastKept

  private def assertSameRows(pruned: DataFrame, plain: DataFrame): Unit = {
    val a = pruned.collect().map(_.toSeq).sortBy(_.mkString("|"))
    val b = plain.collect().map(_.toSeq).sortBy(_.mkString("|"))
    assert(a.toSeq == b.toSeq)
  }

  test("plain filtered read prunes through partition + zone + bloom, exact result") {
    val (root, table) = build()
    val plain = table.read(spark, "t")
    val total = plain.inputFiles.length
    val pred = (d: DataFrame) => d.filter(
      col("cat") === "a" && col("v") >= 2000L && col("v") <= 2099L &&
        col("id").isin("id_a_2010", "id_a_2020"))
    val pruned = pred(AutoSkip.read(spark, root, "t"))
    assertSameRows(pruned, pred(plain))
    val kept = keptOf(pruned)
    assert(kept.nonEmpty && kept.size < total,
      s"must skip files: kept ${kept.size} of $total")
    // every kept file is in cat=a (partition pruning visibly engaged)
    assert(kept.forall(_.contains("cat=a")), kept.mkString("\n"))
  }

  test("InSet path (many-value IN) still prunes and matches") {
    val (root, table) = build()
    val plain = table.read(spark, "t")
    val ids = (0 until 15).map(i => s"id_b_${3000 + i}") // > inSetConversionThreshold
    val pred = (d: DataFrame) => d.filter(col("id").isin(ids: _*))
    val pruned = pred(AutoSkip.read(spark, root, "t"))
    assertSameRows(pruned, pred(plain))
    assert(keptOf(pruned).size < plain.inputFiles.length)
  }

  test("range-only predicate prunes by zone map alone") {
    val (root, table) = build()
    val plain = table.read(spark, "t")
    val pred = (d: DataFrame) => d.filter(col("v") > 2999L && col("v") < 3050L)
    val pruned = pred(AutoSkip.read(spark, root, "t"))
    assertSameRows(pruned, pred(plain))
    assert(keptOf(pruned).size < plain.inputFiles.length)
  }

  test("OR of two handled predicates keeps the union, never loses rows") {
    val (root, table) = build()
    val plain = table.read(spark, "t")
    val pred = (d: DataFrame) =>
      d.filter(col("v") <= 5L || col("v") >= 3095L)
    val pruned = pred(AutoSkip.read(spark, root, "t"))
    assertSameRows(pruned, pred(plain))
  }

  test("predicate matching nothing opens zero files") {
    val (root, _) = build()
    val pruned = AutoSkip.read(spark, root, "t")
      .filter(col("v") >= 100000L)
    assert(pruned.count() == 0L)
    assert(keptOf(pruned).isEmpty)
  }

  test("unindexed table reads correct and unpruned (sidecars advisory)") {
    val (root, table) = build(indexed = false)
    val plain = table.read(spark, "t")
    val pred = (d: DataFrame) => d.filter(col("v") >= 2000L && col("v") <= 2099L)
    val pruned = pred(AutoSkip.read(spark, root, "t"))
    assertSameRows(pruned, pred(plain))
  }

  test("files without point evidence are kept unconditionally (superset)") {
    import spark.implicits._
    // no Bloom column declared yet: the unique ids are written plain, so no
    // file carries a filter or a dictionary on id
    val (root, table) = build(indexed = false)
    table.append(Seq(("a", 2050L, "id_new_1"), ("b", 2051L, "id_new_2"))
      .toDF("cat", "v", "id"), "t")
    val plain = table.read(spark, "t")
    val ids = Seq("id_new_1", "id_a_2010")
    val point = (d: DataFrame) => d.filter(col("id").isin(ids: _*))
    def keys(paths: Seq[String]) =
      paths.map(p => AutoSkip.fileKey(new org.apache.hadoop.fs.Path(p).toUri.toString)).toSet
    val unpruned = point(AutoSkip.read(spark, root, "t"))
    assertSameRows(unpruned, point(plain))
    assert(unpruned.count() == 2L)
    // only the footer bounds on id prune: every file whose [min, max]
    // admits a value is kept
    val idx = AutoSkip.fileIndexOf(unpruned).get
    val byBounds = idx.zones.collect { case (f, z) if ids.exists { v =>
      val u = org.apache.spark.unsafe.types.UTF8String.fromString(v)
      z("id").min.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].compareTo(u) <= 0 &&
        z("id").max.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].compareTo(u) >= 0
    } => f }.toSet
    assert(keys(keptOf(unpruned)) == byBounds)
    // the declaration rewrites the uncovered files with their filters: the
    // point read then keeps exactly the files holding a value
    AutoSkip.index(spark, root, "t", Seq("v"), Seq("id"))
    val again = point(AutoSkip.read(spark, root, "t"))
    assertSameRows(again, point(plain))
    val holding = point(table.read(spark, "t")).select(input_file_name()).distinct()
      .collect().map(r => AutoSkip.fileKey(r.getString(0))).toSet
    assert(keys(keptOf(again)) == holding)
  }

  test("write-transparent maintenance: plain append -> plain read prunes NEW files, no index() call") {
    import spark.implicits._
    val (root, table) = build() // indexed once at build; user code below never calls index()
    table.append(Seq(("a", 9000L, "id_auto_1"), ("a", 9001L, "id_auto_2"),
      ("b", 9002L, "id_auto_3")).toDF("cat", "v", "id"), "t")
    val plain = table.read(spark, "t")
    val total = plain.inputFiles.length
    // range disjoint from every pre-append stripe: only the appended files
    // can match, and their own footers bound them
    val pred = (d: DataFrame) => d.filter(col("v") >= 9000L)
    val pruned = pred(AutoSkip.read(spark, root, "t"))
    assertSameRows(pruned, pred(plain))
    assert(pruned.count() == 3L)
    val kept = keptOf(pruned)
    assert(kept.nonEmpty && kept.size < total,
      s"appended files must be pruned against without an index() call: " +
        s"kept ${kept.size} of $total")
    // and the OLD stripes stay prunable too; a point lookup prunes through
    // the Bloom filters the append wrote
    val pointPred = (d: DataFrame) => d.filter(col("id") === "id_auto_2")
    val point = pointPred(AutoSkip.read(spark, root, "t"))
    assertSameRows(point, pointPred(plain))
    assert(keptOf(point).size < total)
    // each append is one commit and nothing else: no index state is kept
    // beside the data, and every file it wrote carries its own filters
    val v0 = table.version("t").get
    for (i <- 0 until 8)
      table.append(Seq(("a", 9100L + i, s"id_gen_$i")).toDF("cat", "v", "id"), "t")
    assert(table.version("t").get == v0 + 8)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "t", "idx")))
    assert(BloomFooters.uncovered(root, "t").isEmpty)
  }

  test("mixed partition specs after evolvePartitionSpec: pruning correct across both") {
    import spark.implicits._
    val (root, table) = build() // partitioned by cat, indexed on v (zone) + id (bloom)
    table.evolvePartitionSpec("t", Seq("cat", "id"))
    // new-spec appends write their filters like any other stage
    table.append(Seq(("a", 9000L, "id_mx_1"), ("b", 9001L, "id_mx_2"))
      .toDF("cat", "v", "id"), "t")
    val plain = table.read(spark, "t")
    val total = plain.inputFiles.length
    // predicate spanning both specs: an old-spec stripe value AND a new file
    val pred = (d: DataFrame) => d.filter(
      col("cat") === "a" && (col("v") === 2010L || col("v") === 9000L))
    val pruned = pred(AutoSkip.read(spark, root, "t"))
    assertSameRows(pruned, pred(plain))
    assert(pruned.count() == 2L)
    val kept = keptOf(pruned)
    assert(kept.nonEmpty && kept.size < total, s"kept ${kept.size} of $total")
    assert(kept.forall(_.contains("cat=a")), kept.mkString("\n"))
    // new-spec partition values participate: an id equality prunes to the
    // new file through its footer bounds AND its Bloom filter
    val p2 = AutoSkip.read(spark, root, "t").filter(col("id") === "id_mx_2")
    assert(p2.count() == 1L)
    assert(keptOf(p2).size < total)
    // a MIGRATING rewrite (upsert touching an old-spec partition) replaces
    // old-spec files with new-spec files, written with their footers, so
    // pruned reads stay exact with no index() call
    table.upsert(Seq(("a", 9100L, "id_mig_1")).toDF("cat", "v", "id"),
      "t", Seq("cat", "id"))
    val plainM = table.read(spark, "t")
    val totalM = plainM.inputFiles.length
    val predM = (d: DataFrame) => d.filter(col("v") === 9100L)
    val prunedM = predM(AutoSkip.read(spark, root, "t"))
    assertSameRows(prunedM, predM(plainM))
    assert(prunedM.count() == 1L)
    assert(keptOf(prunedM).size < totalM,
      s"migrated files must be footer-covered: kept ${keptOf(prunedM).size} of $totalM")
  }

  test("null-safe: IsNull finds the default-partition rows, IsNotNull prunes them") {
    import spark.implicits._
    val root = tempDir()
    val table = new PartitionedTable(root, Seq("cat"))
    table.create(Seq((Option("a"), 1L), (Option("a"), 2L), (None, 3L))
      .toDF("cat", "v"), "t")
    val plain = table.read(spark, "t")
    val isNull = AutoSkip.read(spark, root, "t").filter(col("cat").isNull)
    assertSameRows(isNull, plain.filter(col("cat").isNull))
    assert(isNull.count() == 1L)
    val eq = AutoSkip.read(spark, root, "t").filter(col("cat") === "a")
    assertSameRows(eq, plain.filter(col("cat") === "a"))
    assert(keptOf(eq).forall(!_.contains("__HIVE_DEFAULT_PARTITION__")))
  }

  test("projection-only read (no filter) returns everything") {
    val (root, table) = build()
    val pruned = AutoSkip.read(spark, root, "t").select("id")
    assert(pruned.count() == table.read(spark, "t").count())
  }

  test("unhandled predicate shapes keep all candidate rows (conservative)") {
    val (root, table) = build()
    val plain = table.read(spark, "t")
    // endswith is not a bounds-expressible shape; must not prune wrongly
    val pred = (d: DataFrame) => d.filter(col("id").endsWith("_2010") && col("v") >= 2000L)
    val pruned = pred(AutoSkip.read(spark, root, "t"))
    assertSameRows(pruned, pred(plain))
  }

  test("job-count guard: a range-only read over zone-map and Bloom sidecars") {
    val (root, _) = build() // footer zones on every column, Bloom filter on id
    val (rows, jobs) = TestSpark.jobsOf(
      AutoSkip.read(spark, root, "t").filter(col("v") >= 2000L && col("v") <= 2099L).collect())
    assert(rows.length == 200)
    // job counts repeat exactly, so the pin is exact. The schema and the
    // zones come from footers read on the driver: the one job is the collect
    val pinned = 1
    assert(jobs == pinned, s"a range-only read ran $jobs Spark jobs, pinned at $pinned")
  }

  test("job-count guard: a point read through the footer Bloom filters") {
    val (root, table) = build() // zone map on v, Bloom filter on id
    val df = AutoSkip.read(spark, root, "t").filter(col("id") === "id_a_2010")
    val (rows, jobs) = TestSpark.jobsOf(df.collect())
    assert(rows.length == 1)
    assert(keptOf(df).size < table.read(spark, "t").inputFiles.length)
    // exact pin: the filters are tested on the driver by parquet-mr's own
    // row-group filter, so the one job is the collect
    val pinned = 1
    assert(jobs == pinned, s"a point read ran $jobs Spark jobs, pinned at $pinned")
  }

  test("escaped partition values: pruned reads keep exactly the holding files after every commit") {
    import spark.implicits._
    // a tab, a space and a '%' in a partition value: Spark escapes the tab
    // and the '%' in the directory name (s=%09P, s=a%25b), which a file's
    // URI escapes once more. Every commit writes the Bloom filters on id
    val root = tempDir()
    val table = new PartitionedTable(root, Seq("s"))
    val parts = Seq("\tP", " P", "a%b", "plain")
    // per file: a band of v, and ids interleaved over all files so only
    // the Bloom filters tell the files apart on id
    def batch(round: Int) = (for ((s, si) <- parts.zipWithIndex; i <- 0 until 20)
      yield (s, 10000L * round + 100L * si + i, f"u${round * 1000 + parts.size * i + si}%05d"))
      .toDF("s", "v", "id").repartition(1)
    def check(step: String): Unit = {
      val plain = table.read(spark, "t")
      val perFile = plain.groupBy(input_file_name().as("f"))
        .agg(min("v").as("lo"), max("v").as("hi"), first("id").as("id")).collect()
        .map(r => (AutoSkip.fileKey(r.getString(0)), r.getLong(1), r.getLong(2), r.getString(3)))
      def keys(df: DataFrame) =
        keptOf(df).map(p => AutoSkip.fileKey(new org.apache.hadoop.fs.Path(p).toUri.toString)).toSet
      for ((file, _, _, id) <- perFile) {
        val point = AutoSkip.read(spark, root, "t").filter(col("id") === id)
        assertSameRows(point, plain.filter(col("id") === id))
        assert(keys(point) == Set(file), s"$step: point read on $id kept ${keys(point)}")
      }
      val (lo, hi) = (150L, 250L)
      val range = AutoSkip.read(spark, root, "t").filter(col("v").between(lo, hi))
      assertSameRows(range, plain.filter(col("v").between(lo, hi)))
      assert(keys(range) == perFile.filter(f => f._2 <= hi && f._3 >= lo).map(_._1).toSet,
        s"$step: range read kept ${keys(range)}")
    }
    table.create(batch(0), "t")
    AutoSkip.index(spark, root, "t", Seq("v"), Seq("id"))
    check("create")
    table.append(batch(1), "t")
    check("first append")
    table.append(batch(2), "t")
    check("second append")
    table.compact(spark, "t")
    check("compact")
  }

  test("the read handle's schema is the table's read schema") {
    import spark.implicits._
    val root = tempDir()
    val table = new PartitionedTable(root, Seq("cat"))
    // names, order and nullability: a parquet read makes every column
    // nullable, and takes its order from the first file it lists
    def same(step: String): Unit =
      assert(AutoSkip.read(spark, root, "t").schema == table.read(spark, "t").schema, step)
    table.create(Seq(("b", 1L, "x")).toDF("cat", "v", "id"), "t")
    same("create")
    // a write keeps its frame's column order, and partition a's file sorts
    // first by path, so the SCHEMA file's order is not the read's
    table.append(Seq(("y", 2.5, 2L, "a")).toDF("id", "score", "v", "cat"), "t")
    same("additive append")
    table.append(Seq(("b", 3L, "z")).toDF("cat", "v", "id"), "t")
    table.compact(spark, "t")
    same("compact")
    table.upsert(Seq(("a", 1L, "x", 1.5, true)).toDF("cat", "v", "id", "score", "flag"),
      "t", Seq("id"))
    same("upsert adding a column")
    table.overwrite(Seq((3, "c")).toDF("w", "cat"), "t")
    same("overwrite")
    java.nio.file.Files.delete(java.nio.file.Paths.get(root, "t", "SCHEMA"))
    same("no SCHEMA file")
  }

  test("the skipping gates still prune their AutoSkip tables") {
    for (gate <- Seq("events_zonemap_range", "events_keyrange_join", "events_skipping_triad")) {
      val df = SparkEntry.queries(gate)(spark, TestSpark.sfDir)
      assert(df.collect().nonEmpty, gate)
      val idx = AutoSkip.fileIndexOf(df).get
      assert(idx.lastKept.nonEmpty && idx.lastKept.size < idx.inputFiles.length,
        s"$gate kept ${idx.lastKept.size} of ${idx.inputFiles.length} files")
    }
  }

  test("superset under churn: racing appenders + compactor + refreshers never lose rows") {
    import spark.implicits._
    // 8 racing workers, mirroring the lake's CAS-commit races: 2 appenders
    // (compose-commits, both must land), 1 compactor (read-modify-write,
    // aborts loudly on conflict and retries next round), 2 index callers
    // (the table is covered, so each checks the footers and commits
    // nothing), 3 readers asserting on every iteration that the PRUNED
    // read over their snapshot equals the UNPRUNED read over the same
    // files — the superset guarantee as an exact-equality check, because
    // the retained filter clears pruning slack.
    val root = tempDir()
    val table = new PartitionedTable(root, Seq("cat"))
    def rowsFor(base: Long, n: Int) = (0 until n).map { j =>
      val v = base + j
      (if (v % 2 == 0) "a" else "b", v, s"id_$v")
    }
    table.create(rowsFor(0L, 200).toDF("cat", "v", "id"), "t")
    AutoSkip.index(spark, root, "t", Seq("v"), Seq("id"))

    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val appendsLeft = new java.util.concurrent.atomic.AtomicInteger(12)
    val nextBase = new java.util.concurrent.atomic.AtomicLong(1000L)
    def worker(f: () => Unit): Thread = {
      val th = new Thread(() => {
        try while (appendsLeft.get() > 0) f()
        catch { case t: Throwable => failures.add(t); appendsLeft.set(0) }
      })
      th.setDaemon(true); th.start(); th
    }
    val appenders = (1 to 2).map(_ => worker { () =>
      if (appendsLeft.getAndDecrement() > 0)
        table.append(rowsFor(nextBase.getAndAdd(50L), 50).toDF("cat", "v", "id"), "t")
    })
    val compactor = worker { () =>
      try table.compact(spark, "t")
      catch { case _: java.util.ConcurrentModificationException => () } // documented abort
      Thread.sleep(30)
    }
    val refreshers = (1 to 2).map(_ => worker { () =>
      AutoSkip.index(spark, root, "t", Seq("v"), Seq("id"))
    })
    val readers = (1 to 3).map(_ => worker { () =>
      val pruned = AutoSkip.read(spark, root, "t").filter(
        col("v") >= 40L && col("v") <= 160L && col("cat") === "a")
      val got = pruned.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
      val snapFiles = AutoSkip.fileIndexOf(pruned).get.inputFiles
      val want = spark.read.schema(pruned.schema).parquet(snapFiles.toIndexedSeq: _*)
        .filter(col("v") >= 40L && col("v") <= 160L && col("cat") === "a")
        .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
      assert(got == want, s"pruned read lost rows: got ${got.size}, want ${want.size}")
    })
    (appenders ++ Seq(compactor) ++ refreshers ++ readers).foreach(_.join(120000))
    assert(failures.isEmpty, s"racing worker failed: ${failures.peek()}")
    // convergence: the settled table reads identically pruned and plain
    AutoSkip.index(spark, root, "t", Seq("v"), Seq("id"))
    val pred = (d: DataFrame) => d.filter(col("v") >= 40L && col("v") <= 1100L)
    assertSameRows(pred(AutoSkip.read(spark, root, "t")), pred(table.read(spark, "t")))
    // seed covers v 0..199, the 12 appended blocks cover 1000..1599 exactly
    // once each (every decrement-winning appender lands via rebase-commit)
    assert(pred(table.read(spark, "t")).count() ==
      (40L to 199L).size + (1000L to 1100L).size)
  }
}
