package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import graft.lake.{ParquetDirFormat, PartitionedTable}
import graft.normalize.{ColumnNameNormalizer, OverflowRepair}
import graft.operators.{Cleaning, Coercion, Heuristics}
import graft.pipeline.{FilePipeline, Ledger}

class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("end-to-end file pipeline: load, clean, coerce, stamp, lake, idempotent") {
    val root = Files.createTempDirectory("graft-pipe")
    val csv = root.resolve("users.csv")
    Files.write(csv,
      ("userId,First Name,Age,note\n" +
       "1,  alice  ,34,ok\n" +
       "2,bob,N/A,fine\n" +
       "3,carol,29,\n").getBytes)
    val lake = new ParquetDirFormat(root.resolve("lake").toString)
    val ledger = new Ledger(root.resolve("ledger.tsv").toString)

    val r1 = FilePipeline.processFile(spark, csv.toString, "users", lake, ledger)
    assert(r1.status == "loaded" && r1.rows == 3 && !r1.skipped)

    val out = lake.read(spark, "users")
    // normalized names + processed_at stamp + provenance commit token
    assert(out.columns.toSet ==
      Set("user_id", "first_name", "age", "note", "processed_at", "_source_file_hash"))
    // coercion tightened user_id; N/A in age nulled BEFORE coercion decision
    val types = out.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
    assert(types("user_id") == "bigint")
    // string cleaning applied: whitespace trimmed
    val names = out.select("first_name").collect().map(_.getString(0)).toSet
    assert(names.contains("alice"))

    // same content again -> skipped (exactly-once per content hash)
    val r2 = FilePipeline.processFile(spark, csv.toString, "users", lake, ledger)
    assert(r2.skipped)
    assert(lake.read(spark, "users").count() == 3)
  }

  test("overflow-shifted rows are quarantined, not loaded into the main table") {
    val root = Files.createTempDirectory("graft-quar")
    val csv = root.resolve("q.csv")
    // row 10's unquoted comma spills into a phantom column: overflow repair
    // flags it is_shifted -> the pipeline must route it to <table>_quarantine
    val rows = (1 to 9).map(i => s"$i,name$i,note$i") :+ "10,Bob,messy, extra"
    Files.write(csv, ("id,name,notes\n" + rows.mkString("\n") + "\n").getBytes)
    val lake = new ParquetDirFormat(root.resolve("lake").toString)
    val ledger = new Ledger(root.resolve("ledger.tsv").toString)
    val r = FilePipeline.processFile(spark, csv.toString, "q", lake, ledger)
    assert(r.status == "loaded" && r.rows == 9 && r.quarantinedRows == 1)
    val main = lake.read(spark, "q")
    assert(main.count() == 9, "shifted row must not reach the main table")
    assert(!main.columns.contains("is_shifted"), "main table schema stays clean")
    val quar = lake.read(spark, FilePipeline.quarantineTable("q"))
    assert(quar.count() == 1)
    assert(quar.columns.contains("is_shifted"), "quarantine keeps the flag for review")
    assert(quar.head().getAs[String]("name") == "Bob")
    // one driver-captured stamp for the whole file: main and quarantine rows
    // must carry the IDENTICAL processed_at even across separate actions
    val stamps = (main.select("processed_at").collect() ++
      quar.select("processed_at").collect()).map(_.get(0)).toSet
    assert(stamps.size == 1, s"main+quarantine must share one stamp, got $stamps")
    // a clean file quarantines nothing and creates no quarantine table
    val clean = root.resolve("clean.csv")
    Files.write(clean, "id,name,notes\n1,a,x\n2,b,y\n".getBytes)
    val r2 = FilePipeline.processFile(spark, clean.toString, "c", lake, ledger)
    assert(r2.quarantinedRows == 0)
    assert(!lake.exists(FilePipeline.quarantineTable("c")))
  }

  test("crash between append and ledger record cannot double-load (commit token)") {
    val root = Files.createTempDirectory("graft-crash")
    val csv = root.resolve("t.csv")
    Files.write(csv, "id,v\n1,a\n2,b\n".getBytes)
    val lake = new ParquetDirFormat(root.resolve("lake").toString)
    val ledger = new Ledger(root.resolve("ledger.tsv").toString)
    // first run commits the data
    val first = FilePipeline.processFile(spark, csv.toString, "t", lake, ledger)
    assert(lake.read(spark, "t").count() == 2)
    // simulate the crash window: the lake append happened but the 'loaded'
    // ledger record was lost — the ledger last saw this hash at 'cleaned'
    val crashed = new Ledger(root.resolve("ledger2.tsv").toString)
    crashed.record(graft.pipeline.FileRecord(first.fileHash, csv.toString, "t", "received", 0))
    crashed.record(graft.pipeline.FileRecord(first.fileHash, csv.toString, "t", "cleaned", 2))
    val r = FilePipeline.processFile(spark, csv.toString, "t", lake, ledger = crashed)
    assert(r.status == "loaded")
    // the in-data _source_file_hash token prevented a second append
    assert(lake.read(spark, "t").count() == 2, "rows must not be appended twice")
    assert(crashed.isLoaded(r.fileHash), "ledger repaired to loaded")
  }

  test("transcoded .utf8 sibling is cleaned up after load and archive") {
    val root = Files.createTempDirectory("graft-utf8")
    val csv = root.resolve("win.csv")
    // Windows-1252 content (0xE9 = é) forces an ensureUtf8 transcode sibling
    Files.write(csv, ("id,name\n1,café\n".getBytes("windows-1252")))
    val lake = new ParquetDirFormat(root.resolve("lake").toString)
    val ledger = new Ledger(root.resolve("ledger.tsv").toString)
    FilePipeline.processFile(spark, csv.toString, "w", lake, ledger)
    assert(!Files.exists(root.resolve("win.csv.utf8")),
      "derived .utf8 sibling must not linger in the inbox")
    FilePipeline.archive(csv.toString, root.resolve("archive").toString)
    assert(Files.exists(root.resolve("archive").resolve("win.csv")))
    assert(!Files.exists(root.resolve("win.csv")))
  }

  test("a failed load is retryable: success overwrites the failure record") {
    val root = java.nio.file.Files.createTempDirectory("graft-retry")
    val ledger = new Ledger(root.resolve("ledger.tsv").toString)
    ledger.record(graft.pipeline.FileRecord("h1", "/p", "t", "received", 0))
    ledger.record(graft.pipeline.FileRecord("h1", "/p", "t", "failed", 0))
    assert(!ledger.isLoaded("h1"))
    // retry succeeds
    ledger.record(graft.pipeline.FileRecord("h1", "/p", "t", "cleaned", 5))
    ledger.record(graft.pipeline.FileRecord("h1", "/p", "t", "loaded", 5))
    assert(ledger.isLoaded("h1"))
    // a stray late failure event cannot regress a completed load
    ledger.record(graft.pipeline.FileRecord("h1", "/p", "t", "failed", 0))
    assert(ledger.isLoaded("h1"))
  }

  /** Rows, quarantined rows and the main and quarantine contents of a load,
    * by the measuring chain the fused profile replaces: OverflowRepair.repair
    * -> na.drop("all") -> Coercion.coerce -> count, one pass each. */
  private def chained(path: String): (Long, Long, DataFrame, Option[DataFrame]) = {
    val named = ColumnNameNormalizer(FilePipeline.loadRaw(spark, path))
    val coerced = Coercion.coerce(OverflowRepair.repair(named).na.drop("all"), 0.9)
    val cleaned = coerced.select(coerced.schema.fields.map { f =>
      if (f.dataType == org.apache.spark.sql.types.StringType)
        Cleaning.protocol(col(f.name)).as(f.name)
      else col(f.name)
    }.toIndexedSeq: _*)
    if (!cleaned.columns.contains("is_shifted")) (cleaned.count(), 0L, cleaned, None)
    else {
      val good = cleaned.filter(!col("is_shifted")).drop("is_shifted")
      val quar = cleaned.filter(col("is_shifted"))
      (good.count(), quar.count(), good, Some(quar))
    }
  }

  /** Schema and rows of a frame, provenance columns left out. */
  private def contents(df: DataFrame): (Seq[(String, String)], Seq[String]) = {
    val d = df.drop("processed_at", "_source_file_hash")
    (d.schema.fields.map(f => f.name -> f.dataType.simpleString).toSeq,
      d.collect().map(_.toSeq.mkString("\u0001")).toSeq.sorted)
  }

  test("the one-pass load profile equals the repair -> drop -> coerce -> count chain") {
    val root = Files.createTempDirectory("graft-profile")
    val inputs: Seq[(String, String, Long, Long)] = Seq(
      // name, content, expected rows, expected quarantined rows
      ("clean.csv", "id,name,amount,day,flag\n1, alice ,3.5,2024-01-02,true\n" +
        "2,bob,4,2024-01-03,false\n3,\tcarol,x,2024-01-04,true\n", 3L, 0L),
      // a mostly-empty trailing column: the load's own overflow repair flags it
      ("phantom.csv", "id,name,extra\n" + (1 to 9).map(i => s"$i,n$i,").mkString("\n") +
        "\n10,n10,spill\n,,\n", 10L, 1L),
      // token overflow: CsvRecovery flags the row before the load sees it
      ("recovered.csv", "id,name,notes\n" + (1 to 9).map(i => s"$i,name$i,note$i").mkString("\n") +
        "\n10,Bob,messy, extra\n", 9L, 1L),
      ("all_null_rows.csv", "a,b,c\n1,x,7\n,,\n2,y,8\n,,\n3,,\n", 3L, 0L),
      ("header_only.csv", "a,b\n", 0L, 0L),
      ("typed.jsonl", "{\"id\": 1, \"score\": 2.5, \"ok\": true, \"tags\": [\"x\"], \"code\": \"12\"}\n" +
        "{}\n{\"id\": 2, \"score\": null, \"ok\": false, \"tags\": [], \"code\": \"13\"}\n" +
        "{\"id\": 3, \"code\": \" 14 \", \"note\": \"n\"}\n", 3L, 0L))
    inputs.foreach { case (name, content, rows, quarantined) =>
      val path = root.resolve(name)
      Files.write(path, content.getBytes("UTF-8"))
      val (oldRows, oldQuar, oldGood, oldQuarDf) = chained(path.toString)
      assert((oldRows, oldQuar) == ((rows, quarantined)), name)
      val lake = new ParquetDirFormat(root.resolve(s"lake-$name").toString)
      val r = FilePipeline.processFile(spark, path.toString, "t", lake,
        new Ledger(root.resolve(s"$name.ledger").toString))
      assert((r.rows, r.quarantinedRows) == ((oldRows, oldQuar)), name)
      assert(contents(lake.read(spark, "t")) == contents(oldGood), name)
      assert(lake.exists(FilePipeline.quarantineTable("t")) == (oldQuar > 0), name)
      if (oldQuar > 0)
        assert(contents(lake.read(spark, FilePipeline.quarantineTable("t"))) ==
          contents(oldQuarDf.get), name)
    }
  }

  test("job-count guard: a clean CSV load into an existing un-indexed PartitionedTable") {
    val root = Files.createTempDirectory("graft-jobs")
    def orders(from: Int): String =
      "o_orderkey,o_custkey,o_orderstatus,o_totalprice,o_orderdate,o_comment\n" +
        (from until from + 200).map { i =>
          s"$i,${i % 37}, ${"FOP"(i % 3)} ,${i * 1.25},2024-01-${"%02d".format(i % 28 + 1)},note $i"
        }.mkString("\n") + "\n"
    val first = root.resolve("orders-1.csv")
    val second = root.resolve("orders-2.csv")
    Files.write(first, orders(1).getBytes("UTF-8"))
    Files.write(second, orders(1001).getBytes("UTF-8"))
    val lake = new PartitionedTable(root.resolve("lake").toString, Seq("o_orderstatus"))
    val ledger = new Ledger(root.resolve("ledger.tsv").toString)
    FilePipeline.processFile(spark, first.toString, "orders", lake, ledger)

    val (r, jobs) = TestSpark.jobsOf(
      FilePipeline.processFile(spark, second.toString, "orders", lake, ledger))
    assert(r.rows == 200 && r.quarantinedRows == 0)
    assert(lake.read(spark, "orders").count() == 400)
    // job counts repeat exactly, so the pin is exact: a rise means a load
    // gained a Spark job; a change that removes one on purpose lowers the pin.
    // The two: the load profile, which carries the atomic check, and the
    // staged write
    val pinned = 2
    assert(jobs == pinned, s"a clean CSV load ran $jobs Spark jobs, pinned at $pinned")
  }

  test("job-count guard: a clean CSV load into a zone- and Bloom-indexed PartitionedTable") {
    val root = Files.createTempDirectory("graft-jobs-indexed")
    def orders(from: Int): String =
      "o_orderkey,o_custkey,o_orderstatus,o_totalprice,o_orderdate,o_comment\n" +
        (from until from + 200).map { i =>
          s"$i,${i % 37}, ${"FOP"(i % 3)} ,${i * 1.25},2024-01-${"%02d".format(i % 28 + 1)},note $i"
        }.mkString("\n") + "\n"
    val first = root.resolve("orders-1.csv")
    val second = root.resolve("orders-2.csv")
    Files.write(first, orders(1).getBytes("UTF-8"))
    Files.write(second, orders(1001).getBytes("UTF-8"))
    val lakeRoot = root.resolve("lake").toString
    val lake = new PartitionedTable(lakeRoot, Seq("o_orderstatus"))
    val ledger = new Ledger(root.resolve("ledger.tsv").toString)
    FilePipeline.processFile(spark, first.toString, "orders", lake, ledger)
    graft.lake.AutoSkip.index(spark, lakeRoot, "orders", Seq("o_orderkey", "o_totalprice"),
      Seq("o_custkey"))

    val (r, jobs) = TestSpark.jobsOf(
      FilePipeline.processFile(spark, second.toString, "orders", lake, ledger))
    assert(r.rows == 200 && r.quarantinedRows == 0)
    // the staged write carried the point evidence in the new files' own
    // footers: every o_custkey chunk has a Bloom filter or a dictionary
    // encoding all its pages (37 values per file: the dictionary)
    assert(BloomFooters.uncovered(lakeRoot, "orders").isEmpty)
    assert(!Files.exists(root.resolve("lake/orders/idx")))
    // exact pin: the un-indexed load's 2 jobs — the filters cost no job
    val pinned = 2
    assert(jobs == pinned, s"an indexed clean CSV load ran $jobs Spark jobs, pinned at $pinned")
  }

  test("job-count guard: a JSONL load into an existing un-indexed PartitionedTable") {
    val root = Files.createTempDirectory("graft-jobs-jsonl")
    def orders(from: Int): String =
      (from until from + 200).map { i =>
        s"""{"o_orderkey": $i, "o_custkey": ${i % 37}, "o_orderstatus": " ${"FOP"(i % 3)} ", """ +
          s""""o_totalprice": ${i * 1.25}, "o_comment": "note $i"}"""
      }.mkString("\n") + "\n"
    val first = root.resolve("orders-1.jsonl")
    val second = root.resolve("orders-2.jsonl")
    Files.write(first, orders(1).getBytes("UTF-8"))
    Files.write(second, orders(1001).getBytes("UTF-8"))
    val lake = new PartitionedTable(root.resolve("lake").toString, Seq("o_orderstatus"))
    val ledger = new Ledger(root.resolve("ledger.tsv").toString)
    FilePipeline.processFile(spark, first.toString, "orders", lake, ledger)

    val (r, jobs) = TestSpark.jobsOf(
      FilePipeline.processFile(spark, second.toString, "orders", lake, ledger))
    assert(r.rows == 200 && r.quarantinedRows == 0)
    assert(lake.read(spark, "orders").count() == 400)
    // exact pin: the line validation, the JSON reader's schema inference,
    // the load profile, which carries the loaded-rows check, and the staged
    // write
    val pinned = 4
    assert(jobs == pinned, s"a JSONL load ran $jobs Spark jobs, pinned at $pinned")
  }

  test("job-count guard: a CSV load that falls back to CsvRecovery") {
    val root = Files.createTempDirectory("graft-jobs-recovery")
    // the last row's unquoted comma overflows the strict parse
    def shifted(from: Int): String =
      "id,grp,notes\n" + (from until from + 199).map(i => s"$i,g${i % 3},note $i").mkString("\n") +
        s"\n${from + 199},g0,messy, extra\n"
    val first = root.resolve("shifted-1.csv")
    val second = root.resolve("shifted-2.csv")
    Files.write(first, shifted(1).getBytes("UTF-8"))
    Files.write(second, shifted(1001).getBytes("UTF-8"))
    val lake = new PartitionedTable(root.resolve("lake").toString, Seq("grp"))
    val ledger = new Ledger(root.resolve("ledger.tsv").toString)
    FilePipeline.processFile(spark, first.toString, "t", lake, ledger)

    val (r, jobs) = TestSpark.jobsOf(
      FilePipeline.processFile(spark, second.toString, "t", lake, ledger))
    assert(r.rows == 199 && r.quarantinedRows == 1)
    assert(lake.read(spark, FilePipeline.quarantineTable("t")).count() == 2)
    // exact pin: the failed strict profile, the 4 scored recovery parses,
    // the overflow measure, the recovered profile and the two staged writes
    val pinned = 9
    assert(jobs == pinned, s"a recovered CSV load ran $jobs Spark jobs, pinned at $pinned")
  }

  test("a load releases its CSV parse cache: clean and CsvRecovery loads") {
    val root = Files.createTempDirectory("graft-cache")
    val clean = root.resolve("clean.csv")
    Files.write(clean, "id,name,notes\n1,a,x\n2,b,y\n".getBytes)
    // the unquoted comma overflows the strict parse, so this load falls back
    // to CsvRecovery and quarantines the shifted row
    val shifted = root.resolve("shifted.csv")
    val rows = (1 to 9).map(i => s"$i,name$i,note$i") :+ "10,Bob,messy, extra"
    Files.write(shifted, ("id,name,notes\n" + rows.mkString("\n") + "\n").getBytes)
    val lake = new ParquetDirFormat(root.resolve("lake").toString)
    val ledger = new Ledger(root.resolve("ledger.tsv").toString)
    val sc = spark.sparkContext
    for ((csv, quarantined) <- Seq(clean -> 0L, shifted -> 1L)) {
      val before = sc.getPersistentRDDs.size
      val r = FilePipeline.processFile(spark, csv.toString, "t", lake, ledger)
      assert(r.status == "loaded" && r.quarantinedRows == quarantined, csv)
      assert(sc.getPersistentRDDs.size == before,
        s"$csv left ${sc.getPersistentRDDs.size - before} cached RDDs behind")
    }
    // a kept cache would also serve a file rewritten at the same path: the
    // reader's plan matches it by path, so the new rows would never be read
    Files.write(clean, "id,name,notes\n3,c,z\n4,d,w\n".getBytes)
    FilePipeline.processFile(spark, clean.toString, "t2", lake, ledger)
    assert(lake.read(spark, "t2").select("id").collect().map(_.get(0)).toSet == Set(3, 4))
  }

  test("PII name matching is token-exact, not substring") {
    import spark.implicits._
    val df = Seq(("x", "y", "z", "w"))
      .toDF("population", "adobe", "user_email", "longevity")
    val findings = Heuristics.detectPii(df).map(_.column).toSet
    assert(findings == Set("user_email"))
  }

  test("header heuristic: textual header over numeric body") {
    assert(Heuristics.looksLikeHeader(
      Seq("id", "amount", "when"),
      Seq(Seq("1", "9.99", "2024-01-01"), Seq("2", "12.50", "2024-01-02"))))
    assert(!Heuristics.looksLikeHeader(
      Seq("1", "9.99", "2024-01-01"),
      Seq(Seq("2", "12.50", "2024-01-02"), Seq("3", "8.00", "2024-01-03"))))
  }

  test("PII detection by name and by value shape") {
    import spark.implicits._
    val df = Seq(
      ("a@b.com", "555-123-4567x", "plain", "x"),
      ("c@d.org", "555-987-6543x", "text", "y"))
      .toDF("contact", "phone_number", "note", "v")
    val findings = Heuristics.detectPii(df).map(f => f.column -> f.reason).toMap
    assert(findings.get("phone_number").contains("column_name"))
    assert(findings.get("contact").contains("value_pattern"))
    assert(!findings.contains("note") && !findings.contains("v"))
  }
}
