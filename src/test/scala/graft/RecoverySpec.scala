package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{CsvRecovery, JsonRepair, Readers}

/** CSV multi-strategy recovery + JSON repair, mirroring the reference's
  * test_ingestion.py semantics (bad_quoting.csv:47-51, overflow/no-row-loss
  * :75-98, JSON repair atomicity :155-200) on regenerated fixtures
  * (FIXTURES.md §1). */
class RecoverySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def write(name: String, content: String): String = {
    val dir = Files.createTempDirectory("graft_recovery")
    val p = dir.resolve(name)
    Files.write(p, content.getBytes("UTF-8"))
    p.toString
  }

  test("strict atomic load fails on unquoted embedded commas (row loss)") {
    val rows = (1 to 9).map(i => s"$i,name$i,note$i") :+ "10,Bob,messy, extra"
    val path = write("bad_quoting.csv", "id,name,notes\n" + rows.mkString("\n") + "\n")
    assertThrows[IllegalStateException](Readers.atomicCsv(spark, path))
  }

  test("recovery loads bad quoting with zero row loss and is_shifted flag") {
    // 9 clean rows (one with a properly quoted comma) + 1 row whose unquoted
    // comma spills into a padding column -> 90%-null trailing col is repaired
    val rows = (1 to 8).map(i => s"$i,name$i,note$i") ++
      Seq("9,Carol,\"good, reliable\"", "10,Bob,messy, extra")
    val path = write("bad_quoting.csv", "id,name,notes\n" + rows.mkString("\n") + "\n")
    val df = CsvRecovery.recover(spark, path).cache()
    assert(df.count() == 10, "zero row loss")
    assert(df.columns.toSeq == Seq("id", "name", "notes", "is_shifted"))
    val carol = df.filter(df("id") === "9").head()
    assert(carol.getAs[String]("notes") == "good, reliable", "quoted comma preserved")
    assert(!carol.getAs[Boolean]("is_shifted"))
    val bob = df.filter(df("id") === "10").head()
    assert(bob.getAs[Boolean]("is_shifted"), "spilled row flagged")
    assert(df.filter(df("is_shifted")).count() == 1)
    df.unpersist()
  }

  test("recovery scoring prefers the config that interprets quotes correctly") {
    val rows = (1 to 8).map(i => s"$i,name$i,note$i") ++
      Seq("9,Carol,\"good, reliable\"", "10,Bob,messy, extra")
    val path = write("bad_quoting.csv", "id,name,notes\n" + rows.mkString("\n") + "\n")
    // under the unquoted config Carol's comma also spills (2 shifted rows);
    // the quoted configs spill only Bob's (1) — recover() keeps exactly one
    val df = CsvRecovery.recover(spark, path)
    assert(df.filter(df("is_shifted")).count() == 1)
  }

  test("clean csv through loadRaw still uses the strict fast path (no is_shifted)") {
    val path = write("clean.csv", "id,name\n1,a\n2,b\n")
    val df = graft.pipeline.FilePipeline.loadRaw(spark, path)
    assert(df.count() == 2)
    assert(!df.columns.contains("is_shifted"))
  }

  test("jsonl with a repairable trailing comma loads every line") {
    val path = write("fixable.jsonl",
      """{"name": "A", "age": 1, "city": "x"}
        |{"name": "B", "age": 2,}
        |{"name": "C", "age": 3, "city": "z"}
        |""".stripMargin)
    val df = JsonRepair.jsonlAtomic(spark, path)
    assert(df.count() == 3)
    assert(df.filter(df("name") === "B").head().getAs[Long]("age") == 2L)
  }

  test("jsonl with an unrecoverable line fails the whole load (atomicity)") {
    // reference fixture bad_jsonl.jsonl: line 2 repairable, line 3 garbage ->
    // the WHOLE load fails, no silent row loss (test_ingestion.py:155-165)
    val path = write("bad_jsonl.jsonl",
      """{"name": "A", "age": 1}
        |{"name": "B", "age": 2,}
        |this is not json at all
        |{"name": "D", "age": 4}
        |""".stripMargin)
    val e = intercept[IllegalStateException](JsonRepair.jsonlAtomic(spark, path))
    assert(e.getMessage.contains("1 of 4"))
  }

  test("spark's permissive reader would have dropped the bad line silently") {
    val path = write("bad_jsonl.jsonl",
      """{"name": "A", "age": 1}
        |this is not json at all
        |{"name": "C", "age": 3}
        |""".stripMargin)
    val permissive = spark.read.json(path)
    assert(permissive.filter(permissive("name").isNotNull).count() == 2,
      "documents why the repair path must exist")
  }

  test("json array with trailing commas and single quotes is repaired") {
    val path = write("bad_json.json",
      """[{"name": "A", "age": 1,}, {'name': 'B', 'age': 2}, {"name": "C", "age": 3},]""")
    val df = JsonRepair.loadAtomic(spark, path)
    assert(df.count() == 3)
    assert(df.filter(df("name") === "B").head().getAs[Long]("age") == 2L)
  }

  test("jsonl rejects bare scalars and top-level arrays (objects only)") {
    // a valid-JSON scalar line would land as a junk all-null row and a
    // top-level array would explode into several rows — both must fail
    val scalars = write("scalars.jsonl",
      "{\"a\": 1}\n\"just a string\"\n{\"a\": 3}\n")
    val e1 = intercept[IllegalStateException](JsonRepair.jsonlAtomic(spark, scalars))
    assert(e1.getMessage.contains("not parseable JSON objects"))
    val arrays = write("arrays.jsonl", "{\"a\": 1}\n[1, 2]\n")
    assertThrows[IllegalStateException](JsonRepair.jsonlAtomic(spark, arrays))
  }

  test("non-workbook bytes fail with a clear message, not a ZipException") {
    // legacy .xls itself is SUPPORTED since r11 (ExcelLegacy); what must
    // still refuse loudly is a file that is neither zip nor OLE2...
    val junk = write("old.xls", "MZjunk that is no workbook at all")
    val e = intercept[IllegalArgumentException](
      graft.sources.Excel.read(spark, junk))
    assert(e.getMessage.contains("neither an XLSX"))
    // ...and an OLE2-magic file whose container is truncated garbage
    val truncated = java.nio.file.Files.createTempFile("graft-recovery", ".xls")
    truncated.toFile.deleteOnExit()
    java.nio.file.Files.write(truncated,
      Array(0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A, 0xE1).map(_.toByte) ++
        Array.fill[Byte](100)(0x42))
    intercept[Exception](graft.sources.Excel.read(spark, truncated.toString))
  }

  test("clean jsonl passes through unchanged") {
    val path = write("sample.jsonl",
      """{"name": "A", "age": 1, "city": "x"}
        |{"name": "B", "age": 2, "city": "y"}
        |{"name": "C", "age": 3, "city": "z"}
        |""".stripMargin)
    val df = JsonRepair.loadAtomic(spark, path)
    assert(df.count() == 3)
    assert(df.columns.sorted.toSeq == Seq("age", "city", "name"))
  }
}
