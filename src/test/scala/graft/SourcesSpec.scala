package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.FilePipeline
import graft.sources.{DelimiterDetector, Encoding, FormatDetector, Formats, Readers, Sinks,
  SourceLines}

class SourcesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmpFile(name: String, content: String): String = {
    val d = Files.createTempDirectory("graft-src")
    val p = d.resolve(name)
    Files.write(p, content.getBytes("UTF-8"))
    p.toString
  }

  test("format detection by extension and magic bytes") {
    assert(FormatDetector.byExtension("x/y/data.csv") == Formats.Csv)
    assert(FormatDetector.byExtension("d.jsonl") == Formats.Jsonl)
    assert(FormatDetector.byExtension("d.parquet") == Formats.Parquet)
    assert(FormatDetector.byMagic("PAR1xxxx".getBytes) == Formats.Parquet)
    assert(FormatDetector.byMagic("  {\"a\":1}".getBytes) == Formats.Json)
  }

  test("delimiter detection: semicolon file beats comma") {
    val lines = Seq("a;b;c", "1;2;3", "4;5,5;6", "7;8;9")
    assert(DelimiterDetector.detect(lines) == ';')
    assert(DelimiterDetector.detect(Seq("a\tb", "1\t2")) == '\t')
  }

  test("csv strict: all-string schema, header, quotes honored") {
    val p = tmpFile("t.csv", "id,name\n1,\"smith, jo\"\n2,plain\n")
    val df = Readers.csvStrict(spark, p)
    assert(df.schema.fields.forall(_.dataType.typeName == "string"))
    val rows = df.collect()
    assert(rows.length == 2)
    assert(rows.map(_.getString(1)).toSet == Set("smith, jo", "plain"))
  }

  test("csv no-header names columns positionally") {
    val p = tmpFile("nh.csv", "1,x\n2,y\n")
    val df = Readers.csvNoHeader(spark, p)
    assert(df.columns.toSeq == Seq("column0", "column1"))
    assert(df.count() == 2)
  }

  test("atomic load passes on clean file") {
    val p = tmpFile("ok.csv", "a,b\n1,2\n3,4\n")
    assert(Readers.atomicCsv(spark, p).count() == 2)
  }

  test("atomic load tolerates blank lines (CSV parser skips them)") {
    val p = tmpFile("blank.csv", "a,b\n1,2\n\n   \n3,4\n")
    assert(Readers.atomicCsv(spark, p).count() == 2)
  }

  test("atomic load fails when multi-line records merge source lines") {
    // a quoted embedded newline: 1 record from 2 physical lines -> the
    // source-line vs loaded-row invariant must trip (reference
    // ingestion.py:537-557 semantics)
    val p = tmpFile("bad.csv", "a,b\n1,\"two\nlines\"\n")
    intercept[IllegalStateException] {
      Readers.atomicCsv(spark, p, multiLine = true)
    }
  }

  test("driver-side lines equal spark.read.textFile: sample, delimiter and line count") {
    def bytes(s: String) = s.getBytes("UTF-8")
    // an invalid UTF-8 byte (0xFF) and a truncated sequence (0xE2 0x82) well
    // past Encoding's 64 KB head, so the file reaches the readers undecoded
    val head64k = bytes((1 to 8000).map(i => f"$i%05d,x,y\n").mkString)
    val invalid = head64k ++ Array(0x31, 0x2C, 0xFF, 0x2C, 0xE2, 0x82, 0x0A).map(_.toByte) ++
      bytes("2,b,c\n")
    // a CRLF straddling byte 65536, where a 64 KB read ends
    val pad = "a,b,c\n" + "p,q,r" + "p" * (65536 - 6 - 5 - 1) + "\r\n1,2,3\n"
    val bom = Array(0xEF, 0xBB, 0xBF).map(_.toByte)
    val cases: Seq[(String, Array[Byte], String)] = Seq(
      ("crlf", bytes("a,b\r\n1,2\r\n3,4\r\n"), ","),
      ("lone_cr", bytes("a;b\r1;2\r\r3;4"), ";"),
      ("blank", bytes("a|b\n\n   \n1|2\n\t\n \r\n3|4\n\n"), "|"),
      ("multibyte", bytes("a,b\nü,€\n\uD83D\uDE00,x\n"), ","),
      ("invalid_after_head", invalid, ","),
      ("crlf_on_chunk_edge", bytes(pad), ","),
      ("bom", bom ++ bytes("a,b\n1,2\n"), ","))
    val dir = Files.createTempDirectory("graft-lines")
    cases.foreach { case (name, content, sep) =>
      val p = dir.resolve(s"$name.csv")
      Files.write(p, content)
      val text = spark.read.textFile(p.toString)
      val sample = text.take(100).toSeq
      assert(SourceLines.head(spark, p.toString, 100) == sample, name)
      assert(SourceLines.head(spark, p.toString, Int.MaxValue) == text.collect().toSeq, name)
      assert(DelimiterDetector.detectFile(spark, p.toString) == DelimiterDetector.detect(sample), name)
      assert(DelimiterDetector.detectFile(spark, p.toString) == sep.head, name)
      val nonBlank = text.filter((l: String) => l.trim.nonEmpty).count()
      assert(SourceLines.countNonBlank(spark, p.toString) == nonBlank, name)
      // atomicCsv's guard holds on each file: its driver-side count agrees
      // with the rows the CSV parser loads
      assert(Readers.atomicCsv(spark, p.toString, sep = sep).count() == nonBlank - 1, name)
    }
    val empty = dir.resolve("empty.csv")
    Files.write(empty, Array.emptyByteArray)
    assert(SourceLines.head(spark, empty.toString, 100).isEmpty)
    assert(SourceLines.countNonBlank(spark, empty.toString) == 0L)
  }

  test("driver-side header names equal csvStrict's inferred schema") {
    val cases: Seq[(String, Array[Byte], String)] = Seq(
      ("quoted", "\"a,b\",\"say \"\"hi\"\"\",c\n1,2,3\n", ","),
      ("case_dups", "Id,id,ID,x,x\n1,2,3,4,5\n", ","),
      ("empty_names", "a,,c,\n1,2,3,4\n", ","),
      ("padded", " a , b ,c \n1,2,3\n", ","),
      ("tab", "a\tb b\t\tc\n1\t2\t3\t4\n", "\t"),
      ("blank_before", "\n   \n\na,b\n1,2\n", ","),
      ("tab_line_before", "\t\na,b\n1,2\n", ","),
      ("header_only", "a,b\n", ",")
    ).map { case (n, c, sep) => (n, c.getBytes("UTF-8"), sep) } :+
      ("bom", Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++ "x,y\n1,2\n".getBytes("UTF-8"), ",")
    val dir = Files.createTempDirectory("graft-header")
    for (caseSensitive <- Seq("false", "true"); (name, content, sep) <- cases) {
      val raw = dir.resolve(s"$name.csv")
      Files.write(raw, content)
      val p = Encoding.ensureUtf8(raw.toString).toString
      spark.conf.set("spark.sql.caseSensitive", caseSensitive)
      try {
        val driver = Readers.strictCsv(spark, p, sep, header = true, multiLine = false)
          .data.columns.toSeq
        assert(driver == Readers.csvStrict(spark, p, sep = sep).schema.fieldNames.toSeq,
          s"$name, caseSensitive=$caseSensitive")
      } finally spark.conf.unset("spark.sql.caseSensitive")
    }
    // a file without a non-blank line still ends in CsvRecovery's error
    val empty = dir.resolve("empty.csv")
    Files.write(empty, "\n  \n".getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException](FilePipeline.loadRaw(spark, empty.toString))
    assert(e.getMessage.contains("no non-blank line"), e.getMessage)
  }

  test("json sniff: array vs jsonl") {
    val pa = tmpFile("arr.json", """[{"a": 1}, {"a": 2}]""")
    assert(Readers.json(spark, pa).count() == 2)
    val pl = tmpFile("l.jsonl", "{\"a\": 1}\n{\"a\": 2}\n{\"a\": 3}\n")
    assert(Readers.json(spark, pl).count() == 3)
  }

  test("sinks round-trip: parquet, csv, jsonl, orc") {
    import spark.implicits._
    val df = Seq((1L, "x"), (2L, "y")).toDF("id", "s")
    val d = Files.createTempDirectory("graft-sink").toString
    Sinks.parquet(df, s"$d/p"); assert(spark.read.parquet(s"$d/p").count() == 2)
    Sinks.csv(df, s"$d/c");     assert(spark.read.option("header", true).csv(s"$d/c").count() == 2)
    Sinks.jsonl(df, s"$d/j");   assert(spark.read.json(s"$d/j").count() == 2)
    Sinks.orc(df, s"$d/o");     assert(spark.read.orc(s"$d/o").count() == 2)
  }
}
