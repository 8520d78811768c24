package graft

import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Excel

/** From-scratch xlsx IO (reference load_excel.sql / to_excel.sql surface):
  * round-trip through our own writer, plus a hand-built workbook exercising
  * the shared-strings table, sparse cells, booleans, and numbers. */
class ExcelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmp(name: String) =
    Files.createTempDirectory("graft_excel").resolve(name).toString

  test("write/read round-trip preserves header, values, and nulls") {
    import spark.implicits._
    val df = Seq(
      ("1", "alice", "34.5", null.asInstanceOf[String]),
      ("2", "bob <&> \"q\"", null.asInstanceOf[String], "note"),
      ("3", "carol", "0", "x")).toDF("id", "name", "score", "note")
    val path = tmp("round.xlsx")
    Excel.write(df, path)
    val back = Excel.read(spark, path)
    assert(back.columns.toSeq == Seq("id", "name", "score", "note"))
    val rows = back.orderBy("id").collect()
    assert(rows.length == 3)
    assert(rows(1).getString(1) == "bob <&> \"q\"", "xml escaping round-trips")
    assert(rows(0).isNullAt(3) && rows(1).isNullAt(2), "nulls survive")
    assert(rows(0).getString(2) == "34.5")
  }

  test("numeric columns export as strings (all-varchar interchange)") {
    import spark.implicits._
    val df = Seq((1L, 2.5), (2L, 3.0)).toDF("k", "v")
    val path = tmp("nums.xlsx")
    Excel.write(df, path)
    val back = Excel.read(spark, path)
    assert(back.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.StringType))
    assert(back.orderBy("k").collect().map(_.getString(0)).toSeq == Seq("1", "2"))
  }

  test("reads third-party workbook: shared strings, sparse cells, bools, numbers") {
    // hand-built file in the layout Excel itself produces (sharedStrings +
    // t="s" indices + a skipped cell in row 3 + boolean and plain number)
    val path = tmp("foreign.xlsx")
    val zos = new ZipOutputStream(new java.io.FileOutputStream(path))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name)); zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    put("[Content_Types].xml",
      """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
        """<Default Extension="xml" ContentType="application/xml"/>""" +
        """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
        """<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""" +
        """<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>""" +
        """</Types>""")
    put("_rels/.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>""")
    put("xl/workbook.xml",
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
        """<sheets><sheet name="S" sheetId="1"/></sheets></workbook>""")
    put("xl/sharedStrings.xml",
      """<?xml version="1.0"?><sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="3" uniqueCount="3">""" +
        """<si><t>city</t></si><si><t>name</t></si><si><r><t>rich </t></r><r><t>text</t></r></si></sst>""")
    put("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
        """<row r="1"><c r="A1" t="s"><v>1</v></c><c r="B1" t="s"><v>0</v></c><c r="C1" t="inlineStr"><is><t>flag</t></is></c></row>""" +
        """<row r="2"><c r="A2" t="s"><v>2</v></c><c r="B2"><v>42.5</v></c><c r="C2" t="b"><v>1</v></c></row>""" +
        """<row r="3"><c r="C3" t="b"><v>0</v></c></row>""" +
        """</sheetData></worksheet>""")
    zos.close()

    val df = Excel.read(spark, path)
    assert(df.columns.toSeq == Seq("name", "city", "flag"))
    val rows = df.collect()
    assert(rows.length == 2)
    assert(rows(0).getString(0) == "rich text", "rich-text runs concatenate")
    assert(rows(0).getString(1) == "42.5")
    assert(rows(0).getString(2) == "true")
    assert(rows(1).isNullAt(0) && rows(1).isNullAt(1), "sparse cells null-pad")
    assert(rows(1).getString(2) == "false")
  }

  test("loadRaw routes .xlsx through the Excel reader") {
    import spark.implicits._
    val path = tmp("routed.xlsx")
    Excel.write(Seq(("1", "a"), ("2", "b")).toDF("id", "v"), path)
    val df = graft.pipeline.FilePipeline.loadRaw(spark, path)
    assert(df.count() == 2)
    assert(df.columns.toSeq == Seq("id", "v"))
  }

  test("loadRaw routes legacy .xls — by extension AND by OLE2 magic") {
    import spark.implicits._
    val byExt = tmp("routed.xls")
    graft.sources.ExcelLegacy.write(Seq(("9", "z")).toDF("id", "v"), byExt)
    val df = graft.pipeline.FilePipeline.loadRaw(spark, byExt)
    assert(df.collect().map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("9", "z")))
    // extension-less: format detection must fall through to the OLE2 magic
    val noExt = tmp("routed_xls_blob")
    graft.sources.ExcelLegacy.write(Seq(("3", "m")).toDF("id", "v"), noExt)
    assert(graft.sources.FormatDetector.detect(noExt) == graft.sources.Formats.Excel)
  }

  test("writer refuses data-sized exports") {
    import spark.implicits._
    val big = spark.range(0, 50).toDF("id")
    assertThrows[IllegalArgumentException](
      Excel.write(big, tmp("big.xlsx"), maxRows = 10))
  }
}
