package graft

import graft.sources.Xlsx
import org.apache.spark.sql.functions._

/** XLSX sink/reader: OPC structure, escaping, determinism, shard roundtrip. */
class XlsxSpec extends SparkSpec {
  import spark.implicits._

  test("colLetters covers the A..Z, AA.. rollover") {
    assert(Xlsx.colLetters(0) == "A" && Xlsx.colLetters(25) == "Z")
    assert(Xlsx.colLetters(26) == "AA" && Xlsx.colLetters(27) == "AB")
    assert(Xlsx.colLetters(26 * 27 - 1) == "ZZ" && Xlsx.colLetters(26 * 27) == "AAA")
  }

  test("workbook bytes are deterministic and carry the 5 OPC parts") {
    val rows = Seq(Seq[Any](1L, "x"), Seq[Any](2L, "y"))
    val a = Xlsx.xlsxBytes(Seq("id", "s"), rows)
    val b = Xlsx.xlsxBytes(Seq("id", "s"), rows)
    assert(java.util.Arrays.equals(a, b))
    val zin = new java.util.zip.ZipInputStream(new java.io.ByteArrayInputStream(a))
    val names = Iterator.continually(zin.getNextEntry).takeWhile(_ != null)
      .map(_.getName).toSeq
    assert(names == Seq("[Content_Types].xml", "_rels/.rels", "xl/workbook.xml",
      "xl/_rels/workbook.xml.rels", "xl/worksheets/sheet1.xml"))
  }

  test("cell values survive XML escaping, unicode, and null/boolean round trips") {
    val nasty = "a<b>&\"c\"\nd\té 漢字"
    val bytes = Xlsx.xlsxBytes(Seq("k", "v", "b"),
      Seq(Seq[Any](1L, nasty, true), Seq[Any](2L, null, false),
        Seq[Any](3L, "  leading trailing  ", null)))
    val arr = Xlsx.rowsOfXlsx(bytes)
    def cell(r: Int, c: Int): String = {
      val row = arr.getArray(r)
      if (row.isNullAt(c)) null else row.getUTF8String(c).toString
    }
    assert(cell(0, 0) == "k" && cell(0, 1) == "v")
    assert(cell(1, 0) == "1" && cell(1, 1) == nasty && cell(1, 2) == "1")
    assert(cell(2, 1) == null && cell(2, 2) == "0")
    assert(cell(3, 1) == "  leading trailing  ") // xml:space=preserve holds
  }

  test("reader resolves shared-strings workbooks (t=\"s\", rich-text runs, non-sheet1 name)") {
    // hand-built workbook in the form Excel/writer libraries emit: cell
    // strings as indices into xl/sharedStrings.xml (entry 1 is a
    // rich-text <si> with two runs), worksheet named data.xml
    def part(name: String, content: String): (String, Array[Byte]) =
      name -> content.getBytes("UTF-8")
    val parts = Seq(
      part("[Content_Types].xml",
        """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"/>"""),
      part("xl/sharedStrings.xml",
        """<?xml version="1.0"?>""" +
          """<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="3" uniqueCount="3">""" +
          """<si><t>hello</t></si>""" +
          """<si><r><rPr/><t>rich </t></r><r><t xml:space="preserve">text</t></r></si>""" +
          """<si><t>wörld 漢字</t></si></sst>"""),
      part("xl/worksheets/data.xml",
        """<?xml version="1.0"?>""" +
          """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
          """<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1"><v>42</v></c></row>""" +
          """<row r="2"><c r="A2" t="s"><v>1</v></c><c r="B2" t="s"><v>2</v></c></row>""" +
          """</sheetData></worksheet>"""))
    val bos = new java.io.ByteArrayOutputStream()
    val zip = new java.util.zip.ZipOutputStream(bos)
    parts.foreach { case (n, b) =>
      zip.putNextEntry(new java.util.zip.ZipEntry(n))
      zip.write(b); zip.closeEntry()
    }
    zip.close()
    val arr = Xlsx.rowsOfXlsx(bos.toByteArray)
    def cell(r: Int, c: Int): String = {
      val row = arr.getArray(r)
      if (row.isNullAt(c)) null else row.getUTF8String(c).toString
    }
    assert(arr.numElements() == 2)
    assert(cell(0, 0) == "hello" && cell(0, 1) == "42")
    assert(cell(1, 0) == "rich text" && cell(1, 1) == "wörld 漢字")
  }

  test("sharded write + read reassembles the table exactly") {
    val df = (1L to 57L).map(i => (i % 3, i, s"name_$i", i * 10))
      .toDF("shard", "id", "name", "v")
    val dir = tempDir("xlsx_spec").toString
    Xlsx.write(df, "shard", Seq("id"), dir)
    assert(new java.io.File(dir).list().count(_.endsWith(".xlsx")) == 3)
    val back = Xlsx.read(spark, dir)
      .filter(col("rn") >= 2)
      .select(element_at(col("cells"), 1).cast("long").as("id"),
        element_at(col("cells"), 2).as("name"),
        element_at(col("cells"), 3).cast("long").as("v"))
      .as[(Long, String, Long)].collect().toSet
    val want = (1L to 57L).map(i => (i, s"name_$i", i * 10)).toSet
    assert(back == want)
    // header row present once per shard
    assert(Xlsx.read(spark, dir).filter(col("rn") === 1).count() == 3)
  }
}
