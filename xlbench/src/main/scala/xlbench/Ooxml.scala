package xlbench

import java.io.{BufferedOutputStream, ByteArrayOutputStream, File}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.zip.{ZipEntry, ZipFile, ZipOutputStream}
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}
import scala.collection.mutable

/** The benchmark's own OOXML (xlsx) writer and reader, independent of the
  * program's `graft.xlsx` code so that inputs and output checks do not
  * move when the program does. The writer is byte-deterministic: fixed
  * entry order and timestamps, so one seed always gives one digest. */
object Ooxml {

  sealed trait Cell
  final case class Num(v: Double) extends Cell
  final case class Str(v: String) extends Cell
  /** A date as an Excel 1900-system serial, styled with built-in format 14. */
  final case class Date(serial: Double) extends Cell
  final case class Bool(v: Boolean) extends Cell
  case object Blank extends Cell

  final case class Sheet(name: String, header: Seq[String], rows: IndexedSeq[Array[Cell]])

  def colRef(c: Int): String = {
    var n = c + 1; val sb = new StringBuilder
    while (n > 0) { sb.insert(0, ('A' + (n - 1) % 26).toChar); n = (n - 1) / 26 }
    sb.toString
  }

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace("\"", "&quot;")

  private def numText(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString

  /** Serialise a workbook; returns its bytes (also written to `path`). */
  def write(path: Path, sheets: Seq[Sheet], sharedStrings: Boolean): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val z = new ZipOutputStream(new BufferedOutputStream(bytes))
    def entry(name: String, body: String): Unit = {
      val e = new ZipEntry(name)
      e.setTime(315532800000L) // 1980-01-01: fixed so the bytes are reproducible
      z.putNextEntry(e); z.write(body.getBytes(UTF_8)); z.closeEntry()
    }
    val pool = mutable.LinkedHashMap.empty[String, Int]
    val sheetXml = sheets.map { s =>
      val sb = new StringBuilder(
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
      def str(ref: String, v: String): Unit =
        if (sharedStrings) sb.append(s"""<c r="$ref" t="s"><v>${pool.getOrElseUpdate(v, pool.size)}</v></c>""")
        else sb.append(s"""<c r="$ref" t="inlineStr"><is><t>${esc(v)}</t></is></c>""")
      sb.append("""<row r="1">""")
      s.header.zipWithIndex.foreach { case (h, c) => str(colRef(c) + "1", h) }
      sb.append("</row>")
      s.rows.zipWithIndex.foreach { case (row, i) =>
        val r = i + 2
        sb.append(s"""<row r="$r">""")
        row.zipWithIndex.foreach { case (cell, c) =>
          val ref = colRef(c) + r
          cell match {
            case Num(v) => sb.append(s"""<c r="$ref"><v>${numText(v)}</v></c>""")
            case Str(v) => str(ref, v)
            case Date(v) => sb.append(s"""<c r="$ref" s="1"><v>${numText(v)}</v></c>""")
            case Bool(v) => sb.append(s"""<c r="$ref" t="b"><v>${if (v) 1 else 0}</v></c>""")
            case Blank =>
          }
        }
        sb.append("</row>")
      }
      sb.append("</sheetData></worksheet>").toString
    }
    val ct = "application/vnd.openxmlformats-officedocument.spreadsheetml"
    entry("[Content_Types].xml",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
        """<Default Extension="xml" ContentType="application/xml"/>""" +
        s"""<Override PartName="/xl/workbook.xml" ContentType="$ct.sheet.main+xml"/>""" +
        sheets.indices.map(i =>
          s"""<Override PartName="/xl/worksheets/sheet${i + 1}.xml" ContentType="$ct.worksheet+xml"/>""").mkString +
        s"""<Override PartName="/xl/styles.xml" ContentType="$ct.styles+xml"/>""" +
        (if (sharedStrings) s"""<Override PartName="/xl/sharedStrings.xml" ContentType="$ct.sharedStrings+xml"/>""" else "") +
        "</Types>")
    val rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    entry("_rels/.rels",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        s"""<Relationship Id="rId1" Type="$rel/officeDocument" Target="xl/workbook.xml"/></Relationships>""")
    entry("xl/workbook.xml",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        s"""<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="$rel"><sheets>""" +
        sheets.zipWithIndex.map { case (s, i) =>
          s"""<sheet name="${esc(s.name)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
        }.mkString + "</sheets></workbook>")
    entry("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        sheets.indices.map(i =>
          s"""<Relationship Id="rId${i + 1}" Type="$rel/worksheet" Target="worksheets/sheet${i + 1}.xml"/>""").mkString +
        s"""<Relationship Id="rIdSt" Type="$rel/styles" Target="styles.xml"/>""" +
        (if (sharedStrings) s"""<Relationship Id="rIdSS" Type="$rel/sharedStrings" Target="sharedStrings.xml"/>""" else "") +
        "</Relationships>")
    entry("xl/styles.xml",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
        """<fonts count="1"><font/></fonts><fills count="1"><fill/></fills><borders count="1"><border/></borders>""" +
        """<cellStyleXfs count="1"><xf/></cellStyleXfs>""" +
        """<cellXfs count="2"><xf numFmtId="0"/><xf numFmtId="14" applyNumberFormat="1"/></cellXfs></styleSheet>""")
    sheetXml.zipWithIndex.foreach { case (x, i) => entry(s"xl/worksheets/sheet${i + 1}.xml", x) }
    if (sharedStrings)
      entry("xl/sharedStrings.xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          s"""<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="${pool.size}" uniqueCount="${pool.size}">""" +
          pool.keys.map(s => s"<si><t>${esc(s)}</t></si>").mkString + "</sst>")
    z.close()
    val out = bytes.toByteArray
    Files.write(path, out)
    out
  }

  /** What the export check needs from one sheet: data-row count, and per
    * column (by header name) the non-blank cell count, the sum of numeric
    * cells and the total length of text cells. */
  final case class SheetSummary(rows: Long, header: Seq[String],
      nonBlank: Map[String, Long], numSum: Map[String, Double], textLen: Map[String, Long])

  private val xml: ThreadLocal[XMLInputFactory] = ThreadLocal.withInitial { () =>
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.IS_COALESCING, java.lang.Boolean.TRUE)
    f.setProperty(XMLInputFactory.SUPPORT_DTD, java.lang.Boolean.FALSE)
    f
  }

  private def colOf(ref: String): Int = {
    var c = 0; var i = 0
    while (i < ref.length && ref.charAt(i).isLetter) { c = c * 26 + (ref.charAt(i).toUpper - 'A' + 1); i += 1 }
    c - 1
  }

  /** Summarise the first sheet of one workbook (row 1 is the header). */
  def summarize(file: File): SheetSummary = {
    val zip = new ZipFile(file)
    try {
      val shared = mutable.ArrayBuffer.empty[String]
      Option(zip.getEntry("xl/sharedStrings.xml")).foreach { e =>
        val r = xml.get.createXMLStreamReader(zip.getInputStream(e))
        var sb: StringBuilder = null
        while (r.hasNext) r.next() match {
          case XMLStreamConstants.START_ELEMENT if r.getLocalName == "si" => sb = new StringBuilder
          case XMLStreamConstants.START_ELEMENT if r.getLocalName == "t" => sb.append(r.getElementText)
          case XMLStreamConstants.END_ELEMENT if r.getLocalName == "si" => shared += sb.toString
          case _ =>
        }
        r.close()
      }
      val cells = mutable.ArrayBuffer.empty[(Int, Int, Any)] // (row, col, value)
      val r = xml.get.createXMLStreamReader(zip.getInputStream(zip.getEntry("xl/worksheets/sheet1.xml")))
      var row = 0; var col = 0; var tpe: String = null; var text: String = null
      while (r.hasNext) r.next() match {
        case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
          case "row" => row += 1; col = 0
          case "c" =>
            Option(r.getAttributeValue(null, "r")).foreach(ref => col = colOf(ref))
            tpe = r.getAttributeValue(null, "t"); text = null
          case "v" | "t" => text = r.getElementText
          case _ =>
        }
        case XMLStreamConstants.END_ELEMENT if r.getLocalName == "c" =>
          if (text != null) {
            val v: Any = tpe match {
              case "s" => shared(text.trim.toInt)
              case "inlineStr" | "str" => text
              case "b" => text.trim == "1"
              case _ => text.trim.toDouble
            }
            cells += ((row, col, v))
          }
          col += 1
        case _ =>
      }
      r.close()
      val header = cells.filter(_._1 == 1).sortBy(_._2).map(_._3.toString).toSeq
      val body = cells.filter(_._1 > 1)
      val byName = body.groupBy(c => header(c._2))
      SheetSummary(
        rows = body.map(_._1).distinct.size.toLong max (row - 1).toLong,
        header = header,
        nonBlank = byName.map { case (k, v) => k -> v.size.toLong },
        numSum = byName.map { case (k, v) => k -> v.collect { case (_, _, d: Double) => d }.sum },
        textLen = byName.map { case (k, v) => k -> v.collect { case (_, _, s: String) => s.length.toLong }.sum })
    } finally zip.close()
  }
}
