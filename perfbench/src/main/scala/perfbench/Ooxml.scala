package perfbench

import java.io.{ByteArrayOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{ZipEntry, ZipFile, ZipOutputStream}

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

/** The benchmark's own minimal xlsx codec. Inputs are written here and
  * not with the engine's writer, so a change to the engine's xlsx code
  * cannot change what the engine is fed. The reader only has to parse the
  * engine's exports (inline strings and plain `<v>` cells).
  *
  * Every zip entry carries a fixed timestamp, so the same cells always
  * give the same bytes.
  */
object Ooxml {
  /** A cell: text is written as an inline string, a number as `<v>`. */
  sealed trait Cell
  final case class Text(s: String) extends Cell
  final case class Num(s: String) extends Cell

  private val FixedTime = 315532800000L // 1980-01-01, the zip epoch

  def bytes(sheets: Seq[(String, Seq[Seq[Cell]])]): Array[Byte] = {
    val buf = new ByteArrayOutputStream()
    val out = new ZipOutputStream(buf)
    def put(name: String, body: String): Unit = {
      val e = new ZipEntry(name)
      e.setTime(FixedTime)
      out.putNextEntry(e)
      out.write(body.getBytes(UTF_8))
      out.closeEntry()
    }
    val n = sheets.size
    val ns = "http://schemas.openxmlformats.org"
    val head = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>"""
    put("[Content_Types].xml", head +
      s"""<Types xmlns="$ns/package/2006/content-types">""" +
      """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
      """<Default Extension="xml" ContentType="application/xml"/>""" +
      """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
      (1 to n).map(i => s"""<Override PartName="/xl/worksheets/sheet$i.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""").mkString +
      "</Types>")
    put("_rels/.rels", head +
      s"""<Relationships xmlns="$ns/package/2006/relationships">""" +
      s"""<Relationship Id="rId1" Type="$ns/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>""" +
      "</Relationships>")
    put("xl/workbook.xml", head +
      s"""<workbook xmlns="$ns/spreadsheetml/2006/main" xmlns:r="$ns/officeDocument/2006/relationships"><sheets>""" +
      sheets.zipWithIndex.map { case ((name, _), i) =>
        s"""<sheet name="${esc(name)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
      }.mkString + "</sheets></workbook>")
    put("xl/_rels/workbook.xml.rels", head +
      s"""<Relationships xmlns="$ns/package/2006/relationships">""" +
      (1 to n).map(i => s"""<Relationship Id="rId$i" Type="$ns/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet$i.xml"/>""").mkString +
      "</Relationships>")
    sheets.zipWithIndex.foreach { case ((_, rows), i) =>
      val sb = new StringBuilder(head)
      sb.append(s"""<worksheet xmlns="$ns/spreadsheetml/2006/main"><sheetData>""")
      rows.zipWithIndex.foreach { case (cells, r) =>
        sb.append(s"""<row r="${r + 1}">""")
        cells.zipWithIndex.foreach { case (c, j) =>
          val ref = s"${colName(j)}${r + 1}"
          c match {
            case Num(v) => sb.append(s"""<c r="$ref"><v>$v</v></c>""")
            case Text(v) => sb.append(
              s"""<c r="$ref" t="inlineStr"><is><t>${esc(v)}</t></is></c>""")
          }
        }
        sb.append("</row>")
      }
      sb.append("</sheetData></worksheet>")
      put(s"xl/worksheets/sheet${i + 1}.xml", sb.toString)
    }
    out.close()
    buf.toByteArray
  }

  def write(path: java.nio.file.Path,
            sheets: Seq[(String, Seq[Seq[Cell]])]): Array[Byte] = {
    val b = bytes(sheets)
    val out = new FileOutputStream(path.toFile)
    try out.write(b) finally out.close()
    b
  }

  /** Sheet name → rows of raw cell strings (null for a missing cell), for
    * the `wanted` sheets (all when empty).
    */
  def read(path: String, wanted: Set[String] = Set.empty): Map[String, Vector[Vector[String]]] = {
    val zip = new ZipFile(path)
    try {
      def entry(name: String): Array[Byte] = {
        val e = zip.getEntry(name)
        require(e != null, s"$path has no $name")
        val in = zip.getInputStream(e)
        try in.readAllBytes() finally in.close()
      }
      val rels = elements(entry("xl/_rels/workbook.xml.rels"), "Relationship")
        .map(a => a("Id") -> a("Target")).toMap
      elements(entry("xl/workbook.xml"), "sheet")
        .filter(a => wanted.isEmpty || wanted(a("name"))).map { a =>
        val target = rels(a("id"))
        val part = if (target.startsWith("/")) target.drop(1) else s"xl/$target"
        a("name") -> cells(entry(part))
      }.toMap
    } finally zip.close()
  }

  private def reader(b: Array[Byte]) = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.createXMLStreamReader(new java.io.ByteArrayInputStream(b))
  }

  /** Attributes (by local name) of every element named `tag`. */
  private def elements(b: Array[Byte], tag: String): Vector[Map[String, String]] = {
    val r = reader(b)
    val out = Vector.newBuilder[Map[String, String]]
    while (r.hasNext)
      if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == tag)
        out += (0 until r.getAttributeCount)
          .map(i => r.getAttributeLocalName(i) -> r.getAttributeValue(i)).toMap
    r.close()
    out.result()
  }

  private def cells(b: Array[Byte]): Vector[Vector[String]] = {
    val r = reader(b)
    val rows = Vector.newBuilder[Vector[String]]
    var row = Map.empty[Int, String]
    var col = 0
    var text: StringBuilder = null
    while (r.hasNext) r.next() match {
      case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
        case "row" => row = Map.empty
        case "c" => col = colIndex(r.getAttributeValue(null, "r"))
        case "v" | "t" => text = new StringBuilder
        case _ => ()
      }
      case XMLStreamConstants.CHARACTERS if text != null => text.append(r.getText)
      case XMLStreamConstants.END_ELEMENT => r.getLocalName match {
        case "v" | "t" => row += col -> text.toString; text = null
        case "row" =>
          val w = if (row.isEmpty) 0 else row.keys.max + 1
          rows += Vector.tabulate(w)(j => row.getOrElse(j, null))
        case _ => ()
      }
      case _ => ()
    }
    r.close()
    rows.result()
  }

  private def colIndex(ref: String): Int =
    ref.takeWhile(_.isLetter).foldLeft(0)((acc, c) => acc * 26 + (c - 'A' + 1)) - 1

  private def colName(idx: Int): String =
    if (idx < 26) ('A' + idx).toChar.toString
    else colName(idx / 26 - 1) + ('A' + idx % 26).toChar

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")
}
