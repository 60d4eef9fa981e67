package perfbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.jdk.CollectionConverters._

/** File helpers for the generators: CSV and minimal `.xlsx` writers, and
  * directory size scans. */
object IO {

  /** Write `rows` as a header CSV; a null cell is an empty field. */
  def writeCsv(p: Path, header: Seq[String], rows: Iterator[Seq[Any]]): Long = {
    Files.createDirectories(p.getParent)
    val sb = new java.lang.StringBuilder
    sb.append(header.mkString(",")).append('\n')
    rows.foreach { r =>
      var first = true
      r.foreach { c =>
        if (!first) sb.append(',')
        if (c != null) sb.append(c.toString)
        first = false
      }
      sb.append('\n')
    }
    Files.write(p, sb.toString.getBytes(UTF_8))
    Files.size(p)
  }

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")

  /** A1-style column letters for a zero-based index. */
  private def colRef(i: Int): String =
    if (i < 26) ('A' + i).toChar.toString else colRef(i / 26 - 1) + ('A' + i % 26).toChar

  /** Write a multi-sheet workbook whose cells are inline strings (a null
    * cell is omitted), the smallest part set an xlsx reader needs:
    * content types, workbook, its relationships, and one part per
    * sheet. */
  def writeXlsx(p: Path, sheets: Seq[(String, Seq[Seq[String]])]): Long = {
    Files.createDirectories(p.getParent)
    val zip = new ZipOutputStream(new BufferedOutputStream(new FileOutputStream(p.toFile)))
    def put(name: String, body: String): Unit = {
      zip.putNextEntry(new ZipEntry(name))
      zip.write(body.getBytes(UTF_8))
      zip.closeEntry()
    }
    try {
      val n = sheets.size
      put("[Content_Types].xml",
        """<?xml version="1.0" encoding="UTF-8"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
          """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
          """<Default Extension="xml" ContentType="application/xml"/>""" +
          """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
          (1 to n).map(i => s"""<Override PartName="/xl/worksheets/sheet$i.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""").mkString +
          "</Types>")
      put("_rels/.rels",
        """<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>""")
      put("xl/workbook.xml",
        """<?xml version="1.0" encoding="UTF-8"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>""" +
          sheets.zipWithIndex.map { case ((name, _), i) =>
            s"""<sheet name="${esc(name)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
          }.mkString + "</sheets></workbook>")
      put("xl/_rels/workbook.xml.rels",
        """<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          (1 to n).map(i => s"""<Relationship Id="rId$i" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet$i.xml"/>""").mkString +
          "</Relationships>")
      sheets.zipWithIndex.foreach { case ((_, rows), i) =>
        val sb = new java.lang.StringBuilder
        sb.append("""<?xml version="1.0" encoding="UTF-8"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
        rows.zipWithIndex.foreach { case (r, ri) =>
          sb.append(s"""<row r="${ri + 1}">""")
          r.zipWithIndex.foreach { case (c, ci) =>
            if (c != null)
              sb.append(s"""<c r="${colRef(ci)}${ri + 1}" t="inlineStr"><is><t>""")
                .append(esc(c)).append("</t></is></c>")
          }
          sb.append("</row>")
        }
        sb.append("</sheetData></worksheet>")
        put(s"xl/worksheets/sheet${i + 1}.xml", sb.toString)
      }
    } finally zip.close()
    Files.size(p)
  }

  /** Regular files under `root`, recursively (empty if absent). */
  def filesUnder(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else scala.util.Using.resource(Files.walk(root)) { s =>
      s.iterator().asScala.filter(Files.isRegularFile(_)).toList
    }

  def bytesUnder(root: Path): Long = filesUnder(root).map(Files.size).sum

  def deleteTree(root: Path): Unit =
    if (Files.exists(root))
      scala.util.Using.resource(Files.walk(root)) { s =>
        s.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists)
      }
}
