package perfbench

import java.io.{ByteArrayOutputStream, File}
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.Files
import java.util.zip.Deflater

import scala.util.Random

/** Seeded text source. Words are drawn from a syllable alphabet large
  * enough that two random sentences never collide, so every planted
  * duplicate or repeat in a workload is one the generator put there.
  */
final class Words(seed: Long) {
  val rnd = new Random(seed)
  private val syl = Array("ka", "lo", "mi", "ter", "van", "sul", "dor", "pe", "ri", "nas",
    "tu", "bel", "gor", "fi", "zan", "qua", "mer", "sto", "vi", "lan", "cor", "pi", "den", "ros")
  private val stop = Array("the", "and", "of", "to", "is", "in")

  def word(): String = {
    val n = 2 + rnd.nextInt(2)
    (0 until n).map(_ => syl(rnd.nextInt(syl.length))).mkString
  }

  /** `n` words, every third one an English stopword, ending in a period. */
  def sentence(n: Int): String =
    (0 until n).map(i => if (i % 3 == 1) stop(rnd.nextInt(stop.length)) else word())
      .mkString(" ") + "."

  def sentences(k: Int, n: Int): Seq[String] = (0 until k).map(_ => sentence(n))
}

/** JDK-only PDF writer with the layout of the library's nation-table
  * PDF fixture: a catalog, one page tree, and per page one content
  * stream that draws each paragraph as one `Tj` line, separated by two
  * `Td` moves (the blank line the extractor splits paragraphs on).
  * Pages are written raw, FlateDecode-compressed, or as 2-byte
  * Identity-H codes through a Type0 font with a ToUnicode bfrange CMap.
  */
object PdfWriter {
  sealed trait Enc
  case object Raw extends Enc
  case object Flate extends Enc
  case object Cid extends Enc

  private def escape(p: String) = p.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
  private def cidHex(p: String) = p.map(c => f"${c.toInt}%04X").mkString

  private val cmap =
    "/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n" +
      "1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n" +
      "1 beginbfrange\n<0020> <007E> <0020>\nendbfrange\nendcmap\n"

  private def deflate(b: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    d.setInput(b)
    d.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** One document: each page is (encoding, paragraphs). */
  def document(pages: Seq[(Enc, Seq[String])]): Array[Byte] = {
    val sb = new StringBuilder("%PDF-1.4\n")
    // objects: 1 catalog, 2 page tree, 3 CID font, 4 CMap, then per page (page, content)
    val pageObj = pages.indices.map(i => 5 + 2 * i)
    sb ++= "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
    sb ++= s"2 0 obj << /Type /Pages /Kids [${pageObj.map(n => s"$n 0 R").mkString(" ")}] /Count ${pages.size} >> endobj\n"
    sb ++= "3 0 obj << /Type /Font /Subtype /Type0 /BaseFont /GraftCID " +
      "/Encoding /Identity-H /ToUnicode 4 0 R >> endobj\n"
    sb ++= s"4 0 obj << /Length ${cmap.length} >> stream\n$cmap\nendstream endobj\n"
    pages.zip(pageObj).foreach { case ((enc, paras), n) =>
      val content = enc match {
        case Cid => "BT /F9 12 Tf 72 720 Td " + paras.map(p => s"<${cidHex(p)}> Tj").mkString(" 0 -14 Td 0 -14 Td ") + " ET"
        case _   => "BT /F1 12 Tf 72 720 Td " + paras.map(p => s"(${escape(p)}) Tj").mkString(" 0 -14 Td 0 -14 Td ") + " ET"
      }
      val res = if (enc == Cid) "/Resources << /Font << /F9 3 0 R >> >> " else ""
      sb ++= s"$n 0 obj << /Type /Page /Parent 2 0 R $res/Contents ${n + 1} 0 R >> endobj\n"
      enc match {
        case Flate =>
          val z = new String(deflate(content.getBytes(ISO_8859_1)), ISO_8859_1)
          sb ++= s"${n + 1} 0 obj << /Length ${z.length} /Filter /FlateDecode >> stream\n$z\nendstream endobj\n"
        case _ =>
          sb ++= s"${n + 1} 0 obj << /Length ${content.length} >> stream\n$content\nendstream endobj\n"
      }
    }
    sb ++= "trailer << /Root 1 0 R >>\n%%EOF\n"
    sb.toString.getBytes(ISO_8859_1)
  }
}

object Files2 {
  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
    f.delete(): Unit
  }
  def fresh(f: File): File = { rm(f); f.mkdirs(); f }
  def write(f: File, b: Array[Byte]): Unit = { f.getParentFile.mkdirs(); Files.write(f.toPath, b): Unit }
  /** Bytes and data-file count under `f` (hidden and `_` files skipped). */
  def du(f: File): (Long, Int) =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty)
      .filterNot(c => c.getName.startsWith(".") || c.getName.startsWith("_"))
      .map(du).foldLeft((0L, 0)) { case ((a, b), (c, d)) => (a + c, b + d) }
    else (f.length(), 1)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s   = xs.sorted
      val pos = q * (s.size - 1)
      val lo  = pos.toInt
      val hi  = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest percentile with at least ten samples beyond it: the
    * value with exactly ten larger samples. Below 40 samples that
    * percentile would fall under p75, so the maximum is reported
    * instead. Returns (value, percentile).
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.size < 40) (s.last, 100.0)
    else (s(s.size - 11), 100.0 * (s.size - 10) / s.size)
  }
}
