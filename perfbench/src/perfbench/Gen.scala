package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.{Files, Path}
import java.util.zip.{Deflater, ZipEntry, ZipOutputStream}

/** Deterministic input generator. Everything the program sees is built
  * here from the run's seed; the ground truth the checks compare
  * against is built here too, never read back from the program. */
final class Rng(seed: Long) extends Serializable {
  private var s = seed * 0x9e3779b97f4a7c15L + 0x632be59bd9b4e019L
  def nextLong(): Long = {
    s += 0x9e3779b97f4a7c15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def nextInt(n: Int): Int = java.lang.Long.remainderUnsigned(nextLong(), n.toLong).toInt
  def nextDouble(): Double = (nextLong() >>> 11).toDouble / (1L << 53).toDouble
  def shuffle[T](xs: IndexedSeq[T]): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) { val j = nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }
}

/** Zipf-skewed lowercase vocabulary: rank r is drawn with weight 1/(r+1).
  * The seven quality-score stopwords sit at the head, so generated prose
  * reads as "good" text to `TextAnalysis.qualityScore`. */
final class Vocab(rng: Rng, size: Int = 4000) extends Serializable {
  private val syll = Array("ka", "lo", "mi", "ne", "ru", "ta", "vo", "si", "pe", "da",
    "gri", "sto", "ben", "mar", "tel", "qua", "fen", "dor", "lin", "zu")
  val words: IndexedSeq[String] = {
    val stop = IndexedSeq("the", "a", "of", "and", "to", "in", "is")
    val seen = scala.collection.mutable.LinkedHashSet[String](stop: _*)
    while (seen.size < size) {
      val n = 2 + rng.nextInt(3)
      seen += (0 until n).map(_ => syll(rng.nextInt(syll.length))).mkString
    }
    seen.toIndexedSeq
  }
  private val cdf: Array[Double] = {
    val w = words.indices.map(r => 1.0 / (r + 1))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  def draw(r: Rng): String = {
    val u = r.nextDouble()
    var i = java.util.Arrays.binarySearch(cdf, u)
    if (i < 0) i = -i - 1
    words(math.min(i, words.length - 1))
  }
  /** Uniform draw from the rare half of the vocabulary. */
  def rare(r: Rng): String = words(words.length / 2 + r.nextInt(words.length / 2))
}

object Gen {

  /** One generated input file: its bytes and the text the reference's
    * extractor is documented to return for it. */
  final case class File(name: String, bytes: Array[Byte], expectedText: String)

  val Formats: IndexedSeq[String] = IndexedSeq(".txt", ".md", ".html", ".pdf", ".docx")

  /** A line of prose: words joined by single spaces, ending in a period. */
  def line(v: Vocab, r: Rng, words: Int): String =
    (0 until words).map(_ => v.draw(r)).mkString(" ") + "."

  /** Lines totalling about `chars` characters. */
  def lines(v: Vocab, r: Rng, chars: Int): IndexedSeq[String] = {
    val out = IndexedSeq.newBuilder[String]
    var n = 0
    while (n < math.max(chars, 1)) {
      val l = line(v, r, 6 + r.nextInt(12))
      out += l; n += l.length + 1
    }
    out.result()
  }

  /** A file of format `ext` whose raw size is about `bytes`. */
  def file(name: String, ext: String, v: Vocab, r: Rng, bytes: Int): File = {
    val ls = lines(v, r, bytes)
    ext match {
      case ".txt" =>
        val t = ls.mkString("\n") + "\n"
        File(name + ext, t.getBytes(UTF_8), t)
      case ".md" =>
        val t = ls.grouped(8).zipWithIndex.map { case (g, i) =>
          s"## Section ${i + 1}\n\n" + g.mkString("\n") }.mkString("", "\n\n", "\n")
        File(name + ext, t.getBytes(UTF_8), t)
      case ".html" =>
        val t = ls.map(l => s"<p>$l</p>").mkString(
          "<!DOCTYPE html>\n<html><head><title>doc</title></head>\n<body>\n", "\n", "\n</body></html>\n")
        File(name + ext, t.getBytes(UTF_8), Expect.pythonRepr(t))
      case ".pdf" =>
        val pages = ls.grouped(40).toIndexedSeq
        File(name + ext, pdf(pages), pages.map(_.mkString("", "\n", "\n")).mkString)
      case ".docx" =>
        File(name + ext, docx(ls), ls.mkString("\n"))
    }
  }

  /** Minimal PDF 1.4: a page tree, one Helvetica font, one Flate content
    * stream per page showing each line with `Tj` and moving down with
    * `Td`. Lines are printable ASCII, so WinAnsi decoding is identity. */
  def pdf(pages: IndexedSeq[IndexedSeq[String]]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val offsets = scala.collection.mutable.ArrayBuffer[Int]()
    def ascii(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    def obj(id: Int)(body: => Unit): Unit = {
      offsets += out.size(); ascii(s"$id 0 obj\n"); body; ascii("\nendobj\n")
    }
    val np = pages.length
    val pageIds = (0 until np).map(i => 4 + 2 * i)
    ascii("%PDF-1.4\n")
    obj(1)(ascii("<< /Type /Catalog /Pages 2 0 R >>"))
    obj(2)(ascii(pageIds.map(id => s"$id 0 R").mkString("<< /Type /Pages /Kids [", " ", s"] /Count $np >>")))
    obj(3)(ascii("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /Encoding /WinAnsiEncoding >>"))
    pages.zipWithIndex.foreach { case (ls, i) =>
      val pid = pageIds(i)
      obj(pid)(ascii(s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Resources << /Font << /F1 3 0 R >> >> /Contents ${pid + 1} 0 R >>"))
      val cs = new StringBuilder("BT /F1 10 Tf 72 760 Td\n")
      ls.zipWithIndex.foreach { case (l, j) =>
        if (j > 0) cs.append("0 -12 Td\n")
        cs.append('(').append(l.flatMap {
          case c @ ('(' | ')' | '\\') => s"\\$c"
          case c => c.toString
        }).append(") Tj\n")
      }
      cs.append("ET\n")
      val z = deflate(cs.toString.getBytes(ISO_8859_1))
      obj(pid + 1) {
        ascii(s"<< /Length ${z.length} /Filter /FlateDecode >>\nstream\n")
        out.write(z); ascii("\nendstream")
      }
    }
    val xref = out.size()
    ascii(s"xref\n0 ${offsets.length + 1}\n0000000000 65535 f \n")
    offsets.foreach(o => ascii(f"$o%010d 00000 n \n"))
    ascii(s"trailer\n<< /Size ${offsets.length + 1} /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n")
    out.toByteArray
  }

  private def deflate(b: Array[Byte]): Array[Byte] = {
    val d = new Deflater(6)
    d.setInput(b); d.finish()
    val out = new ByteArrayOutputStream(b.length / 2 + 64)
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** Minimal WordprocessingML package: one paragraph per line. */
  def docx(paras: IndexedSeq[String]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val zip = new ZipOutputStream(out)
    def entry(name: String, body: String): Unit = {
      zip.putNextEntry(new ZipEntry(name)); zip.write(body.getBytes(UTF_8)); zip.closeEntry()
    }
    val w = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
    entry("[Content_Types].xml",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
        """<Default Extension="xml" ContentType="application/xml"/>""" +
        """<Override PartName="/word/document.xml" ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/>""" +
        "</Types>")
    entry("_rels/.rels",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="word/document.xml"/>""" +
        "</Relationships>")
    def esc(s: String) = s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    entry("word/document.xml",
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><w:document xmlns:w="$w"><w:body>""" +
        paras.map(p => s"""<w:p><w:r><w:t xml:space="preserve">${esc(p)}</w:t></w:r></w:p>""").mkString +
        "</w:body></w:document>")
    zip.close()
    out.toByteArray
  }

  /** Sizes of the reference's test fixtures that its tests read
    * (FIXTURES.md, section 1), smallest first: test_short_text.txt 151 B,
    * test_file 4 KB, test_medium_text.txt 10.5 KB, test_html.html 49 KB,
    * test_text.txt 85 KB, test_pdf.pdf 131 KB, test_long_text.txt 900 KB. */
  val FixtureBytes: IndexedSeq[Double] = IndexedSeq(151.0, 4096, 10752, 50176, 87040, 134144, 921600)

  /** `n` file sizes following the fixtures' spread: the sorted fixtures are
    * the quantiles 0, 1/6, ..., 1 of the size distribution, file `i` gets
    * its log-linear interpolation at quantile i/(n-1). So the smallest file
    * is 151 B, the largest 900 KB and the median 49 KB, as in the fixtures.
    * A fixed multiset: every seed gives the same sizes. */
  def sizeTable(n: Int): IndexedSeq[Int] =
    (0 until n).map { i =>
      val pos = i.toDouble / (n - 1) * (FixtureBytes.length - 1)
      val lo = math.min(pos.toInt, FixtureBytes.length - 2)
      val f = pos - lo
      math.round(math.exp((1 - f) * math.log(FixtureBytes(lo)) + f * math.log(FixtureBytes(lo + 1)))).toInt
    }

  /** Formats by size rank, a cycle of nine. The seven fixtures above are
    * five plain-text files, one HTML and one PDF; the cycle keeps that
    * 5 : 1 : 1 ratio and adds MD and DOCX, which the reference accepts but
    * has no fixture for, one share each, as often as HTML and PDF. */
  val FormatCycle: IndexedSeq[String] =
    IndexedSeq(".txt", ".md", ".txt", ".html", ".txt", ".pdf", ".txt", ".docx", ".txt")

  def writeAll(dir: Path, files: Seq[File]): Unit = {
    Files.createDirectories(dir)
    files.foreach(f => Files.write(dir.resolve(f.name), f.bytes))
  }
}

/** Independent restatements of the documented behaviour the checks
  * compare against. None of these call into the program. */
object Expect {

  /** Python 3 `repr()` of a str, for the printable-ASCII-plus-controls
    * texts the generator makes: single quotes unless the text holds a
    * single quote and no double quote. */
  def pythonRepr(s: String): String = {
    val q = if (s.indexOf('\'') >= 0 && s.indexOf('"') < 0) '"' else '\''
    val b = new StringBuilder().append(q)
    s.foreach { c =>
      if (c == '\\') b.append("\\\\")
      else if (c == q) b.append('\\').append(c)
      else if (c == '\n') b.append("\\n")
      else if (c == '\r') b.append("\\r")
      else if (c == '\t') b.append("\\t")
      else if (c < ' ' || c == 0x7f) b.append("\\x%02x".format(c.toInt))
      else b.append(c)
    }
    b.append(q).toString
  }

  /** Token count of the documented default tokenizer: pieces are
    * ` ?letters`, ` ?digits`, ` ?other-symbols` (a single space joins the
    * next piece when a non-space follows) or a whitespace run; pieces
    * longer than 16 chars count as ceil(len/4) sub-pieces. */
  private val Piece = java.util.regex.Pattern.compile(
    "(?: (?=[^\\p{javaWhitespace}]))?(?:\\p{L}+|\\p{Nd}+|[^\\p{L}\\p{Nd}\\p{javaWhitespace}]+)|\\p{javaWhitespace}+")

  def tokens(s: String): IndexedSeq[String] = {
    val m = Piece.matcher(s)
    val out = IndexedSeq.newBuilder[String]
    var at = 0
    while (m.find()) {
      require(m.start() == at, s"tokenizer gap at $at")
      val p = m.group()
      if (p.length <= 16) out += p
      else out ++= p.grouped(4)
      at = m.end()
    }
    require(at == s.length, "tokenizer did not cover the text")
    out.result()
  }

  /** EXACT token windows of `size` with step `size - overlap`. */
  def tokenWindows(text: String, size: Int, overlap: Int): IndexedSeq[String] = {
    val t = tokens(text)
    (0 until t.length by (size - overlap)).map(i => t.slice(i, i + size).mkString)
  }

  /** EXACT_BY_CHARACTERS window count. */
  def charWindows(len: Int, size: Int, overlap: Int): Int =
    (len + (size - overlap) - 1) / (size - overlap)

  /** The documented embedder in double precision: seed SplitMix64 with
    * the first 8 bytes (big-endian) of MD5(utf8 text), map each 53-bit
    * draw to [-1, 1), L2-normalize. The program stores floats, so the
    * check compares within [[EmbedTolerance]]. */
  def embed(text: String, dim: Int): Array[Double] = {
    val md5 = java.security.MessageDigest.getInstance("MD5").digest(text.getBytes(UTF_8))
    var seed = 0L
    for (i <- 0 until 8) seed = (seed << 8) | (md5(i) & 0xffL)
    val d = new Array[Double](dim)
    for (i <- 0 until dim) {
      seed += 0x9e3779b97f4a7c15L
      var z = seed
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z = z ^ (z >>> 31)
      d(i) = (z >>> 11).toDouble / 9007199254740992.0 * 2.0 - 1.0
    }
    val norm = math.sqrt(d.map(x => x * x).sum)
    d.map(_ / norm)
  }

  final val EmbedTolerance = 1e-6

  /** The documented quality score: 0.5 x stopword share of the
    * space-separated words (the, a, of, and, to, in, is) + 0.3 x
    * min(1, chars/500) + 0.2 x (1 - share of chars outside [A-Za-z0-9 ]). */
  def quality(text: String): Double = {
    if (text.isEmpty) 0.0
    else {
      val stop = Set("the", "a", "of", "and", "to", "in", "is")
      val words = text.split(" ", -1)
      val punct = text.count(c => !(c.isLetterOrDigit && c < 128) && c != ' ')
      0.5 * words.count(stop).toDouble / words.length +
        0.3 * math.min(1.0, text.length / 500.0) + 0.2 * (1.0 - punct.toDouble / text.length)
    }
  }

  /** Word-trigram set of a single-space-separated text. */
  def shingles(text: String, n: Int = 3): Set[String] =
    text.split(" ", -1).sliding(n).filter(_.length == n).map(_.mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0 else (a intersect b).size.toDouble / (a union b).size

  /** Cosine as the documented native expression computes it: float
    * inputs widened to double, left-to-right sums, dot / sqrt(|a|²|b|²),
    * then SQL `round(x, 6)` (HALF_UP on the decimal form). */
  def cosine6(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    round6(dot / math.sqrt(na * nb))
  }

  def round6(x: Double): Double =
    new java.math.BigDecimal(java.lang.Double.toString(x))
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
}
