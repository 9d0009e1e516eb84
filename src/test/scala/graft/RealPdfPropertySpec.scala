package graft

import graft.extract.PdfFile
import org.scalatest.funsuite.AnyFunSuite

/** The reference pins its parser properties on REAL sample PDFs
  * (`tests/test_parser_properties.py:25-57` — Property 5 "text
  * extraction preserves content", `:65-92` — Property 6 "image
  * extraction completeness", `:132-155` — Property 8 "partial failure
  * resilience"; corpus at `data/raw/`, `tests/conftest.py:6-9`). This
  * spec runs the SAME documents through the native extractor — read
  * from the read-only reference checkout and skipped gracefully when
  * absent, exactly like the reference's `pytest.skip("Test PDF not
  * found")`.
  *
  * The corpus exercises what synthetic fixtures cannot: CID/Identity-H
  * subset fonts with ToUnicode CMaps (the Polish WARTA document — see
  * [[graft.extract.CidDecode]]), DCT/Flate image XObjects, a scanned
  * image-only file, and a 20-page academic paper.
  */
class RealPdfPropertySpec extends AnyFunSuite {

  private val rawDir = new java.io.File("/root/reference/data/raw")

  private def pdf(name: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(new java.io.File(rawDir, name).toPath)

  private def corpus(): Seq[(String, Array[Byte])] = {
    assume(rawDir.isDirectory, "reference sample corpus not present")
    rawDir.listFiles().filter(_.getName.endsWith(".pdf")).sortBy(_.getName)
      .toSeq.map(f => f.getName -> java.nio.file.Files.readAllBytes(f.toPath))
  }

  test("P5: text extraction preserves content on every sample PDF") {
    val seen = corpus().map { case (name, bytes) =>
      assert(PdfFile.looksPdfFile(bytes), s"$name signature")
      val (pages, nStreams, nFailed) = PdfFile.extractStats(bytes)
      // page indices are dense 0..n-1 (the reference asserts
      // 0 <= block.page < num_pages)
      assert(pages.map(_.page) == pages.indices.toVector, name)
      // every emitted line carries content (len(block.content) > 0)
      pages.foreach(p => p.lines.foreach(l => assert(l.text.nonEmpty, name)))
      assert(nFailed == 0, s"$name: $nFailed of $nStreams streams failed")
      (name, pages.nonEmpty)
    }
    // 6 of the 7 samples carry a text layer; only the scanned
    // ocrInput.pdf is image-only
    assert(seen.count(_._2) >= 6, seen.toString)
    assert(!seen.toMap.apply("ocrInput.pdf"))
  }

  test("P5: CID/Identity-H fonts decode through ToUnicode CMaps") {
    assume(rawDir.isDirectory)
    val text = PdfFile.mainText(pdf(
      "WARTA_OWU_AutoCasco_Standard_ACS_C6201_IPID_dla_umow_zawieranych_do_31.03.2022.pdf"))
    assert(text.length > 10000)
    val printable = text.count(c =>
      c.isLetterOrDigit || c.isWhitespace || ".,;:!?()-/%„”§".contains(c))
    assert(printable.toDouble / text.length > 0.95,
      s"printable ratio ${printable.toDouble / text.length}")
    // real Polish insurance vocabulary, not glyph-code garbage
    val lower = text.toLowerCase
    assert(lower.contains("ubezpiecz"), "missing 'ubezpiecz*'")
    assert(lower.contains("pojazd"), "missing 'pojazd'")
    // decoded diacritics arrive as real Unicode, not Latin-1 bytes
    assert(text.exists(c => "ąćęłńóśźż".contains(c)), "no Polish diacritics")
  }

  test("P5: simple-font documents extract real English text") {
    assume(rawDir.isDirectory)
    assert(PdfFile.mainText(pdf("1512.03385v1.pdf")).toLowerCase
      .contains("residual"))
    assert(PdfFile.mainText(pdf("pdfPropertiesInput.pdf")).toLowerCase
      .contains("vendor"))
  }

  test("P6: image extraction completeness — metadata valid on every image") {
    corpus().foreach { case (name, bytes) =>
      val pages = PdfFile.extract(bytes)
      PdfFile.images(bytes).foreach { img =>
        assert(img.data.nonEmpty, name)
        assert(img.width >= 0 && img.height >= 0, name)
        assert(Set("jpeg", "jpeg2000", "raw", "corrupt")(img.format), name)
        assert(img.page >= 0 && img.page <= math.max(pages.size - 1, 0), name)
        if (img.format == "jpeg")
          assert((img.data(0) & 0xFF) == 0xFF && (img.data(1) & 0xFF) == 0xD8,
            s"$name: DCT payload lacks JPEG SOI")
      }
    }
  }

  test("P6: the scanned sample yields its page scans as JPEG objects") {
    assume(rawDir.isDirectory)
    val imgs = PdfFile.images(pdf("ocrInput.pdf"))
    assert(imgs.nonEmpty)
    assert(imgs.forall(_.format == "jpeg"))
    assert(imgs.forall(i => i.width > 0 && i.height > 0))
  }

  private def deflate(s: String): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(s.getBytes("ISO-8859-1")); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end(); out.toByteArray
  }

  /** A PDF of one FlateDecode content stream per page, each drawing its
    * text (the same construction as `PdfDirectorySourceSpec.pdf`).
    */
  private def flatePdf(pages: Seq[String]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.4\n")
    pages.zipWithIndex.foreach { case (text, i) =>
      val z = deflate(s"BT /F1 12 Tf 72 720 Td ($text) Tj ET")
      w(s"${3 + i} 0 obj << /Length ${z.length} /Filter /FlateDecode >> stream\n")
      out.write(z)
      w("\nendstream endobj\n")
    }
    w("%%EOF\n")
    out.toByteArray
  }

  /** Zero every 7th byte of the middle third, as P8 damages its file. */
  private def corrupted(bytes: Array[Byte]): Array[Byte] = {
    val b = bytes.clone()
    var i = b.length / 3
    while (i < 2 * b.length / 3) { b(i) = 0; i += 7 }
    b
  }

  test("P8: partial failure resilience — non-PDF and corrupted bytes") {
    // non-PDF bytes: rejected by signature, extraction total and empty
    val notPdf = "Not a PDF".getBytes("ISO-8859-1")
    assert(!PdfFile.looksPdfFile(notPdf))
    assert(PdfFile.extract(notPdf).isEmpty)
    val words = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot")
    val bytes = flatePdf(words.map(w => s"$w section " + s"$w words " * 30))
    val intact = PdfFile.mainText(bytes)
    assert(words.forall(w => intact.contains(s"$w section")), intact.take(200))
    // a corrupted interior must not throw; the first page lies before it
    val damaged = PdfFile.mainText(corrupted(bytes))
    assert(damaged.contains("alpha section"), damaged.take(200))
    // truncation must not throw either, and keeps the pages before the cut
    val truncated = PdfFile.mainText(java.util.Arrays.copyOf(bytes, bytes.length / 2))
    assert(truncated.contains("alpha section"), truncated.take(200))
  }

  test("P8: partial failure resilience on the sample corpus") {
    assume(rawDir.isDirectory, "reference sample corpus not present")
    PdfFile.mainText(corrupted(pdf("1512.03385v1.pdf"))) // survives; content is best-effort
    PdfFile.mainText(java.util.Arrays.copyOf(pdf("Bodea Brochure.pdf"), 40000))
  }
}
