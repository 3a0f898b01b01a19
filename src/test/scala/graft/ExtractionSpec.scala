package graft

import graft.pdf.PdfText
import java.nio.file.{Files, Paths}

/** Golden extraction fixture (SURVEY.md §5.2; FIXTURES.md §3): the one
  * real reference PDF must yield the printed resource/reserve tables and
  * mandated-null economics. This is the reference's own pass criterion
  * ("¿Extrae datos correctamente?", TEST:117-119). */
class ExtractionSpec extends SparkTestBase {

  private val pdfPath =
    "/root/reference/data/sedar__000003116_Aris_Mining_Corporation__technical-report__878C2FBC.pdf"

  private lazy val bytes = Files.readAllBytes(Paths.get(pdfPath))

  test("PdfText inflates the corpus and reconstructs page text") {
    val pages = PdfText.pages(bytes)
    assert(pages.length >= 60, s"got ${pages.length} text streams")
    val full = pages.mkString("\n")
    assert(full.contains("Segovia"))
    assert(full.contains("Technical Report"))
    assert(full.contains("Measured"))
    assert(full.contains("1,893"))
  }

  test("pdf_extract yields exactly the 7 golden table rows") {
    val got = ops.Extraction.pdf_extract(spark, sf).collect()
      .map(r => (r.getString(2), r.getString(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
      .toSet
    val want = Set(
      ("resource", "Measured", 4100000.0, 14.31, 1893.0),
      ("resource", "Indicated", 3800000.0, 14.38, 1736.0),
      ("resource", "Measured + Indicated", 7900000.0, 14.34, 3629.0),
      ("resource", "Inferred", 4700000.0, 12.11, 1823.0),
      ("reserve", "Proven", 1515000.0, 12.25, 597.0),
      ("reserve", "Probable", 2017000.0, 11.16, 723.0),
      ("reserve", "Proven + Probable", 3531000.0, 11.63, 1320.0))
    assert(got == want, s"got $got")
  }

  test("economics fields are mandated-null (PDF p.53 §22 + TEST:30)") {
    val rows = ops.Extraction.pdf_extract(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.isNullAt(r.fieldIndex("npv_usd"))))
    assert(rows.forall(r => r.isNullAt(r.fieldIndex("irr_pct"))))
  }

  test("doc metadata parsed from the sedar filename scheme") {
    val r = ops.Extraction.pdf_extract(spark, sf).head
    assert(r.getString(r.fieldIndex("doc_hash")) == "878C2FBC")
    assert(r.getString(r.fieldIndex("source_system")) == "sedar")
  }

  test("project metadata extraction matches the golden fixture") {
    val r = ops.Extraction.pdf_project_meta(spark, sf).head
    assert(r.getAs[String]("project_name") == "Segovia Operations")
    assert(r.getAs[String]("company") == "Aris Mining Corporation")
    assert(r.getAs[String]("country") == "Colombia")
    assert(r.getAs[String]("region") == "Antioquia")
    assert(r.getAs[java.sql.Date]("report_date").toString == "2023-09-30")
    assert(r.getAs[Int]("page_count") == 61)
    assert(r.getAs[String]("doc_hash") == "878C2FBC")
  }

  test("economics extraction: five OPEX actuals, NPV/IRR mandated-null") {
    val r = ops.Extraction.pdf_economics(spark, sf).head
    assert(r.getAs[Double]("opex_mining_owner") == 143.0)
    assert(r.getAs[Double]("opex_mining_contractor") == 823.0)
    assert(r.getAs[Double]("opex_mining_artisanal") == 1291.0)
    assert(r.getAs[Double]("opex_processing") == 35.0)
    assert(r.getAs[Double]("opex_ga") == 26.0)
    assert(r.isNullAt(r.fieldIndex("npv_usd")))
    assert(r.isNullAt(r.fieldIndex("irr_pct")))
  }

  test("economics extraction: Table 21-4 capital totals, upfront CAPEX null") {
    val r = ops.Extraction.pdf_economics(spark, sf).head
    // PDF p.52 Table 21-4, US$ 000s
    assert(r.getAs[Double]("capex_sustaining_kusd") == 16467.0)
    assert(r.getAs[Double]("capex_non_sustaining_kusd") == 16849.0)
    // the report waives upfront capital (producing issuer, p.53 §22):
    // the pattern must fall back to null, not match something else
    assert(r.isNullAt(r.fieldIndex("capex_usd")))
  }

  test("rollup invariants hold on the extracted rows (M+I = M + I)") {
    val rows = ops.Extraction.pdf_extract(spark, sf).collect()
      .map(r => r.getString(3) -> (r.getDouble(4), r.getDouble(6)))
      .toMap
    // tolerance = the document's own print rounding: the PDF prints
    // Proven 1,515 + Probable 2,017 kt but P+P as 3,531 kt (off by 1 kt)
    val (mT, mK) = rows("Measured"); val (iT, iK) = rows("Indicated")
    val (miT, miK) = rows("Measured + Indicated")
    assert(math.abs(mT + iT - miT) <= 100000.0) // 0.1 Mt print precision
    assert(math.abs(mK + iK - miK) <= 1.0)
    val (pT, pK) = rows("Proven"); val (bT, bK) = rows("Probable")
    val (ppT, ppK) = rows("Proven + Probable")
    assert(math.abs(pT + bT - ppT) <= 1000.0) // 1 kt print precision
    assert(math.abs(pK + bK - ppK) <= 1.0)
  }

  test("contained oz cross-checks against tonnes × grade (≤2%)") {
    ops.Extraction.pdf_extract(spark, sf).collect().foreach { r =>
      val calc = r.getDouble(4) * r.getDouble(5) / Units.GramsPerTroyOunce / 1000.0
      val rep = r.getDouble(6)
      assert(math.abs(calc - rep) / rep <= 0.02,
        s"${r.getString(3)}: calc $calc vs reported $rep koz")
    }
  }

  /** Deflate a content stream and wrap it in stream…endstream so
    * PdfText.pages picks it up — a minimal single-stream PDF body. */
  private def miniPdf(content: String): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(content.getBytes("ISO-8859-1")); d.finish()
    val deflated = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!d.finished()) deflated.write(buf, 0, d.deflate(buf))
    d.end()
    val bos = new java.io.ByteArrayOutputStream()
    bos.write("stream\n".getBytes("ISO-8859-1"))
    bos.write(deflated.toByteArray)
    bos.write("endstream".getBytes("ISO-8859-1"))
    bos.toByteArray
  }

  test("filterAudit: the corpus ceiling is REPORTED, never silently thinned") {
    // golden: the Aris report carries 5 DCT (JPEG image) streams and 3
    // filterless streams the Flate-only decoder cannot decode — the
    // audit names them. (Every TEXT stream is Flate, which is why the
    // extraction goldens are unaffected; before this channel existed
    // those 8 streams were skipped with no trace — the exact silent
    // thinning the audit exists to surface.)
    val dir = new java.io.File("/root/reference/data")
    val listed = dir.listFiles()
    assert(listed != null,
      s"PDF corpus directory ${dir.getPath} is missing or unreadable")
    val fs = listed.filter(_.getName.endsWith(".pdf"))
    assert(fs.nonEmpty, s"no .pdf files in ${dir.getPath}")
    fs.foreach { f =>
      val audit = PdfText.filterAudit(java.nio.file.Files.readAllBytes(f.toPath))
      assert(audit == Map("DCTDecode" -> 5, "none" -> 3),
        s"${f.getName}: audit drifted: $audit")
    }
    // synthetic ceiling: a DCT image stream, a filter CHAIN, and a
    // plain (filterless) body — none decodable, each named in the audit
    def obj(num: Int, dict: String, body: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      bos.write(s"$num 0 obj\n$dict\nstream\n".getBytes("ISO-8859-1"))
      bos.write(body)
      bos.write("\nendstream\nendobj\n".getBytes("ISO-8859-1"))
      bos.toByteArray
    }
    val bos = new java.io.ByteArrayOutputStream()
    bos.write("%PDF-1.4\n".getBytes("ISO-8859-1"))
    bos.write(obj(1, "<< /Filter /DCTDecode /Length 4 >>",
      Array[Byte](-1, -40, -1, -39))) // JPEG SOI/EOI
    bos.write(obj(2, "<< /Filter [/ASCII85Decode /LZWDecode] /Length 4 >>",
      "Zz!!".getBytes("ISO-8859-1")))
    bos.write(obj(3, "<< /Length 9 >>", "BT ET raw".getBytes("ISO-8859-1")))
    // /Filter via indirect reference (PDF 32000-1 §7.3.8) — resolved
    bos.write(obj(4, "<< /Filter 5 0 R /Length 4 >>",
      "Zz!!".getBytes("ISO-8859-1")))
    bos.write("5 0 obj\n/LZWDecode\nendobj\n".getBytes("ISO-8859-1"))
    val audit = PdfText.filterAudit(bos.toByteArray)
    // one count per STREAM: the chain counts once under its joined name
    // (so counts sum to undecoded-stream count, 4 here), the indirect
    // reference resolves to its real filter name
    assert(audit == Map("DCTDecode" -> 1, "ASCII85Decode+LZWDecode" -> 1,
      "none" -> 1, "LZWDecode" -> 1), audit)
    // the board query surfaces the channel, one row per corpus PDF
    val rows = ops.Extraction.pdf_decode_audit(spark, sf).collect()
    assert(rows.length == fs.length)
    rows.foreach { r =>
      assert(r.getLong(1) == 8L && r.getString(2) == "DCTDecode:5,none:3",
        s"${r.getString(0)}: ${r.getLong(1)} undecoded (${r.getString(2)})")
    }
  }

  test("hex-string <…> show operators decode (PDF 32000-1 §7.3.4.3)") {
    // digit pairs with legal embedded whitespace; odd trailing digit
    // <4> implies 0 → 0x40 '@'
    val cs = "BT (Total ) Tj <73757374 61696E696E67> Tj ( 16,467) Tj <4> Tj ET"
    val pages = PdfText.pages(miniPdf(cs))
    assert(pages.nonEmpty, "hex-string stream produced no text")
    assert(pages.head.contains("Total sustaining 16,467"), pages.head)
    assert(pages.head.contains("@"), pages.head)
  }

  test("dictionaries <<…>> are not mistaken for hex strings") {
    val cs = "/P <</MCID 0>> BDC BT (ok) Tj ET"
    val pages = PdfText.pages(miniPdf(cs))
    assert(pages.nonEmpty && pages.head.trim == "ok", pages.mkString("|"))
  }

  /** A ToUnicode CMap as other PDF generators emit it (PDF 32000-1
    * §9.10.3): bfchar singles, an incrementing bfrange, and an
    * array-form bfrange. Codes are 2-byte (Identity-H style). */
  private val cidCmap =
    """/CIDInit /ProcSet findresource begin
      |12 dict begin begincmap
      |/CMapName /Adobe-Identity-UCS def
      |1 begincodespacerange <0000> <FFFF> endcodespacerange
      |2 beginbfchar
      |<0041> <0048>
      |<0042> <0065>
      |endbfchar
      |2 beginbfrange
      |<0100> <0104> <006C>
      |<0200> <0201> [<0057> <0021>]
      |endbfrange
      |endcmap end end""".stripMargin

  test("CID/Type0: 2-byte hex codes decode through the ToUnicode CMap") {
    // 0041→H 0042→e, range 0100..0104→l.. so 0100 0100 0103 → l l o
    val content = "BT <00410042010001000103> Tj <02000201> Tj ET"
    val pages = PdfText.pages(miniPdf(cidCmap) ++ miniPdf(content))
    assert(pages == Seq("Hello W!"), pages.mkString("|"))
  }

  test("CID fallback: hex strings with unmapped or odd-length codes stay Latin-1") {
    // <4F4B> pairs to code 0x4F4B — not in the CMap → single-byte "OK";
    // <48656C6C6F> is 5 bytes (odd) → can never be 2-byte codes → "Hello"
    val content = "BT <4F4B> Tj <48656C6C6F> Tj ET"
    val pages = PdfText.pages(miniPdf(cidCmap) ++ miniPdf(content))
    assert(pages == Seq("OK Hello"), pages.mkString("|"))
  }

  private def deflate(content: String): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(content.getBytes("ISO-8859-1")); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }
  private def objStream(num: Int, dict: String, content: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(s"$num 0 obj $dict stream\n".getBytes("ISO-8859-1"))
    bos.write(deflate(content))
    bos.write("endstream endobj\n".getBytes("ISO-8859-1"))
    bos.toByteArray
  }
  private def objPlain(num: Int, dict: String): Array[Byte] =
    s"$num 0 obj $dict endobj\n".getBytes("ISO-8859-1")
  private def bfchar(pairs: (String, String)*): String =
    s"""${pairs.length} beginbfchar
       |${pairs.map { case (s0, d0) => s"<$s0> <$d0>" }.mkString("\n")}
       |endbfchar""".stripMargin

  test("per-font CMap scoping: colliding 2-byte codes decode by the active font") {
    // two fonts assign code 0041 DIFFERENT glyphs — the exact case the
    // old document-merged map (first font wins) decoded wrong. The page
    // also inherits its /Resources from the /Parent /Pages node, so the
    // inheritance walk is exercised on the same fixture.
    val cmapA = bfchar("0041" -> "0058") // 0041 → 'X' in /F1
    val cmapB = bfchar("0041" -> "0059") // 0041 → 'Y' in /F2
    val content = "BT /F1 10 Tf <0041> Tj /F2 10 Tf <0041> Tj ET"
    val pdf =
      objPlain(1, "<< /Type /Page /Parent 7 0 R /Contents 2 0 R >>") ++
        objStream(2, "<< >>", content) ++
        objPlain(3, "<< /Type /Font /ToUnicode 4 0 R >>") ++
        objStream(4, "<< >>", cmapA) ++
        objPlain(5, "<< /Type /Font /ToUnicode 6 0 R >>") ++
        objStream(6, "<< >>", cmapB) ++
        objPlain(7, "<< /Type /Pages /Resources << /Font << /F1 3 0 R /F2 5 0 R >> >> >>")
    val pages = PdfText.pages(pdf)
    assert(pages == Seq("X Y"), pages.mkString("|"))
  }

  test("CID codes in literal (…) strings decode through the active font's CMap") {
    // the same 2-byte codes a generator would emit as <00410042>, here as
    // a literal string with octal-escaped high bytes: (\000A\000B). Under
    // the active CID font they must decode (0041→H, 0042→i); a plain
    // ASCII literal under the SAME font has unmapped pairs (OK = 0x4F4B)
    // and must stay Latin-1; with no font active a two-byte-looking
    // literal must also stay raw (no merged fallback for literals).
    val cmap = bfchar("0041" -> "0048", "0042" -> "0069")
    val content = "BT /F1 10 Tf (\\000A\\000B) Tj (OK) Tj ET"
    val pdf =
      objPlain(1, "<< /Type /Page /Contents 2 0 R /Resources << /Font << /F1 3 0 R >> >> >>") ++
        objStream(2, "<< >>", content) ++
        objPlain(3, "<< /Type /Font /ToUnicode 4 0 R >>") ++
        objStream(4, "<< >>", cmap)
    assert(PdfText.pages(pdf) == Seq("Hi OK"), PdfText.pages(pdf).mkString("|"))
    val noTf = "BT (\\000A\\000B) Tj ET"
    val pdf2 =
      objPlain(1, "<< /Type /Page /Contents 2 0 R /Resources << /Font << /F1 3 0 R >> >> >>") ++
        objStream(2, "<< >>", noTf) ++
        objPlain(3, "<< /Type /Font /ToUnicode 4 0 R >>") ++
        objStream(4, "<< >>", cmap)
    val raw = PdfText.pages(pdf2)
    // normalize() trims the leading NUL byte (String.trim strips <= 0x20);
    // the embedded one survives as \u0000 — the point is only that no
    // CMap rewrite happened without a Tf scope
    assert(raw == Seq("A\u0000B"), raw.mkString("|"))
  }

  test("per-font scoping falls back to the merged map when no font is active") {
    // same structure but the show op never sets a font — the document
    // path must keep the pre-scoping behavior (merged map, first wins)
    val cmapA = bfchar("0041" -> "0058")
    val content = "BT <0041> Tj ET"
    val pdf =
      objPlain(1, "<< /Type /Page /Contents 2 0 R /Resources << /Font << /F1 3 0 R >> >> >>") ++
        objStream(2, "<< >>", content) ++
        objPlain(3, "<< /Type /Font /ToUnicode 4 0 R >>") ++
        objStream(4, "<< >>", cmapA)
    val pages = PdfText.pages(pdf)
    assert(pages == Seq("X"), pages.mkString("|"))
  }
}
