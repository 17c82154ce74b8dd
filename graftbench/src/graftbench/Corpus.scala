package graftbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.ISO_8859_1

/** Seeded English text and the PDFs that carry it.
  *
  * Documents are sentences over a fixed vocabulary of common English
  * words plus a per-topic word list, so hash embeddings of chunks from
  * one topic cluster together (an IVF index has cells worth probing) and
  * two unrelated documents share few character 5-grams (a near-duplicate
  * check has a clear margin between planted copies and the rest).
  */
object Corpus {
  val Common: Array[String] = (
    "the of and to in is was for on that with as by at from this be are it an " +
    "which or have not has had but were all their one can will there been more " +
    "when who they would each about other into some could these than then only " +
    "its over also after first new any most two may such where much through " +
    "should before must those well many while under every same both between " +
    "during without within along across against around however because since " +
    "until although whether during toward upon among beyond").split(" ")

  val Topics: Array[Array[String]] = Array(
    "baggage allowance carry cabin checked weight kilograms suitcase oversize fee strap handle trolley tag claim belt lost delayed",
    "booking reservation fare ticket itinerary confirmation passenger name record change cancel refund voucher credit payment card receipt",
    "boarding gate pass priority group queue zone jet bridge announcement seat row aisle window exit door steward",
    "flight departure arrival schedule delay diversion runway taxi takeoff landing altitude cruise turbulence pilot captain crew",
    "loyalty miles points tier status elite lounge upgrade partner member account balance expiry redemption award bonus",
    "safety oxygen mask life vest brace position evacuation slide harness belt instruction demonstration emergency card",
    "catering meal vegetarian kosher halal beverage coffee snack tray trolley galley menu allergy nut dietary request",
    "airport terminal security screening liquids laptop scanner passport visa customs immigration border control kiosk",
    "pets animal carrier kennel service dog crate ventilation veterinary certificate rabies vaccine hold temperature",
    "medical wheelchair assistance mobility oxygen concentrator stretcher escort clearance physician form pregnancy infant",
    "weather storm snow fog thunder lightning visibility deicing wind crosswind forecast radar hail freezing ice",
    "cargo freight shipment pallet container manifest customs broker invoice tariff dangerous goods lithium battery",
    "compensation regulation liability claim tribunal rights denied boarding overbooking downgrade reimbursement",
    "maintenance engine inspection hangar mechanic component overhaul turbine propeller landing gear hydraulic fuel",
    "children minor unaccompanied guardian escort bassinet stroller car seat toddler teenager school holiday family",
    "entertainment screen movie headphone wifi streaming charger outlet music magazine newspaper blanket pillow")
    .map(_.split(" "))

  /** `nWords` words of sentences on `topic`, drawn from `rng`. */
  def text(rng: scala.util.Random, topic: Int, nWords: Int): String = {
    val sb = new StringBuilder
    var left = nWords
    val topicWords = Topics(topic % Topics.length)
    while (left > 0) {
      val len = math.min(left, 6 + rng.nextInt(10))
      var w = 0
      while (w < len) {
        val word =
          if (rng.nextInt(10) < 4) topicWords(rng.nextInt(topicWords.length))
          else Common(rng.nextInt(Common.length))
        if (sb.nonEmpty) sb.append(' ')
        sb.append(if (w == 0) word.capitalize else word)
        w += 1
      }
      sb.append('.')
      left -= len
    }
    sb.toString
  }

  /** Sentences on `topic` cut at the last word that fits in `chars`
    * characters, so documents of one size differ in words, not length. */
  def textOfLength(rng: scala.util.Random, topic: Int, chars: Int): String = {
    val long = text(rng, topic, chars / 3)
    long.substring(0, long.lastIndexOf(' ', chars - 1)).stripSuffix(".") + "."
  }

  private lazy val byLength: Map[Int, Array[String]] =
    (Common ++ Topics.flatten).distinct.groupBy(_.length)

  /** The same text with `edits` words replaced by other words of the same
    * length, so every line of its PDF wraps where the original's does: a
    * planted near-duplicate. */
  def perturb(rng: scala.util.Random, text: String, edits: Int): String = {
    val words = text.split(" ")
    var done = 0
    while (done < edits) {
      val i = rng.nextInt(words.length)
      val w = words(i)
      val tail = if (w.endsWith(".")) "." else ""
      val bare = w.stripSuffix(".")
      val alts = byLength.getOrElse(bare.length, Array.empty).filter(_ != bare.toLowerCase)
      if (alts.nonEmpty && bare.head.isLower) {
        words(i) = alts(rng.nextInt(alts.length)) + tail
        done += 1
      }
    }
    words.mkString(" ")
  }

  /** Word-wrapped lines of at most `width` characters. */
  def wrap(text: String, width: Int = 90): Seq[String] = {
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    text.split(" ").foreach { w =>
      if (cur.nonEmpty && cur.length + 1 + w.length > width) { lines += cur.toString; cur.clear() }
      if (cur.nonEmpty) cur.append(' ')
      cur.append(w)
    }
    if (cur.nonEmpty) lines += cur.toString
    lines.toSeq
  }

  /** A classic-xref PDF: one Helvetica font, one FlateDecode content
    * stream per page showing each line with `Tj` and `T*`. */
  def pdf(pages: Seq[Seq[String]]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val offsets = scala.collection.mutable.ArrayBuffer.empty[Int]
    def raw(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    def obj(body: => Unit): Unit = {
      offsets += out.size()
      raw(s"${offsets.size} 0 obj\n"); body; raw("\nendobj\n")
    }
    val nPages = pages.size
    // objects: 1 catalog, 2 pages, 3 font, then (page, content) pairs
    raw("%PDF-1.4\n%âãÏÓ\n")
    obj(raw("<< /Type /Catalog /Pages 2 0 R >>"))
    val kids = (0 until nPages).map(p => s"${4 + 2 * p} 0 R").mkString(" ")
    obj(raw(s"<< /Type /Pages /Kids [$kids] /Count $nPages >>"))
    obj(raw("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"))
    pages.zipWithIndex.foreach { case (lines, p) =>
      obj(raw(s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Resources << /Font << /F1 3 0 R >> >> /Contents ${5 + 2 * p} 0 R >>"))
      val content = new StringBuilder("BT\n/F1 10 Tf\n12 TL\n50 750 Td\n")
      lines.foreach(l => content.append('(').append(l).append(") Tj T*\n"))
      content.append("ET\n")
      val deflated = deflate(content.toString.getBytes(ISO_8859_1))
      obj {
        raw(s"<< /Length ${deflated.length} /Filter /FlateDecode >>\nstream\n")
        out.write(deflated)
        raw("\nendstream")
      }
    }
    val xref = out.size()
    raw(s"xref\n0 ${offsets.size + 1}\n0000000000 65535 f \n")
    offsets.foreach(o => raw(f"$o%010d 00000 n \n"))
    raw(s"trailer\n<< /Size ${offsets.size + 1} /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n")
    out.toByteArray
  }

  private def deflate(b: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(b); d.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }
}
