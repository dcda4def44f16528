package graft.extract

import graft.textkit.SpacingRepair.Glyph
import java.nio.charset.StandardCharsets.ISO_8859_1
import scala.collection.mutable

/** Real-world PDF document parser: the glyph channel for two-channel repair
  * on actual report PDFs (the reference delegates this read to PyMuPDF —
  * pymupdf_spacing_fix.py:365-513 — so this file has no Python counterpart;
  * it is original work required to run that flow in-JVM).
  *
  * Supports the classic-PDF subset digital reports use:
  *   - xref-table-driven object loading (incremental updates: later xref
  *     sections override earlier), a raw object scan for what it omits
  *   - PDF 1.5 cross-reference STREAMS (/Type /XRef, ISO 32000-1 §7.5.8):
  *     /W-width binary rows, /Index subsections, Flate + PNG/TIFF
  *     /DecodeParms predictors, /Root from the stream dict, type-2 entries
  *     routing compressed objects to their live ObjStm revision
  *   - page-tree walk with /Resources and /MediaBox inheritance
  *   - simple fonts (Type1/TrueType): base encodings (WinAnsi/MacRoman/
  *     Standard; Type1 built-in default = StandardEncoding, TrueType =
  *     WinAnsi), /Differences, /FirstChar+/Widths, /ToUnicode override
  *   - composite Type0/Identity-H fonts: /ToUnicode CMap (bfchar/bfrange),
  *     /W + /DW widths
  *   - content interpreter with full matrix state (q Q cm, BT ET,
  *     Td TD Tm T* TL, Tc Tw Tz, Tj ' " TJ with kerning, octal escapes and
  *     hex strings) plus form-XObject recursion (`/Name Do`)
  *   - damaged files: a file whose page tree parses to no page, or to
  *     pages with no text, reads as one pseudo-page per content stream,
  *     bodies after a `stream` keyword that no object claims included (see
  *     [[Document.sizedPages]])
  *
  * This is the engine's only content-stream interpreter. Glyph convention:
  * top-left-flipped coords, spaces advance the pen without emitting a
  * glyph, the box spans baseline-0.2h..+0.8h.
  */
object PdfDoc {
  /** A glyph plus the device-space font size it was shown at (for
    * PdfLayout's heading classification). */
  case class SizedGlyph(glyph: Glyph, fontSize: Double)

  /** Rough Helvetica advance widths (per mille of font size) for fonts
    * without a /Widths entry — enough for gap clustering; exact metrics are
    * not required because thresholds are relative (median char width). */
  private def advance(c: Char): Double = c match {
    case ' ' => 278
    case 'i' | 'l' | 'j' | '!' | '\'' | '.' | ',' | ':' | ';' | '|' => 240
    case 'f' | 't' | 'r' | '(' | ')' | '[' | ']' | '/' | '-' => 333
    case 'm' | 'M' | 'W' | 'w' => 889
    case c2 if c2.isUpper => 722
    case _ => 556
  }

  /** Undo a /DecodeParms predictor over decoded stream bytes. PNG predictors
    * (10-15: per-row filter byte, None/Sub/Up/Average/Paeth — PNG spec §6)
    * are what every modern producer wraps xref streams in; 2 is TIFF
    * horizontal differencing. Corrupt geometry degrades to the input bytes,
    * never throws (PdfRobustnessSpec contract). */
  private[extract] def unpredict(bytes: Array[Byte], predictor: Int,
                                 colors: Int, bpc: Int, columns: Int): Array[Byte] = {
    if (predictor <= 1 || bytes.isEmpty) return bytes
    // PNG defines bpp as ceil(colors*bpc/8): sub-byte geometries (e.g.
    // Colors=3, BitsPerComponent=4) filter against the previous 2 bytes
    val bpp = math.max(1, (colors * bpc + 7) / 8)
    val rowLen = (columns.toLong * colors * bpc + 7) / 8
    if (rowLen <= 0 || rowLen > (1 << 24)) return bytes
    val rl = rowLen.toInt
    if (predictor == 2) {
      if (bpc != 8) return bytes // sub-byte TIFF differencing: unsupported
      val out = bytes.clone()
      var r = 0
      while ((r + 1) * rl <= out.length) {
        var i = r * rl + bpp
        while (i < (r + 1) * rl) { out(i) = (out(i) + out(i - bpp)).toByte; i += 1 }
        r += 1
      }
      return out
    }
    // PNG family: each row is 1 filter byte + rl data bytes
    val nRows = bytes.length / (rl + 1)
    if (nRows <= 0) return bytes
    val out = new Array[Byte](nRows * rl)
    val prev = new Array[Byte](rl)
    val cur = new Array[Byte](rl)
    var r = 0
    while (r < nRows) {
      val base = r * (rl + 1)
      val ft = bytes(base) & 0xFF
      System.arraycopy(bytes, base + 1, cur, 0, rl)
      var i = 0
      ft match {
        case 0 => ()
        case 1 => i = bpp
          while (i < rl) { cur(i) = (cur(i) + cur(i - bpp)).toByte; i += 1 }
        case 2 =>
          while (i < rl) { cur(i) = (cur(i) + prev(i)).toByte; i += 1 }
        case 3 =>
          while (i < rl) {
            val left = if (i >= bpp) cur(i - bpp) & 0xFF else 0
            cur(i) = (cur(i) + ((left + (prev(i) & 0xFF)) / 2)).toByte; i += 1
          }
        case 4 =>
          while (i < rl) {
            val a = if (i >= bpp) cur(i - bpp) & 0xFF else 0
            val b = prev(i) & 0xFF
            val c = if (i >= bpp) prev(i - bpp) & 0xFF else 0
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
            val pred = if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
            cur(i) = (cur(i) + pred).toByte; i += 1
          }
        case _ => () // unknown filter byte: pass row through
      }
      System.arraycopy(cur, 0, out, r * rl, rl)
      System.arraycopy(cur, 0, prev, 0, rl)
      r += 1
    }
    out
  }

  // ---------------------------------------------------------------- objects
  sealed trait P
  case class PNum(v: Double) extends P
  case class PStr(raw: String) extends P // byte-preserving latin-1 view
  case class PName(v: String) extends P
  case class PArr(v: Vector[P]) extends P
  case class PDict(v: Map[String, P]) extends P
  case class PRef(n: Int) extends P
  case class PWord(v: String) extends P // true/false/null or a content operator
  case class PStream(dict: PDict, raw: String) extends P

  /** Recursive-descent parser over the latin-1 byte view (shared by the
    * object layer and the content-stream interpreter). */
  private[extract] final class ObjParser(val s: String, var i: Int) {
    def ws(): Unit = {
      while (i < s.length && (s.charAt(i).isWhitespace || s.charAt(i) == '%')) {
        if (s.charAt(i) == '%') while (i < s.length && s.charAt(i) != '\n') i += 1
        else i += 1
      }
    }
    def eof: Boolean = { ws(); i >= s.length }
    private def peek: Char = if (i < s.length) s.charAt(i) else ' '

    /** One token/value. Operators (including *'" forms) come out as PWord. */
    def value(): P = {
      ws()
      peek match {
        case '<' =>
          if (i + 1 < s.length && s.charAt(i + 1) == '<') dict()
          else hexString()
        case '[' =>
          i += 1
          val items = Vector.newBuilder[P]
          ws()
          while (i < s.length && peek != ']') { items += value(); ws() }
          i += 1
          PArr(items.result())
        case ']' => i += 1; PWord("]") // stray close: tolerate
        case '>' => i += 1; PWord(">")
        case '(' => literalString()
        case '/' => name()
        case c if c == '+' || c == '-' || c == '.' || c.isDigit => number()
        case '\'' => i += 1; PWord("'")
        case '"' => i += 1; PWord("\"")
        case _ =>
          val start = i
          while (i < s.length && (s.charAt(i).isLetter || s.charAt(i) == '*' ||
                 s.charAt(i) == '0' || s.charAt(i) == '1')) i += 1
          if (i == start) { i += 1; PWord(s.substring(start, i)) }
          else PWord(s.substring(start, i))
      }
    }

    def name(): PName = {
      i += 1
      val sb = new StringBuilder
      while (i < s.length && !s.charAt(i).isWhitespace &&
             "()[]<>/%".indexOf(s.charAt(i)) < 0) {
        if (s.charAt(i) == '#' && i + 2 < s.length) {
          sb += Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar
          i += 3
        } else { sb += s.charAt(i); i += 1 }
      }
      PName(sb.result())
    }

    private def dict(): PDict = {
      i += 2
      val m = Map.newBuilder[String, P]
      ws()
      while (i < s.length &&
             !(peek == '>' && i + 1 < s.length && s.charAt(i + 1) == '>')) {
        if (peek != '/') { i += 1; ws() } // tolerate junk
        else {
          val k = name().v
          val v = value()
          m += k -> v
          ws()
        }
      }
      i += 2
      PDict(m.result())
    }

    private def hexString(): PStr = {
      i += 1
      val sb = new StringBuilder
      while (i < s.length && s.charAt(i) != '>') {
        val c = s.charAt(i)
        if (!c.isWhitespace) sb += c
        i += 1
      }
      i += 1
      val hex = if (sb.length % 2 == 1) sb.result() + "0" else sb.result()
      val bytes = new StringBuilder(hex.length / 2)
      var k = 0
      while (k + 2 <= hex.length) {
        try bytes += Integer.parseInt(hex.substring(k, k + 2), 16).toChar
        catch { case _: NumberFormatException => }
        k += 2
      }
      PStr(bytes.result())
    }

    private def literalString(): PStr = {
      i += 1
      val sb = new StringBuilder
      var depth = 1
      while (i < s.length && depth > 0) {
        val c = s.charAt(i)
        if (c == '\\' && i + 1 < s.length) {
          val n = s.charAt(i + 1)
          n match {
            case 'n' => sb += '\n'; i += 2
            case 'r' => sb += '\r'; i += 2
            case 't' => sb += '\t'; i += 2
            case 'b' => sb += '\b'; i += 2
            case 'f' => sb += '\f'; i += 2
            case '\n' => i += 2 // line continuation
            case '\r' => i += 2; if (i < s.length && s.charAt(i) == '\n') i += 1
            case d if d >= '0' && d <= '7' =>
              var v = 0; var k = 0; i += 1
              while (k < 3 && i < s.length && s.charAt(i) >= '0' && s.charAt(i) <= '7') {
                v = v * 8 + (s.charAt(i) - '0'); i += 1; k += 1
              }
              sb += (v & 0xFF).toChar
            case other => sb += other; i += 2
          }
        } else if (c == '(') { depth += 1; sb += c; i += 1 }
        else if (c == ')') { depth -= 1; if (depth > 0) sb += c; i += 1 }
        else { sb += c; i += 1 }
      }
      PStr(sb.result())
    }

    /** Number, or an indirect reference "N G R" (object layer only — content
      * streams never contain refs, and "0 1 R" can't be confused with ops). */
    private def number(): P = {
      val start = i
      if (peek == '+' || peek == '-') i += 1
      while (i < s.length && (s.charAt(i).isDigit || s.charAt(i) == '.')) i += 1
      val text = s.substring(start, i)
      val v = try text.toDouble catch { case _: NumberFormatException => 0.0 }
      if (v >= 0 && text.indexOf('.') < 0 && text.nonEmpty && text.charAt(0).isDigit) {
        val save = i
        ws()
        val gStart = i
        while (i < s.length && s.charAt(i).isDigit) i += 1
        if (i > gStart) {
          ws()
          if (i < s.length && s.charAt(i) == 'R' &&
              (i + 1 >= s.length || !s.charAt(i + 1).isLetterOrDigit)) {
            i += 1
            return PRef(v.toInt)
          }
        }
        i = save
      }
      PNum(v)
    }
  }

  /** The `stream` keyword that opens a body (EOL next, not `endstream`). */
  private val StreamKw = java.util.regex.Pattern.compile("(?<!end)stream(?=[\\r\\n])")

  /** Digit-string to Int that can never throw: -1 on overflow/garbage. */
  private def safeInt(digits: String): Int = {
    if (digits.isEmpty || digits.length > 10) return -1
    val v = digits.toLong
    if (v > Int.MaxValue) -1 else v.toInt
  }

  // ------------------------------------------------------------- document
  final class Document(pdf: Array[Byte]) {
    private val s = new String(pdf, ISO_8859_1)

    /** Which object a stream body belongs to (num, gen) — needed for the
      * per-object decryption key. Identity-keyed: each parsed PStream is a
      * distinct instance. Populated during `objects` construction. */
    private val streamOwner = new java.util.IdentityHashMap[PStream, Array[Int]]()
    /** Set during construction when /Encrypt parses to a supported handler
      * with an empty user password. */
    private var decryptorOpt: Option[PdfCrypt.Decryptor] = None
    /** /Encrypt present but locked (real password) or unsupported: encrypted
      * stream bodies degrade to empty rather than decoding garbage. */
    private var encryptedLocked: Boolean = false
    /** True when /Encrypt is present at all (decryptable or locked): no
      * pseudo-pages then, since the file bytes are ciphertext even when
      * they can be decrypted. */
    def encrypted: Boolean = encryptedLocked || decryptorOpt.nonEmpty

    /** obj number -> file offset, from every classic xref section in file
      * order (incremental updates later in the file override). */
    private def xrefOffsets: Map[Int, Int] = {
      val out = mutable.HashMap.empty[Int, Int]
      val xr = java.util.regex.Pattern.compile("(?m)^xref\\s*$").matcher(s)
      val entry = java.util.regex.Pattern.compile("(\\d{10}) (\\d{5}) ([nf])")
      val header = java.util.regex.Pattern.compile("\\G\\s*(\\d+)\\s+(\\d+)\\s*")
      while (xr.find()) {
        var pos = xr.end()
        var more = true
        while (more) {
          val hm = header.matcher(s)
          // a truncated table leaves pos past the end: region(len, len)
          hm.region(math.min(pos, s.length), math.min(pos + 64, s.length))
          if (hm.lookingAt()) {
            // corrupt headers/offsets must degrade, never throw: bounds-check
            // every numeric field (a bit-flipped 10-digit offset exceeds Int)
            val start = safeInt(hm.group(1))
            val count = safeInt(hm.group(2))
            if (start < 0 || count < 0 || count > 10000000) more = false
            else {
              pos = pos + hm.end() - hm.regionStart()
              var k = 0
              val em = entry.matcher(s)
              var epos = pos
              while (k < count) {
                em.region(math.min(epos, s.length), math.min(epos + 40, s.length))
                if (em.lookingAt()) {
                  val off = safeInt(em.group(1))
                  if (em.group(3) == "n" && off >= 0 && off < s.length)
                    out(start + k) = off
                  epos += 20
                } else { k = count } // malformed: bail this section
                k += 1
              }
              pos = epos
            }
          } else more = false
        }
      }
      out.toMap
    }

    /** Every stream body read from the file (xref-located, found by the raw
      * object scan, or unclaimed; see [[pseudoPages]]), keyed by body
      * offset. */
    private val fileStreams = mutable.TreeMap.empty[Int, PStream]

    /** End of the body streamAt last read. */
    private var lastBodyEnd = 0

    /** The stream whose `stream` keyword is at `kw`, with dictionary `v`
      * (anything else reads as an empty one): the body runs /Length bytes
      * past the keyword's EOL, or up to `endstream`. */
    private def streamAt(kw: Int, v: P): PStream = {
      var b = kw + "stream".length
      if (b < s.length && s.charAt(b) == '\r') b += 1
      if (b < s.length && s.charAt(b) == '\n') b += 1
      val d = v match { case d: PDict => d; case _ => PDict(Map.empty) }
      val end = d.v.get("Length") match {
        // Long arithmetic: a lying huge /Length must clamp, not wrap
        case Some(PNum(n)) =>
          math.min(b.toLong + math.max(0L, n.toLong), s.length.toLong).toInt
        case _ => s.indexOf("endstream", b) match {
          case -1 => s.length
          case e => e
        }
      }
      val st = PStream(d, s.substring(b, end))
      fileStreams(b) = st
      lastBodyEnd = end
      st
    }

    /** object number -> parsed object (streams keep raw body). */
    val objects: Map[Int, P] = {
      val m = mutable.HashMap.empty[Int, P]
      val objPos = mutable.HashMap.empty[Int, Int] // direct objects: file offset
      def parseAt(num: Int, at: Int): Unit = {
        // expect "N G obj" at/near the offset
        val hm = java.util.regex.Pattern.compile("\\G\\s*(\\d+)\\s+(\\d+)\\s+obj\\b")
          .matcher(s)
        hm.region(at, math.min(at + 48, s.length))
        if (!hm.lookingAt() || safeInt(hm.group(1)) != num) return
        val gen = math.max(0, safeInt(hm.group(2)))
        val p = new ObjParser(s, at + (hm.end() - hm.regionStart()))
        val v = try p.value() catch { case _: Exception => return }
        p.ws()
        val attached = attachStream(v, p)
        attached match {
          case st: PStream => streamOwner.put(st, Array(num, gen))
          case _ =>
        }
        m(num) = attached
        objPos(num) = at
      }
      def attachStream(v: P, p: ObjParser): P =
        if (s.startsWith("stream", p.i)) streamAt(p.i, v) else v
      val offs = xrefOffsets
      if (offs.nonEmpty) offs.foreach { case (num, off) => parseAt(num, off) }
      // raw object scan — the only source for PDF 1.5+ files (xref STREAMS,
      // no classic xref keyword) and minimal PDFs, and a supplement for
      // hybrid files whose classic xref omits stream-compressed objects.
      // Classic-xref-loaded definitions WIN (they are the live revision);
      // the scan only fills absentees. It skips past each attached stream
      // body so binary payloads containing "N 0 obj" bytes cannot inject
      // phantom objects.
      val fromXref = m.keySet.toSet
      locally {
        val objRe = java.util.regex.Pattern.compile("(\\d+)\\s+(\\d+)\\s+obj\\b")
        var pos = 0
        var continue = true
        while (continue) {
          val mt = objRe.matcher(s)
          // an unterminated last value can leave the parser past the end
          if (pos > s.length || !mt.find(pos)) continue = false
          else {
            val num = safeInt(mt.group(1))
            val gen = math.max(0, safeInt(mt.group(2)))
            val p = new ObjParser(s, mt.end())
            try {
              val v = p.value()
              p.ws()
              val attached = attachStream(v, p)
              attached match {
                case st: PStream => streamOwner.put(st, Array(num, gen))
                case _ =>
              }
              if (num >= 0 && !fromXref.contains(num)) {
                m(num) = attached
                objPos(num) = mt.start()
              }
              pos = attached match {
                case _: PStream => lastBodyEnd // past the raw body
                case _ => p.i
              }
            } catch { case _: Exception => pos = mt.end() }
          }
        }
      }
      // PDF 1.5 cross-reference STREAMS (/Type /XRef, ISO 32000-1 §7.5.8):
      // the authoritative object map for files written without a classic
      // xref keyword. Entries are fixed-width binary rows (/W widths,
      // /Index subsections), normally Flate+PNG-predictor compressed —
      // decodeStream + applyPredictor above handle that. Per object we keep
      // ONE winning entry — the last seen in FILE ORDER across all streams,
      // INCLUDING type-0 (free) rows — so an incremental update that deletes
      // an object, or moves it between a direct definition and an ObjStm,
      // always resolves from the newest revision's entry (no fixed
      // type-1-over-type-2 precedence). Classic-xref entries keep top
      // priority (hybrid-reference files).
      sealed trait XEntry
      case object XFree extends XEntry                    // type 0: deleted
      final case class XDirect(off: Int) extends XEntry   // type 1: offset
      final case class XInStm(stm: Int) extends XEntry    // type 2: ObjStm
      val xsWinner = mutable.HashMap.empty[Int, XEntry]
      m.toList.collect {
        case (n, st @ PStream(d, _)) if d.v.get("Type").contains(PName("XRef")) =>
          (objPos.getOrElse(n, 0), st)
      }.sortBy(_._1).foreach { case (_, st) =>
        try {
          val data = decodeStream(st)
          val w = st.dict.v.get("W") match {
            case Some(PArr(a)) => a.collect { case PNum(v) => v.toInt }
            case _ => Vector.empty
          }
          if (w.length >= 3 && w.forall(x => x >= 0 && x <= 8)) {
            val size = st.dict.v.get("Size").collect { case PNum(v) => v.toInt }
              .getOrElse(0)
            val index: Seq[(Int, Int)] = st.dict.v.get("Index") match {
              case Some(PArr(a)) =>
                val nums = a.collect { case PNum(v) => v.toInt }
                nums.grouped(2).collect { case Seq(a1, b1) => (a1, b1) }.toSeq
              case _ => Seq((0, size))
            }
            val rowLen = w.sum
            var pos = 0
            def field(width: Int): Long = {
              var v = 0L; var k = 0
              while (k < width) { v = (v << 8) | (data.charAt(pos + k) & 0xFF); k += 1 }
              pos += width; v
            }
            index.foreach { case (start, count) =>
              var k = 0
              while (k < count && pos + rowLen <= data.length) {
                val t = if (w(0) == 0) 1L else field(w(0))
                val f2 = field(w(1)); val f3 = field(w(2))
                val num = start + k
                t match {
                  case 0 => xsWinner(num) = XFree
                  case 1 if f2 >= 0 && f2 < s.length => xsWinner(num) = XDirect(f2.toInt)
                  case 2 if f2 >= 0 && f2 <= Int.MaxValue => xsWinner(num) = XInStm(f2.toInt)
                  case _ => () // unknown types: skip (ISO 32000: treat as null)
                }
                locally { val _ = f3 } // gen / objstm index: not needed here
                k += 1
              }
            }
          }
        } catch { case _: Exception => }
      }
      // Phase 1: winning DIRECT entries re-parse at authority (overriding
      // raw-scan guesses) — this also loads the ObjStm containers that
      // phase 2's type-2 members live in.
      xsWinner.foreach {
        case (num, XDirect(off)) if !fromXref.contains(num) => parseAt(num, off)
        case _ =>
      }

      // /Encrypt must resolve BEFORE ObjStm explosion (object streams are
      // encrypted; xref streams, already processed above, never are).
      buildDecryptor(m)

      // PDF 1.5+ object streams: explode /Type /ObjStm payloads (N pairs of
      // "objnum offset" then the serialized objects at /First + offset).
      // An xref-stream type-2 entry names the LIVE ObjStm for its member —
      // that revision overrides any raw-scan direct definition; without an
      // xref stream, direct definitions win over ObjStm members on conflict.
      val fromObjStm = mutable.HashMap.empty[Int, P]
      val byStm = mutable.HashMap.empty[(Int, Int), P] // (stmNum, objNum) -> value
      m.toList.foreach {
        case (stmNum, st @ PStream(d, _)) if d.v.get("Type").contains(PName("ObjStm")) =>
          try {
            val data = decodeStream(st)
            // bound /N: a corrupt count must not drive a runaway loop
            val n = math.min(d.v.get("N").collect { case PNum(v) => v.toInt }
              .getOrElse(0), 100000)
            val first = d.v.get("First").collect { case PNum(v) => v.toInt }.getOrElse(0)
            val hp = new ObjParser(data, 0)
            val pairs = (0 until n).flatMap { _ =>
              (hp.value(), hp.value()) match {
                case (PNum(objNum), PNum(off)) => Some((objNum.toInt, off.toInt))
                case _ => None
              }
            }
            pairs.foreach { case (objNum, off) =>
              val op = new ObjParser(data, first + off)
              try {
                val v = op.value()
                fromObjStm(objNum) = v
                byStm((stmNum, objNum)) = v
              } catch { case _: Exception => }
            }
          } catch { case _: Exception => }
        case _ =>
      }
      // Phase 2: winning type-2 entries resolve from the NAMED ObjStm (the
      // live revision), overriding any raw-scan direct definition.
      xsWinner.foreach {
        case (num, XInStm(stmNum)) if !fromXref.contains(num) =>
          byStm.get((stmNum, num)).foreach(v => m(num) = v)
        case _ =>
      }
      fromObjStm.foreach { case (num, v) => if (!m.contains(num)) m(num) = v }
      // Phase 3 (last, after all fills): winning FREE entries delete — a
      // stale direct definition or ObjStm copy of a deleted object must not
      // resurface through the raw scan or the absentee fill.
      xsWinner.foreach {
        case (num, XFree) if !fromXref.contains(num) => m.remove(num)
        case _ =>
      }
      m.toMap
    }

    /** The dictionary after each `trailer` keyword in the file, in file
      * order (a keyword followed by anything else is skipped). */
    private lazy val trailers: Seq[Map[String, P]] = {
      val tRe = java.util.regex.Pattern.compile("trailer").matcher(s)
      val out = Seq.newBuilder[Map[String, P]]
      while (tRe.find()) {
        val p = new ObjParser(s, tRe.end())
        try p.value() match { case PDict(mm) => out += mm; case _ => }
        catch { case _: Exception => }
      }
      out.result()
    }

    /** Locate /Encrypt (classic trailer dicts + xref-stream dicts) and the
      * first /ID string, and build the stream decryptor for the empty-user-
      * password case. Locked or unsupported handlers leave encryptedLocked
      * set: encrypted bodies then degrade to empty (never garbage). */
    private def buildDecryptor(m: collection.Map[Int, P]): Unit = {
      var encRef: Option[P] = None
      var idFirst: Array[Byte] = Array.empty
      def takeFrom(d: Map[String, P]): Unit = {
        if (encRef.isEmpty) d.get("Encrypt").foreach(e => encRef = Some(e))
        if (idFirst.isEmpty) d.get("ID") match {
          case Some(PArr(items)) => items.headOption match {
            case Some(PStr(raw)) => idFirst = raw.getBytes(ISO_8859_1)
            case _ =>
          }
          case _ =>
        }
      }
      trailers.foreach(takeFrom)
      m.values.foreach {
        case PStream(d, _) if d.v.get("Type").contains(PName("XRef")) =>
          takeFrom(d.v)
        case _ =>
      }
      if (encRef.isEmpty) return
      def res(p: P): P = p match {
        case PRef(n) => m.get(n).map(res).getOrElse(PWord("null"))
        case other => other
      }
      val enc = res(encRef.get) match {
        case PDict(mm) => mm
        case PStream(d, _) => d.v
        case _ => Map.empty[String, P]
      }
      encryptedLocked = true // until proven decryptable
      if (res(enc.getOrElse("Filter", PWord("null"))) != PName("Standard")) return
      def strOf(k: String): Array[Byte] = res(enc.getOrElse(k, PWord("null"))) match {
        case PStr(raw) => raw.getBytes(ISO_8859_1)
        case _ => Array.empty
      }
      def intOf(k: String, dflt: Int): Int = res(enc.getOrElse(k, PWord("null"))) match {
        case PNum(v) => v.toInt
        case _ => dflt
      }
      val v = intOf("V", 0)
      val r = intOf("R", 0)
      val encryptMetadata =
        res(enc.getOrElse("EncryptMetadata", PWord("true"))) != PWord("false")
      // V4/V5: /StmF names the crypt filter for streams; its /CFM is the
      // method. Default StmF is Identity per spec.
      val stmCfm: String =
        if (v >= 4) {
          res(enc.getOrElse("StmF", PName("Identity"))) match {
            case PName("Identity") => "Identity"
            case PName(stmF) =>
              res(enc.getOrElse("CF", PWord("null"))) match {
                case PDict(cf) => res(cf.getOrElse(stmF, PWord("null"))) match {
                  case PDict(cfd) => res(cfd.getOrElse("CFM", PWord("null"))) match {
                    case PName(nm) => nm
                    case _ => ""
                  }
                  case _ => ""
                }
                case _ => ""
              }
            case _ => "Identity"
          }
        } else ""
      PdfCrypt.standard(v, r, intOf("Length", 40), strOf("O"), strOf("U"),
          strOf("UE"), intOf("P", -1), idFirst, encryptMetadata, stmCfm) match {
        case Some(dc) => decryptorOpt = Some(dc); encryptedLocked = false
        case None => // stays locked
      }
    }

    /** A /Filter /Crypt entry whose /DecodeParms /Name is Identity (or
      * absent — Identity is the default) marks the stream as stored
      * UNencrypted inside an encrypted file (ISO 32000-1 §7.4.10; the
      * classic case is plaintext /Metadata). Decrypting it would turn
      * plaintext into garbage. */
    private def cryptIdentityExcluded(d: Map[String, P]): Boolean = {
      val filters = d.get("Filter") match {
        case Some(PName(n)) => List(n)
        case Some(PArr(a)) => a.collect { case PName(n) => n }.toList
        case _ => Nil
      }
      if (!filters.contains("Crypt")) false
      else {
        val parms: Seq[Map[String, P]] =
          d.get("DecodeParms").orElse(d.get("DP")) match {
            case Some(PDict(m)) => Seq(m)
            case Some(PArr(a)) => a.collect { case PDict(m) => m }
            case _ => Seq.empty
          }
        val nameOpt = parms.flatMap(_.get("Name")).collectFirst { case PName(n) => n }
        nameOpt.forall(_ == "Identity")
      }
    }

    /** Raw stream body after decryption (xref streams are NEVER encrypted;
      * ISO 32000-1 §7.5.8.2; /Crypt-Identity streams are stored plaintext).
      * Locked documents yield empty. */
    private def rawOf(st: PStream): String = {
      if (decryptorOpt.isEmpty && !encryptedLocked) st.raw
      else if (st.dict.v.get("Type").contains(PName("XRef"))) st.raw
      else if (cryptIdentityExcluded(st.dict.v)) st.raw
      else if (encryptedLocked) ""
      else {
        val own = streamOwner.get(st)
        // no owner entry in a decryptable document: degrade to empty like
        // the locked path — returning st.raw would feed ciphertext into the
        // filter chain
        if (own == null) ""
        else new String(decryptorOpt.get.decrypt(own(0), own(1),
          st.raw.getBytes(ISO_8859_1)), ISO_8859_1)
      }
    }

    /** The /DecodeParms entry for the filter at `idx` of the chain: ISO
      * 32000-1 §7.3.8.2 pairs a Filter ARRAY with a DecodeParms ARRAY
      * positionally (a lone dict applies to a single-name Filter). Taking
      * the FIRST dict of the array regardless of position — the pre-round-6
      * behavior — applied the wrong filter's parameters to chains like
      * [FlateDecode(parms), LZWDecode(parms)]. */
    private def parmsAt(dict: Map[String, P], idx: Int,
                        derefFn: P => P): Map[String, P] =
      dict.get("DecodeParms").map(derefFn).orElse(dict.get("DP").map(derefFn)) match {
        case Some(PDict(mm)) => mm
        case Some(PArr(a)) if idx < a.length =>
          derefFn(a(idx)) match {
            case PDict(mm) => mm
            case _ => Map.empty
          }
        case _ => Map.empty
      }

    private def lzwEarlyChange(parms: Map[String, P], derefFn: P => P): Int =
      parms.get("EarlyChange").map(derefFn) match {
        case Some(PNum(v)) => v.toInt
        case _ => 1
      }

    /** Apply the /Filter chain in order. Unknown filters (DCTDecode and
      * friends) carry no text -> empty; predictors apply after Flate/LZW. */
    private def applyFilterChain(dict: Map[String, P], raw: String,
                                 derefFn: P => P): String = {
      val filters = derefFn(dict.getOrElse("Filter", PWord("null"))) match {
        case PName(n) => List(n)
        case PArr(a) => a.map(derefFn).collect { case PName(n) => n }.toList
        case _ => Nil
      }
      if (filters.isEmpty) return raw
      filters.zipWithIndex.foldLeft(Option(raw)) { case (acc, (f, idx)) =>
        acc.flatMap { data =>
          def bytes = data.getBytes(ISO_8859_1)
          def parms = parmsAt(dict, idx, derefFn)
          f match {
            case "FlateDecode" | "Fl" =>
              inflate(data).map(applyPredictor(parms, _))
            case "LZWDecode" | "LZW" =>
              Some(applyPredictor(parms, new String(
                PdfFilters.lzwDecode(bytes, lzwEarlyChange(parms, derefFn)),
                ISO_8859_1)))
            case "RunLengthDecode" | "RL" =>
              Some(new String(PdfFilters.runLengthDecode(bytes), ISO_8859_1))
            case "ASCIIHexDecode" | "AHx" =>
              Some(new String(PdfFilters.asciiHexDecode(bytes), ISO_8859_1))
            case "ASCII85Decode" | "A85" =>
              Some(new String(PdfFilters.ascii85Decode(bytes), ISO_8859_1))
            case "Crypt" => Some(data) // decryption already applied by rawOf
            case _ => None // image filters carry no text
          }
        }
      }.getOrElse("")
    }

    /** Stream decode usable during construction (before `objects` is final,
      * so no deref: direct /Filter names only — indirect /Length is already
      * handled by attachStream's endstream scan). */
    private def decodeStream(st: PStream): String =
      applyFilterChain(st.dict.v, rawOf(st), (p: P) => p)

    /** /DecodeParms predictor pass over the filter's OWN parms dict (direct
      * values only — xref/object streams write them inline). Identity when
      * no predictor is declared. */
    private def applyPredictor(parms: Map[String, P], data: String): String = {
      def intOf(k: String, dflt: Int): Int =
        parms.get(k).collect { case PNum(v) => v.toInt }.getOrElse(dflt)
      val pred = intOf("Predictor", 1)
      if (pred <= 1) data
      else new String(unpredict(data.getBytes(ISO_8859_1), pred,
        intOf("Colors", 1), intOf("BitsPerComponent", 8), intOf("Columns", 1)),
        ISO_8859_1)
    }

    def deref(p: P): P = p match {
      case PRef(n) => objects.get(n).map(deref).getOrElse(PWord("null"))
      case other => other
    }
    private def dictOf(p: P): Map[String, P] = deref(p) match {
      case PDict(m) => m
      case PStream(d, _) => d.v
      case _ => Map.empty
    }
    private def num(p: P): Double = deref(p) match {
      case PNum(v) => v
      case _ => 0.0
    }

    /** Decoded stream data (decrypt + full filter chain) as latin-1. */
    def streamData(p: P): String = deref(p) match {
      case st: PStream => applyFilterChain(st.dict.v, rawOf(st), deref)
      case _ => ""
    }

    private def inflate(raw: String): Option[String] = {
      try {
        val inf = new java.util.zip.Inflater()
        inf.setInput(raw.getBytes(ISO_8859_1))
        val out = new java.io.ByteArrayOutputStream(raw.length * 4)
        val buf = new Array[Byte](8192)
        while (!inf.finished()) {
          val n = inf.inflate(buf)
          // needsDictionary: a preset-dictionary zlib header (FDICT bit —
          // one bit flip away from a normal header) would otherwise return
          // n==0 with needsInput()==false forever: a hang, not an exception
          if (n == 0 && (inf.needsInput() || inf.needsDictionary())) return None
          out.write(buf, 0, n)
        }
        inf.end()
        Some(new String(out.toByteArray, ISO_8859_1))
      } catch { case _: Exception => None }
    }

    /** A pseudo-page's content: the decoded stream, except that a stream
      * declaring no /Filter whose body opens with a zlib header (a damaged
      * dictionary) is inflated when it inflates. */
    private def contentData(p: P): String = deref(p) match {
      case st: PStream if !st.dict.v.contains("Filter") && st.raw.length >= 2 &&
          st.raw.charAt(0) == 0x78 && (0x7800 + st.raw.charAt(1)) % 31 == 0 =>
        val raw = rawOf(st)
        inflate(raw).getOrElse(raw)
      case other => streamData(other)
    }

    /** `pseudo`: a stream read as a page because the file has no usable
      * page tree (see [[sizedPages]]). */
    case class Page(pageNo: Int, width: Double, height: Double,
                    content: String, resources: Map[String, P],
                    originX: Double = 0.0, originY: Double = 0.0,
                    pseudo: Boolean = false)

    /** The pages to read, each with its glyphs: the page tree's, unless
      * no tree page yields a glyph and the file has no /Encrypt (its raw
      * bytes would be ciphertext). Then the file's content streams are
      * read as [[pseudoPages]] instead, when the tree has no page at all
      * or when they yield a glyph (a damaged file whose tree still parses
      * but whose fonts or contents do not resolve). */
    lazy val sizedPages: Seq[(Page, Seq[SizedGlyph])] = {
      val tree = treePages.map(pg => pg -> interpretPageSized(pg))
      if (encrypted || tree.exists(_._2.nonEmpty)) tree
      else {
        val pseudo = pseudoPages.map(pg => pg -> interpretPageSized(pg))
        if (tree.isEmpty || pseudo.exists(_._2.nonEmpty)) pseudo else tree
      }
    }

    def pages: Seq[Page] = sizedPages.map(_._1)

    /** Pages in tree order with inherited Resources/MediaBox. */
    private def treePages: Seq[Page] = {
      // the last classic trailer with a /Root wins; xref-stream-only files
      // carry /Root in the stream dict, not a classic trailer; the bare
      // Catalog scan stays as the last resort
      val trailerRoot: Option[P] = trailers.reverseIterator.flatMap(_.get("Root")).nextOption()
        .orElse(objects.values.collectFirst {
          case PStream(d, _) if d.v.get("Type").contains(PName("XRef")) &&
            d.v.contains("Root") => d.v("Root")
        }).orElse(objects.collectFirst {
          case (n, PDict(m)) if m.get("Type").contains(PName("Catalog")) => PRef(n)
        })
      val out = mutable.ArrayBuffer.empty[Page]
      val seen = mutable.HashSet.empty[Int]
      def walk(node: P, inhRes: Map[String, P], inhBox: Option[Vector[Double]]): Unit = {
        node match {
          case PRef(n) if !seen.add(n) => return // cycle guard
          case _ =>
        }
        val d = dictOf(node)
        val res = d.get("Resources").map(dictOf).getOrElse(inhRes)
        val box = d.get("MediaBox").map(deref) match {
          case Some(PArr(a)) if a.length == 4 => Some(a.map(num).toVector)
          case _ => inhBox
        }
        d.get("Type").map(deref) match {
          case Some(PName("Pages")) =>
            deref(d.getOrElse("Kids", PArr(Vector.empty))) match {
              case PArr(kids) => kids.foreach(k => walk(k, res, box))
              case _ =>
            }
          case Some(PName("Page")) =>
            val b = box.getOrElse(Vector(0.0, 0.0, 612.0, 792.0))
            val content = d.get("Contents").map(deref) match {
              case Some(PArr(cs)) => cs.map(streamData).mkString("\n")
              case Some(st) => streamData(st)
              case None => ""
            }
            // carry the MediaBox origin: device coords are absolute, but
            // item bboxes (and the top-left flip) are page-relative
            out += Page(out.length + 1, b(2) - b(0), b(3) - b(1), content, res,
              originX = b(0), originY = b(1))
          case _ =>
        }
      }
      trailerRoot.map(deref).foreach { cat =>
        dictOf(cat).get("Pages").foreach(p => walk(p, Map.empty, None))
      }
      out.toSeq
    }

    /** Every content stream in the file as a 612x792 pseudo-page, in file
      * order. A pseudo-page has no resources: every font name on it reads
      * as [[latin1Font]]. Streams that declare a /Type or /Subtype (xref,
      * object, image, form streams) or a /Length1 (font programs) are not
      * page content. */
    private def pseudoPages: Seq[Page] = {
      // bodies after a keyword that no parsed object claimed (a damaged
      // object header) join them, with no dictionary
      val kw = StreamKw.matcher(s)
      while (kw.find()) {
        // claimed: the keyword opens or lies inside a known body
        val body = kw.end() + (if (s.startsWith("\r\n", kw.end())) 2 else 1)
        val claimed = fileStreams.maxBefore(body + 1)
          .exists { case (b0, st) => kw.start() < b0 + st.raw.length }
        if (!claimed) streamAt(kw.start(), PWord("null"))
      }
      fileStreams.values.filter { st =>
        !Seq("Type", "Subtype", "Length1").exists(st.dict.v.contains)
      }.zipWithIndex.map { case (st, k) =>
        Page(k + 1, 612.0, 792.0, contentData(st), Map.empty, pseudo = true)
      }.toSeq
    }

    // ----------------------------------------------------------- fonts
    sealed trait PFont {
      /** Split raw shown bytes into (code, unicode) pairs. */
      def codes(raw: String): Seq[(Int, String)]
      def width(code: Int): Double // per mille
      def isSpace(code: Int): Boolean
      def wordSpacingCode: Int // byte Tw applies to (-1 for 2-byte fonts)
    }

    final class SimpleFont(toUni: Array[String], widths: Array[Double]) extends PFont {
      def codes(raw: String): Seq[(Int, String)] =
        raw.map(c => (c.toInt & 0xFF, toUni(c.toInt & 0xFF)))
      def width(code: Int): Double = widths(code)
      def isSpace(code: Int): Boolean = code == 32 || toUni(code) == " "
      def wordSpacingCode: Int = 32
    }

    final class CidFont(toUni: Map[Int, String], widths: Map[Int, Double],
                        dw: Double) extends PFont {
      def codes(raw: String): Seq[(Int, String)] = {
        val out = mutable.ArrayBuffer.empty[(Int, String)]
        var k = 0
        while (k + 1 < raw.length) {
          val code = ((raw.charAt(k) & 0xFF) << 8) | (raw.charAt(k + 1) & 0xFF)
          out += ((code, toUni.getOrElse(code, "")))
          k += 2
        }
        out.toSeq
      }
      def width(code: Int): Double = widths.getOrElse(code, dw)
      def isSpace(code: Int): Boolean = toUni.getOrElse(code, "") == " "
      def wordSpacingCode: Int = -1
    }

    private def winAnsiChar(b: Int): String = {
      val out = new String(Array(b.toByte), java.nio.charset.Charset.forName("windows-1252"))
      if (out.isEmpty || out.charAt(0) == '�') "" else out
    }

    private def winAnsiTable(): Array[String] = Array.tabulate(256)(winAnsiChar)

    /** Adobe StandardEncoding (ISO 32000-1 Annex D.2) — the built-in default
      * for Type1 fonts that declare no /Encoding (PyMuPDF resolves these via
      * the font program; the table below is the documented Type1 default).
      * ASCII except quoteright/quoteleft at 0x27/0x60; the upper region maps
      * the Adobe symbol set, NOT Latin-1. */
    private def standardTable(): Array[String] = {
      val t = Array.tabulate(256) { b =>
        if (b >= 0x20 && b <= 0x7E) b.toChar.toString else ""
      }
      t(0x27) = "’"; t(0x60) = "‘"
      val high = Map(
        0xA1 -> "¡", 0xA2 -> "¢", 0xA3 -> "£", 0xA4 -> "⁄", 0xA5 -> "¥",
        0xA6 -> "ƒ", 0xA7 -> "§", 0xA8 -> "¤", 0xA9 -> "'",
        0xAA -> "“", 0xAB -> "«", 0xAC -> "‹", 0xAD -> "›",
        0xAE -> "ﬁ", 0xAF -> "ﬂ",
        0xB1 -> "–", 0xB2 -> "†", 0xB3 -> "‡", 0xB4 -> "·",
        0xB6 -> "¶", 0xB7 -> "•", 0xB8 -> "‚", 0xB9 -> "„",
        0xBA -> "”", 0xBB -> "»", 0xBC -> "…", 0xBD -> "‰",
        0xBF -> "¿",
        0xC1 -> "`", 0xC2 -> "´", 0xC3 -> "ˆ", 0xC4 -> "˜",
        0xC5 -> "¯", 0xC6 -> "˘", 0xC7 -> "˙", 0xC8 -> "¨",
        0xCA -> "˚", 0xCB -> "¸", 0xCD -> "˝", 0xCE -> "˛",
        0xCF -> "ˇ", 0xD0 -> "—",
        0xE1 -> "Æ", 0xE3 -> "ª", 0xE8 -> "Ł", 0xE9 -> "Ø", 0xEA -> "Œ",
        0xEB -> "º", 0xF1 -> "æ", 0xF5 -> "ı", 0xF8 -> "ł", 0xF9 -> "ø",
        0xFA -> "œ", 0xFB -> "ß")
      high.foreach { case (c, u) => t(c) = u }
      t
    }

    /** MacRomanEncoding via the JVM charset when present (it ships in every
      * mainstream JDK); WinAnsi fallback otherwise. */
    private def macRomanTable(): Array[String] =
      if (java.nio.charset.Charset.isSupported("x-MacRoman")) {
        val cs = java.nio.charset.Charset.forName("x-MacRoman")
        Array.tabulate(256) { b =>
          val out = new String(Array(b.toByte), cs)
          if (out.isEmpty || out.charAt(0) == '�') "" else out
        }
      } else winAnsiTable()

    /** Parse a ToUnicode CMap stream into code -> unicode string. */
    private def parseCMap(data: String): Map[Int, String] = {
      val out = mutable.HashMap.empty[Int, String]
      // -1 on overlong/garbage hex (4-byte codespaces are legal CMap syntax;
      // a single odd font must not kill the page's glyph extraction)
      def hexVal(h: String): Int =
        if (h.isEmpty || h.length > 6) -1
        else try Integer.parseInt(h, 16)
        catch { case _: NumberFormatException => -1 }
      def uniOf(h: String): String = {
        // hex groups of 4 = UTF-16BE code units
        val sb = new StringBuilder
        var k = 0
        while (k + 4 <= h.length) { sb += hexVal(h.substring(k, k + 4)).toChar; k += 4 }
        if (sb.isEmpty && h.length >= 2) sb += hexVal(h).toChar
        sb.result()
      }
      val pair = java.util.regex.Pattern.compile("<([0-9A-Fa-f]+)>\\s*<([0-9A-Fa-f]+)>")
      val bfchar = java.util.regex.Pattern.compile(
        "beginbfchar(.*?)endbfchar", java.util.regex.Pattern.DOTALL).matcher(data)
      while (bfchar.find()) {
        val mp = pair.matcher(bfchar.group(1))
        while (mp.find()) {
          val c = hexVal(mp.group(1))
          if (c >= 0) out(c) = uniOf(mp.group(2))
        }
      }
      val triple = java.util.regex.Pattern.compile(
        "<([0-9A-Fa-f]+)>\\s*<([0-9A-Fa-f]+)>\\s*(?:<([0-9A-Fa-f]+)>|\\[([^\\]]*)\\])")
      val bfrange = java.util.regex.Pattern.compile(
        "beginbfrange(.*?)endbfrange", java.util.regex.Pattern.DOTALL).matcher(data)
      while (bfrange.find()) {
        val mt = triple.matcher(bfrange.group(1))
        while (mt.find()) {
          val lo = hexVal(mt.group(1)); val hi = hexVal(mt.group(2))
          if (lo < 0 || hi < lo) ()
          else if (mt.group(3) != null) {
            val u = uniOf(mt.group(3))
            for (c <- lo to math.min(hi, lo + 65535)) {
              if (u.length <= 1 && u.nonEmpty)
                out(c) = (u.charAt(0) + (c - lo)).toChar.toString
              else if (u.nonEmpty)
                out(c) = u.dropRight(1) + (u.last + (c - lo)).toChar
            }
          } else if (mt.group(4) != null) {
            val one = java.util.regex.Pattern.compile("<([0-9A-Fa-f]+)>")
              .matcher(mt.group(4))
            var c = lo
            while (one.find() && c <= hi) { out(c) = uniOf(one.group(1)); c += 1 }
            // (lo >= 0 guaranteed by the guard above)
          }
        }
      }
      out.toMap
    }

    /** The font of every name on a pseudo-page (which has no resources):
      * Latin-1 codes with the built-in advance widths. */
    private lazy val latin1Font: PFont = new SimpleFont(
      Array.tabulate(256)(_.toChar.toString), Array.tabulate(256)(c => advance(c.toChar)))

    private val fontCache = mutable.HashMap.empty[Int, Option[PFont]]
    /** Build (and cache) the decoder for a font object. */
    def font(ref: P): Option[PFont] = {
      val key = ref match { case PRef(n) => n; case _ => -1 }
      if (key >= 0) fontCache.get(key) match {
        case Some(cached) => return cached
        case None =>
      }
      val d = dictOf(ref)
      val built: Option[PFont] =
        if (d.isEmpty) None
        else deref(d.getOrElse("Subtype", PWord("null"))) match {
          case PName("Type0") =>
            val desc = deref(d.getOrElse("DescendantFonts", PArr(Vector.empty))) match {
              case PArr(a) if a.nonEmpty => dictOf(a.head)
              case other => dictOf(other)
            }
            val dw = desc.get("DW").map(num).getOrElse(1000.0)
            val widths = mutable.HashMap.empty[Int, Double]
            deref(desc.getOrElse("W", PArr(Vector.empty))) match {
              case PArr(items) =>
                val it = items.map(deref)
                var k = 0
                while (k < it.length) {
                  (it(k), if (k + 1 < it.length) it(k + 1) else PWord("")) match {
                    case (PNum(start), PArr(ws)) =>
                      ws.map(num).zipWithIndex.foreach { case (w, j) =>
                        widths(start.toInt + j) = w
                      }
                      k += 2
                    case (PNum(start), PNum(end)) if k + 2 < it.length =>
                      val w = num(it(k + 2))
                      var c = start.toInt
                      while (c <= end.toInt) { widths(c) = w; c += 1 }
                      k += 3
                    case _ => k += 1
                  }
                }
              case _ =>
            }
            val toUni = d.get("ToUnicode").map(p => parseCMap(streamData(p)))
              .getOrElse(Map.empty[Int, String])
            Some(new CidFont(toUni, widths.toMap, dw))
          case subtype => // simple font (Type1/TrueType/Type3)
            val isType1 = subtype == PName("Type1") || subtype == PName("MMType1")
            // built-in default when no /Encoding (or a /Differences dict
            // without /BaseEncoding): an EMBEDDED Type1 program's own
            // encoding vector wins (its clear portion is plain PostScript —
            // `/Encoding StandardEncoding def` or `dup <code> /<name> put`
            // entries); unembedded Type1 falls to StandardEncoding and
            // TrueType stays on the pragmatic WinAnsi default. CFF
            // (FontFile3) binary encodings are not parsed — Standard.
            def type1ProgramEncoding(): Option[Array[String]] = {
              val desc = dictOf(d.getOrElse("FontDescriptor", PWord("null")))
              val ff = desc.get("FontFile").map(streamData).getOrElse("")
              if (ff.isEmpty) return None
              val head = ff.indexOf("eexec") match {
                case -1 => ff
                case i => ff.substring(0, i)
              }
              val encIdx = head.indexOf("/Encoding")
              if (encIdx < 0) return None
              val seg = head.substring(encIdx,
                math.min(head.length, encIdx + 32768))
              if (seg.startsWith("/Encoding StandardEncoding") ||
                  seg.contains("StandardEncoding def")) return Some(standardTable())
              val t = Array.fill(256)("")
              val m = java.util.regex.Pattern
                .compile("dup\\s+(\\d+)\\s*/([A-Za-z0-9._]+)\\s+put").matcher(seg)
              var found = false
              while (m.find()) {
                val code = safeInt(m.group(1))
                if (code >= 0 && code < 256) {
                  val u = GlyphNames.unicodeOf(m.group(2))
                  if (u.nonEmpty) { t(code) = u; found = true }
                }
              }
              if (found) Some(t) else None
            }
            // CFF (/FontFile3, Type1C): the binary program's own Encoding/
            // charset tables, names resolved through GlyphNames
            def cffProgramEncoding(): Option[Array[String]] = {
              val desc = dictOf(d.getOrElse("FontDescriptor", PWord("null")))
              val ff3 = desc.get("FontFile3").map(streamData).getOrElse("")
              if (ff3.isEmpty) None
              else CffEncoding.builtinEncoding(ff3.getBytes(ISO_8859_1))
                .map(_.map(GlyphNames.unicodeOf))
            }
            def builtinTable(): Array[String] =
              if (isType1)
                type1ProgramEncoding().orElse(cffProgramEncoding())
                  .getOrElse(standardTable())
              else winAnsiTable()
            def namedTable(n: String): Array[String] = n match {
              case "WinAnsiEncoding" => winAnsiTable()
              case "MacRomanEncoding" => macRomanTable()
              case "StandardEncoding" => standardTable()
              case _ => builtinTable()
            }
            val toUniArr = deref(d.getOrElse("Encoding", PWord("null"))) match {
              case PName(n) => namedTable(n)
              case PDict(enc) =>
                val base = enc.get("BaseEncoding").map(deref) match {
                  case Some(PName(n)) => namedTable(n)
                  case _ => builtinTable()
                }
                deref(enc.getOrElse("Differences", PArr(Vector.empty))) match {
                  case PArr(items) =>
                    var code = 0
                    items.map(deref).foreach {
                      case PNum(n) => code = n.toInt
                      case PName(g) =>
                        if (code >= 0 && code < 256) {
                          val u = GlyphNames.unicodeOf(g)
                          if (u.nonEmpty) base(code) = u
                        }
                        code += 1
                      case _ =>
                    }
                  case _ =>
                }
                base
              case _ => builtinTable()
            }
            // a ToUnicode CMap on a simple font overrides byte mappings
            d.get("ToUnicode").foreach { p =>
              parseCMap(streamData(p)).foreach { case (c, u) =>
                if (c >= 0 && c < 256 && u.nonEmpty) toUniArr(c) = u
              }
            }
            val widths = Array.fill(256)(0.0)
            val first = d.get("FirstChar").map(num(_).toInt).getOrElse(0)
            deref(d.getOrElse("Widths", PWord("null"))) match {
              case PArr(ws) =>
                ws.map(num).zipWithIndex.foreach { case (w, j) =>
                  if (first + j < 256 && first + j >= 0) widths(first + j) = w
                }
              case _ =>
            }
            val missing = dictOf(d.getOrElse("FontDescriptor", PWord("null")))
              .get("MissingWidth").map(num).getOrElse(0.0)
            var c = 0
            while (c < 256) {
              if (widths(c) == 0.0)
                widths(c) =
                  if (missing > 0) missing
                  else if (toUniArr(c).nonEmpty) advance(toUniArr(c).charAt(0))
                  else 500.0
              c += 1
            }
            Some(new SimpleFont(toUniArr, widths))
        }
      if (key >= 0) fontCache(key) = built
      built
    }

    // ----------------------------------------------------- content interp
    private type Mat = Array[Double] // a b c d e f
    private def matMul(m1: Mat, m2: Mat): Mat = Array(
      m1(0) * m2(0) + m1(1) * m2(2),
      m1(0) * m2(1) + m1(1) * m2(3),
      m1(2) * m2(0) + m1(3) * m2(2),
      m1(2) * m2(1) + m1(3) * m2(3),
      m1(4) * m2(0) + m1(5) * m2(2) + m2(4),
      m1(4) * m2(1) + m1(5) * m2(3) + m2(5))
    private def applyM(m: Mat, x: Double, y: Double): (Double, Double) =
      (m(0) * x + m(2) * y + m(4), m(1) * x + m(3) * y + m(5))
    private def identity: Mat = Array(1, 0, 0, 1, 0, 0)

    /** Interpret a page's content stream (and its form XObjects) into
      * glyphs, top-left flipped. */
    def interpretPage(page: Page): Seq[Glyph] =
      interpretPageSized(page).map(_.glyph)

    /** Like interpretPage but keeps the DEVICE-space font size per glyph
      * (real PDFs scale via Tm — `/F 1 Tf` + `22 0 0 22 x y Tm` is a
      * 22pt glyph) for PdfLayout's heading classification. */
    def interpretPageSized(page: Page): Seq[SizedGlyph] = {
      val glyphs = mutable.ArrayBuffer.empty[SizedGlyph]

      def run(content: String, resources: Map[String, P], ctm0: Mat, depth: Int): Unit = {
        if (depth > 8 || content.isEmpty) return
        val fonts: Map[String, P] =
          resources.get("Font").map(dictOf).getOrElse(Map.empty)
        val xobjs: Map[String, P] =
          resources.get("XObject").map(dictOf).getOrElse(Map.empty)
        val p = new ObjParser(content, 0)
        var ctm = ctm0
        var tm: Mat = identity; var tlm: Mat = identity
        var font: Option[PFont] = None
        var tfs = 1.0; var tc = 0.0; var tw = 0.0; var tz = 1.0; var tl = 0.0
        // q/Q save the WHOLE graphics state: CTM plus the text-state
        // parameters (font, size, Tc, Tw, Tz, TL) — generators routinely
        // wrap runs in q..Q and expect the outer font back afterwards.
        // (Tm/Tlm are NOT graphics state; BT resets them.)
        type GState = (Mat, Option[PFont], Double, Double, Double, Double, Double)
        val gsStack = mutable.ArrayBuffer.empty[GState]
        val operands = mutable.ArrayBuffer.empty[P]

        def nums(n: Int): Seq[Double] =
          operands.takeRight(n).collect { case PNum(v) => v }.toSeq

        def newline(): Unit = {
          tlm = matMul(Array(1, 0, 0, 1, 0, -tl), tlm); tm = tlm.clone()
        }

        def show(str: String): Unit = font.foreach { f =>
          for ((code, uni) <- f.codes(str)) {
            val w0 = f.width(code) / 1000.0
            val tx = (w0 * tfs + tc +
              (if (code == f.wordSpacingCode) tw else 0.0)) * tz
            if (uni.nonEmpty && uni.trim.nonEmpty) {
              val m = matMul(tm, ctm)
              val (xa, ya) = applyM(m, 0.0, -0.2 * tfs)
              val (xb, yb) = applyM(m, w0 * tfs * tz, 0.8 * tfs)
              val deviceSize = tfs * math.hypot(m(2), m(3))
              val gx0 = math.min(xa, xb) - page.originX
              val gx1 = math.max(xa, xb) - page.originX
              glyphs += SizedGlyph(Glyph(uni,
                gx0, page.height - (math.max(ya, yb) - page.originY),
                gx1, page.height - (math.min(ya, yb) - page.originY)), deviceSize)
            }
            tm = matMul(Array(1, 0, 0, 1, tx, 0), tm)
          }
        }

        while (!p.eof) {
          val tok = try p.value() catch { case _: Exception => return }
          tok match {
            case PWord(op) =>
              op match {
                case "q" => gsStack += ((ctm, font, tfs, tc, tw, tz, tl))
                case "Q" =>
                  if (gsStack.nonEmpty) {
                    val (c0, f0, s0, c1, w1, z1, l1) = gsStack.last
                    ctm = c0; font = f0; tfs = s0; tc = c1; tw = w1; tz = z1; tl = l1
                    gsStack.remove(gsStack.length - 1)
                  }
                case "cm" =>
                  val n = nums(6)
                  if (n.length == 6) ctm = matMul(n.toArray, ctm)
                case "BT" => tm = identity; tlm = identity
                case "Tf" =>
                  operands.takeRight(2).toList match {
                    case List(PName(fn), PNum(sz)) =>
                      font =
                        if (page.pseudo) Some(latin1Font)
                        else fonts.get(fn).flatMap(r => this.font(r))
                      tfs = sz
                    case _ =>
                  }
                case "Tc" => nums(1).foreach(v => tc = v)
                case "Tw" => nums(1).foreach(v => tw = v)
                case "Tz" => nums(1).foreach(v => tz = v / 100.0)
                case "TL" => nums(1).foreach(v => tl = v)
                case "Ts" => () // rise: ignored (sub/superscripts keep line y)
                case "Td" | "TD" =>
                  val n = nums(2)
                  if (n.length == 2) {
                    if (op == "TD") tl = -n(1)
                    tlm = matMul(Array(1, 0, 0, 1, n(0), n(1)), tlm)
                    tm = tlm.clone()
                  }
                case "Tm" =>
                  val n = nums(6)
                  if (n.length == 6) { tlm = n.toArray; tm = tlm.clone() }
                case "T*" => newline()
                case "Tj" => operands.lastOption.foreach {
                  case PStr(t) => show(t)
                  case _ =>
                }
                case "'" =>
                  newline()
                  operands.lastOption.foreach { case PStr(t) => show(t); case _ => }
                case "\"" =>
                  operands.takeRight(3).toList match {
                    case List(PNum(aw), PNum(ac), PStr(t)) =>
                      tw = aw; tc = ac; newline(); show(t)
                    case _ =>
                  }
                case "TJ" =>
                  operands.lastOption.foreach {
                    case PArr(items) =>
                      items.foreach {
                        case PStr(t) => show(t)
                        case PNum(adj) =>
                          tm = matMul(Array(1, 0, 0, 1, -adj / 1000.0 * tfs * tz, 0), tm)
                        case _ =>
                      }
                    case _ =>
                  }
                case "Do" =>
                  operands.lastOption.foreach {
                    case PName(xn) =>
                      xobjs.get(xn).map(deref).foreach {
                        case st @ PStream(d, _)
                            if d.v.get("Subtype").map(deref).contains(PName("Form")) =>
                          val mtx = deref(d.v.getOrElse("Matrix", PWord("null"))) match {
                            case PArr(a) if a.length == 6 => a.map(num).toArray
                            case _ => identity
                          }
                          val childRes = d.v.get("Resources").map(dictOf)
                            .getOrElse(resources)
                          run(streamData(st), childRes, matMul(mtx, ctm), depth + 1)
                        case _ => // images: no text
                      }
                    case _ =>
                  }
                case "BI" =>
                  // inline image: skip past the binary payload to EI
                  val e = content.indexOf("EI", p.i)
                  p.i = if (e >= 0) e + 2 else content.length
                case _ => // paths, colors, graphics state: no text effect
              }
              operands.clear()
            case operand =>
              operands += operand
              if (operands.length > 64) operands.remove(0) // runaway guard
          }
        }
      }

      run(page.content, page.resources, identity, 0)
      glyphs.toSeq
    }
  }

  /** /Differences glyph-name -> unicode (Adobe Glyph List subset covering
    * Latin, Romanian diacritics, and report punctuation). */
  private object GlyphNames {
    private val table: Map[String, String] = Map(
      "space" -> " ", "exclam" -> "!", "quotedbl" -> "\"", "numbersign" -> "#",
      "dollar" -> "$", "percent" -> "%", "ampersand" -> "&", "quotesingle" -> "'",
      "parenleft" -> "(", "parenright" -> ")", "asterisk" -> "*", "plus" -> "+",
      "comma" -> ",", "hyphen" -> "-", "period" -> ".", "slash" -> "/",
      "zero" -> "0", "one" -> "1", "two" -> "2", "three" -> "3", "four" -> "4",
      "five" -> "5", "six" -> "6", "seven" -> "7", "eight" -> "8", "nine" -> "9",
      "colon" -> ":", "semicolon" -> ";", "less" -> "<", "equal" -> "=",
      "greater" -> ">", "question" -> "?", "at" -> "@", "bracketleft" -> "[",
      "backslash" -> "\\", "bracketright" -> "]", "underscore" -> "_",
      "quoteleft" -> "‘", "quoteright" -> "’",
      "quotedblleft" -> "“", "quotedblright" -> "”",
      "endash" -> "–", "emdash" -> "—", "bullet" -> "•",
      "Euro" -> "€", "abreve" -> "ă", "Abreve" -> "Ă",
      "acircumflex" -> "â", "Acircumflex" -> "Â",
      "icircumflex" -> "î", "Icircumflex" -> "Î",
      "scommaaccent" -> "ș", "Scommaaccent" -> "Ș",
      "tcommaaccent" -> "ț", "Tcommaaccent" -> "Ț",
      "scedilla" -> "ş", "Scedilla" -> "Ş",
      "tcedilla" -> "ţ", "Tcedilla" -> "Ţ",
      "fi" -> "ﬁ", "fl" -> "ﬂ", "Delta" -> "∆",
      "braceleft" -> "{", "bar" -> "|", "braceright" -> "}",
      "asciitilde" -> "~", "asciicircum" -> "^", "grave" -> "`",
      "exclamdown" -> "¡", "cent" -> "¢", "sterling" -> "£",
      "currency" -> "¤", "yen" -> "¥", "brokenbar" -> "¦", "section" -> "§",
      "dieresis" -> "¨", "copyright" -> "©", "ordfeminine" -> "ª",
      "guillemotleft" -> "«", "logicalnot" -> "¬", "registered" -> "®",
      "macron" -> "¯", "degree" -> "°", "plusminus" -> "±",
      "acute" -> "´", "mu" -> "µ", "paragraph" -> "¶", "periodcentered" -> "·",
      "cedilla" -> "¸", "ordmasculine" -> "º", "guillemotright" -> "»",
      "onequarter" -> "¼", "onehalf" -> "½", "threequarters" -> "¾",
      "questiondown" -> "¿", "multiply" -> "×", "divide" -> "÷",
      "Agrave" -> "À", "Aacute" -> "Á", "Atilde" -> "Ã", "Adieresis" -> "Ä",
      "Aring" -> "Å", "AE" -> "Æ", "Ccedilla" -> "Ç", "Egrave" -> "È",
      "Eacute" -> "É", "Ecircumflex" -> "Ê", "Edieresis" -> "Ë",
      "Igrave" -> "Ì", "Iacute" -> "Í", "Idieresis" -> "Ï", "Eth" -> "Ð",
      "Ntilde" -> "Ñ", "Ograve" -> "Ò", "Oacute" -> "Ó", "Ocircumflex" -> "Ô",
      "Otilde" -> "Õ", "Odieresis" -> "Ö", "Oslash" -> "Ø", "Ugrave" -> "Ù",
      "Uacute" -> "Ú", "Ucircumflex" -> "Û", "Udieresis" -> "Ü",
      "Yacute" -> "Ý", "Thorn" -> "Þ", "germandbls" -> "ß",
      "agrave" -> "à", "aacute" -> "á", "atilde" -> "ã", "adieresis" -> "ä",
      "aring" -> "å", "ae" -> "æ", "ccedilla" -> "ç", "egrave" -> "è",
      "eacute" -> "é", "ecircumflex" -> "ê", "edieresis" -> "ë",
      "igrave" -> "ì", "iacute" -> "í", "idieresis" -> "ï", "eth" -> "ð",
      "ntilde" -> "ñ", "ograve" -> "ò", "oacute" -> "ó", "ocircumflex" -> "ô",
      "otilde" -> "õ", "odieresis" -> "ö", "oslash" -> "ø", "ugrave" -> "ù",
      "uacute" -> "ú", "ucircumflex" -> "û", "udieresis" -> "ü",
      "yacute" -> "ý", "thorn" -> "þ", "ydieresis" -> "ÿ",
      "OE" -> "Œ", "oe" -> "œ", "Scaron" -> "Š", "scaron" -> "š",
      "Zcaron" -> "Ž", "zcaron" -> "ž", "Ydieresis" -> "Ÿ",
      "florin" -> "ƒ", "circumflex" -> "ˆ", "tilde" -> "˜",
      "dagger" -> "†", "daggerdbl" -> "‡", "ellipsis" -> "…",
      "perthousand" -> "‰", "guilsinglleft" -> "‹", "guilsinglright" -> "›",
      "quotesinglbase" -> "‚", "quotedblbase" -> "„", "trademark" -> "™",
      "minus" -> "−", "fraction" -> "⁄", "dotlessi" -> "ı",
      "Lslash" -> "Ł", "lslash" -> "ł", "ring" -> "˚", "breve" -> "˘",
      "dotaccent" -> "˙", "ogonek" -> "˛", "caron" -> "ˇ",
      "hungarumlaut" -> "˝")
    def unicodeOf(g: String): String =
      table.getOrElse(g,
        if (g.startsWith("uni") && g.length >= 7)
          try Integer.parseInt(g.substring(3, 7), 16).toChar.toString
          catch { case _: NumberFormatException => "" }
        else if (g.length == 1) g
        else "")
  }

  /** One page of a read file: its number, its size and its sized glyphs. */
  case class PageRead(pageNo: Int, width: Double, height: Double, glyphs: Seq[SizedGlyph])

  /** The file's pages with their glyphs (see [[Document.sizedPages]]): the
    * one read behind `PdfLayout.buildDoc` and [[extractGlyphsAuto]]. Empty
    * when the file does not parse or is locked; never throws. */
  def readPages(pdf: Array[Byte]): Seq[PageRead] =
    try {
      new Document(pdf).sizedPages.map { case (pg, g) =>
        PageRead(pg.pageNo, pg.width, pg.height, g)
      }
    } catch { case _: Exception => Seq.empty }

  /** Per-page glyphs of pages already read. */
  def glyphsOf(pages: Seq[PageRead]): Map[Int, Seq[Glyph]] =
    pages.map(p => p.pageNo -> p.glyphs.map(_.glyph)).toMap

  /** Per-page glyphs of a file; empty when it does not parse or is locked. */
  def extractGlyphsAuto(pdf: Array[Byte]): Map[Int, Seq[Glyph]] = glyphsOf(readPages(pdf))
}
