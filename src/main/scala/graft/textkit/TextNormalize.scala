package graft.textkit

import java.nio.charset.{Charset, CharsetEncoder, CodingErrorAction, CharacterCodingException, StandardCharsets}
import java.nio.{ByteBuffer, CharBuffer}

/** Encoding-artifact repair.
  * Semantics derived from
  * /root/reference/src/pdf_to_markdown_docling/text_normalize.py:5-74.
  */
object TextNormalize {
  private val RomanianDiacritics = "ăâîșțĂÂÎȘȚ"
  private val LigatureMap = List(
    "ﬁ" -> "fi", "ﬂ" -> "fl", "ﬀ" -> "ff", "ﬃ" -> "ffi", "ﬄ" -> "ffl")

  // CP1252 positions with no assigned character. CPython's cp1252 codec
  // refuses to encode these (our strict-encode mirror must too); the JDK's
  // windows-1252 encoder would silently pass them through as C1 bytes.
  private def isCp1252Undefined(c: Char): Boolean =
    c == '\u0081' || c == '\u008D' || c == '\u008F' || c == '\u0090' || c == '\u009D'

  private val Attempts = Seq(
    (Charset.forName("windows-1252"), true),
    (StandardCharsets.ISO_8859_1, false))

  /** text_normalize.py:16-26 */
  def mojibakeScore(text: String): Int = {
    var score = 0
    var i = 0
    while (i < text.length) {
      val ch = text.charAt(i)
      val code = ch.toInt
      if (code >= 0x80 && code <= 0x9F) score += 3
      // Latin-1 letters, except the four Romanian ones (â î Â Î)
      else if (code >= 0xC0 && code <= 0xFF && code != 0xE2 && code != 0xEE &&
        code != 0xC2 && code != 0xCE) score += 1
      else if (code == 0xFFFD) score += 4
      i += 1
    }
    score
  }

  private[textkit] def romanianDiacriticCount(text: String): Int = {
    var count = 0
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (c >= '\u00C2' && RomanianDiacritics.indexOf(c) >= 0) count += 1
      i += 1
    }
    count
  }

  /** Strict `text.encode(enc).decode('utf-8')` round trip, None on failure. */
  private def roundTrip(text: String, charset: Charset, cp1252Mode: Boolean): Option[String] = {
    if (cp1252Mode && text.exists(isCp1252Undefined)) return None
    try {
      val encoder: CharsetEncoder = charset.newEncoder()
        .onMalformedInput(CodingErrorAction.REPORT)
        .onUnmappableCharacter(CodingErrorAction.REPORT)
      val bytes: ByteBuffer = encoder.encode(CharBuffer.wrap(text))
      val decoder = StandardCharsets.UTF_8.newDecoder()
        .onMalformedInput(CodingErrorAction.REPORT)
        .onUnmappableCharacter(CodingErrorAction.REPORT)
      Some(decoder.decode(bytes).toString)
    } catch {
      case _: CharacterCodingException => None
    }
  }

  /** text_normalize.py:33-64 — CP1252/Latin-1 mojibake round-trip repair. */
  def normalizeMojibakeText(text: String): String = {
    if (text == null || text.length < 4) return text
    val baseScore = mojibakeScore(text)
    if (baseScore == 0) return text

    val baseDiacritics = romanianDiacriticCount(text)
    var best = text
    var bestScore = baseScore

    for ((cs, cpMode) <- Attempts) {
      roundTrip(text, cs, cpMode) match {
        case Some(candidate) if candidate != text =>
          val candScore = mojibakeScore(candidate)
          if (candScore < bestScore) {
            val candDiacritics = romanianDiacriticCount(candidate)
            val lengthOk = candidate.length >= math.max(4, (text.length * 0.9).toInt)
            if (!(candDiacritics < baseDiacritics + 1 && candScore >= 2) && lengthOk) {
              best = candidate
              bestScore = candScore
            }
          }
        case _ =>
      }
    }
    best
  }

  /** text_normalize.py:67-74 */
  def normalizeLigatures(text: String): String = {
    if (text == null || text.isEmpty) return text
    // one scan instead of five contains() passes: every mapped ligature is
    // in U+FB00..FB04, so text without a char in that range is unchanged
    var i = 0
    var hasLig = false
    while (!hasLig && i < text.length) {
      val c = text.charAt(i)
      if (c >= 'ﬀ' && c <= 'ﬄ') hasLig = true
      i += 1
    }
    if (!hasLig) return text
    var out = text
    for ((k, v) <- LigatureMap) if (out.contains(k)) out = out.replace(k, v)
    out
  }
}
