package graft.functions

import graft.plans.FunctionEntry
import org.apache.spark.sql.functions.udf

/** The presto-i18n-functions surface (reference: presto-i18n-functions/.../
  * I18nMyanmarFunctions.java:42-68): `myanmar_font_encoding` labels a string
  * as 'zawgyi' or 'unicode', and `myanmar_normalize_unicode` converts
  * Zawgyi-encoded lines to standard Unicode, line by line (the reference
  * splits on '\n', detects each piece, converts only pieces over the 0.9
  * confidence threshold — I18nMyanmarFunctions.java:57-67).
  *
  * Documented narrowing: the reference delegates to google/myanmar-tools,
  * whose ZawgyiDetector is a TRAINED Markov model shipping opaque fitted
  * transition probabilities — not reproducible from public semantics. This
  * implementation replaces the probabilistic detector with deterministic
  * structural rules capturing what the model learns:
  *
  *   1. code points U+1060–U+1097 — the Mon/Shan/Karen extension block that
  *      Zawgyi repurposes for stacked-consonant and medial glyph variants,
  *      essentially absent from Burmese Unicode text — are Zawgyi evidence;
  *      so are U+1033/U+1034 (Zawgyi-only glyph variants of the vowels
  *      U+102F/U+1030) and U+105A;
  *   2. U+1039 (in Unicode an INVISIBLE stacking virama that must be
  *      followed by a consonant U+1000–U+1021) at end-of-line or before a
  *      non-consonant is Zawgyi's visible-asat usage;
  *   3. U+1031 (pre-base vowel E, stored AFTER its consonant in Unicode
  *      logical order) at start-of-line or after a non-consonant/non-medial
  *      is Zawgyi visual order.
  *
  * The transliteration applies the single-code-point slice of the
  * myanmar-tools Z2U table simultaneously (so 1039→103A does not cascade
  * into 103A→103B): 1033→102F, 1034→1030, 1039→103A (asat), and the medial
  * shift 103A→103B (ya), 103B→103C (ra), 103C→103D (wa), 103D→103E (ha);
  * then restores logical order for pre-written medial-ra and vowel-E.
  * Multi-glyph contextual rules (the U+1060 block) pass through unchanged —
  * documented, loudly incomplete rather than silently wrong.
  */
object I18nFunctions {

  private def isConsonant(c: Char): Boolean = c >= '\u1000' && c <= '\u1021'
  private def isMedial(c: Char): Boolean = c >= '\u103B' && c <= '\u103E'

  /** Structural Zawgyi evidence for one '\n'-free piece. */
  private[graft] def looksZawgyi(piece: String): Boolean = {
    var i = 0
    while (i < piece.length) {
      val c = piece.charAt(i)
      // rule 1: Zawgyi-repurposed code points
      if ((c >= '\u1060' && c <= '\u1097') || c == '\u1033' || c == '\u1034' ||
        c == '\u105A') return true
      // rule 2: visible-asat usage of the invisible virama
      if (c == '\u1039' &&
        (i + 1 >= piece.length || !isConsonant(piece.charAt(i + 1)))) return true
      // rule 3: visual-order pre-base vowel E
      if (c == '\u1031') {
        val prevOk = i > 0 && {
          val p = piece.charAt(i - 1)
          isConsonant(p) || isMedial(p) || p == '\u103F'
        }
        if (!prevOk) return true
      }
      i += 1
    }
    false
  }

  /** Single-code-point slice of the Z2U table (see scaladoc). */
  private val z2u: Map[Char, Char] = Map(
    '\u1033' -> '\u102F', '\u1034' -> '\u1030', '\u1039' -> '\u103A',
    '\u103A' -> '\u103B', '\u103B' -> '\u103C', '\u103C' -> '\u103D',
    '\u103D' -> '\u103E')

  private[graft] def convertZ2U(piece: String): String = {
    // simultaneous per-char map (no cascading)
    val mapped = piece.map(c => z2u.getOrElse(c, c))
    // restore logical order: pre-written medial-ra (now U+103C) moves after
    // its consonant, then pre-written vowel E after consonant(+medials)
    val raFixed = "(\\u103C)([\\u1000-\\u1021])".r
      .replaceAllIn(mapped, m => m.group(2) + m.group(1))
    "(\\u1031)([\\u1000-\\u1021\\u103F])([\\u103B-\\u103E]*)".r
      .replaceAllIn(raFixed, m => m.group(2) + m.group(3) + m.group(1))
  }

  private[graft] def fontEncoding(s: String): String =
    if (s.split("\n", -1).exists(looksZawgyi)) "zawgyi" else "unicode"

  private[graft] def normalizeUnicode(s: String): String =
    s.split("\n", -1)
      .map(p => if (looksZawgyi(p)) convertZ2U(p) else p)
      .mkString("\n")

  lazy val functions: Seq[FunctionEntry] = Seq(
    FunctionEntry.udf("myanmar_font_encoding",
      udf((s: String) => if (s == null) null else fontEncoding(s))),
    FunctionEntry.udf("myanmar_normalize_unicode",
      udf((s: String) => if (s == null) null else normalizeUnicode(s))),
  )
}
