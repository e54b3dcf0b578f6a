package org.apache.spark.sql.graftext

import java.text.Normalizer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The whole [[graft.operators.Normalize]] cleaning chain as ONE native
  * expression: mojibake repair, Unicode normalization (`form`), CRLF/CR
  * to LF, C0/C1 control strip, space-separator map, zero-width strip —
  * in that order, with the exact output of running each step as its
  * own pass (OperatorsSpec pins it against such a Column chain).
  *
  * One scan of the UTF-8 bytes decides the common case: a string whose
  * every byte is printable ASCII, TAB or LF is left unchanged by every
  * step under every form, so the input object is returned with no
  * decode, no copy and no allocation. Anything else is decoded once,
  * the steps run on the one `String` (mojibake replaces only when a
  * signature lead char is present; `Normalizer` only when the text is
  * not already in `form`; the four per-char steps fused into one
  * pass), and the result is encoded once.
  *
  * `form` and `repairMojibake` are construction-time literals, so the
  * generated code calls [[NormalizeText.compute]] with constants. */
case class NormalizeText(child: Expression, form: String,
                         repairMojibake: Boolean)
    extends UnaryExpression with ImplicitCastInputTypes {

  require(UnicodeNormalize.Forms.contains(form),
    s"unknown normalization form '$form' " +
      s"(one of ${UnicodeNormalize.Forms.keys.mkString(", ")})")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)

  override def dataType: DataType = StringType

  override def prettyName: String = "normalize_text"

  override def nullSafeEval(s: Any): Any =
    NormalizeText.compute(s.asInstanceOf[UTF8String], form, repairMojibake)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = org.apache.spark.sql.graftext.NormalizeText
         |  .compute($c, "$form", $repairMojibake);""".stripMargin)

  override protected def withNewChildInternal(
      newChild: Expression): NormalizeText = copy(child = newChild)
}

object NormalizeText {

  /** cp1252-misdecoded UTF-8 signatures -> intended character, applied
    * as successive replace-all passes in this order. Each KEY is the
    * exact char sequence a cp1252 decode produces from the UTF-8 bytes
    * of the VALUE (for the one byte cp1252 leaves unmapped, 0x9D, the
    * latin-1 fallback U+009D). Every key starts with U+00E2, U+00C3 or
    * U+00C2 and no value contains one of those, so a string without
    * them is left unchanged by every pass. The passes are sequential,
    * not one longest-match scan: a value can complete a later key
    * (U+00E2 U+20AC + the left-double-quote value is the en-dash key),
    * and the chain's output is the contract.
    *
    * Source hygiene: every character here is a backslash-u escape, so
    * the file greps and diffs as plain ASCII. */
  val MojibakeRepairs: Seq[(String, String)] = Seq(
    "\u00E2\u20AC\u2122" -> "\u2019", // right single quote
    "\u00E2\u20AC\u02DC" -> "\u2018", // left single quote (98 -> small tilde)
    "\u00E2\u20AC\u0153" -> "\u201C", // left double quote
    "\u00E2\u20AC\u009D" -> "\u201D", // right double quote (9D via latin-1)
    "\u00E2\u20AC\u201C" -> "\u2013", // en dash
    "\u00E2\u20AC\u201D" -> "\u2014", // em dash
    "\u00E2\u20AC\u00A6" -> "\u2026", // ellipsis
    "\u00E2\u20AC\u00A2" -> "\u2022", // bullet
    "\u00C3\u00A9" -> "\u00E9", // e acute
    "\u00C3\u00A8" -> "\u00E8", // e grave
    "\u00C3\u00A1" -> "\u00E1", // a acute
    "\u00C3\u00A0" -> "\u00E0", // a grave (signature ends in NBSP)
    "\u00C3\u00A4" -> "\u00E4", // a umlaut
    "\u00C3\u00B6" -> "\u00F6", // o umlaut
    "\u00C3\u00BC" -> "\u00FC", // u umlaut
    "\u00C3\u00B1" -> "\u00F1", // n tilde
    "\u00C3\u00A7" -> "\u00E7", // c cedilla
    "\u00C3\u00B3" -> "\u00F3", // o acute
    "\u00C3\u00AD" -> "\u00ED", // i acute (signature ends in SOFT HYPHEN)
    "\u00C3\u00BA" -> "\u00FA", // u acute
    "\u00C2\u00A0" -> "\u00A0") // NBSP; space normalization finishes it

  private val keys = MojibakeRepairs.map(_._1).toArray
  private val values = MojibakeRepairs.map(_._2).toArray

  def compute(s: UTF8String, form: String,
              repairMojibake: Boolean): UTF8String = {
    if (isPlainAscii(s)) return s
    var t = s.toString
    if (repairMojibake && hasSignatureLead(t)) {
      var i = 0
      while (i < keys.length) { t = t.replace(keys(i), values(i)); i += 1 }
    }
    val f = UnicodeNormalize.Forms(form)
    if (!Normalizer.isNormalized(t, f)) t = Normalizer.normalize(t, f)
    UTF8String.fromString(foldChars(t))
  }

  /** Every byte printable ASCII (0x20-0x7E), TAB or LF. */
  private def isPlainAscii(s: UTF8String): Boolean = {
    val base = s.getBaseObject
    val end = s.getBaseOffset + s.numBytes()
    var p = s.getBaseOffset
    while (p < end) {
      val b = Platform.getByte(base, p)
      if ((b < 0x20 || b == 0x7F) && b != '\t' && b != '\n') return false
      p += 1
    }
    true
  }

  private def hasSignatureLead(t: String): Boolean = {
    var i = 0
    while (i < t.length) {
      val c = t.charAt(i)
      if (c == 0xE2 || c == 0xC3 || c == 0xC2) return true
      i += 1
    }
    false
  }

  // C0 minus TAB/LF/CR (CR folds to LF first), DEL, C1
  private def isControl(c: Char): Boolean =
    c <= 0x08 || c == 0x0B || c == 0x0C || (c >= 0x0E && c <= 0x1F) ||
      (c >= 0x7F && c <= 0x9F)

  // NBSP, ogham space, en..hair spaces, narrow NBSP, medium math
  // space, ideographic space
  private def isSpace(c: Char): Boolean =
    c == 0xA0 || c == 0x1680 || (c >= 0x2000 && c <= 0x200A) ||
      c == 0x202F || c == 0x205F || c == 0x3000

  // ZWSP, ZWNJ, ZWJ, BOM
  private def isZeroWidth(c: Char): Boolean =
    (c >= 0x200B && c <= 0x200D) || c == 0xFEFF

  /** CRLF and lone CR to LF, controls and zero-widths dropped, space
    * separators to a plain space — one pass. The classes are disjoint
    * and none maps into another, so fusing the chain's four passes
    * changes nothing; a CR looks only at the next char, which is what
    * the CRLF pass saw, as it ran before any strip. */
  private def foldChars(t: String): String = {
    val n = t.length
    var i = 0
    while (i < n && !needsFold(t.charAt(i))) i += 1
    if (i == n) return t
    val sb = new java.lang.StringBuilder(n)
    sb.append(t, 0, i)
    while (i < n) {
      val c = t.charAt(i)
      if (c == '\r') {
        sb.append('\n')
        if (i + 1 < n && t.charAt(i + 1) == '\n') i += 1
      } else if (isSpace(c)) sb.append(' ')
      else if (!isControl(c) && !isZeroWidth(c)) sb.append(c)
      i += 1
    }
    sb.toString
  }

  private def needsFold(c: Char): Boolean =
    c == '\r' || isControl(c) || isSpace(c) || isZeroWidth(c)

  def apply(c: Column, form: String, repairMojibake: Boolean): Column =
    ExpressionUtils.column(
      NormalizeText(ExpressionUtils.expression(c), form, repairMojibake))
}
