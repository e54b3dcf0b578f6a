package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graftext.NormalizeText

/** Text normalization / mojibake repair -- the cleaning pass that runs
  * BEFORE tokenization, dedup, or language-ID on any real crawl
  * corpus: encoding noise otherwise fractures every downstream signal
  * (the NFC and NFD byte-forms of one accented word hash apart,
  * shingle apart, and train as two vocabulary entries). The ftfy/NFKC
  * class of fixes, as ONE native per-row kernel
  * ([[org.apache.spark.sql.graftext.NormalizeText]]) -- one scan of
  * the bytes per document, zero shuffle at any scale.
  *
  * Pipeline, in order (order is part of the contract):
  *   1. Mojibake repair: the classic UTF-8-bytes-decoded-as-cp1252
  *      sequences map back to the characters they were (the "a-hat
  *      euro trademark" signature back to a right single quote,
  *      "A-tilde + copyright" back to e-acute, ...). Pattern-based
  *      (fixed table), BEFORE normalization so the byte signatures are
  *      still intact.
  *   2. Unicode normalization, `java.text.Normalizer` as in the
  *      [[org.apache.spark.sql.graftext.UnicodeNormalize]] expression
  *      (form is the caller's choice; NFKC is the corpus-pipeline
  *      default, NFC the externally-oracle-able one).
  *   3. Line-ending canonicalization: CRLF and lone CR become LF.
  *   4. Remaining C0/C1 controls (except tab and LF) strip.
  *   5. Unicode space separators (NBSP, ogham/en/em-family spaces,
  *      narrow NBSP, ideographic space) become plain spaces;
  *      zero-width characters (ZWSP/ZWNJ/ZWJ/BOM) strip. Explicit
  *      even under NFKC (which maps the spaces but not the
  *      zero-widths).
  *
  * Text whose every byte is printable ASCII, TAB or LF is left
  * unchanged by all five steps under every form; the kernel returns it
  * as is without decoding it.
  *
  * Emits (id, text_norm, changed) + `passthroughCols`; `changed` makes
  * the noise rate observable (the fraction of repaired docs is itself
  * a corpus-quality signal). */
object Normalize {

  /** cp1252-misdecoded UTF-8 signatures -> intended character: the
    * repair table of step 1 (see
    * [[org.apache.spark.sql.graftext.NormalizeText.MojibakeRepairs]]). */
  val MojibakeRepairs: Seq[(String, String)] = NormalizeText.MojibakeRepairs

  /** The full normalization chain as a Column -- the registry-friendly
    * form ([[graft.Functioniser.registerFunction]] takes exactly this
    * shape; see the "normalize_text" spec). One pass: the native
    * [[org.apache.spark.sql.graftext.NormalizeText]] kernel returns
    * clean text (every byte printable ASCII, TAB or LF) unchanged
    * without decoding it, and otherwise decodes once, runs the five
    * steps and encodes once. */
  def normalizeColumn(c: Column, form: String = "NFKC",
                      repairMojibake: Boolean = true): Column =
    NormalizeText(c, form, repairMojibake)

  def normalizeText(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text", form: String = "NFKC",
                    repairMojibake: Boolean = true,
                    passthroughCols: Seq[String] = Nil): DataFrame = {
    // the kernel behind an alias of its own, so `text_norm` and
    // `changed` read one evaluation (CollapseProject keeps a non-cheap
    // producer with two uses in its own Project)
    val norm = "_graft_text_norm"
    docs.withColumn(norm, normalizeColumn(col(textCol), form, repairMojibake))
      .select(Seq(col(idCol), col(norm).as("text_norm"),
        (!(col(norm) <=> col(textCol))).as("changed")) ++
        passthroughCols.map(col): _*)
  }
}
