package org.apache.spark.sql.graftext

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Compiled public-suffix rule table implementing the full PSL
  * algorithm (publicsuffix.org/list/ — public data): normal rules,
  * `*.` wildcard rules, `!` exception rules; the prevailing rule is
  * the exception if one matches, else the match with the most labels,
  * else the implicit `*` (last label). The registrable domain
  * (eTLD+1) is one label more than the prevailing public suffix; a
  * host that IS a public suffix, has fewer than two labels, or ends
  * in an all-digit label (IPv4-ish) returns itself — the same edge
  * conventions as the compact [[graft.operators.UrlOps
  * .registeredDomain]] subset, so swapping lists never changes the
  * unmatched-host behavior.
  *
  * The table is hash-set lookups bucketed by label count — O(labels)
  * per host with O(1) membership tests, the shape a 9k-entry PSL
  * needs (a `typedlit` array scan would be O(|rules|) per row).
  * Private-domain entries (`github.io`, `blogspot.com`, ...) are
  * ordinary rules here, exactly as the PSL file ships them: include
  * or exclude them by what you load. Matching is byte-literal after
  * lowercasing: the canonical publicsuffix.org `.dat` ships IDN
  * rules in UNICODE form (punycode only in comments), so punycode
  * (`xn--`) hosts only match a punycode-encoded rule list — decode
  * hosts to Unicode upstream, or load a punycoded list, but don't
  * mix the two forms. */
final class PslRules private (
    normals: java.util.HashSet[String],
    wildcards: java.util.HashSet[String],
    exceptions: java.util.HashSet[String],
    maxRuleLabels: Int) extends Serializable {

  /** (normal, wildcard, exception, maxRuleLabels) — parse-coverage
    * diagnostics so callers/specs can pin that a loaded list's rules
    * all landed (the full publicsuffix.org list is ~9.5k rules). */
  def counts: (Int, Int, Int, Int) =
    (normals.size, wildcards.size, exceptions.size, maxRuleLabels)

  private def labelsOf(host: String): Array[String] =
    host.split("\\.", -1)

  private def suffixOf(labels: Array[String], k: Int): String = {
    val sb = new java.lang.StringBuilder()
    var i = labels.length - k
    while (i < labels.length) {
      if (sb.length() > 0) sb.append('.')
      sb.append(labels(i))
      i += 1
    }
    sb.toString
  }

  private def allDigits(s: String): Boolean = {
    if (s.isEmpty) return false
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) < '0' || s.charAt(i) > '9') return false
      i += 1
    }
    true
  }

  /** eTLD+1 of a lowercased host under this rule table. */
  def registrableOf(host: String): String = {
    val labels = labelsOf(host)
    val n = labels.length
    if (n <= 1 || allDigits(labels(n - 1))) return host
    // exception rules prevail outright: the rule itself is registrable
    var k = math.min(n, maxRuleLabels + 1)
    while (k >= 1) {
      if (!exceptions.isEmpty && exceptions.contains(suffixOf(labels, k)))
        return suffixOf(labels, k)
      k -= 1
    }
    // otherwise the longest RULE wins (a wildcard `*.base` is a
    // (|base|+1)-label rule, so it competes at r = |base|+1, beating
    // the base's own normal rule); the implicit `*` rule is ps=1
    var ps = 1
    var r = math.min(n, maxRuleLabels)
    var done = false
    while (r >= 1 && !done) {
      if (normals.contains(suffixOf(labels, r))) { ps = r; done = true }
      else if (r >= 2 &&
          wildcards.contains(suffixOf(labels, r - 1))) {
        ps = r; done = true
      }
      r -= 1
    }
    if (n <= ps) host else suffixOf(labels, ps + 1)
  }
}

object PslRules {

  /** Parse PSL-format lines: `//` comments and blank lines skipped,
    * `!rule` = exception, `*.rule` = wildcard (base stored), anything
    * else a normal rule. Rules are lowercased; a `*` anywhere but the
    * leading label is rejected (not in the PSL grammar). */
  def parse(lines: Seq[String]): PslRules = {
    val normals = new java.util.HashSet[String]()
    val wildcards = new java.util.HashSet[String]()
    val exceptions = new java.util.HashSet[String]()
    var maxL = 1
    lines.iterator
      .map(_.trim.toLowerCase(java.util.Locale.ROOT))
      .filter(l => l.nonEmpty && !l.startsWith("//"))
      .foreach { l =>
        require(!l.drop(2).contains("*"),
          s"PSL rule '$l': '*' is only legal as the leading label")
        val labels =
          if (l.startsWith("!")) {
            val r = l.substring(1)
            exceptions.add(r); r.count(_ == '.') + 1
          } else if (l.startsWith("*.")) {
            val base = l.substring(2)
            wildcards.add(base); base.count(_ == '.') + 2
          } else { normals.add(l); l.count(_ == '.') + 1 }
        if (labels > maxL) maxL = labels
      }
    new PslRules(normals, wildcards, exceptions, maxL)
  }

  /** Load a suffix list file (the publicsuffix.org format) through
    * the Hadoop FileSystem API — driver-side, bounded (the full PSL
    * is ~240 KiB). */
  def load(spark: org.apache.spark.sql.SparkSession,
           path: String): PslRules = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(p)
    try parse(new String(in.readAllBytes(), "UTF-8").linesIterator.toSeq)
    finally in.close()
  }
}

/** Registrable-domain (eTLD+1) extraction against a compiled
  * [[PslRules]] table — the full-list companion to the compact
  * `registeredDomain` subset. The table rides the expression as a
  * reference object (serialized once per plan, shared across rows),
  * and both eval paths are one hash-walk per row. NULL host → NULL. */
case class PslDomain(child: Expression, rules: PslRules)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)

  override def dataType: DataType = StringType

  override def prettyName: String = "psl_domain"

  override def nullSafeEval(h: Any): Any =
    UTF8String.fromString(
      rules.registrableOf(h.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pslRules", rules,
      classOf[PslRules].getName)
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = org.apache.spark.unsafe.types.UTF8String" +
        s".fromString($ref.registrableOf($a.toString()));")
  }

  override protected def withNewChildInternal(
      newChild: Expression): PslDomain = copy(child = newChild)
}

object PslDomain {
  def apply(host: Column, rules: PslRules): Column =
    ExpressionUtils.column(
      PslDomain(ExpressionUtils.expression(host), rules))
}
