package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** robots.txt parsing and URL gating — the crawl-frontier policy
  * step between [[UrlOps.canonicalizeUrls]] and the fetch: which of a
  * billion candidate URLs may this crawler touch. Implements the
  * prefix-rule core of RFC 9309 (the original 1994 semantics):
  * user-agent groups, Allow/Disallow path prefixes, longest-match
  * precedence with Allow winning length ties, no-match ⇒ allowed.
  * Documented divergence: the RFC's `*`/`$` wildcard extensions are
  * NOT interpreted (such rules match as literal prefixes) — the
  * prefix subset is what the matching join can do with startsWith,
  * and wildcard rules are rare enough to gate separately if needed.
  *
  * Scale shape: parsing is per-host line windows (robots bodies are
  * KB-sized, host-keyed — nothing global); the gate is one host
  * equi-join URL×rules followed by a URL-keyed max — rule tables are
  * tiny next to frontiers, so the join broadcasts. */
object Robots {

  /** Parse robots.txt bodies into the rule rows the [[robotsGate]]
    * join consumes. Grammar, per RFC 9309's line model:
    * `#` comments strip; directives are case-insensitive; CONSECUTIVE
    * `User-agent:` lines form one group header and the group's rules
    * run until the next header; rules before any header are ignored;
    * an empty-path `Disallow:` means "allow everything" and emits no
    * rule. Group selection: if any group names `agent`
    * (case-insensitive, exact token), ONLY those groups apply;
    * otherwise the `*` groups do — the RFC's most-specific-group
    * rule at the two-level granularity a fixed agent string has.
    *
    * Emits (host, allow, prefix, prefix_len). */
  def parseRobots(robots: DataFrame, hostCol: String = "host",
                  bodyCol: String = "body",
                  agent: String = "*"): DataFrame = {
    val agentLc = agent.toLowerCase
    val lines = robots.select(col(hostCol).as("host"),
        posexplode(split(col(bodyCol), "\n")).as(Seq("i", "raw")))
      .select(col("host"), col("i"),
        trim(regexp_replace(col("raw"), "#.*$", "")).as("line"))
      .select(col("host"), col("i"),
        lower(regexp_extract(col("line"),
          "^([A-Za-z-]+)\\s*:", 1)).as("dir"),
        trim(regexp_extract(col("line"), ":\\s*(.*)$", 1)).as("value"))
      .filter(col("dir").isin("user-agent", "allow", "disallow"))
    val byHost = Window.partitionBy(col("host")).orderBy(col("i"))
    // a group starts at a user-agent line NOT preceded by another
    // user-agent line (consecutive UA lines share one header)
    val grouped = lines
      .withColumn("prev_dir", lag(col("dir"), 1).over(byHost))
      .withColumn("starts",
        (col("dir") === "user-agent" &&
          !(col("prev_dir") <=> lit("user-agent"))).cast("int"))
      .withColumn("grp", sum(col("starts")).over(
        byHost.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("grp") > 0) // rules before any header are ignored
    val agents = grouped.filter(col("dir") === "user-agent")
      .groupBy(col("host"), col("grp"))
      .agg(collect_set(lower(col("value"))).as("agents"))
    val hostHasSpecific = agents
      .groupBy(col("host"))
      .agg(max(array_contains(col("agents"), agentLc)).as("has_specific"))
    val selected = agents.join(hostHasSpecific, Seq("host"))
      .filter(when(col("has_specific"),
          array_contains(col("agents"), agentLc))
        .otherwise(array_contains(col("agents"), "*")))
      .select(col("host"), col("grp"))
    grouped.filter(col("dir").isin("allow", "disallow"))
      .join(selected, Seq("host", "grp"))
      .filter(!(col("dir") === "disallow" && col("value") === ""))
      .filter(col("value") =!= "")
      .select(col("host"), (col("dir") === "allow").as("allow"),
        col("value").as("prefix"),
        length(col("value")).as("prefix_len"))
      .distinct()
  }

  /** The `Sitemap:` directives of each robots.txt body — the link
    * from fetch policy to URL discovery: RFC 9309 §2.3 lets a host
    * advertise its sitemaps here, and a crawler that skips them
    * re-discovers the inventory the slow way. Sitemap lines are
    * group-INDEPENDENT per the RFC (they apply regardless of
    * user-agent), so this is a plain line scan: comment strip, the
    * same case-insensitive directive grammar as [[parseRobots]],
    * non-empty values only. Values are absolute URLs by spec and pass
    * through verbatim — feed them to
    * [[Sitemaps.parseSitemaps]] after fetching. Emits distinct
    * (host, sitemap_url); per-host dedup is the only exchange and
    * robots bodies are KB-sized. */
  def sitemapDirectives(robots: DataFrame, hostCol: String = "host",
                        bodyCol: String = "body"): DataFrame =
    sitemapDirectivesRaw(robots, hostCol, bodyCol).distinct()

  /** The [[sitemapDirectives]] line scan WITHOUT the dedup exchange —
    * one (host, sitemap_url) row per directive LINE. This is the
    * shared stateless core: the batch form adds `.distinct()`, a
    * stream cannot (unbounded dedup needs state) and runs this
    * directly, so the parse grammar can never diverge between the
    * two. */
  def sitemapDirectivesRaw(robots: DataFrame, hostCol: String = "host",
                           bodyCol: String = "body"): DataFrame =
    robots.select(col(hostCol).as("host"),
        explode(split(col(bodyCol), "\n")).as("raw"))
      .select(col("host"),
        trim(regexp_replace(col("raw"), "#.*$", "")).as("line"))
      .filter(lower(regexp_extract(col("line"),
        "^([A-Za-z-]+)\\s*:", 1)) === "sitemap")
      .select(col("host"),
        trim(regexp_extract(col("line"), ":\\s*(.*)$", 1))
          .as("sitemap_url"))
      .filter(col("sitemap_url") =!= "")

  /** Gate a URL frontier against parsed rules: per URL, the
    * longest-prefix rule on its (path + query) decides; Allow wins
    * length ties (struct ordering: longer prefix_len first, then
    * allow true > false, then prefix for full determinism); hosts
    * with no matching rule — or no rules at all — allow.
    *
    * The decision is a pure function of (host, path+query), so it
    * computes ONCE per distinct key and joins back — frontiers repeat
    * hosts and paths massively, and this also avoids row-identity
    * bookkeeping. Both the rules side of the decision join and the
    * ≤-frontier-sized decision table broadcast (policy tables are
    * tiny). Unparseable URLs gate allowed with null host —
    * canonicalize upstream. Emits the input + (host, allowed,
    * rule_prefix). */
  def robotsGate(urls: DataFrame, rules: DataFrame,
                 urlCol: String = "url"): DataFrame = {
    val host = UrlOps.hostOf(col(urlCol))
    val rawPathq = regexp_extract(col(urlCol),
      "^(?i)https?://[^/?#]*([^#]*)", 1)
    val pathq = when(host.isNotNull,
      when(rawPathq =!= "", rawPathq).otherwise(lit("/")))
    val keyed = urls.withColumn("__host", host)
      .withColumn("__pathq", pathq)
    val keys = keyed.select(col("__host"), col("__pathq"))
      .filter(col("__host").isNotNull).distinct()
    val decisions = keys.join(
        broadcast(rules.select(col("host").as("__host"), col("allow"),
          col("prefix"), col("prefix_len"))),
        Seq("__host"), "left")
      // a non-matching rule contributes a NULL struct, which max()
      // skips — so a key whose rules ALL miss still keeps its row
      // (and its default-allow), instead of vanishing in a filter
      .withColumn("m", when(col("prefix").isNotNull &&
          col("__pathq").startsWith(col("prefix")),
        struct(col("prefix_len"), col("allow"), col("prefix"))))
      .groupBy(col("__host"), col("__pathq"))
      .agg(max(col("m")).as("w"))
      .select(col("__host"), col("__pathq"),
        coalesce(col("w.allow"), lit(true)).as("allowed"),
        col("w.prefix").as("rule_prefix"))
    keyed.join(broadcast(decisions), Seq("__host", "__pathq"), "left")
      .withColumn("allowed", coalesce(col("allowed"), lit(true)))
      .withColumnRenamed("__host", "host")
      .drop("__pathq")
  }
}
