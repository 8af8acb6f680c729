package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** robots.txt parsing + crawl-permission verdicts (RFC 9309, the public
  * Robots Exclusion Protocol) — the politeness gate a crawler runs
  * before t50's canonicalization and t55's per-owner quotas.
  *
  * Fully RELATIONAL parsing (no per-file folds): lines posexplode, a
  * group id from the RFC's grouping rule — consecutive `User-agent`
  * lines head ONE group, a new group starts at a User-agent line whose
  * previous directive is not User-agent (lag window per domain) — then
  * rules attach to every group whose agent set contains `*` (the
  * star-group subset this implementation serves; per-product groups are
  * parsed but only consulted for scoping). `Disallow:` with an empty
  * pattern matches nothing (RFC), `Crawl-delay` is carried per domain
  * (non-RFC but universal).
  *
  * Matching is the FULL RFC 9309 pattern language via the native
  * [[graft.functions.expr.RobotsMatch]] expression: `*` matches any
  * octet sequence (including `/`), a final `$` anchors the end of the
  * path, and a bare pattern is a prefix match. The RFC's resolution is
  * kept exactly: the LONGEST matching pattern wins (octet length of the
  * pattern as written, wildcards included — the Googlebot convention);
  * on a length tie the least restrictive (Allow) wins; no match ⇒
  * allowed.
  *
  * Scale shape: parsing is one explode + two windows per domain (file-
  * sized partitions); verdicts are one broadcast-able domain join +
  * a per-URL argmax window over matched rules (bounded by rules per
  * domain). Everything scan-expressible, zero UDFs.
  */
object RobotsTxt {

  /** Parse (domainCol, textCol) robots files into the star group's
    * rules: (domain, kind ∈ allow|disallow, prefix) — empty prefixes
    * dropped per the RFC — plus (domain, crawl_delay) carried on every
    * row (null when absent). */
  def starGroupRules(robots: DataFrame, domainCol: String, textCol: String): DataFrame = {
    val grouped = parsedGroups(robots, domainCol, textCol)
    rulesOf(grouped, grouped
      .filter(col("key") === "user-agent" && col("value") === "*")
      .select(col("domain"), col("grp")).distinct())
  }

  /** Group selection for a NAMED crawler (RFC 9309 §2.2.1): groups whose
    * `User-agent` value equals the crawler's product token
    * case-insensitively are chosen, MULTIPLE matching groups COMBINE
    * into one rule set, and a domain with no matching group falls back
    * to its `*` groups (a crawler its robots.txt never names obeys the
    * star rules — [[starGroupRules]] is exactly the `agent = "*"` view).
    * Output schema is identical to [[starGroupRules]], so [[verdicts]]
    * composes unchanged. Google's longest-prefix token
    * extension is out of scope — the RFC specifies exact match. */
  def agentGroupRules(robots: DataFrame, domainCol: String, textCol: String,
      agent: String): DataFrame = {
    require(agent.nonEmpty, "empty agent product token")
    val grouped = parsedGroups(robots, domainCol, textCol)
    val named = grouped
      .filter(col("key") === "user-agent" &&
        lower(col("value")) === agent.toLowerCase(java.util.Locale.ROOT))
      .select(col("domain"), col("grp")).distinct()
    val star = grouped
      .filter(col("key") === "user-agent" && col("value") === "*")
      .select(col("domain"), col("grp")).distinct()
    val chosen = named.unionAll(
      star.join(named.select(col("domain")).distinct(), Seq("domain"), "left_anti"))
    rulesOf(grouped, chosen)
  }

  /** Shared RFC grouping parse: lines → (domain, pos, key, value, grp)
    * with the consecutive-User-agent grouping rule applied. */
  private def parsedGroups(
      robots: DataFrame, domainCol: String, textCol: String): DataFrame = {
    val lines = robots
      .select(col(domainCol).as("domain"),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "raw")))
      .select(col("domain"), col("pos"),
        lower(trim(regexp_extract(col("raw"), "^([^:#]+):", 1))).as("key"),
        trim(regexp_extract(col("raw"), "^[^:#]+:(.*)$", 1)).as("value"))
      .filter(col("key").isin("user-agent", "allow", "disallow", "crawl-delay"))
    val byPos = Window.partitionBy(col("domain")).orderBy(col("pos"))
    lines
      .withColumn("prev_key", lag(col("key"), 1).over(byPos))
      .withColumn("starts_group",
        (col("key") === "user-agent" &&
          (col("prev_key").isNull || col("prev_key") =!= "user-agent")).cast("long"))
      .withColumn("grp", sum(col("starts_group")).over(byPos))
  }

  /** Rules + crawl-delay of the chosen (domain, grp) set — the shared
    * tail of [[starGroupRules]]/[[agentGroupRules]]. */
  private def rulesOf(grouped: DataFrame, chosenGroups: DataFrame): DataFrame = {
    val inChosen = grouped.join(chosenGroups, Seq("domain", "grp"), "left_semi")
    val delay = inChosen.filter(col("key") === "crawl-delay")
      .groupBy(col("domain")).agg(min(col("value").cast("long")).as("crawl_delay"))
    inChosen
      .filter(col("key").isin("allow", "disallow") && col("value") =!= "")
      .select(col("domain"), col("key").as("kind"), col("value").as("prefix"))
      .join(delay, Seq("domain"), "left")
  }

  /** Per-URL verdicts: (urls: idCol, domainCol, pathCol) against
    * [[starGroupRules]] output → (id, domain, path, matched_kind,
    * matched_prefix, crawl_delay, allowed). */
  def verdicts(urls: DataFrame, idCol: String, domainCol: String, pathCol: String,
      rules: DataFrame): DataFrame = {
    val u = urls.select(col(idCol).as("id"),
      col(domainCol).as("domain"), col(pathCol).as("path"))
    val matched = u.join(broadcast(rules), Seq("domain"))
      .filter(graft.functions.expr.RobotsMatch(col("path"), col("prefix")))
    // RFC resolution: longest pattern, then Allow beats Disallow on ties;
    // the final prefix.asc makes the order TOTAL — with wildcard matching
    // two distinct same-length same-kind rules CAN both match (impossible
    // for literal prefixes), and an untotaled row_number would pick
    // arbitrarily per run, flaking the hash
    val w = Window.partitionBy(col("id"))
      .orderBy(length(col("prefix")).desc,
        when(col("kind") === "allow", 0).otherwise(1).asc,
        col("prefix").asc)
    val winner = matched
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("id"), col("kind").as("matched_kind"),
        col("prefix").as("matched_prefix"))
    // the delay is a DOMAIN property — it applies to unmatched URLs too
    val delays = rules.select(col("domain"), col("crawl_delay")).distinct()
    u.join(winner, Seq("id"), "left")
      .join(broadcast(delays), Seq("domain"), "left")
      .select(col("id"), col("domain"), col("path"),
        col("matched_kind"), col("matched_prefix"), col("crawl_delay"),
        (col("matched_kind").isNull || col("matched_kind") === "allow").as("allowed"))
  }
}
