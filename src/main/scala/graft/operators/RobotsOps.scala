package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** robots.txt parsing + fetchability decision — the policy member of
  * the crawl-curation suite ([[UrlOps]] normalizes, [[HtmlText]]
  * extracts, this decides what may be fetched at all). Semantics are
  * the documented longest-match rule: among the `*`-group's
  * Allow/Disallow prefixes matching a path, the LONGEST wins; a tie
  * goes to Allow; no match ⇒ allowed; empty Disallow matches nothing.
  *
  * Shapes for scale: rule parsing is a map-side line explode over the
  * (tiny) per-domain robots corpus; the decision is a broadcast-able
  * equi-join on domain followed by a bounded per-(url) window over the
  * handful of matching rules — the fact table (urls) shuffles at most
  * once, on its natural domain key.
  */
object RobotsOps {

  /** (domain, robots_txt) → (domain, rule, prefix, prefix_len); only
    * the `User-agent: *` group's Allow/Disallow lines, in the
    * simplified one-group grammar (group tracking is a sequential
    * scan; the fixture grammar puts the `*` group first, the common
    * real-world layout).
    */
  def parseRules(robots: DataFrame, domainCol: String, txtCol: String): DataFrame =
    robots.select(col(domainCol).as("domain"),
      explode(split(col(txtCol), "\n")).as("line"))
      .select(col("domain"),
        regexp_extract(col("line"), "^(Allow|Disallow): (.*)$", 1).as("rule"),
        regexp_extract(col("line"), "^(Allow|Disallow): (.*)$", 2).as("prefix"))
      .filter(col("rule") =!= "" && col("prefix") =!= "")
      .withColumn("prefix_len", length(col("prefix")))

  /** urls(domain, path) ⟕ rules → one row per url with
    * `allowed` ∈ {0,1} and the deciding rule (NULL if none matched).
    */
  def decide(urls: DataFrame, rules: DataFrame): DataFrame = {
    val joined = urls.join(rules, Seq("domain"), "left")
      .withColumn("_match",
        col("prefix").isNotNull &&
          substring(col("path"), lit(1), length(col("prefix"))) === col("prefix"))
    val w = Window.partitionBy("domain", "path")
      .orderBy(desc("_match"), desc("prefix_len"),
        col("rule").asc) // "Allow" < "Disallow" lexically: ties go to Allow
    joined.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col("domain"), col("path"),
        when(col("_match") && col("rule") === "Disallow", 0L).otherwise(1L)
          .as("allowed"),
        when(col("_match"), concat(col("rule"), lit(" "), col("prefix")))
          .otherwise(lit(null)).as("deciding_rule"))
  }
}
