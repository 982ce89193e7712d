package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Generic PII scrubbing and URL-blocklist filtering — the safety
  * gates a production LLM data pipeline runs before training (the
  * BigScience/Dolma-style scrub, the RefinedWeb-style URL filter).
  *
  * [[TextOps.redactPii]] (q63) is the FIXED two-class (email/phone)
  * form; this module is its generalization: the pattern inventory is
  * caller-supplied (any ordered list of (class, regex, placeholder)),
  * detection emits one count column per class, and redaction carries a
  * residual self-gate — the redacted text is re-scanned with every
  * pattern and the match count must be 0, so "the redaction worked" is
  * an oracle-checkable output, not an assumption. The reference has no
  * text ops (`MapReduceWSI.java` exposes only generic MR); this is the
  * north-star extension surface.
  *
  * Scale design: detect and redact are PURE per-row regexp projections
  * — zero exchanges, whole-stage codegen end to end; at 100 TB they
  * are scan-bound and embarrassingly parallel. The URL filter's only
  * join is against a model-sized blocklist, always broadcast.
  *
  * Every default regex avoids `\s`/`\d`/`\w` shorthand (Java's Unicode
  * behavior differs from RE2's — see [[OpsUtil.tokens]]); explicit
  * classes mean the DuckDB oracle replays matches byte-for-byte.
  * Patterns are applied through the function API only — a pattern
  * routed through a Spark SQL string LITERAL would have its
  * backslashes re-escaped by the SQL parser (same caveat as q63).
  */
object PiiOps {

  /** Email matcher (explicit classes, no `\w`). */
  val emailRe: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** NANP-style planted phone matcher (fictional 555 exchange). */
  val phoneRe: String = "\\b555-[0-9]{4}\\b"

  /** Dotted-quad IPv4 matcher. */
  val ipRe: String = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** Default pattern inventory: (class, regex, placeholder), applied
    * in ORDER — emails first (an email's domain could otherwise feed
    * the IP matcher), then IPv4, then phones. Order is part of the
    * contract and mirrored by the oracle.
    *
    * Placeholders are BRACKETED (q63's convention) deliberately: `[`
    * and `]` sit outside every matcher's character classes, so a
    * placeholder can never fuse with its neighbors into a fresh match
    * (`a@b.cc@d.ee` → `<EMAIL>@d.ee` would re-match as an email —
    * `[EMAIL]@d.ee` cannot, because `]` blocks the local part). That
    * closure is what makes the residual-0 guarantee hold for
    * ARBITRARY input, not just the planted fixture — property-tested
    * over adversarial @/digit-dense strings in PropertySpec.
    */
  val defaultPatterns: Seq[(String, String, String)] = Seq(
    ("email", emailRe, "[EMAIL]"),
    ("ip", ipRe, "[IP]"),
    ("phone", phoneRe, "[PHONE]"))

  /** The planted-PII corpus: the fixture text plus deterministic PII
    * derived purely from `doc_id` (an email on every doc, a phone on
    * doc_id%3==0, an IPv4 on doc_id%4==1) — the same expression the
    * DuckDB oracle regenerates, so detection/redaction counts are
    * closed-form. Pure projection.
    */
  def plantedPiiCorpus(documents: DataFrame): DataFrame =
    // coalesce matches DuckDB's NULL-skipping concat: a NULL-text row
    // still gets its planted PII (Spark's concat would null the whole
    // expression and the planting would silently vanish)
    documents.select(col("doc_id"), expr(
      """concat(coalesce(text, ''),
        | ' Contact user', cast(doc_id as string),
        | '@mail', cast(doc_id % 5 as string), '.example.com today.',
        | case when doc_id % 3 = 0
        |   then concat(' Call 555-',
        |     lpad(cast(doc_id % 10000 as string), 4, '0'), ' now.')
        |   else '' end,
        | case when doc_id % 4 = 1
        |   then concat(' Host 10.', cast((doc_id * 3) % 256 as string),
        |     '.0.', cast((doc_id * 7) % 256 as string), ' up.')
        |   else '' end)""".stripMargin.replace("\n", " "))
      .as("text"))

  /** Per-document PII counts — one `n_<class>` BIGINT column per
    * [[defaultPatterns]] class plus an any-hit flag. One codegen'd projection
    * — no shuffle, no UDF; BIGINT matches the oracle's
    * `len(regexp_extract_all(...))`.
    */
  def piiDetect(documents: DataFrame): DataFrame = {
    // null-safe: a null doc has zero PII, not null counts — a null
    // count would slip through every `=== 0` / `=!= 0` audit filter
    val text = coalesce(col("text"), lit(""))
    val counts = defaultPatterns.map { case (name, re, _) =>
      regexp_count(text, lit(re)).cast("long").as(s"n_$name")
    }
    val total = defaultPatterns.map { case (name, _, _) => col(s"n_$name") }
      .reduce(_ + _)
    documents.select(col("doc_id") +: counts: _*)
      .withColumn("has_pii", total > 0)
  }

  /** The redacted text column: each [[defaultPatterns]] pattern replaced
    * by its placeholder, in inventory order.
    */
  def redactedText(text: Column): Column =
    defaultPatterns.foldLeft(text) { case (c, (_, re, ph)) =>
      regexp_replace(c, re, ph)
    }

  /** Per-document redaction audit: the number of replacements
    * actually performed (pattern matches counted on the PRE-redaction
    * text — counting placeholder tokens in the output would misreport
    * placeholder literals already present in the input, e.g. when
    * re-auditing an already-scrubbed corpus), residual PII after
    * redaction (re-scanned with every pattern; must be 0 — the
    * self-gate the oracle checks), and an md5 pin of the redacted
    * text. Pure projection like [[piiDetect]]; the full redacted
    * corpus is [[redactedText]] minus the audit columns.
    */
  def piiRedact(documents: DataFrame,
                keep: Seq[String] = Seq.empty): DataFrame = {
    val text = coalesce(col("text"), lit(""))
    // count each pattern on the text THAT STAGE actually rewrites
    // (the scan-left prefix chain) — an independent per-class count
    // on the raw input would overcount when one class's match
    // contains another's (an IP inside an email's domain)
    val stages = defaultPatterns.scanLeft(text) { case (c, (_, re, ph)) =>
      regexp_replace(c, re, ph)
    }
    val matched = defaultPatterns.zip(stages).map { case ((_, re, _), pre) =>
      regexp_count(pre, lit(re))
    }.reduce(_ + _)
    val residual = defaultPatterns.map { case (_, re, _) =>
      regexp_count(col("redacted"), lit(re))
    }.reduce(_ + _)
    documents
      .select(col("doc_id") +: keep.map(col) :+
        matched.cast("long").as("n_redactions") :+
        stages.last.as("redacted"): _*)
      .select(col("doc_id") +: keep.map(col) :+
        col("n_redactions") :+
        residual.cast("long").as("n_residual") :+
        md5(col("redacted")).as("redacted_md5"): _*)
  }

  /** The planted-URL corpus: one URL per doc whose host is a pure
    * doc_id expression (`w<k>.s<m>.example`), so the extracted
    * registrable domain and the blocklist verdict are closed-form.
    */
  def plantedUrlCorpus(documents: DataFrame): DataFrame =
    // coalesce for DuckDB concat parity — see [[plantedPiiCorpus]]
    documents.select(col("doc_id"), expr(
      """concat(coalesce(text, ''), ' See https://w', cast(doc_id % 97 as string),
        | '.s', cast(doc_id % 13 as string), '.example/p/',
        | cast(doc_id as string), ' ok.')""".stripMargin.replace("\n", " "))
      .as("text"))

  /** Default blocked registrable domains for the planted fixture. */
  val defaultBlocklist: Seq[String] =
    Seq("s2.example", "s5.example", "s11.example")

  /** URL → host → registrable-domain extraction and blocklist verdict
    * (the RefinedWeb-style URL filter). The blocklist — real lists
    * are ~1M rows, still model-sized — joins BROADCAST on the
    * extracted domain; everything before the join is one codegen'd
    * projection. The host class excludes `/` and each whitespace
    * character EXPLICITLY — a negated class happily matches tab and
    * newline in both RE2 and Java, so `[^/ ]` alone would run a host
    * match straight through a tab; and per [[OpsUtil.tokens]] a
    * bare `\s` would diverge between the engines on \x0B.
    */
  def urlBlocklistFilter(documents: DataFrame): DataFrame =
    blocklistVerdict(
      documents.select(
        col("doc_id"),
        regexp_extract(col("text"),
          "https?://([^/ \\t\\n\\x0B\\f\\r]+)", 1).as("host"))
        .withColumn("domain", registrableDomain(col("host"))))
      .select(col("doc_id"), col("host"), col("domain"), col("blocked"))

  /** The registrable domain of a host: lowercased, an explicit
    * `:port` stripped, then the last two dot-labels — the ONE
    * definition of the blocklist key, shared by the free-text filter,
    * [[HtmlOps.htmlOutlinks]], and [[HtmlOps.crawlIngest]] so a
    * future rule change (multi-part public suffixes) cannot diverge
    * between them. Port and case normalization are part of the
    * verdict, not just of [[HtmlOps.canonicalUrl]]: a blocklist a
    * crawler can evade with `HTTPS://x.S2.EXAMPLE:443/` is not a
    * safety gate.
    */
  def registrableDomain(host: Column): Column =
    regexp_extract(regexp_replace(lower(host), ":[0-9]+$", ""),
      "([^.]+\\.[^.]+)$", 1)

  /** Appends a `blocked` verdict to any DataFrame carrying a `domain`
    * column — the ONE implementation of the blocklist join, shared by
    * the free-text filter above and [[HtmlOps.htmlOutlinks]] so the
    * semantics (broadcast left join on exact domain, absent = not
    * blocked) can never diverge between them.
    */
  def blocklistVerdict(withDomain: DataFrame): DataFrame = {
    val spark = withDomain.sparkSession
    import spark.implicits._
    val bl = defaultBlocklist.toDF("domain").withColumn("bl_hit", lit(true))
    withDomain
      .join(broadcast(bl), Seq("domain"), "left")
      .withColumn("blocked", coalesce(col("bl_hit"), lit(false)))
      .drop("bl_hit")
  }
}
