package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Portable

/** Column-level cleaning transforms — the reference cleaning engine's UPDATE
  * operators recast as immutable projection pipelines
  * (reference: datagrunt_agent/tools/cleaning.py steps 1-12 and the SQL
  * templates under datagrunt_agent/sql/cleaning/).
  *
  * Each transform is a pure `Column => Column` (or DataFrame op) built from
  * codegen'd built-ins, so a full cleaning pass is ONE projection over the
  * table — no matter how many steps are composed — and runs at scan speed at
  * any scale. Step order matters and is preserved by [[protocol]]: sentinel
  * nulling runs before coercion, coercion before case normalization
  * (reference: tools/cleaning.py:3-14; test_cleaning.py:427-438).
  */
object Cleaning {

  /** Null-sentinel lexicon (reference: tools/cleaning.py:32-36 and the silver
    * NULL_SENTINELS set, spark_procedures/users.sql:13 — which adds '--'). */
  val NullSentinels: Seq[String] =
    Seq("null", "none", "n/a", "na", "-", "--", "", "#n/a", "nan", "missing")

  /** Windows-1252 mojibake repair map (reference: tools/cleaning.py:40-56).
    * Keys are UTF-8 bytes mis-decoded as Windows-1252; several contain C1
    * control characters, so they are written as unicode escapes. */
  val MojibakeMap: Seq[(String, String)] = Seq(
    "\u00c3\u00a9" -> "\u00e9", // e-acute
    "\u00c3\u00a8" -> "\u00e8", // e-grave
    "\u00c3\u00a7" -> "\u00e7", // c-cedilla
    "\u00c3\u00b6" -> "\u00f6", // o-umlaut
    "\u00c3\u00bc" -> "\u00fc", // u-umlaut
    "\u00c3\u00a4" -> "\u00e4", // a-umlaut
    "\u00c3\u00b1" -> "\u00f1", // n-tilde
    "\u00e2\u0080\u0099" -> "'", // right single quote
    "\u00e2\u0080\u009c" -> "\"", // left double quote
    "\u00e2\u0080\u009d" -> "\"", // right double quote
    "\u00e2\u0080\u0093" -> "-", // en dash
    "\u00e2\u0080\u0094" -> "-", // em dash
    "\u00c3\u00af\u00c2\u00bf\u00c2\u00bd" -> "", // double-encoded replacement
    "\ufffd" -> "") // U+FFFD replacement char

  /** Step: strip leading and trailing SPACES — Spark `TRIM`, which leaves
    * tabs, newlines and other whitespace in place. DuckDB's `trim` strips
    * the same set, and the oracle-checked gates depend on that parity, so
    * this is not widened to all whitespace. */
  def trimWs(c: Column): Column = trim(c)

  /** Step: empty-after-trim string -> NULL
    * (reference: sql/cleaning/normalize_empty_strings.sql). */
  def emptyToNull(c: Column): Column =
    when(trim(c) === "", lit(null)).otherwise(c)

  /** Step: null-like sentinel -> NULL (reference: normalize_null_like.sql). */
  def sentinelToNull(c: Column): Column =
    when(lower(trim(c)).isin(NullSentinels: _*), lit(null)).otherwise(c)

  /** Step: mojibake repair via chained literal replace (reference:
    * replace_unknown_chars.sql). Literal `StringReplace`, not regex, so no
    * metacharacter hazards and the chain stays in whole-stage codegen. */
  def mojibakeRepair(c: Column): Column =
    MojibakeMap.foldLeft(c) { case (acc, (bad, good)) =>
      overlayFree(acc, bad, good)
    }
  private def overlayFree(c: Column, bad: String, good: String): Column = {
    import org.apache.spark.sql.catalyst.expressions.StringReplace
    // functions has no literal replace; go through expr-safe call syntax
    call_function("replace", c, lit(bad), lit(good))
  }

  /** Step: lowercase categorical normalization (cardinality gate applied by
    * caller — reference: normalize_case.sql + tools/cleaning.py:517-562). */
  def caseNormalize(c: Column): Column = lower(c)

  /** Silver-style cell cleaner: sentinel->NULL else initcap(trim)
    * (reference: silver/transformations/users.sql:21-81). */
  def sentinelOrInitcap(c: Column): Column =
    when(upper(trim(c)).isin(NullSentinels.map(_.toUpperCase): _*), lit(null))
      .otherwise(initcap(trim(c)))

  /** Gender expansion: sentinel->NULL first (the reference's expand_gender
    * leads with the NULL_SENTINELS branch, spark_procedures/users.sql:59-66 —
    * 'N/A' must yield NULL, not 'N/a'), then M/MALE->Male, F/FEMALE->Female,
    * else initcap. */
  def genderExpand(c: Column): Column =
    when(upper(trim(c)).isin(NullSentinels.map(_.toUpperCase): _*), lit(null).cast("string"))
      .when(upper(trim(c)).isin("M", "MALE"), lit("Male"))
      .when(upper(trim(c)).isin("F", "FEMALE"), lit("Female"))
      .otherwise(initcap(trim(c)))

  /** Email validation: regex-match -> lowercase, else NULL
    * (reference: spark_procedures/users.sql:109-118). */
  val EmailRe = "^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}$"
  def emailClean(c: Column): Column =
    when(trim(c).rlike(EmailRe), lower(trim(c))).otherwise(lit(null))

  /** State formatting: sentinel->NULL first (the reference's format_state
    * runs null_sentinel_check before the length gate,
    * spark_procedures/users.sql:68-74 — 'NA' must yield NULL, not 'NA'),
    * then 2-char -> UPPER, else initcap. */
  def stateFormat(c: Column): Column =
    when(upper(trim(c)).isin(NullSentinels.map(_.toUpperCase): _*), lit(null).cast("string"))
      .when(length(trim(c)) === 2, upper(trim(c))).otherwise(initcap(trim(c)))

  /** City/state split of a "City Name ST" string: last whitespace-delimited
    * token is the state, the remainder the city (reference:
    * silver/transformations/distribution_centers.sql:36-42). */
  def citySplit(c: Column): Column =
    trim(regexp_replace(trim(c), "\\s+\\S+$", ""))
  def stateSplit(c: Column): Column =
    regexp_extract(trim(c), "(\\S+)$", 1)

  /** Currency extraction (reference spec DEMO.md:94-115): leading symbol ->
    * companion `value_type` code; remainder -> numeric value. */
  val CurrencyPrefixRe = "^(\\$|EUR |£|¥)"
  def currencyCode(c: Column): Column = {
    val sym = regexp_extract(trim(c), CurrencyPrefixRe, 1)
    when(sym === "$", lit("USD"))
      .when(sym === "EUR ", lit("EUR"))
      .when(sym === "£", lit("GBP"))
      .when(sym === "¥", lit("JPY"))
      .otherwise(lit(null))
  }
  def currencyValue(colName: String): Column = {
    // Spark SQL string literals are backslash-escaped, so the regex backslash
    // must be doubled when the pattern travels inside expr() text.
    val sqlRe = CurrencyPrefixRe.replace("\\", "\\\\")
    expr(s"try_cast(regexp_replace(trim($colName), '$sqlRe', '') as double)")
  }

  /** Multi-format date parse: first format that parses wins
    * (reference: silver/transformations/users.sql:83-91 COALESCE of
    * SAFE.PARSE_TIMESTAMP x formats). Formats are Spark patterns. */
  val DateFormats: Seq[String] = Portable.DateDispatch.map(_._2)
  def parseDateMulti(colName: String, formats: Seq[String] = DateFormats): Column =
    if (formats == DateFormats) {
      // native one-pass dispatch+parse (plans/MultiFormatParse) — bitwise
      // twin of [[parseDateMultiPortable]] (PortableParitySpec), one sniff
      // and ≤1 format parse per value even after projection collapse inlines
      // this at every use site (parsed_date + std_date)
      registerNative()
      call_function("graft_date_multi", col(colName))
    } else coalesce(formats.map(f => expr(s"to_date(try_to_timestamp($colName, '$f'))")): _*)

  /** The portable CASE/rlike dispatch chain [[parseDateMulti]] replaced —
    * kept as the parity-spec reference: at most ONE try_to_timestamp runs per
    * value because the dispatch prefixes are mutually exclusive
    * (see Portable.DateDispatch). */
  def parseDateMultiPortable(colName: String): Column = {
    val c = col(colName)
    Portable.DateDispatch.foldRight(lit(null).cast("date")) {
      case ((re, f, _), els) =>
        when(c.rlike(re), expr(s"to_date(try_to_timestamp($colName, '$f'))"))
          .otherwise(els)
    }
  }

  /** Idempotent native-function registration on the thread's active session —
    * Cleaning builders are session-less `Column` factories, so they register
    * through the active-session handle their caller's DataFrame will resolve
    * against (all entry points run on the driver with a session active). */
  private def registerNative(): Unit =
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(graft.plans.GraftFunctions.register)

  /** Step: standardize castable date strings to ISO (reference: standardize_date.sql). */
  def dateStandardize(colName: String, formats: Seq[String] = DateFormats): Column =
    date_format(parseDateMulti(colName, formats), "yyyy-MM-dd")

  /** Multi-format TIMESTAMP parse, first format wins (reference:
    * silver/spark_procedures/users.sql:14-22 — COALESCE over to_timestamp
    * with 7 format candidates, here extended with the dotted-European and
    * compact forms). The format table, the mutually-exclusive regex dispatch
    * that replaces the COALESCE (≤1 expensive parse per value), and the
    * DuckDB twin are all generated from ONE source —
    * [[graft.functions.Portable.TsDispatch]] — so the two engines accept and
    * reject identical strings by construction. Result is TIMESTAMP_NTZ so
    * rendered values match a naive-timestamp oracle byte-for-byte under the
    * UTC session. Single-letter day/month/hour fields accept padded and
    * unpadded values alike, matching DuckDB strptime %d/%m/%H tolerance. */
  val TimestampFormats: Seq[String] = Portable.TsDispatch.map(_._2)
  def parseTimestampMulti(colName: String, formats: Seq[String] = TimestampFormats): Column =
    if (formats == TimestampFormats) {
      // native one-pass trim+sniff+parse (plans/MultiFormatParse) — bitwise
      // twin of [[parseTimestampMultiPortable]] (PortableParitySpec); the
      // 9-branch chain re-trimmed and regex-scanned per branch and was the
      // silver family's dominant residual cost
      registerNative()
      call_function("graft_ts_multi", col(colName))
    } else coalesce(formats.map(f =>
      expr(s"cast(try_to_timestamp(trim($colName), '$f') as timestamp_ntz)")): _*)

  /** The portable CASE/rlike dispatch chain [[parseTimestampMulti]] replaced —
    * kept as the parity-spec reference. */
  def parseTimestampMultiPortable(colName: String): Column = {
    val t = trim(col(colName))
    Portable.TsDispatch.foldRight(lit(null).cast("timestamp_ntz")) {
      case ((re, f, _), els) =>
        when(t.rlike(re),
          expr(s"cast(try_to_timestamp(trim($colName), '$f') as timestamp_ntz)"))
          .otherwise(els)
    }
  }

  /** Keep-first duplicate flag over all columns (reference: flag_duplicates.sql
    * keep-first via MIN(rowid); here: row_number over an all-columns partition
    * ordered by a stable id). Adds `is_duplicate_in_file` (the name the
    * reference README/silver layer uses — SURVEY §7.4 gap resolution). */
  def flagDuplicates(df: DataFrame, orderCol: String): DataFrame = {
    val dataCols = df.columns.filterNot(_ == orderCol).map(col)
    val w = Window.partitionBy(dataCols: _*).orderBy(col(orderCol).asc)
    df.withColumn("is_duplicate_in_file", row_number().over(w) > 1)
  }

  /** Drop columns whose null rate exceeds `threshold` (reference:
    * tools/cleaning.py:619-623, >90%). One wide agg + one projection. */
  def dropHighNullColumns(df: DataFrame, threshold: Double = 0.9): DataFrame = {
    val cols = df.columns
    val counts = df.agg(count(lit(1)).as("__total"),
      cols.map(c => count(col(c)).as(s"nn_$c")).toSeq: _*).head()
    val total = counts.getAs[Long]("__total")
    val keep = cols.filter { c =>
      total == 0 || (total - counts.getAs[Long](s"nn_$c")).toDouble / total <= threshold
    }
    df.select(keep.map(col).toSeq: _*)
  }

  /** The ordered cleaning protocol for string columns (reference steps:
    * mojibake -> trim -> empty -> sentinel; coercion/case handled per-column
    * by callers that know the inferred types). */
  def protocol(c: Column): Column =
    sentinelToNull(emptyToNull(trimWs(mojibakeRepair(c))))

  /** PII masks for training text: (category, pattern, mask), applied in this
    * fixed order. Patterns avoid lookaround/backreferences so Java regex
    * (Spark) and RE2 (the DuckDB oracle) match identically. Order matters:
    * email before IP (an IPv4 can appear as an email host), phone before SSN
    * (both are dashed digit runs; the mask removes digits so later patterns
    * cannot re-match inside an earlier category's span). */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[0-9A-Za-z._%+-]+@[0-9A-Za-z.-]+\\.[A-Za-z]{2,}", "[EMAIL]"),
    ("phone", "\\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}", "[PHONE]"),
    ("ssn", "[0-9]{3}-[0-9]{2}-[0-9]{4}", "[SSN]"),
    ("ip", "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}", "[IP]"))

  /** Redact all [[PiiPatterns]] categories from a text column — the
    * scrub-before-training step of an LLM data pipeline. Pure codegen'd
    * regexp_replace chain, no UDFs; cost is one pass per category over the
    * string, independent of corpus size per row. */
  def redactPii(c: Column): Column =
    PiiPatterns.foldLeft(c) { case (acc, (_, pat, mask)) =>
      regexp_replace(acc, pat, java.util.regex.Matcher.quoteReplacement(mask))
    }

  /** Per-category PII hit counts, evaluated on the PROGRESSIVELY masked text
    * in the same order [[redactPii]] applies (so overlapping categories are
    * attributed to the first matching pattern, never double-counted).
    * Returns (category -> count column), counts as BIGINT. */
  def piiCounts(c: Column): Seq[(String, Column)] = {
    var cur = c
    PiiPatterns.map { case (cat, pat, mask) =>
      val n = regexp_count(cur, lit(pat)).cast("bigint")
      cur = regexp_replace(cur, pat, java.util.regex.Matcher.quoteReplacement(mask))
      (cat, n)
    }
  }
}
