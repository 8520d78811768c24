package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Portable
import graft.medallion.SilverTransforms
import graft.operators.Cleaning

/** Oracle gates for the 7 per-table silver transformation programs
  * ([[SilverTransforms]] — reference silver transformations SQL, one file
  * per table under test_data/thelook_ecommerce/silver/transformations/).
  *
  * Bronze tables are CONSTRUCTED deterministically from the clean test tables
  * as the reference bronze layer would look after an all-string CSV load:
  * every column stringified with key-modulo dirt (sentinels, padding, case
  * noise, uncastable ids, multi-format timestamps), plus
  *
  *  - a LATE RELOAD branch (keys ≡ 0 mod lateMod re-arrive with a higher
  *    `processed_at` and changed values — silver must keep the late copy), and
  *  - an IN-FILE DUPLICATE branch (keys ≡ 0 mod junkMod arrive flagged
  *    `is_duplicate_in_file` — silver must never see them).
  *
  * The construction SQL is emitted from ONE Scala source for both engines
  * (only date-format calls differ, via [[Dial]]), so the Spark bronze and the
  * DuckDB oracle bronze cannot drift. The silver side mirrors the
  * [[graft.operators.Cleaning]] column cleaners with the DuckDB twins proven
  * bitwise-equal by the round-1 cleaning gates ([[Portable.initcapDuck]]).
  *
  * `processed_at` is a BIGINT ingest sequence (unique per key by
  * construction) and `silver_loaded_at` a pinned literal, so the whole
  * pipeline is bitwise-reproducible cross-engine.
  */
object Silver {
  type Q = (SparkSession, String) => DataFrame

  // ---- dialect: date rendering is the only non-shared construction text ----
  private trait Dial {
    def iso(d: String): String
    def slash(d: String): String
    def dot(d: String): String
    def compact(d: String): String
    def yslash(d: String): String
    def dash(d: String): String
    def mon(d: String): String
    def dmon(d: String): String
    def monfull(d: String): String
  }
  private object SparkD extends Dial {
    def iso(d: String)     = s"date_format($d, 'yyyy-MM-dd')"
    def slash(d: String)   = s"date_format($d, 'M/d/yyyy')"
    def dot(d: String)     = s"date_format($d, 'dd.MM.yyyy')"
    def compact(d: String) = s"date_format($d, 'yyyyMMdd')"
    def yslash(d: String)  = s"date_format($d, 'yyyy/MM/dd')"
    def dash(d: String)    = s"date_format($d, 'MM-dd-yyyy')"
    def mon(d: String)     = s"date_format($d, 'MMM dd yyyy')"
    def dmon(d: String)    = s"date_format($d, 'dd MMM yyyy')"
    def monfull(d: String) = s"date_format($d, 'MMMM dd, yyyy')"
  }
  private object DuckD extends Dial {
    def iso(d: String)     = s"strftime($d, '%Y-%m-%d')"
    def slash(d: String)   = s"strftime($d, '%-m/%-d/%Y')"
    def dot(d: String)     = s"strftime($d, '%d.%m.%Y')"
    def compact(d: String) = s"strftime($d, '%Y%m%d')"
    def yslash(d: String)  = s"strftime($d, '%Y/%m/%d')"
    def dash(d: String)    = s"strftime($d, '%m-%d-%Y')"
    def mon(d: String)     = s"strftime($d, '%b %d %Y')"
    def dmon(d: String)    = s"strftime($d, '%d %b %Y')"
    def monfull(d: String) = s"strftime($d, '%B %d, %Y')"
  }

  /** hh:mm:ss from key arithmetic — portable verbatim. */
  private val TimePart =
    "lpad(CAST(k % 24 AS STRING), 2, '0') || ':' || " +
    "lpad(CAST(k % 60 AS STRING), 2, '0') || ':' || " +
    "lpad(CAST((k * 7) % 60 AS STRING), 2, '0')"

  /** Multi-format timestamp string rotating over all 9 parseable formats
    * (the reference's 7 DATE_FORMATS incl. the three month-name forms, plus
    * the dotted-European and compact forms), so the gates enforce every
    * branch of the [[Portable.TsDispatch]] table in both engines. */
  private def tsStr(d: Dial, dateExpr: String): String =
    s"CASE CAST(k % 9 AS INT) WHEN 0 THEN ${d.iso(dateExpr)} " +
      s"WHEN 1 THEN ${d.slash(dateExpr)} WHEN 2 THEN ${d.dot(dateExpr)} " +
      s"WHEN 3 THEN ${d.yslash(dateExpr)} WHEN 4 THEN ${d.dash(dateExpr)} " +
      s"WHEN 5 THEN ${d.mon(dateExpr)} WHEN 6 THEN ${d.dmon(dateExpr)} " +
      s"WHEN 7 THEN ${d.monfull(dateExpr)} " +
      s"ELSE ${d.compact(dateExpr)} END || ' ' || $TimePart"

  /** ISO-only timestamp string (late-reload branches re-arrive clean). */
  private def tsIso(d: Dial, dateExpr: String): String =
    s"${d.iso(dateExpr)} || ' ' || $TimePart"

  // ---- bronze construction builder ----------------------------------------
  private case class BCol(name: String, base: String, late: Option[String] = None)

  /** WITH-clause text `src AS (...), bronze AS (base ∪ late ∪ flagged)`. */
  private def bronzeCte(table: String, kExpr: String, cols: Seq[BCol],
                        lateMod: Int, junkMod: Int): String = {
    def sel(exprs: Seq[String], pa: String, flag: String, where: String) =
      "SELECT " + exprs.mkString(", ") +
        s", $pa AS processed_at, $flag AS is_duplicate_in_file FROM src$where"
    val base = sel(cols.map(c => s"${c.base} AS ${c.name}"), "k * 4", "FALSE", "")
    val late = sel(cols.map(c => s"${c.late.getOrElse(c.base)} AS ${c.name}"),
      "k * 4 + 1", "FALSE", s" WHERE k % $lateMod = 0")
    val junk = sel(cols.map(c => s"${c.base} AS ${c.name}"),
      "k * 4 + 2", "TRUE", s" WHERE k % $junkMod = 0")
    s"src AS (SELECT *, $kExpr AS k FROM $table),\n" +
      s"bronze AS ($base\nUNION ALL\n$late\nUNION ALL\n$junk)"
  }

  // cols are built per-dialect: only timestamp-string columns differ
  private type Cols = Dial => Seq[BCol]

  /** Spark bronze frame: the SAME construction the oracle's 3-branch UNION
    * CTE encodes, built as ONE pass over the source (r17, guide §2.4/§6 —
    * the UNION re-scanned and re-fanned the source once per surviving
    * branch; at 100 TB that is two extra corpus scans). Each src row emits
    * its base record, conditionally its late-reload record (k % lateMod = 0)
    * and conditionally its in-file-duplicate record (k % junkMod = 0) via a
    * 3-slot array + explode; slots whose branch-WHERE is false are null and
    * dropped by a plain codegen'd IS NOT NULL AFTER the explode (the
    * CLAUDE.md hot-path rule: never an array-filter HOF on a corpus path).
    * Row set is identical to the UNION by construction: slot 1 = the base
    * SELECT, slot 2 = the late SELECT under its WHERE, slot 3 = the junk
    * SELECT under its WHERE. The base value struct is aliased (`__b`) and
    * re-read by the junk record, so base expressions — the 9-way
    * date_format dispatch is the expensive one — are computed once per row
    * (multi-referenced non-cheap alias: CollapseProject keeps it). */
  private def bronzeDf(df: DataFrame, kExpr: String, cols: Cols,
                       lateMod: Int, junkMod: Int): DataFrame = {
    val cs = cols(SparkD)
    val names = cs.map(_.name)
    // Single-row-group test files scan as one partition; fan out so the
    // CPU-dense bronze construction + cleaner chains run at full width
    // (no-op when the scan already has enough splits — see Scale.fanOutScan).
    val src = graft.operators.Scale.fanOutScan(df).withColumn("k", expr(kExpr))
    val baseVals = struct(cs.map(c => expr(c.base).as(c.name)): _*)
    val lateVals = struct(cs.map(c => expr(c.late.getOrElse(c.base)).as(c.name)): _*)
    val w = src.select(col("k"), baseVals.as("__b"),
      when(expr(s"k % $lateMod = 0"), lateVals).as("__l"))
    def rec(v: Column, pa: Column, dup: Boolean) =
      struct(names.map(n => v.getField(n).as(n)) :+ pa.as("processed_at") :+
        lit(dup).as("is_duplicate_in_file"): _*)
    val arr = array(
      rec(col("__b"), expr("k * 4"), dup = false),
      when(col("__l").isNotNull, rec(col("__l"), expr("k * 4 + 1"), dup = false)),
      when(expr(s"k % $junkMod = 0"), rec(col("__b"), expr("k * 4 + 2"), dup = true)))
    w.select(explode(arr).as("__r"))
      .filter(col("__r").isNotNull)
      .select(names.map(n => col(s"__r.`$n`").as(n)) :+
        col("__r.processed_at").as("processed_at") :+
        col("__r.is_duplicate_in_file").as("is_duplicate_in_file"): _*)
  }

  private val LoadedAtLit = "2026-01-01 00:00:00"
  private def loadedAtSpark = expr(s"TIMESTAMP_NTZ '$LoadedAtLit'")
  private def loadedAtDuck  = s"TIMESTAMP '$LoadedAtLit'"

  // ---- DuckDB cleaning twins (bitwise-proven snippets) ---------------------
  private val SentUpper =
    Cleaning.NullSentinels.map(_.toUpperCase).map(s => s"'$s'").mkString("(", ", ", ")")
  private def ic(x: String) = Portable.initcapDuck(x)
  private def sentIcD(x: String) =
    s"CASE WHEN upper(trim($x)) IN $SentUpper THEN NULL ELSE ${ic(s"trim($x)")} END"
  private def genderD(x: String) =
    s"CASE WHEN upper(trim($x)) IN $SentUpper THEN NULL " +
      s"WHEN upper(trim($x)) IN ('M', 'MALE') THEN 'Male' " +
      s"WHEN upper(trim($x)) IN ('F', 'FEMALE') THEN 'Female' " +
      s"ELSE ${ic(s"trim($x)")} END"
  private def stateD(x: String) =
    s"CASE WHEN upper(trim($x)) IN $SentUpper THEN NULL " +
      s"WHEN length(trim($x)) = 2 THEN upper(trim($x)) ELSE ${ic(s"trim($x)")} END"
  private def emailD(x: String) =
    s"CASE WHEN regexp_full_match(trim($x), '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}') " +
      s"THEN lower(trim($x)) ELSE NULL END"
  private def lowerSentD(x: String) =
    s"CASE WHEN upper(trim($x)) IN $SentUpper THEN NULL ELSE lower(trim($x)) END"
  private def bigintD(x: String) = s"TRY_CAST($x AS BIGINT)"
  private def dblD(x: String)    = s"TRY_CAST($x AS DOUBLE)"
  private def tsD(x: String)     = Portable.tsMultiDuck(x)

  /** Oracle skeleton: construction CTE + keep-latest dedup + cleaned select.
    * Plain concatenation, NO stripMargin: embedded snippets may begin a line
    * with `||`, and a second stripMargin pass would eat the first bar. */
  private def oracleSql(cte: String, pk: String, outCols: Seq[(String, String)]): String =
    s"WITH $cte,\n" +
      "ded AS (SELECT *, ROW_NUMBER() OVER (\n" +
      s"    PARTITION BY TRY_CAST($pk AS BIGINT) ORDER BY processed_at DESC) AS row_rank\n" +
      "  FROM bronze WHERE NOT is_duplicate_in_file)\n" +
      s"SELECT ${outCols.map { case (e, n) => s"$e AS $n" }.mkString(",\n  ")},\n" +
      s"  $loadedAtDuck AS silver_loaded_at\n" +
      "FROM ded WHERE row_rank = 1"

  // ---- proven dirt snippets (shared verbatim) ------------------------------
  private val GenderDirt =
    """CASE CAST(k % 8 AS INT) WHEN 0 THEN 'M' WHEN 1 THEN 'MALE' WHEN 2 THEN 'f'
      |    WHEN 3 THEN 'Female' WHEN 4 THEN 'nonbinary' WHEN 5 THEN 'N/A'
      |    WHEN 6 THEN '--' ELSE 'F' END""".stripMargin
  private val StateDirt =
    """CASE CAST(k % 7 AS INT) WHEN 0 THEN 'ca' WHEN 1 THEN 'TX' WHEN 2 THEN 'new york'
      |    WHEN 3 THEN ' wa ' WHEN 4 THEN 'NA' WHEN 5 THEN '--'
      |    ELSE 'north carolina' END""".stripMargin
  private val CityDirt =
    """CASE CAST(k % 9 AS INT) WHEN 0 THEN '#N/A' WHEN 1 THEN 'SAN FRANCISCO'
      |    WHEN 2 THEN '  new york  ' ELSE 'Springfield' END""".stripMargin
  private val TrafficDirt =
    """CASE CAST(k % 5 AS INT) WHEN 0 THEN 'Search' WHEN 1 THEN 'EMAIL'
      |    WHEN 2 THEN ' organic ' WHEN 3 THEN 'Display' ELSE 'referral' END""".stripMargin

  // ======================= users ← customer =================================
  private val usersCols: Cols = d => Seq(
    BCol("id",
      "CASE WHEN k % 23 = 0 THEN 'X' || CAST(k AS STRING) ELSE CAST(k AS STRING) END"),
    BCol("first_name",
      """CASE CAST(k % 11 AS INT) WHEN 0 THEN 'N/A' WHEN 1 THEN 'null' WHEN 2 THEN ' '
        |    WHEN 3 THEN 'MISSING' ELSE '  ' || c_name || '  ' END""".stripMargin),
    BCol("last_name",
      """CASE CAST(k % 7 AS INT) WHEN 0 THEN 'NONE' WHEN 1 THEN lower(c_mktsegment)
        |    WHEN 2 THEN ' ' || c_mktsegment || ' ' ELSE c_mktsegment END""".stripMargin),
    BCol("email",
      """CASE CAST(k % 4 AS INT)
        |    WHEN 0 THEN 'User' || CAST(k AS STRING) || '@Example.COM'
        |    WHEN 1 THEN '  user' || CAST(k AS STRING) || '@test.org  '
        |    ELSE 'not an email ' || CAST(k AS STRING) END""".stripMargin,
      late = Some("'late' || CAST(k AS STRING) || '@late.com'")),
    BCol("age", "CASE WHEN k % 13 = 0 THEN 'unknown' ELSE CAST(18 + k % 60 AS STRING) END"),
    BCol("gender", GenderDirt),
    BCol("state", StateDirt),
    BCol("city", CityDirt),
    BCol("traffic_source", TrafficDirt, late = Some("'late load'")),
    BCol("created_at", tsStr(d, "DATE '2024-01-01' + CAST(k % 365 AS INT)"),
      late = Some(tsIso(d, "DATE '2025-06-01' + CAST(k % 30 AS INT)"))))

  def silverUsers(spark: SparkSession, dir: String): DataFrame =
    SilverTransforms.users(
      bronzeDf(Tables.customer(spark, dir), "c_custkey",
        usersCols, 10, 19),
      loadedAtSpark)

  private val silverUsersSql = oracleSql(
    bronzeCte("customer", "c_custkey", usersCols(DuckD), 10, 19), "id", Seq(
      bigintD("id") -> "id",
      sentIcD("first_name") -> "first_name",
      sentIcD("last_name") -> "last_name",
      emailD("email") -> "email",
      bigintD("age") -> "age",
      genderD("gender") -> "gender",
      stateD("state") -> "state",
      sentIcD("city") -> "city",
      sentIcD("traffic_source") -> "traffic_source",
      tsD("created_at") -> "created_at"))

  // ======================= orders ← orders ==================================
  private val ordersCols: Cols = d => Seq(
    BCol("order_id",
      "CASE WHEN k % 31 = 0 THEN 'bad-' || CAST(k AS STRING) ELSE CAST(k AS STRING) END"),
    BCol("user_id", "CAST(o_custkey AS STRING)"),
    BCol("status",
      """CASE CAST(k % 9 AS INT) WHEN 0 THEN 'N/A' WHEN 1 THEN ' open '
        |    WHEN 2 THEN 'FILLED' WHEN 3 THEN 'pending' ELSE o_orderstatus END""".stripMargin,
      late = Some("'late-filled'")),
    BCol("gender", GenderDirt),
    BCol("created_at", tsStr(d, "CAST(o_orderdate AS DATE)")),
    BCol("returned_at",
      s"""CASE CAST(k % 3 AS INT) WHEN 0 THEN ${tsIso(d, "CAST(o_orderdate AS DATE) + 30")}
         |    WHEN 1 THEN '' ELSE 'N/A' END""".stripMargin),
    BCol("num_of_item",
      "CASE WHEN k % 17 = 0 THEN 'many' ELSE CAST(1 + k % 7 AS STRING) END"))

  def silverOrders(spark: SparkSession, dir: String): DataFrame =
    SilverTransforms.orders(
      bronzeDf(Tables.orders(spark, dir), "o_orderkey",
        ordersCols, 10, 19),
      loadedAtSpark)

  private val silverOrdersSql = oracleSql(
    bronzeCte("orders", "o_orderkey", ordersCols(DuckD), 10, 19), "order_id", Seq(
      bigintD("order_id") -> "order_id",
      bigintD("user_id") -> "user_id",
      sentIcD("status") -> "status",
      genderD("gender") -> "gender",
      tsD("created_at") -> "created_at",
      tsD("returned_at") -> "returned_at",
      bigintD("num_of_item") -> "num_of_item"))

  // ======================= order_items ← lineitem ===========================
  private val orderItemsCols: Cols = d => Seq(
    BCol("id",
      "CASE WHEN k % 41 = 0 THEN 'bad' || CAST(k AS STRING) ELSE CAST(k AS STRING) END"),
    BCol("order_id", "CAST(l_orderkey AS STRING)"),
    BCol("product_id", "CAST(l_partkey AS STRING)"),
    BCol("inventory_item_id", "CAST(l_suppkey AS STRING)"),
    BCol("status",
      """CASE CAST(k % 8 AS INT) WHEN 0 THEN 'NULL' WHEN 1 THEN ' shipped '
        |    WHEN 2 THEN 'RETURNED' WHEN 3 THEN 'complete' ELSE l_linestatus END""".stripMargin),
    BCol("created_at", tsStr(d, "CAST(l_shipdate AS DATE)")),
    BCol("sale_price", "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS STRING)",
      late = Some("CAST(CAST(l_extendedprice AS DECIMAL(12,2)) + 1.00 AS STRING)")),
    BCol("sale_price_value_type",
      """CASE CAST(k % 4 AS INT) WHEN 0 THEN 'USD' WHEN 1 THEN 'usd '
        |    WHEN 2 THEN '' ELSE CAST(NULL AS STRING) END""".stripMargin))

  def silverOrderItems(spark: SparkSession, dir: String): DataFrame =
    SilverTransforms.orderItems(
      bronzeDf(Tables.lineitem(spark, dir),
        "(l_orderkey * 10 + l_linenumber) * 100000000 + CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)", orderItemsCols, 10, 19),
      loadedAtSpark)

  private val silverOrderItemsSql = oracleSql(
    bronzeCte("lineitem", "(l_orderkey * 10 + l_linenumber) * 100000000 + CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)",
      orderItemsCols(DuckD), 10, 19), "id", Seq(
      bigintD("id") -> "id",
      bigintD("order_id") -> "order_id",
      bigintD("product_id") -> "product_id",
      bigintD("inventory_item_id") -> "inventory_item_id",
      sentIcD("status") -> "status",
      tsD("created_at") -> "created_at",
      dblD("sale_price") -> "sale_price",
      ("CASE WHEN sale_price_value_type IS NOT NULL AND trim(sale_price_value_type) != '' " +
        "THEN 'USD' ELSE NULL END") -> "sale_price_value_type"))

  // ======================= products ← part ==================================
  private val productsCols: Cols = _ => Seq(
    BCol("id",
      "CASE WHEN k % 29 = 0 THEN 'p?' || CAST(k AS STRING) ELSE CAST(k AS STRING) END"),
    BCol("cost", "CAST(CAST(p_retailprice AS DECIMAL(12,2)) - 5.00 AS STRING)"),
    BCol("category",
      """CASE CAST(k % 10 AS INT) WHEN 0 THEN 'NA' WHEN 1 THEN ' ' || p_type || ' '
        |    WHEN 2 THEN upper(p_type) ELSE p_type END""".stripMargin),
    BCol("name",
      "CASE WHEN k % 12 = 0 THEN 'MISSING' ELSE '  ' || p_name || '  ' END",
      late = Some("'late ' || p_name")),
    BCol("brand",
      "CASE WHEN k % 15 = 0 THEN '-' ELSE lower(p_brand) END"),
    BCol("retail_price", "CAST(CAST(p_retailprice AS DECIMAL(12,2)) AS STRING)"),
    BCol("department",
      "CASE CAST(k % 3 AS INT) WHEN 0 THEN 'Men' WHEN 1 THEN 'WOMEN' ELSE ' kids ' END"),
    BCol("sku", "' sku-' || CAST(k AS STRING) || '-a '"),
    BCol("distribution_center_id", "CAST(1 + k % 10 AS STRING)"))

  def silverProducts(spark: SparkSession, dir: String): DataFrame =
    SilverTransforms.products(
      bronzeDf(Tables.part(spark, dir), "p_partkey",
        productsCols, 10, 19),
      loadedAtSpark)

  private val silverProductsSql = oracleSql(
    bronzeCte("part", "p_partkey", productsCols(DuckD), 10, 19), "id", Seq(
      bigintD("id") -> "id",
      dblD("cost") -> "cost",
      sentIcD("category") -> "category",
      sentIcD("name") -> "name",
      sentIcD("brand") -> "brand",
      dblD("retail_price") -> "retail_price",
      sentIcD("department") -> "department",
      "upper(trim(sku))" -> "sku",
      bigintD("distribution_center_id") -> "distribution_center_id"))

  // ======================= inventory_items ← lineitem =======================
  private val inventoryCols: Cols = d => Seq(
    BCol("id",
      "CASE WHEN k % 43 = 0 THEN 'i!' || CAST(k AS STRING) ELSE CAST(k AS STRING) END"),
    BCol("product_id", "CAST(l_partkey AS STRING)"),
    BCol("created_at", tsStr(d, "CAST(l_shipdate AS DATE)")),
    BCol("sold_at",
      s"""CASE CAST(k % 3 AS INT) WHEN 0 THEN ${tsIso(d, "CAST(l_shipdate AS DATE) + 7")}
         |    WHEN 1 THEN '' ELSE 'missing' END""".stripMargin),
    BCol("cost", "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS STRING)"),
    BCol("product_category",
      """CASE CAST(k % 8 AS INT) WHEN 0 THEN 'n/a' WHEN 1 THEN ' ' || l_returnflag || '-goods '
        |    ELSE l_returnflag || '-goods' END""".stripMargin),
    BCol("product_name", "CASE WHEN k % 12 = 0 THEN '' ELSE 'Item ' || CAST(l_partkey AS STRING) END"),
    BCol("product_brand",
      """CASE CAST(k % 6 AS INT) WHEN 0 THEN 'acme' WHEN 1 THEN 'ACME CO'
        |    WHEN 2 THEN ' generic ' WHEN 3 THEN 'NAN' ELSE 'Generic' END""".stripMargin),
    BCol("product_retail_price",
      "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) + 10.00 AS STRING)"),
    BCol("product_sku", "' sku-' || CAST(l_partkey AS STRING) || ' '"),
    BCol("product_distribution_center_id", "CAST(1 + k % 10 AS STRING)"))

  def silverInventoryItems(spark: SparkSession, dir: String): DataFrame =
    SilverTransforms.inventoryItems(
      bronzeDf(Tables.lineitem(spark, dir),
        "(l_orderkey * 10 + l_linenumber) * 100000000 + CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)", inventoryCols, 11, 23),
      loadedAtSpark)

  private val silverInventoryItemsSql = oracleSql(
    bronzeCte("lineitem", "(l_orderkey * 10 + l_linenumber) * 100000000 + CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)",
      inventoryCols(DuckD), 11, 23), "id", Seq(
      bigintD("id") -> "id",
      bigintD("product_id") -> "product_id",
      tsD("created_at") -> "created_at",
      tsD("sold_at") -> "sold_at",
      dblD("cost") -> "cost",
      sentIcD("product_category") -> "product_category",
      sentIcD("product_name") -> "product_name",
      sentIcD("product_brand") -> "product_brand",
      dblD("product_retail_price") -> "product_retail_price",
      "upper(trim(product_sku))" -> "product_sku",
      bigintD("product_distribution_center_id") -> "product_distribution_center_id"))

  // ======================= distribution_centers ← nation ====================
  private val dcCols: Cols = _ => Seq(
    BCol("id", "CAST(k AS STRING)"),
    BCol("name",
      """CASE WHEN k % 11 = 0 THEN 'N/A' ELSE
        |    (CASE CAST(k % 5 AS INT) WHEN 0 THEN 'memphis' WHEN 1 THEN 'Chicago'
        |      WHEN 2 THEN 'houston' WHEN 3 THEN 'PORT ARTHUR' ELSE 'savannah' END)
        |    || ' ' ||
        |    (CASE CAST(k % 7 AS INT) WHEN 0 THEN 'TN' WHEN 1 THEN 'IL' WHEN 2 THEN 'tx'
        |      WHEN 3 THEN 'CA' WHEN 4 THEN 'ny' WHEN 5 THEN 'GA' ELSE 'WA' END) END""".stripMargin),
    BCol("latitude", "CAST(CAST(k AS DOUBLE) * 1.5 - 10.0 AS STRING)"),
    BCol("longitude", "CAST(CAST(k AS DOUBLE) * (-2.25) + 100.0 AS STRING)"))

  def silverDistributionCenters(spark: SparkSession, dir: String): DataFrame =
    SilverTransforms.distributionCenters(
      bronzeDf(Tables.nation(spark, dir),
        "CAST(n_nationkey AS BIGINT)", dcCols, 4, 6),
      loadedAtSpark)

  private val silverDistributionCentersSql = oracleSql(
    bronzeCte("nation", "CAST(n_nationkey AS BIGINT)", dcCols(DuckD), 4, 6), "id", Seq(
      bigintD("id") -> "id",
      sentIcD("name") -> "name",
      ic("trim(regexp_replace(trim(name), '\\s+\\S+$', ''))") -> "city",
      "upper(regexp_extract(trim(name), '(\\S+)$', 1))" -> "state",
      dblD("latitude") -> "latitude",
      dblD("longitude") -> "longitude"))

  // ======================= events ← events ==================================
  private val eventsCols: Cols = d => Seq(
    BCol("id",
      "CASE WHEN k % 37 = 0 THEN 'E' || CAST(k AS STRING) ELSE CAST(k AS STRING) END"),
    BCol("user_id", "CAST(user_id AS STRING)"),
    BCol("sequence_number",
      "CASE WHEN k % 13 = 0 THEN 'x' ELSE CAST(k % 100 AS STRING) END"),
    BCol("session_id",
      "'  sess-' || CAST(user_id AS STRING) || '-' || CAST(k % 50 AS STRING) || '  '"),
    BCol("created_at", tsStr(d, "CAST(ts AS DATE)")),
    BCol("city", CityDirt),
    BCol("state", StateDirt),
    BCol("browser",
      """CASE CAST(k % 6 AS INT) WHEN 0 THEN 'chrome' WHEN 1 THEN 'FIREFOX'
        |    WHEN 2 THEN ' safari ' WHEN 3 THEN 'Edge' WHEN 4 THEN 'N/A' ELSE 'IE' END""".stripMargin),
    BCol("traffic_source", TrafficDirt),
    BCol("uri", "' /product/' || CAST(k % 500 AS STRING) || ' '"),
    BCol("event_type",
      "CASE WHEN k % 23 = 0 THEN 'NULL' ELSE upper(event_type) END",
      late = Some("'purchase'")))

  def silverEvents(spark: SparkSession, dir: String): DataFrame =
    SilverTransforms.events(
      bronzeDf(Tables.events(spark, dir), "event_id",
        eventsCols, 10, 19),
      loadedAtSpark)

  private val silverEventsSql = oracleSql(
    bronzeCte("events", "event_id", eventsCols(DuckD), 10, 19), "id", Seq(
      bigintD("id") -> "id",
      bigintD("user_id") -> "user_id",
      bigintD("sequence_number") -> "sequence_number",
      "trim(session_id)" -> "session_id",
      tsD("created_at") -> "created_at",
      sentIcD("city") -> "city",
      stateD("state") -> "state",
      sentIcD("browser") -> "browser",
      sentIcD("traffic_source") -> "traffic_source",
      "trim(uri)" -> "uri",
      lowerSentD("event_type") -> "event_type"))

  // ==========================================================================
  val queries: Map[String, Q] = Map(
    "silver_users"                -> (silverUsers _),
    "silver_orders"               -> (silverOrders _),
    "silver_order_items"          -> (silverOrderItems _),
    "silver_products"             -> (silverProducts _),
    "silver_inventory_items"      -> (silverInventoryItems _),
    "silver_distribution_centers" -> (silverDistributionCenters _),
    "silver_events"               -> (silverEvents _))

  val oracle: Map[String, String] = Map(
    "silver_users"                -> silverUsersSql,
    "silver_orders"               -> silverOrdersSql,
    "silver_order_items"          -> silverOrderItemsSql,
    "silver_products"             -> silverProductsSql,
    "silver_inventory_items"      -> silverInventoryItemsSql,
    "silver_distribution_centers" -> silverDistributionCentersSql,
    "silver_events"               -> silverEventsSql)
}
