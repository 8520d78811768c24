package graft.medallion

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Cleaning

/** Bronze → silver transformation programs — the reference's per-table silver
  * layer (test_data/thelook_ecommerce/silver/transformations/users.sql:8-96,
  * orders.sql, order_items.sql, products.sql, inventory_items.sql,
  * distribution_centers.sql, events.sql and their spark_procedures twins)
  * re-expressed as composed Spark projection pipelines.
  *
  * Every program is the same composition the reference SQL encodes:
  *
  *  1. drop rows flagged `is_duplicate_in_file` (the bronze loader's keep-first
  *     in-file dedup, [[Cleaning.flagDuplicates]]);
  *  2. dedup-keep-latest across loads: `row_number()` over the SAFE_CAST'd
  *     primary key ordered by `processed_at` DESC — one shuffle on the pk;
  *  3. per-column cleaners ([[Cleaning]]): SAFE_CAST pk/int columns,
  *     sentinel-or-initcap strings, gender expansion, email validation,
  *     multi-format timestamp parsing, value_type → 'USD' normalization,
  *     city/state splitting;
  *  4. stamp `silver_loaded_at`.
  *
  * Scale shape: steps 1, 3, 4 are projections/filters that fuse into the scan;
  * the ONLY shuffle is the pk window in step 2, which is exactly the shuffle a
  * MERGE-style silver load needs anyway. Nothing here is driver-side.
  *
  * `processed_at` is any ordered ingest stamp (the constructions use a BIGINT
  * sequence; the reference uses a TIMESTAMP — ordering is all that matters).
  * `loadedAt` is injectable so oracle-gated runs can pin a literal where the
  * reference writes CURRENT_TIMESTAMP().
  */
object SilverTransforms {

  /** Steps 1+2: in-file dup drop, then keep-latest by SAFE_CAST'd pk.
    * Uncastable pks share the NULL group — reference semantics
    * (PARTITION BY SAFE_CAST(id AS INT64)): one representative row survives.
    * `processed_at` must be unique per pk for the result to be well-defined
    * (true for any monotone ingest stamp).
    *
    * Physically this is `max_by(row-struct, processed_at)`, NOT the
    * reference's ROW_NUMBER window: identical surviving rows, but partial
    * aggregation combines duplicates map-side so the exchange carries one
    * row per (pk, map task), not the full input. Spark plans it as
    * SortAggregate (the string-carrying struct buffer is immutable, so
    * HashAggregate is unavailable) — r16 measured the tempting "fix",
    * [[graft.operators.Scale.topKPerKey]] k=1 over the graft_top_k
    * TypedImperativeAggregate (ObjectHashAggregate, no sorts), as ~12%
    * SLOWER in an interleaved bit-identical A/B (SilverAbProbe in CLAUDE.md's
    * probe lessons: min 1.59 vs 1.78 s, med 1.87 vs 2.07 s on sf0.1
    * lineitem): the per-row typed-buffer update costs more than the cheap
    * binary-row sorts it removes. Keep max_by. */
  def dedupLatest(bronze: DataFrame, pkRaw: String): DataFrame = {
    val cols = bronze.columns
    bronze.filter(!col("is_duplicate_in_file"))
      .groupBy(expr(s"try_cast($pkRaw as bigint)").as("__pk"))
      .agg(max_by(struct(cols.map(col).toIndexedSeq: _*), col("processed_at")).as("__row"))
      .select(cols.map(c => col(s"__row.`$c`").as(c)).toIndexedSeq: _*)
  }

  private def bigint(c: String): Column = expr(s"try_cast($c as bigint)")
  private def dbl(c: String): Column = expr(s"try_cast($c as double)")
  private def sentIc(c: String): Column = Cleaning.sentinelOrInitcap(col(c))

  /** users.sql:18-96: SAFE_CAST id/age, sentinel-or-initcap names/city/
    * traffic_source, gender expansion, email validation, state formatting,
    * multi-format created_at. */
  def users(bronze: DataFrame, loadedAt: Column): DataFrame =
    dedupLatest(bronze, "id").select(
      bigint("id").as("id"),
      sentIc("first_name").as("first_name"),
      sentIc("last_name").as("last_name"),
      Cleaning.emailClean(col("email")).as("email"),
      bigint("age").as("age"),
      Cleaning.genderExpand(col("gender")).as("gender"),
      Cleaning.stateFormat(col("state")).as("state"),
      sentIc("city").as("city"),
      sentIc("traffic_source").as("traffic_source"),
      Cleaning.parseTimestampMulti("created_at").as("created_at"),
      loadedAt.as("silver_loaded_at"))

  /** orders.sql:18-80: SAFE_CAST ids/num_of_item, sentinel-or-initcap status,
    * gender expansion, multi-format created_at/returned_at. */
  def orders(bronze: DataFrame, loadedAt: Column): DataFrame =
    dedupLatest(bronze, "order_id").select(
      bigint("order_id").as("order_id"),
      bigint("user_id").as("user_id"),
      sentIc("status").as("status"),
      Cleaning.genderExpand(col("gender")).as("gender"),
      Cleaning.parseTimestampMulti("created_at").as("created_at"),
      Cleaning.parseTimestampMulti("returned_at").as("returned_at"),
      bigint("num_of_item").as("num_of_item"),
      loadedAt.as("silver_loaded_at"))

  /** order_items.sql:20-85: SAFE_CAST id chain, sentinel-or-initcap status,
    * multi-format created_at, numeric sale_price, value_type → 'USD'. */
  def orderItems(bronze: DataFrame, loadedAt: Column): DataFrame =
    dedupLatest(bronze, "id").select(
      bigint("id").as("id"),
      bigint("order_id").as("order_id"),
      bigint("product_id").as("product_id"),
      bigint("inventory_item_id").as("inventory_item_id"),
      sentIc("status").as("status"),
      Cleaning.parseTimestampMulti("created_at").as("created_at"),
      dbl("sale_price").as("sale_price"),
      when(col("sale_price_value_type").isNotNull &&
          trim(col("sale_price_value_type")) =!= "", lit("USD"))
        .otherwise(lit(null).cast("string")).as("sale_price_value_type"),
      loadedAt.as("silver_loaded_at"))

  /** products.sql:18-53: SAFE_CAST ids, numeric cost/retail_price,
    * sentinel-or-initcap category/name/brand/department, UPPER(TRIM) sku. */
  def products(bronze: DataFrame, loadedAt: Column): DataFrame =
    dedupLatest(bronze, "id").select(
      bigint("id").as("id"),
      dbl("cost").as("cost"),
      sentIc("category").as("category"),
      sentIc("name").as("name"),
      sentIc("brand").as("brand"),
      dbl("retail_price").as("retail_price"),
      sentIc("department").as("department"),
      upper(trim(col("sku"))).as("sku"),
      bigint("distribution_center_id").as("distribution_center_id"),
      loadedAt.as("silver_loaded_at"))

  /** inventory_items.sql:20-77: SAFE_CAST ids, multi-format created_at/sold_at
    * (sold_at mostly junk → NULL), numeric cost/product_retail_price,
    * sentinel-or-initcap product strings, UPPER(TRIM) product_sku. */
  def inventoryItems(bronze: DataFrame, loadedAt: Column): DataFrame =
    dedupLatest(bronze, "id").select(
      bigint("id").as("id"),
      bigint("product_id").as("product_id"),
      Cleaning.parseTimestampMulti("created_at").as("created_at"),
      Cleaning.parseTimestampMulti("sold_at").as("sold_at"),
      dbl("cost").as("cost"),
      sentIc("product_category").as("product_category"),
      sentIc("product_name").as("product_name"),
      sentIc("product_brand").as("product_brand"),
      dbl("product_retail_price").as("product_retail_price"),
      upper(trim(col("product_sku"))).as("product_sku"),
      bigint("product_distribution_center_id").as("product_distribution_center_id"),
      loadedAt.as("silver_loaded_at"))

  /** distribution_centers.sql:15-48: the name is "City Name ST"; silver keeps
    * the initcap'd full name AND splits it — city = initcap(name minus the
    * trailing state token), state = UPPER(last token). */
  def distributionCenters(bronze: DataFrame, loadedAt: Column): DataFrame =
    dedupLatest(bronze, "id").select(
      bigint("id").as("id"),
      sentIc("name").as("name"),
      initcap(Cleaning.citySplit(col("name"))).as("city"),
      upper(Cleaning.stateSplit(col("name"))).as("state"),
      dbl("latitude").as("latitude"),
      dbl("longitude").as("longitude"),
      loadedAt.as("silver_loaded_at"))

  /** The full bronze→silver load, as the reference's spark_procedures run it
    * (users.sql:76-167: read bronze → dedup → clean → overwrite silver →
    * upsert-style MERGE in the incremental variant). Each program's name maps
    * to its transform; `mode` picks overwrite (full rebuild, the procedures'
    * default) or pk-upsert (incremental MERGE semantics). Returns the row
    * count written. */
  def runProgram(name: String, bronze: DataFrame, lake: graft.lake.TableFormat,
                 silverTable: String, loadedAt: Column,
                 incremental: Boolean = false): Long = {
    val (out, pk) = name match {
      case "users"                => (users(bronze, loadedAt), "id")
      case "orders"               => (orders(bronze, loadedAt), "order_id")
      case "order_items"          => (orderItems(bronze, loadedAt), "id")
      case "products"             => (products(bronze, loadedAt), "id")
      case "inventory_items"      => (inventoryItems(bronze, loadedAt), "id")
      case "distribution_centers" => (distributionCenters(bronze, loadedAt), "id")
      case "events"               => (events(bronze, loadedAt), "id")
      case other => throw new IllegalArgumentException(s"unknown silver program: $other")
    }
    if (incremental && lake.exists(silverTable)) lake.upsert(out, silverTable, Seq(pk))
    else lake.overwrite(out, silverTable)
    lake.read(bronze.sparkSession, silverTable).count()
  }

  /** events.sql:18-74: SAFE_CAST ids/sequence_number, TRIM session_id/uri,
    * multi-format created_at, sentinel-or-initcap city/state-format/browser/
    * traffic_source, LOWER(TRIM) event_type. */
  def events(bronze: DataFrame, loadedAt: Column): DataFrame =
    dedupLatest(bronze, "id").select(
      bigint("id").as("id"),
      bigint("user_id").as("user_id"),
      bigint("sequence_number").as("sequence_number"),
      trim(col("session_id")).as("session_id"),
      Cleaning.parseTimestampMulti("created_at").as("created_at"),
      sentIc("city").as("city"),
      Cleaning.stateFormat(col("state")).as("state"),
      sentIc("browser").as("browser"),
      sentIc("traffic_source").as("traffic_source"),
      trim(col("uri")).as("uri"),
      when(upper(trim(col("event_type")))
          .isin(Cleaning.NullSentinels.map(_.toUpperCase): _*), lit(null).cast("string"))
        .otherwise(lower(trim(col("event_type")))).as("event_type"),
      loadedAt.as("silver_loaded_at"))
}
