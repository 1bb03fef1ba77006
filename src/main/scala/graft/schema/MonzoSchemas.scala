package graft.schema

import org.apache.spark.sql.types._

/** Declared schemas for the Monzo medallion pipeline.
  *
  * The reference declares every table with `CREATE TABLE IF NOT EXISTS` DDL
  * (/root/reference/src/sql/create_bronze_layer.sql,
  * create_silver_layer.sql, create_gold_layer.sql) and never infers — we
  * mirror that with explicit StructTypes. Type mapping per SURVEY.md §1.2:
  * money stays in minor units as LongType through bronze; ISO-8601 `Z`
  * strings become TimestampType (session TZ is UTC); the JSON-in-TEXT
  * `merchant_suggested_tags` column keeps a native ArrayType upstream and is
  * serialized with to_json at the bronze boundary (load.py:117).
  */
object MonzoSchemas {

  /** Nested wire shape of one transaction from `/transactions?expand[]=merchant`
    * (implied by _extract_merchant_info, api_client.py:32-109; fixture
    * FIXTURES.md §A2).
    */
  val apiTransaction: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("description", StringType),
    StructField("amount", LongType),
    StructField("currency", StringType),
    StructField("created", StringType),
    StructField("category", StringType),
    StructField("notes", StringType),
    StructField("is_load", BooleanType),
    StructField("settled", StringType),
    StructField("local_amount", LongType),
    StructField("local_currency", StringType),
    StructField("counterparty", StructType(Seq(
      StructField("name", StringType),
      StructField("account_number", LongType),
      StructField("sort_code", LongType)))),
    StructField("merchant", StructType(Seq(
      StructField("id", StringType),
      StructField("name", StringType),
      StructField("category", StringType),
      StructField("logo", StringType),
      StructField("emoji", StringType),
      StructField("online", BooleanType),
      StructField("atm", BooleanType),
      StructField("address", StructType(Seq(
        StructField("address", StringType),
        StructField("city", StringType),
        StructField("postcode", StringType),
        StructField("country", StringType),
        StructField("latitude", DoubleType),
        StructField("longitude", DoubleType)))),
      StructField("google_places_id", StringType),
      StructField("suggested_tags", ArrayType(StringType)),
      StructField("foursquare_id", StringType),
      StructField("website", StringType))))))

  /** bronze_pots snapshot row (create_bronze_layer.sql:45-65; field list
    * load.py:176-218).
    */
  val bronzePots: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("style", StringType),
    StructField("balance", LongType),
    StructField("currency", StringType),
    StructField("type", StringType),
    StructField("product_id", StringType),
    StructField("current_account_id", StringType),
    StructField("cover_image_url", StringType),
    StructField("isa_wrapper", BooleanType),
    StructField("round_up", BooleanType),
    StructField("round_up_multiplier", LongType),
    StructField("is_tax_pot", BooleanType),
    StructField("created", TimestampType),
    StructField("updated", TimestampType),
    StructField("deleted", BooleanType),
    StructField("locked", BooleanType),
    StructField("available_for_bills", BooleanType),
    StructField("has_virtual_cards", BooleanType),
    StructField("date_retrieved", TimestampType)))
}
