package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.TimeFunctions.batchTimestamp

/** Silver-layer semantics: parse raw JSON payloads into typed, filtered
  * records (reference `src/jobs/process_silver.py:35-114`).
  *
  * The parse schema mirrors the reference's 7-field all-string ticker
  * schema (`process_silver.py:35-43`): numerics are read as strings
  * first, then cast to decimal — double-precision round-trips would
  * corrupt financial values.
  *
  * All transforms are built-in Catalyst expressions (from_json, casts,
  * isin) — fully codegen'd, map-only, no shuffle: at 100 TB this stage
  * is pure scan-transform-write parallelism.
  *
  * `silver_processed_at` is [[graft.functions.BatchTimestamp]] rather
  * than `current_timestamp()` (reference `process_silver.py:113`): the
  * same one value per micro-batch, but not pasted into the generated
  * source as a per-batch literal, so a streaming silver query compiles
  * its stages once instead of every batch (after a warm-up run, 7
  * Janino compiles over 2 one-file batches and 19 over 8 with
  * `current_timestamp()`; the same count for 2 and 8 batches with the
  * wrapper).
  */
object Silver {

  /** Exact mirror of the reference parse target (`process_silver.py:35-43`). */
  val tickerSchema: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("product_id", StringType),
    StructField("price", StringType),
    StructField("volume_24h", StringType),
    StructField("time", StringType),
    StructField("trade_id", StringType),
    StructField("side", StringType),
    StructField("last_size", StringType)))

  /** bronze → silver for ticker JSON envelopes:
    * parse (P3) → filter (P4) → typed projection/casts (P5/P6/P7).
    * Input needs a `json_payload` string column.
    */
  def parseTickers(bronze: DataFrame): DataFrame =
    bronze
      .withColumn("parsed", from_json(col("json_payload"), tickerSchema))
      .filter(col("parsed.type").isin("ticker", "ticker_batch") &&
        col("parsed.product_id").isNotNull)
      .select(
        col("parsed.product_id").as("symbol"),
        col("parsed.price").cast(DecimalType(18, 8)).as("price"),
        col("parsed.time").cast(TimestampType).as("trade_timestamp"),
        col("parsed.trade_id").cast(LongType).as("trade_id"),
        col("parsed.side").as("taker_side"),
        col("parsed.last_size").cast(DecimalType(18, 8)).as("last_size"),
        batchTimestamp().as("silver_processed_at"))

  /** Exact-duplicate removal on the trade identity key — closes the
    * reference's declared-but-missing dedup (`README.md:124`,
    * SURVEY.md discrepancy #2). Batch form; the streaming form is
    * `dropDuplicatesWithinWatermark` in [[graft.streaming.Medallion]].
    */
  def dedupTrades(silver: DataFrame): DataFrame =
    silver.dropDuplicates("symbol", "trade_id")
}
