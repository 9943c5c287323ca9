package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.current_date
import org.apache.spark.storage.StorageLevel
import graft.ingest.Harmonizer
import graft.validate.Validator
import graft.sink.Warehouse
import graft.views.CountryViews

/** End-to-end batch ETL orchestration — the Spark rebuild of the reference's
  * `main.main()` (`main.py:141-165`, lifecycle in SURVEY.md §3.1):
  *
  *   scan CSVs → harmonize → validate/quarantine → valid-record filter →
  *   warehouse write → rank latest consultation per customer → write it →
  *   enumerate countries → register per-country views.
  *
  * Each stage is a lazy DataFrame transform; Catalyst plans the whole chain.
  * The annotated validation frame is persisted (MEMORY_AND_DISK — spill-safe
  * at scale) because clean, quarantine, and the warehouse write all read it
  * (SURVEY.md §7.4.3).
  *
  * The W1 rank runs once per load: `latest_by_customer` holds each
  * customer's latest row, ranked over the whole warehouse and partitioned by
  * `COUNTRY` like the warehouse, so every country view is a partition-pruned
  * scan of it with no window. Both tables live under `outDir` and are read
  * back with the schema just written, so partition values stay strings
  * (`036` keeps its leading zero) and no schema inference runs.
  */
object Pipeline {

  final case class Result(
      warehouse: DataFrame,
      quarantineCount: Long,
      quarantinePath: Option[String],
      validCount: Long,
      countries: Seq[String],
      views: Seq[String])

  def run(spark: SparkSession, dataDir: String, outDir: String,
          asOf: org.apache.spark.sql.Column = current_date()): Result = {
    val raw = Harmonizer.loadSourceData(spark, dataDir)
    val validated = Validator.validate(raw)
    val annotated = validated.annotated.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val quarantine = validated.quarantine
      val quarantinePath =
        Validator.saveInvalidRecords(quarantine, s"$outDir/invalid_records")
      val quarantineCount = quarantine.count()

      val valid = validated.validRecords
      val warehouse = writeAndRead(Warehouse.toWarehouse(valid), s"$outDir/warehouse")
      val latest = writeAndRead(CountryViews.latestPerCustomer(warehouse),
        s"$outDir/latest_by_customer")
      val countries = CountryViews.distinctCountries(warehouse)
      val views = CountryViews.registerRankedViews(latest, countries, asOf)
      Result(warehouse, quarantineCount, quarantinePath, warehouse.count(),
        countries, views)
    } finally annotated.unpersist()
  }

  /** Overwrite `path` with `df`, partitioned by `COUNTRY`, and read it back
    * with `df`'s schema (the partition column comes back last). */
  private def writeAndRead(df: DataFrame, path: String): DataFrame = {
    Warehouse.write(df, path, mode = "overwrite")
    df.sparkSession.read.schema(df.schema).parquet(path)
  }
}
