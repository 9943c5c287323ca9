package graft.views

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-country analytic views (reference `view_generator.py:4-72` +
  * `main.py:64-139`; operators S6/S7/S8/A1/W1/E4/E5/P9 in SURVEY.md §2).
  *
  * Semantics preserved exactly from the generated Snowflake view:
  *  - W1: `ROW_NUMBER() OVER (PARTITION BY CUST_I ORDER BY CONSUL_DT DESC)`
  *    then `RowNum = 1` — dedup to the latest consultation
  *    (`view_generator.py:42-45`, `:63`).
  *  - The rank runs over the WHOLE table; the country filter applies AFTER
  *    (`view_generator.py:63-64`), so a customer seen in two countries
  *    surfaces only under the country of their latest consultation
  *    (SURVEY.md §7.4.6).
  *  - E4: `AGE = DATEDIFF(YEAR, DOB, CURRENT_DATE())` — Snowflake year-diff
  *    is calendar-year subtraction, NOT birthday-aware (`view_generator.py:33`).
  *  - E5: stale flag with NULL→FALSE coercion via the CASE else branch
  *    (`view_generator.py:36-40`).
  *
  * Determinism: the reference's sort is ambiguous on `CONSUL_DT` ties; the
  * rebuild appends tie-break keys up to every view column, so the order is
  * total (SURVEY.md §7.4.4), and takes the "as of" date as a parameter
  * instead of `current_date()` so results are reproducible (§7.4.5). Pass
  * `asOf = current_date()` for live parity.
  *
  * Shape: two composable pieces. [[latestPerCustomer]] is the W1 rank — one
  * hash-shuffle on `CUST_I` plus a per-partition sort over the whole table.
  * [[registerRankedViews]] registers the per-country views over rows that
  * are already ranked: derived columns plus the country predicate, no
  * window. `Pipeline.run` writes the rank once per load as a
  * `COUNTRY`-partitioned table, so each view is a partition-pruned scan and
  * N countries cost one shuffle per load instead of one per view query.
  */
object CountryViews {

  /** The view's warehouse columns, before the derived E4/E5 columns. */
  private val baseColumns = Seq(
    "CUST_I", "NAME", "OPEN_DT", "CONSUL_DT", "VAC_ID", "DR_NAME", "STATE",
    "COUNTRY", "DOB", "FLAG")

  /** `ORDER BY CONSUL_DT DESC` extended to a total order: after the stable
    * tie-break keys come the remaining view columns, so tied rows that differ
    * in DOB or COUNTRY resolve the same way under any partitioning. */
  private def dedupOrder: Seq[Column] = Seq(
    col("CONSUL_DT").desc_nulls_last,
    col("OPEN_DT").desc_nulls_last) ++
    Seq("VAC_ID", "NAME", "DR_NAME", "STATE", "COUNTRY", "DOB", "FLAG")
      .map(col(_).asc_nulls_last)

  /** W1: the `RowNum = 1` row of every customer (`view_generator.py:42-45`,
    * `:63`), ranked over the WHOLE warehouse and projected to the view's
    * warehouse columns. This is the one shuffle of the views. */
  def latestPerCustomer(warehouse: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("CUST_I")).orderBy(dedupOrder: _*)
    warehouse.select(baseColumns.map(col): _*)
      .withColumn("RowNum", row_number().over(w))
      .filter(col("RowNum") === 1)
      .drop("RowNum")
  }

  /** E4+E5 over already-ranked rows (`view_generator.py:33-40`), computed
    * from `asOf` at query time. */
  private def withDerived(latest: DataFrame, asOf: Column): DataFrame =
    latest.select(baseColumns.map(col) ++ Seq(
      (year(asOf) - year(col("DOB"))).as("AGE"),
      when(datediff(asOf, col("CONSUL_DT")) > 30, true).otherwise(false)
        .as("DAYS_SINCE_CONSUL_GT_30")): _*)

  /** Latest-consultation row per customer with derived columns — the view
    * body before the country predicate (`view_generator.py:49-63`). */
  def dedupedCustomers(warehouse: DataFrame, asOf: Column = current_date()): DataFrame =
    withDerived(latestPerCustomer(warehouse), asOf)

  /** P9: one country's view (`view_generator.py:64`) — filter AFTER rank. */
  def countryView(warehouse: DataFrame, country: String,
                  asOf: Column = current_date()): DataFrame =
    dedupedCustomers(warehouse, asOf).filter(col("COUNTRY") === lit(country))

  /** S8/A1: enumerate countries (`SELECT DISTINCT COUNTRY`, `main.py:74-81`,
    * dropping null/empty like the driver-side `if row[0]` filter). The result
    * is small (bounded by world country count) — the one sanctioned
    * driver-side collect in the pipeline. */
  def distinctCountries(warehouse: DataFrame): Seq[String] =
    warehouse.select(col("COUNTRY")).distinct()
      .filter(col("COUNTRY").isNotNull && col("COUNTRY") =!= "")
      .collect().map(_.getString(0)).sorted.toSeq

  /** S6 parity: the view name the reference generates (`view_generator.py:16`). */
  def viewName(country: String): String =
    s"VIEW_${country.replace(' ', '_').toUpperCase}"

  /** S6: the generated view DDL — the reference's Snowflake template
    * (`view_generator.py:17-65`) re-expressed in Spark SQL over a registered
    * warehouse table/view, deterministic tie-breaks included. */
  def viewSql(country: String, warehouseTable: String,
              asOfSql: String = "current_date()"): String = {
    val name = viewName(country)
    s"""CREATE OR REPLACE TEMPORARY VIEW $name AS
       |WITH RankedCustomers AS (
       |    SELECT
       |        CUST_I, NAME, OPEN_DT, CONSUL_DT, VAC_ID, DR_NAME, STATE,
       |        COUNTRY, DOB, FLAG,
       |        year($asOfSql) - year(DOB) AS AGE,
       |        CASE
       |            WHEN datediff($asOfSql, CONSUL_DT) > 30
       |            THEN TRUE
       |            ELSE FALSE
       |        END AS DAYS_SINCE_CONSUL_GT_30,
       |        ROW_NUMBER() OVER (
       |            PARTITION BY CUST_I
       |            ORDER BY CONSUL_DT DESC NULLS LAST, OPEN_DT DESC NULLS LAST,
       |                     VAC_ID ASC NULLS LAST, NAME ASC NULLS LAST,
       |                     DR_NAME ASC NULLS LAST, STATE ASC NULLS LAST,
       |                     COUNTRY ASC NULLS LAST, DOB ASC NULLS LAST,
       |                     FLAG ASC NULLS LAST
       |        ) AS RowNum
       |    FROM $warehouseTable
       |)
       |SELECT
       |    CUST_I, NAME, OPEN_DT, CONSUL_DT, VAC_ID, DR_NAME, STATE,
       |    COUNTRY, DOB, FLAG, AGE, DAYS_SINCE_CONSUL_GT_30
       |FROM RankedCustomers
       |WHERE RowNum = 1
       |AND COUNTRY = '${country.replace("'", "''")}'
       |""".stripMargin
  }

  /** S6: render one `VIEW_<C>.sql` file per country (the reference writes
    * `scripts/dml/generated/VIEW_<C>.sql`, `view_generator.py:66-72`). */
  def writeViewSqlFiles(countries: Seq[String], warehouseTable: String,
                        outputDir: String,
                        asOfSql: String = "current_date()"): Seq[String] = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outputDir))
    countries.map { c =>
      val path = java.nio.file.Paths.get(outputDir, s"${viewName(c)}.sql")
      java.nio.file.Files.writeString(path, viewSql(c, warehouseTable, asOfSql))
      path.toString
    }
  }

  /** S7: enumerate `*.sql` in a directory, sort by name, execute each —
    * mirroring `execute_country_views` (`main.py:107-139`, incl. the
    * filename sort at `main.py:119`). */
  def executeViewSqlFiles(spark: SparkSession, dir: String): Seq[String] = {
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".sql")).map(_.getPath).sorted.toSeq
    files.foreach(f => spark.sql(java.nio.file.Files.readString(
      java.nio.file.Paths.get(f))))
    files
  }

  /** S6+S7: register each country view as a temp view — the Spark-native
    * replacement for generating SQL text files and executing them remotely
    * (`view_generator.py:17-72`, `main.py:107-139`). Views are lazy,
    * mirroring the reference's views-not-tables design (README.md:89-98);
    * each one re-ranks the whole warehouse when queried. */
  def registerCountryViews(spark: SparkSession, warehouse: DataFrame,
                           countries: Seq[String],
                           asOf: Column = current_date()): Seq[String] =
    registerRankedViews(latestPerCustomer(warehouse), countries, asOf)

  /** S6+S7 over already-ranked rows (the output of [[latestPerCustomer]]):
    * each view is the derived columns over `latest`, filtered to one
    * country. Over a `COUNTRY`-partitioned file table the filter prunes the
    * scan to that country's directory. */
  def registerRankedViews(latest: DataFrame, countries: Seq[String],
                          asOf: Column = current_date()): Seq[String] = {
    val deduped = withDerived(latest, asOf)
    countries.sorted.map { c =>
      val name = viewName(c)
      deduped.filter(col("COUNTRY") === lit(c)).createOrReplaceTempView(name)
      name
    }
  }
}
