package graft

import org.apache.spark.sql.functions._
import graft.ingest.Harmonizer
import graft.validate.Validator
import graft.sink.Warehouse
import graft.views.CountryViews

/** Golden end-to-end test over the three reference CSVs (SURVEY.md §5.3).
  * Expected values hand-derived from the reference semantics:
  *
  * AUS file (country from filename):
  *  r1 Mike: DOB literal "NULL" → invalid optional → null; Open 2022-05-11 ✓
  *  r2 Jonnathan: Open "2021-13-13" → Invalid month: 20 → QUARANTINED
  *  r3 Cristina: DOB 1998-03-12... source "03/12/1998" → ✓; Open 2022-03-12 ✓
  * IND file: all valid, "Free or Paid" dropped; 08/13/1982 month-first.
  * USA file: compact digits all valid; no DOB column → null.
  */
class PipelineSpec extends SparkSpec {

  private lazy val dataDir = resourcePath("vaccination")
  private lazy val outDir = java.nio.file.Files.createTempDirectory("graft-e2e").toString
  private def asOf = lit("2026-08-12").cast("date")
  private lazy val result = Pipeline.run(spark, dataDir, outDir, asOf)

  test("harmonization: canonical schema, unmapped columns dropped") {
    val raw = Harmonizer.loadSourceData(spark, dataDir)
    assert(raw.columns.toSeq == graft.schema.Schemas.canonicalColumns)
    assert(raw.count() == 9)
    // country fallback from filename for all three files
    val countries = raw.select("Country").distinct().collect().map(_.getString(0)).sorted
    assert(countries.toSeq == Seq("AUS", "IND", "USA"))
  }

  test("validation: one quarantined row (invalid mandatory Open_Date)") {
    assert(result.quarantineCount == 1)
    // timestamped artifact naming per reference data_validator.py:195-216:
    // one invalid_records_<yyyyMMdd_HHmmss> directory per run, accumulated
    val path = result.quarantinePath.get
    assert(new java.io.File(path).getName.matches("invalid_records_\\d{8}_\\d{6}"))
    val q = spark.read.option("header", "true").csv(path)
    val row = q.collect().head
    assert(row.getAs[String]("Customer_Name") == "Jonnathan")
    assert(row.getAs[String]("Validation_Error") ==
      "Invalid month: 20 (must be between 1 and 12)")
    assert(row.getAs[String]("Invalid_Field") == "Open_Date")
  }

  test("quarantine runs accumulate; empty quarantine writes no artifact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-quarantine").toString
    val raw = Harmonizer.loadSourceData(spark, dataDir)
    val v = Validator.validate(raw)
    val p1 = Validator.saveInvalidRecords(v.quarantine, dir, Some("20260812_000001"))
    val p2 = Validator.saveInvalidRecords(v.quarantine, dir, Some("20260812_000002"))
    assert(p1.get.endsWith("invalid_records_20260812_000001"))
    assert(p2.get.endsWith("invalid_records_20260812_000002"))
    assert(new java.io.File(dir).listFiles().count(_.getName.startsWith("invalid_records_")) == 2)
    val empty = v.quarantine.filter(lit(false))
    assert(Validator.saveInvalidRecords(empty, dir, Some("20260812_000003")).isEmpty)
    // same-second collision: second run with an identical timestamp must
    // land in a suffixed directory, not fail the write
    val p3 = Validator.saveInvalidRecords(v.quarantine, dir, Some("20260812_000001"))
    assert(p3.get.endsWith("invalid_records_20260812_000001_1"))
  }

  test("P2: mismatched embedded header warns only — rows unaffected") {
    import spark.implicits._
    val bad = Seq(
      ("|H|Wrong|Header|Layout", "x"),
      ("Alice", "1"), ("Bob", "2"),
    ).toDF("Name", "ID")
    // mismatch is reported but load semantics are unchanged (warn-only)
    assert(Harmonizer.checkEmbeddedHeader(bad).contains(false))
    assert(Harmonizer.harmonize(bad).count() == 2)
    val good = Seq(
      (graft.schema.Schemas.expectedHeader, "x"),
      ("Alice", "1"),
    ).toDF("Name", "ID")
    assert(Harmonizer.checkEmbeddedHeader(good).contains(true))
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val noHeader = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("Name", StringType), StructField("ID", StringType))))
    assert(Harmonizer.checkEmbeddedHeader(noHeader).isEmpty)
  }

  test("valid records: 8 rows, typed dates, physical names") {
    assert(result.validCount == 8)
    val wh = result.warehouse
    assert(wh.schema("OPEN_DT").dataType.typeName == "date")
    assert(wh.schema("DOB").dataType.typeName == "date")
    val mike = wh.filter(col("NAME") === "Mike" && col("COUNTRY") === "AUS").collect().head
    assert(mike.getAs[java.sql.Date]("OPEN_DT").toString == "2022-05-11")
    assert(mike.getAs[java.sql.Date]("DOB") == null) // literal "NULL" → invalid optional
    val sameer = wh.filter(col("NAME") === "Sameer").collect().head
    assert(sameer.getAs[java.sql.Date]("DOB").toString == "1952-08-13") // month-first
    val sam = wh.filter(col("NAME") === "Sam").collect().head
    assert(sam.getAs[java.sql.Date]("OPEN_DT").toString == "2022-06-15") // "6152022"
    // read back with the written schema: partition column last, as inference puts it
    val written = Warehouse.toWarehouse(
      Validator.validate(Harmonizer.loadSourceData(spark, dataDir)).validRecords).columns
    assert(wh.columns.toSeq == written.filterNot(_ == "COUNTRY").toSeq :+ "COUNTRY")
  }

  test("numeric-looking country codes stay strings through warehouse and views") {
    val in = java.nio.file.Files.createTempDirectory("graft-numeric-in")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(resourcePath("vaccination/IND (1) 1(in).csv")),
      in.resolve("036_vaccinations.csv"))
    val out = java.nio.file.Files.createTempDirectory("graft-numeric-out").toString
    val r = Pipeline.run(spark, in.toString, out, asOf)
    assert(r.warehouse.schema("COUNTRY").dataType.typeName == "string")
    assert(r.countries == Seq("036")) // leading zero kept
    assert(r.views == Seq("VIEW_036"))
    assert(spark.table("VIEW_036").select("NAME").collect().map(_.getString(0)).sorted
      .toSeq == Seq("Rahul", "Sameer", "Vikas"))
  }

  test("country views: dedup + AGE + stale flag semantics") {
    assert(result.countries == Seq("AUS", "IND", "USA"))
    assert(result.views == Seq("VIEW_AUS", "VIEW_IND", "VIEW_USA"))
    // Customer ids collide across the three files (1..3 each) and the
    // reference ranks globally BEFORE the country filter, so each id
    // surfaces under exactly one country: with all CONSUL_DT null the
    // deterministic tie-break (latest OPEN_DT) picks 1→Sam(USA),
    // 2→Rahul(IND), 3→Cristina(AUS).
    val aus = spark.sql("SELECT * FROM VIEW_AUS").collect()
    assert(aus.map(_.getAs[String]("NAME")).toSeq == Seq("Cristina"))
    assert(spark.sql("SELECT NAME FROM VIEW_IND").collect()
      .map(_.getString(0)).toSeq == Seq("Rahul"))
    assert(spark.sql("SELECT NAME FROM VIEW_USA").collect()
      .map(_.getString(0)).toSeq == Seq("Sam"))
    val cristina = aus.find(_.getAs[String]("NAME") == "Cristina").get
    // AGE = year(asOf) - year(DOB) = 2026 - 1998, NOT birthday-aware
    assert(cristina.getAs[Int]("AGE") == 28)
    // CONSUL_DT is null in all files → NULL→FALSE coercion
    assert(!cristina.getAs[Boolean]("DAYS_SINCE_CONSUL_GT_30"))
  }

  /** Every view `Pipeline.run` registered equals the view computed straight
    * from the warehouse (rank, then country filter). */
  private def assertViewsMatchWarehouse(r: Pipeline.Result): Unit = {
    assert(r.views == r.countries.map(CountryViews.viewName))
    for (c <- r.countries) {
      val registered = spark.table(CountryViews.viewName(c))
      val direct = CountryViews.countryView(r.warehouse, c, asOf)
      assert(registered.columns.toSeq == direct.columns.toSeq, c)
      assert(registered.orderBy("CUST_I").collect().map(_.toSeq).toSeq ==
        direct.orderBy("CUST_I").collect().map(_.toSeq).toSeq, s"country $c")
    }
  }

  test("registered views equal the views ranked over the warehouse") {
    assertViewsMatchWarehouse(result)
    // customers 1 and 2 consulted in both countries; the later consultation
    // decides the one view each appears in
    val in = java.nio.file.Files.createTempDirectory("graft-multi-in")
    val header = "ID,Name,VaccinationType,VaccinationDate,Doctor Name," +
      "State/Province,Country,Consultation Date,DOB,Postal Code"
    java.nio.file.Files.writeString(in.resolve("GBR_a.csv"), Seq(header,
      "1,Ann,ABC,01/05/2022,Dr A,London,GBR,03/01/2024,04/02/1990,E1",
      "2,Ben,XYZ,02/06/2022,Dr B,Leeds,GBR,01/15/2024,05/03/1985,LS1",
      "3,Cat,ABC,03/07/2022,Dr C,York,GBR,,,YO1").mkString("", "\n", "\n"))
    java.nio.file.Files.writeString(in.resolve("CAN_b.csv"), Seq(header,
      "1,Ann,ABC,01/05/2022,Dr D,Ontario,CAN,05/01/2024,04/02/1990,K1A",
      "2,Ben,XYZ,02/06/2022,Dr E,Quebec,CAN,01/10/2024,05/03/1985,H2X",
      "4,Dan,LMN,04/08/2022,Dr F,Alberta,CAN,02/02/2024,,T5J").mkString("", "\n", "\n"))
    val out = java.nio.file.Files.createTempDirectory("graft-multi-out").toString
    val r = Pipeline.run(spark, in.toString, out, asOf)
    assert(r.validCount == 6)
    assert(r.countries == Seq("CAN", "GBR"))
    assertViewsMatchWarehouse(r)
    def names(v: String) =
      spark.table(v).orderBy("CUST_I").collect().map(_.getAs[String]("NAME")).toSeq
    assert(names("VIEW_CAN") == Seq("Ann", "Dan"))
    assert(names("VIEW_GBR") == Seq("Ben", "Cat"))
  }

  test("country views scan one COUNTRY partition of latest_by_customer, no window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => WindowNode}
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.datasources.FilePartition
    for (c <- result.countries) {
      val qe = spark.table(CountryViews.viewName(c)).queryExecution
      assert(qe.optimizedPlan.collectFirst { case w: WindowNode => w }.isEmpty, c)
      val files = qe.sparkPlan.collect { case s: FileSourceScanExec => s }
        .flatMap(_.inputRDD.partitions.toSeq)
        .flatMap { case p: FilePartition => p.files.map(_.filePath.toString) }
      assert(files.nonEmpty, c)
      files.foreach(f => assert(f.contains(s"/latest_by_customer/COUNTRY=$c/"), f))
    }
  }

  test("dedup order is total: tied rows give the same views under any partitioning") {
    import spark.implicits._
    // C1's rows tie on CONSUL_DT, OPEN_DT, VAC_ID and NAME but differ in
    // COUNTRY and DOB (so AGE); C2's differ only in DOB
    val rows = Seq(
      ("C1", "A", "JPN", "1990-01-01"), ("C1", "A", "NZL", "1980-01-01"),
      ("C1", "A", "NZL", "1985-01-01"), ("C2", "B", "JPN", null),
      ("C2", "B", "JPN", "1970-01-01"))
    def warehouse(rs: Seq[(String, String, String, String)], parts: Int) =
      rs.toDF("CUST_I", "NAME", "COUNTRY", "DOB").repartition(parts)
        .withColumn("DOB", col("DOB").cast("date"))
        .withColumn("OPEN_DT", lit("2022-01-01").cast("date"))
        .withColumn("CONSUL_DT", lit("2024-05-01").cast("date"))
        .withColumn("VAC_ID", lit("V1"))
        .withColumn("DR_NAME", lit(null).cast("string"))
        .withColumn("STATE", lit(null).cast("string"))
        .withColumn("FLAG", lit(null).cast("string"))
    val tieAsOf = lit("2024-06-15").cast("date")
    def views(rs: Seq[(String, String, String, String)], parts: Int) = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      try Seq("JPN", "NZL").map(c =>
        CountryViews.countryView(warehouse(rs, parts), c, tieAsOf)
          .orderBy("CUST_I").collect().map(_.toSeq).toSeq)
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val one = views(rows, 1)
    assert(views(rows.reverse, 7) == one)
    // COUNTRY then DOB break the ties: C1 → JPN (born 1990), C2 → 1970
    assert(one.head.map(r => (r(0), r(10))) == Seq(("C1", 34), ("C2", 54)))
    assert(one(1).isEmpty)
    // the SQL template breaks ties the same way
    warehouse(rows.reverse, 7).createOrReplaceTempView("tied_wh")
    spark.sql(CountryViews.viewSql("JPN", "tied_wh", "DATE'2024-06-15'"))
    assert(spark.table("VIEW_JPN").orderBy("CUST_I").collect().map(_.toSeq).toSeq ==
      one.head)
  }

  test("dedup keeps latest consultation per customer across countries") {
    import spark.implicits._
    val wh = Seq(
      ("C1", "A", "2022-01-01", "2024-05-01", "IND"),
      ("C1", "A", "2022-01-01", "2024-06-01", "USA"),
      ("C2", "B", "2022-01-01", null, "IND"),
    ).toDF("CUST_I", "NAME", "OPEN_DT", "CONSUL_DT", "COUNTRY")
      .withColumn("OPEN_DT", col("OPEN_DT").cast("date"))
      .withColumn("CONSUL_DT", col("CONSUL_DT").cast("date"))
      .withColumn("VAC_ID", lit(null).cast("string"))
      .withColumn("DR_NAME", lit(null).cast("string"))
      .withColumn("STATE", lit(null).cast("string"))
      .withColumn("DOB", lit(null).cast("date"))
      .withColumn("FLAG", lit(null).cast("string"))
    val asOf = lit("2024-06-15").cast("date")
    // C1's latest consultation is in USA → surfaces ONLY under USA
    val ind = CountryViews.countryView(wh, "IND", asOf).collect()
    assert(ind.map(_.getAs[String]("CUST_I")).toSeq == Seq("C2"))
    val usa = CountryViews.countryView(wh, "USA", asOf).collect()
    assert(usa.map(_.getAs[String]("CUST_I")).toSeq == Seq("C1"))
    // stale flag: 2024-06-01 → 14 days → false; null → false
    assert(!usa.head.getAs[Boolean]("DAYS_SINCE_CONSUL_GT_30"))
    assert(!ind.head.getAs[Boolean]("DAYS_SINCE_CONSUL_GT_30"))
    val indStale = CountryViews.countryView(wh, "IND", lit("2024-12-31").cast("date"))
    assert(!indStale.collect().head.getAs[Boolean]("DAYS_SINCE_CONSUL_GT_30"))
  }

  test("sentinel rows are stripped and header extracted") {
    import spark.implicits._
    val df = Seq(
      ("|H|Customer_Name|Customer_Id|Open_Date|Last_Consulted_Date|Vaccination_Id|Dr_Name|State|Country|DOB|Is_Active", "x"),
      ("Alice", "1"), ("Bob", "2"),
    ).toDF("Name", "ID")
    assert(Harmonizer.stripSentinelRows(df).count() == 2)
    val h = Harmonizer.extractEmbeddedHeader(df)
    assert(h.isDefined && Harmonizer.headerMatches(h.get))
  }

  test("coalesce order follows column-map insertion order") {
    import spark.implicits._
    // Both "ID" and "Unique ID" map to Customer_Id; map order puts "ID" first.
    val df = Seq((null.asInstanceOf[String], "u1", "n"), ("i2", "u2", "n"))
      .toDF("ID", "Unique ID", "Name")
    val got = Harmonizer.harmonize(df).select("Customer_Id")
      .collect().map(_.getString(0)).toSeq
    assert(got.sorted == Seq("i2", "u1")) // null ID coalesces to Unique ID
  }

  test("strict mode raises on missing mandatory columns") {
    import spark.implicits._
    val df = Seq(("x")).toDF("SomethingElse")
    intercept[IllegalArgumentException] {
      Harmonizer.harmonize(df, strict = true)
    }
  }

  test("typed valid records expose business nullability") {
    val raw = Harmonizer.loadSourceData(spark, dataDir)
    val typed = Validator.validate(raw).validRecordsTyped.collect()
    assert(typed.length == 8)
    typed.foreach { r =>
      assert(r.Customer_Name != null && r.Customer_Id != null && r.Open_Date != null)
    }
    val mike = typed.find(r => r.Customer_Name == "Mike" && r.Country.contains("AUS")).get
    assert(mike.DOB.isEmpty) // literal "NULL" string → invalid optional → None
    assert(mike.Open_Date.toString == "2022-05-11")
  }

  test("streaming ETL: micro-batches append warehouse + quarantine with checkpoint") {
    val inDir = java.nio.file.Files.createTempDirectory("graft-stream-in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-stream-out").toString
    // one layout (the IND header); first file arrives before the stream starts
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(resourcePath("vaccination/IND (1) 1(in).csv")),
      java.nio.file.Paths.get(s"$inDir/IND_1.csv"))
    val q = graft.streaming.StreamingIngest.streamingEtl(spark, inDir,
      Seq("ID", "Name", "DOB", "VaccinationType", "VaccinationDate", "Free or Paid"),
      outDir)
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(s"$outDir/warehouse").count() == 3)
      // a second file lands mid-stream → incremental micro-batch, appended
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$inDir/NZL_2.csv"),
        "ID,Name,DOB,VaccinationType,VaccinationDate,Free or Paid\n9,Tui,01/02/1990,ABC,2021-13-13,F\n10,Kea,03/04/1992,XYZ,04/05/2022,P\n".getBytes)
      q.processAllAvailable()
      val wh = spark.read.parquet(s"$outDir/warehouse")
      assert(wh.count() == 4) // Tui quarantined (invalid Open_Date)
      assert(wh.filter(col("NAME") === "Kea" && col("COUNTRY") === "NZL").count() == 1)
      val quarantine = spark.read.option("header", "true").csv(s"$outDir/invalid_records")
      assert(quarantine.filter(col("Customer_Name") === "Tui").count() == 1)
    } finally q.stop()
  }

  test("generated view SQL files execute and match the DataFrame views") {
    result.warehouse.createOrReplaceTempView("wh_for_sql")
    val sqlDir = java.nio.file.Files.createTempDirectory("graft-ddl").toString
    val files = CountryViews.writeViewSqlFiles(result.countries, "wh_for_sql",
      sqlDir, asOfSql = "DATE'2026-08-12'")
    assert(files.map(f => new java.io.File(f).getName).sorted ==
      Seq("VIEW_AUS.sql", "VIEW_IND.sql", "VIEW_USA.sql"))
    // executing the text files must register views identical to the
    // DataFrame-built ones (register under fresh names to compare)
    CountryViews.executeViewSqlFiles(spark, sqlDir)
    for (c <- result.countries) {
      val fromSql = spark.sql(
        s"SELECT * FROM ${CountryViews.viewName(c)} ORDER BY CUST_I").collect()
      val fromDf = CountryViews.countryView(result.warehouse, c, asOf)
        .orderBy("CUST_I").collect()
      assert(fromSql.map(_.toSeq).toSeq == fromDf.map(_.toSeq).toSeq, s"country $c")
    }
  }

  test("warehouse name normalization uppercases and strips") {
    import spark.implicits._
    val df = Seq((1, 2)).toDF("some col", "other-\"col\"")
    assert(Warehouse.normalizeNames(df).columns.toSeq == Seq("SOME_COL", "OTHER_COL"))
  }
}
