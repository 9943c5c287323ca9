package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.{Pipeline, SparkEntry}
import graft.ingest.Harmonizer
import graft.sink.Warehouse
import graft.validate.Validator
import graft.views.CountryViews

/** One benchmark process: set-up, a cold pass, measured warm passes for a
  * fixed number of seconds, then an untimed verification pass. One op is in
  * flight at a time (a closed loop with one client). Every measurement is
  * written as a JSON line to `--out`; `run.py` turns them into metrics and
  * checks the verification records.
  *
  * Arguments (all `--key value`):
  *   kind query|etl, seed, seconds, trace 0|1, cpus, work, out,
  *   min-samples (untraced op timings to collect at least),
  *   ops (one op name a line: query names, or the expected view names),
  *   data (query: parquet input dir),
  *   etl-input + as-of (etl: generated CSV dir, fixed view date). */
object PerfBench {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = new Out(a("out"))
    val cpus = a("cpus").toInt
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val ops = scala.io.Source.fromFile(a("ops")).getLines().map(_.trim)
      .filter(_.nonEmpty).toIndexedSeq
    if (a("kind") == "query") {
      // a renamed or dropped query must not silently shrink the workload
      val missing = ops.filterNot(SparkEntry.queries.contains)
      require(missing.isEmpty,
        s"workload names queries missing from SparkEntry.queries: ${missing.mkString(", ")}")
    }

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    var spark = session(cpus, work)
    val reps = ArrayBuffer((System.currentTimeMillis() - jvmStart) / 1e3)
    for (_ <- 2 to 3) {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val t0 = System.nanoTime()
      spark = session(cpus, work)
      reps += (System.nanoTime() - t0) / 1e9
    }
    out.emit("setup", "reps" -> reps)

    val tally = new ShuffleTally
    spark.sparkContext.addSparkListener(tally)
    val tracer = new Tracer(spark.sparkContext)
    if (traced) tracer.register(spark)

    val runner: Runner = a("kind") match {
      case "query" => new QueryRunner(spark, tracer, out, ops, a("data"))
      case "etl" => new EtlRunner(spark, tracer, out, ops, a("etl-input"), a("as-of"), work)
      case k => sys.error(s"unknown workload kind $k")
    }

    // kind: cold (the first pass in this JVM), warm or traced (measured,
    // with tracing off or on)
    def pass(idx: Int, kind: String): Unit = {
      flush(spark)
      tracer.pass = idx
      tracer.on = kind == "traced"
      val order = new Random(seed * 1000003L + idx).shuffle(runner.ops)
      val sw0 = tally.total
      val cpu0 = processCpuNs()
      val steal0 = hostStealS()
      val t0 = System.nanoTime()
      runner.pass(idx, order)
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (processCpuNs() - cpu0) / 1e9
      val steal = hostStealS() - steal0
      flush(spark)
      tracer.on = false
      // a full collection between passes: the heap left is what the pass
      // retained, and the next pass starts from a clean heap
      System.gc()
      val live = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      out.emit("pass", "idx" -> idx, "kind" -> kind, "wall_s" -> wall, "cpu_s" -> cpu,
        "steal_s" -> steal,
        "shuffle_write" -> (tally.total - sw0), "live_heap" -> live, "ops" -> order.size)
    }

    pass(0, "cold")
    // measured passes start while fewer than `seconds` have passed, and until
    // the untraced ones hold `min-samples` op timings (the median needs ten
    // beyond it); a traced run alternates untraced and traced passes
    val minSamples = a("min-samples").toInt
    val t0 = System.nanoTime()
    var passes, samples = 0
    while (samples < minSamples || passes < 2 || (System.nanoTime() - t0) / 1e9 < seconds) {
      val on = traced && passes % 2 == 1
      pass(passes + 1, if (on) "traced" else "warm")
      if (!on) samples += runner.ops.size
      passes += 1
    }
    out.emit("rss", "vmhwm_kb" -> vmHwmKb())

    runner.verify()
    tracer.dump(out)
    out.close()
    spark.stop()
  }

  /** One session as the engine's own entry points build it, plus a warm-up
    * job so the scheduler, codegen and shuffle paths are initialised. */
  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(0, 100000, 1, cpus).selectExpr("id % 13 AS k").groupBy("k").count()
      .write.format("noop").mode("overwrite").save()
    spark
  }

  def flush(spark: SparkSession): Unit =
    org.apache.spark.graft.ListenerFlush.flush(spark.sparkContext)

  /** Consume every row of the plan and write nothing (the engine's own bench
    * sink: a count would let Catalyst drop the final sort). */
  def consume(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** CPU time the hypervisor gave to other guests, summed over this
    * machine's CPUs (the steal column of /proc/stat, in seconds); 0 where
    * the kernel does not report it. It explains slow passes, it does not
    * correct them. */
  def hostStealS(): Double = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+").lift(8).map(_.toDouble / 100).getOrElse(0.0)
    finally src.close()
  } catch { case _: Exception => 0.0 }

  def vmHwmKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    finally src.close()
  }

  /** Row count plus an order-insensitive hash of the rows, computed in
    * Spark. Columns are taken in name order and each value canonicalised to
    * text the way tools/check_oracle.py does: NULL, NaN, lowercase booleans;
    * everything else as its string form. Row hashes are summed in two
    * 32-bit halves, so the result is a multiset hash that cannot overflow. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val fields = df.schema.fields.zipWithIndex.sortBy { case (f, i) => (f.name, i) }
    val pos = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val canon: Seq[Column] = fields.toSeq.map { case (f, i) =>
      val c = col(s"c$i")
      val s = f.dataType match {
        case DoubleType | FloatType => when(isnan(c), lit("NaN")).otherwise(c.cast("string"))
        case BinaryType => hex(c)
        case _ => c.cast("string")
      }
      coalesce(s, lit("NULL"))
    }
    val h = xxhash64(concat_ws("\u001f", canon: _*))
    val r = pos.select(h.as("h")).agg(
      count(lit(1)),
      coalesce(sum(col("h").bitwiseAND(lit(0xffffffffL))), lit(0L)),
      coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L))).head()
    (r.getLong(0), f"${r.getLong(1)}%x-${r.getLong(2)}%x")
  }
}

/** A workload's ops. `timedOp` times one op, split into building its
  * DataFrame and consuming it, inside op/build/execute spans. */
abstract class Runner(spark: SparkSession, tracer: Tracer, out: Out) {
  def ops: IndexedSeq[String]
  def pass(idx: Int, order: IndexedSeq[String]): Unit
  def verify(): Unit

  protected def timedOp(idx: Int, name: String)(build: => DataFrame): Unit = {
    val t0 = System.nanoTime()
    var t1 = t0
    val err = try {
      tracer.span("op", name) {
        val df = tracer.span("build", name)(build)
        t1 = System.nanoTime()
        tracer.span("execute", name)(PerfBench.consume(df))
      }
      None
    } catch { case e: Throwable => Some(Runner.describe(e)) }
    val t2 = System.nanoTime()
    out.emit("op", "pass" -> idx, "name" -> name, "wall_s" -> (t2 - t0) / 1e9,
      "build_s" -> (t1 - t0) / 1e9, "execute_s" -> (t2 - t1) / 1e9,
      "ok" -> err.isEmpty, "err" -> err)
    if (tracer.on) {
      // cached and checkpointed blocks still held once the op is done
      val held = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
      out.emit("storage", "pass" -> idx, "op" -> name, "retained_bytes" -> held)
    }
  }
}

object Runner {
  def describe(e: Throwable): String = s"${e.getClass.getName}: ${e.getMessage}"
}

/** Registry queries from `SparkEntry.queries`, each built and consumed
  * through the noop sink. Post-op hygiene matches the engine's Bench: temp
  * views (memory sinks of the stream queries) are dropped after every op and
  * a GC runs every eighth op so released checkpoint blocks are reclaimed. */
final class QueryRunner(spark: SparkSession, tracer: Tracer, out: Out,
                        val ops: IndexedSeq[String], data: String)
    extends Runner(spark, tracer, out) {

  private var sinceGc = 0
  private def cleanup(): Unit = {
    spark.catalog.listTables().collect()
      .filter(_.isTemporary).foreach(t => spark.catalog.dropTempView(t.name))
    sinceGc += 1
    if (sinceGc >= 8) { sinceGc = 0; System.gc() }
  }

  def pass(idx: Int, order: IndexedSeq[String]): Unit = order.foreach { name =>
    timedOp(idx, name)(SparkEntry.queries(name)(spark, data))
    cleanup()
  }

  def verify(): Unit = ops.sorted.foreach { name =>
    try {
      val (rows, hash) = PerfBench.fingerprint(SparkEntry.queries(name)(spark, data))
      out.emit("verify", "name" -> name, "rows" -> rows, "hash" -> hash)
    } catch { case e: Throwable => out.emit("verify", "name" -> name, "err" -> Runner.describe(e)) }
    cleanup()
  }
}

/** The paper's ETL: `Pipeline.run` over generated per-country CSVs into a
  * fresh output dir, then one op per country view (`SELECT * ... ORDER BY
  * CUST_I` through the noop sink). A traced pass makes the same stage calls
  * as `Pipeline.run`, in its order, each inside its own span. */
final class EtlRunner(spark: SparkSession, tracer: Tracer, out: Out,
                      val ops: IndexedSeq[String], input: String, asOfDate: String,
                      work: String) extends Runner(spark, tracer, out) {

  private val asOf = lit(asOfDate).cast("date")
  private val root = new java.io.File(work, "etl-out")
  private def outDir(idx: Int) = new java.io.File(root, s"pass_$idx").getPath

  private var last: Option[(Int, Pipeline.Result)] = None

  def pass(idx: Int, order: IndexedSeq[String]): Unit = {
    val dir = outDir(idx)
    val t0 = System.nanoTime()
    val res = try Right(tracer.span("op", "pipeline") {
      if (tracer.on) mirroredRun(dir) else Pipeline.run(spark, input, dir, asOf)
    }) catch { case e: Throwable => Left(Runner.describe(e)) }
    val pipelineS = (System.nanoTime() - t0) / 1e9
    res match {
      case Left(err) =>
        out.emit("etl", "pass" -> idx, "pipeline_s" -> pipelineS, "traced" -> tracer.on,
          "err" -> err)
        order.foreach(v => timedOp(idx, v)(throw new IllegalStateException(s"pipeline failed: $err")))
      case Right(r) =>
        out.emit("etl", "pass" -> idx, "pipeline_s" -> pipelineS, "traced" -> tracer.on,
          "valid" -> r.validCount, "quarantined" -> r.quarantineCount,
          "countries" -> r.countries, "views" -> r.views)
        // a view the manifest expects but the pass did not register fails its op
        order.foreach(v => timedOp(idx, v)(spark.sql(s"SELECT * FROM $v ORDER BY CUST_I")))
        last.foreach { case (i, _) => deleteTree(new java.io.File(outDir(i))) }
        last = Some(idx -> r)
    }
  }

  /** `Pipeline.run`, call for call, with a span around each stage call. */
  private def mirroredRun(dir: String): Pipeline.Result = {
    def s[T](name: String)(body: => T): T = tracer.span(name, "pipeline")(body)
    val groups = s("ingest.group_by_layout")(Harmonizer.groupByLayout(spark, input))
    val raw = s("ingest.load_grouped")(Harmonizer.loadGrouped(spark, groups))
    val validated = s("validate.validate")(Validator.validate(raw))
    val annotated = s("validate.persist")(
      validated.annotated.persist(StorageLevel.MEMORY_AND_DISK))
    try {
      val quarantine = validated.quarantine
      val quarantinePath = s("validate.save_invalid")(
        Validator.saveInvalidRecords(quarantine, s"$dir/invalid_records"))
      val quarantineCount = s("validate.quarantine_count")(quarantine.count())
      val physical = s("sink.to_warehouse")(Warehouse.toWarehouse(validated.validRecords))
      s("sink.write")(Warehouse.write(physical, s"$dir/warehouse", mode = "overwrite"))
      val warehouse = s("views.read_warehouse")(spark.read.parquet(s"$dir/warehouse"))
      val countries = s("views.distinct_countries")(CountryViews.distinctCountries(warehouse))
      val views = s("views.register")(
        CountryViews.registerCountryViews(spark, warehouse, countries, asOf))
      val validCount = s("views.warehouse_count")(warehouse.count())
      Pipeline.Result(warehouse, quarantineCount, quarantinePath, validCount, countries, views)
    } finally s("validate.unpersist")(annotated.unpersist())
  }

  /** Re-reads what the last pass wrote: every view's rows, the warehouse's
    * rows and the quarantine CSV's rows, for checking against the
    * generator's manifest. */
  def verify(): Unit = last.foreach { case (_, res) =>
    def check(name: String)(body: => Long): Unit =
      try out.emit("verify", "name" -> name, "rows" -> body)
      catch { case e: Throwable => out.emit("verify", "name" -> name, "err" -> Runner.describe(e)) }
    res.views.foreach(v => check(v)(spark.table(v).count()))
    check("warehouse")(res.warehouse.count())
    check("quarantine_file")(res.quarantinePath.map(p =>
      spark.read.option("header", "true").csv(p).count()).getOrElse(0L))
  }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
