package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, sum}

/** The benchmark's JVM side: set up a session, run timed passes of one
  * workload for a fixed time, check every written report, and write the
  * raw samples (and, when traced, the spans) as one JSON file. `run.py`
  * prepares inputs, launches this, and turns the samples into metrics.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --input DIR --warm PATH --census FILE|- --work DIR --out FILE
  */
object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val SetupRepeats = 5
  /** Timed passes run until `--seconds` is spent, and at least this many. */
  val MinPasses = 2

  private val mapper = new ObjectMapper()

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = Workloads.byName(a("workload"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = new File(a("work")).getAbsoluteFile
    val census: Option[JMap[String, AnyRef]] = a.get("census").filter(_ != "-")
      .map(p => mapper.readValue(new File(p), classOf[JMap[String, AnyRef]]))

    // ---- set-up: session build + extension registration + warm-up pass
    val off = new Tracer(false)
    var spark: SparkSession = null
    val setupFailures = mutable.ArrayBuffer.empty[String]
    var setupAttempted = 0
    val setupS = (1 to SetupRepeats).map { i =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = session(w, work)
      val warm = w.pass(spark, off, a("warm"), s"$work/warm_out", materialize = false, seed)
      cleanup(spark)
      setupAttempted += warm.attempted
      setupFailures ++= warm.failures.map("warm-up: " + _)
      (System.nanoTime() - t0) / 1e9
    }

    // ---- timed passes
    val on = new Tracer(true)
    if (traced) on.attach(spark.sparkContext)
    val heap = new HeapWatch
    val passes = new JList[AnyRef]()
    val start = System.nanoTime()
    var i = 0
    while (i < MinPasses || (System.nanoTime() - start) / 1e9 < seconds) {
      // traced runs alternate untraced and traced passes, so the tracing
      // overhead is measured inside one run on one input
      val tracedPass = traced && i % 2 == 1
      val t = if (tracedPass) on else off
      if (traced) {
        if (tracedPass) spark.sparkContext.addSparkListener(on)
        else spark.sparkContext.removeSparkListener(on)
      }
      on.pass = i
      val out = s"$work/report"
      // every pass starts from a collected heap; its heap figure is the
      // peak above what is in use right after that collection, so the
      // session's own live heap is not counted
      System.gc()
      val heapBase = heap.usedMb
      heap.reset()
      val t0 = System.nanoTime()
      val o = t.span("pass")(w.pass(spark, t, a("input"), out, tracedPass, seed))
      val passS = (System.nanoTime() - t0) / 1e9
      val heapMb = heap.peakMb
      cleanup(spark)
      val (checks, checkFailures) = census
        .map(c => Checks.report(spark, w.name, out, c, o.gauges)).getOrElse((0, Seq.empty))
      passes.add(jmap(
        "pass_s" -> passS, "traced" -> tracedPass,
        "heap_base_mb" -> heapBase, "heap_peak_mb" -> heapMb,
        "attempted" -> o.attempted, "failures" -> jlist(o.failures.toSeq),
        "checks" -> checks,
        "check_failures" -> jlist(checkFailures),
        "stage_s" -> jmap(o.stageSeconds.toSeq: _*),
        "query_s" -> jlist(o.querySeconds.toSeq),
        "consumer_rebuilds" -> o.consumerRebuilds,
        "gauges" -> jmap(o.gauges.toSeq: _*)))
      i += 1
    }
    on.drain()

    // ---- registry results for the DuckDB oracle, outside the timed passes
    val oracleDir = new File(work, "oracle")
    if (w == Registry) {
      val sql = dumpOracle(spark, a("input"), oracleDir)
      mapper.writeValue(new File(oracleDir, "oracle_sql.json"), sql)
    }

    val meta = jmap(
      "workload" -> w.name, "seed" -> seed, "seconds" -> seconds,
      "traced" -> traced, "cores" -> Workloads.Cores,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "jvm_flags" -> jlist(ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "spark_confs" -> jmap(spark.sparkContext.getConf.getAll.sortBy(_._1).toSeq: _*),
      "sql_confs" -> jmap(spark.conf.getAll.toSeq.sortBy(_._1): _*))
    val result = jmap(
      "meta" -> meta,
      "setup_s" -> jlist(setupS),
      "setup_attempted" -> setupAttempted,
      "setup_failures" -> jlist(setupFailures.toSeq),
      "passes" -> passes,
      "spans" -> jlist(on.recorded.map(spanJson)))
    mapper.writeValue(new File(a("out")), result)
    spark.stop()
  }

  /** A fresh session with the workload's confs; the engine's extensions
    * are registered here, as every entry point of the engine does.
    */
  private def session(w: Workload, work: File): SparkSession = {
    val b = SparkSession.builder().appName(s"perfbench-${w.name}")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
    w.confs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.engine.ingest.Sources.ensureNanosAsLong(spark)
    graft.engine.expr.NativeFunctions.ensureRegistered(spark)
    spark
  }

  /** Drop everything a pass cached, so no pass reads another's work. */
  private def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    graft.engine.StageCache.clear(spark)
  }

  /** Dump each registry query's result as parquet for the oracle check. */
  private def dumpOracle(spark: SparkSession, dir: String,
                         out: File): JMap[String, AnyRef] = {
    val sql = new JMap[String, AnyRef]()
    for (q <- Registry.Queries) {
      try {
        graft.SparkEntry.queries(q)(spark, dir).write.mode("overwrite")
          .parquet(new File(out, q).getPath)
        sql.put(q, graft.SparkEntry.oracleSql(q))
      } catch {
        // a null oracle marks the query failed; the oracle check counts it
        case _: Throwable => sql.put(q, null)
      }
    }
    graft.engine.StageCache.clear(spark)
    sql
  }

  private def spanJson(s: Span): AnyRef = jmap(
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "pass" -> s.pass,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs, "gc_ms" -> s.gcMs,
    "alloc_bytes" -> s.allocBytes,
    "jobs" -> s.counts.jobs, "tasks" -> s.counts.tasks,
    "failed_tasks" -> s.counts.failedTasks, "cpu_ns" -> s.counts.cpuNs,
    "spill_bytes" -> s.counts.spillBytes,
    "shuffle_write_bytes" -> s.counts.shuffleWriteBytes,
    "input_bytes" -> s.counts.inputBytes, "output_bytes" -> s.counts.outputBytes)

  def jmap(kv: (String, Any)*): JMap[String, AnyRef] = {
    val m = new JMap[String, AnyRef]()
    kv.foreach { case (k, v) => m.put(k, v.asInstanceOf[AnyRef]) }
    m
  }

  def jlist(xs: Seq[Any]): JList[AnyRef] = {
    val l = new JList[AnyRef]()
    xs.foreach(x => l.add(x.asInstanceOf[AnyRef]))
    l
  }
}

/** Peak heap in use during a pass: the peaks of every heap pool except
  * eden, i.e. the old generation plus the survivors. G1 puts humongous
  * arrays straight into the old generation: the driver's large buffers
  * and, in local mode, the executors' memory pages, which stay counted
  * until the next collection. Eden fills and empties with every young
  * collection, so its peak says nothing about what the pass keeps.
  */
final class HeapWatch {
  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq

  private val kept = pools.filterNot(_.getName.toLowerCase.contains("eden"))

  def reset(): Unit = pools.foreach(_.resetPeakUsage())

  def usedMb: Double = kept.map(_.getUsage.getUsed).sum / 1048576.0

  def peakMb: Double = kept.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

/** Report census checks: every written sheet, the warnings file and the
  * workbook against the generator's census. The figures read back from
  * the written report (patterns, workbook rows) go into `gauges`.
  */
object Checks {
  /** How each warning the pipelines write begins. */
  val WarningStarts = Seq("Line ", "Skipped log entry ",
    "Could not parse Query_time: ", "Empty query string found in entry ")

  /** (checks made, failed checks) for the report written to `out`. */
  def report(spark: SparkSession, workload: String, out: String,
             census: java.util.Map[String, AnyRef],
             gauges: mutable.Map[String, Double]): (Int, Seq[String]) = {
    val fails = mutable.ArrayBuffer.empty[String]
    var made = 0
    def expect(what: String, got: Long, want: Long): Unit = {
      made += 1
      if (got != want) fails += s"$what: got $got, expected $want"
    }
    def num(k: String): Long = census.get(k).asInstanceOf[Number].longValue
    try {
      val sheets = census.get("sheets").asInstanceOf[java.util.Map[String, Number]].asScala
      val written = new File(out).listFiles.filter(_.isDirectory).map(_.getName)
        .filterNot(_ == "warnings")
      expect("sheet directories written", written.length, sheets.size)
      val rows = sheets.map { case (s, _) => s -> spark.read.parquet(s"$out/$s").count() }
      sheets.foreach { case (s, n) => expect(s"rows of '$s'", rows(s), n.longValue) }
      val (statsSheet, errSheet) =
        if (workload == "mongo_report") ("Query Stats", Some("Error Stats"))
        else ("Aggregate Results", None)
      expect("executions", spark.read.parquet(s"$out/$statsSheet")
        .agg(sum(col("Executions"))).head().getLong(0), num("executions"))
      expect("patterns", rows(statsSheet), num("patterns"))
      if (workload == "mysql_report") gauges("mysql.patterns") = rows(statsSheet).toDouble
      // a warning may span lines (MySQL skip warnings quote the entry), so
      // count the lines that open one
      expect("warnings", spark.read.text(s"$out/warnings")
        .filter(WarningStarts.map(col("value").startsWith).reduce(_ || _))
        .count(), num("warnings"))
      errSheet.foreach { e =>
        expect("error total", spark.read.parquet(s"$out/$e")
          .agg(sum(col("totalCount"))).head().getLong(0), num("error_total"))
        val got = xlsxRows(s"$out/report.xlsx")
        expect("workbook sheets", got.size, sheets.size)
        sheets.keys.toSeq.zip(got).foreach { case (s, n) =>
          expect(s"workbook rows of '$s'", n, rows(s) + 1) }
        // data rows the workbook collected, without each sheet's header
        gauges("report.rows_collected") = (got.sum - got.size).toDouble
      }
    } catch {
      case e: Throwable =>
        made += 1
        fails += s"check error: ${e.getMessage}"
    }
    (made, fails.toSeq)
  }

  /** `<row ` elements per worksheet part, in sheet order. */
  def xlsxRows(path: String): Seq[Long] = {
    val zf = new java.util.zip.ZipFile(path)
    try {
      val parts = zf.entries().asScala.map(_.getName)
        .filter(_.matches("xl/worksheets/sheet\\d+\\.xml")).toSeq
        .sortBy(_.filter(_.isDigit).toInt)
      parts.map { p =>
        val in = new java.io.BufferedInputStream(zf.getInputStream(zf.getEntry(p)))
        val pat = "<row ".getBytes("UTF-8")
        var matched = 0
        var n = 0L
        var b = in.read()
        while (b >= 0) {
          if (b == pat(matched)) {
            matched += 1
            if (matched == pat.length) { n += 1; matched = 0 }
          } else matched = if (b == pat(0)) 1 else 0
          b = in.read()
        }
        in.close()
        n
      }
    } finally zf.close()
  }
}
