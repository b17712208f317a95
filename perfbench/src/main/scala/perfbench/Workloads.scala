package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.{BenchStages, SparkEntry}
import graft.engine.StageCache
import graft.engine.expr.{MongoJson, NativeFunctions}
import graft.engine.ingest.Sources
import graft.engine.mongo.MongoLogPipeline
import graft.engine.mysql.MySqlLogPipeline
import graft.engine.report.{ReportSink, XlsxWriter}

/** What one pass hands back besides its wall time. */
final class PassOut {
  var attempted = 0
  val failures = scala.collection.mutable.ArrayBuffer.empty[String]
  /** layer gauges read from outside the engine (bytes pinned, rows, ...) */
  val gauges = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val stageSeconds = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
  val querySeconds = scala.collection.mutable.ArrayBuffer.empty[Double]
  var consumerRebuilds = 0

  /** Run one engine call; a throw is recorded as a failed operation. */
  def op[A](what: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        failures += s"$what: ${Option(e.getMessage).getOrElse(e.getClass.getName).take(300)}"
        None
    }
  }
}

/** One benchmark workload: its session confs and one pass over an input.
  * `materialize` is the traced variant of the pass: the input and the
  * parse are cached and the kernel and the branches computed before the
  * sinks run, so each span holds its own layer's work. (Branches are
  * computed, not cached: a cached sorted branch keeps all its shuffle
  * partitions, and writing it then costs several times the real sink.)
  */
trait Workload {
  def name: String
  def confs: Seq[(String, String)]
  def pass(spark: SparkSession, t: Tracer, input: String, out: String,
           materialize: Boolean, seed: Long): PassOut
}

object Workloads {
  val Cores = 4

  /** `graft.cli.Main`'s session confs (the product path). */
  val CliConfs: Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$Cores]",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.serializer" -> "org.apache.spark.serializer.KryoSerializer",
    "spark.rdd.compress" -> "true",
    "spark.sql.extensions" -> graft.GraftExtensions.Name,
    "spark.ui.enabled" -> "false")

  /** `graft.Bench`'s session confs (the library path). */
  val BenchConfs: Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$Cores]",
    "spark.sql.shuffle.partitions" -> Cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.extensions" -> graft.GraftExtensions.Name,
    "spark.sql.files.openCostInBytes" -> "131072",
    "spark.serializer" -> "org.apache.spark.serializer.KryoSerializer",
    "spark.rdd.compress" -> "true",
    "spark.ui.enabled" -> "false")

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Bytes of every RDD block currently stored (memory + disk). */
  def storedBytes(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble

  def materialized(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  def byName(n: String): Workload = n match {
    case "mongo_report" => MongoReport
    case "mysql_report" => MySqlReport
    case "registry" => Registry
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

import Workloads._

/** `graft.cli.Main --mode mongo --xlsx`, call for call. */
object MongoReport extends Workload {
  val name = "mongo_report"
  val confs = CliConfs

  def pass(spark: SparkSession, t: Tracer, input: String, out: String,
           materialize: Boolean, seed: Long): PassOut = {
    val o = new PassOut
    for {
      lines0 <- o.op("readLines")(t.span("ingest.construct")(Sources.readLines(spark, input)))
      lines <- o.op("ingest")(
        if (!materialize) lines0
        else t.span("ingest.exec")(materialized(lines0)))
      _ <- o.op("expr")(if (materialize) t.span("expr.parse")(
        noop(lines.select(MongoJson.mongoLineParse(col("line"))))))
      res <- o.op("analyze")(t.span("mongo.construct")(MongoLogPipeline.analyze(lines)))
      _ <- o.op("mongo")(if (materialize) {
        val before = storedBytes(spark)
        // same plan as analyze's persisted scan, so this count fills it
        t.span("mongo.exec")(MongoLogPipeline.parsedScan(lines).count())
        o.gauges("mongo.cached_scan_bytes") = storedBytes(spark) - before
        t.span("mongo.branches")(Seq(res.detailed, res.queryStats, res.nonSlow,
          res.errors, res.parseErrors).foreach(noop))
      })
      _ <- o.op("isEmpty")(t.span("ingest.is_empty")(lines.isEmpty))
      _ <- o.op("parseErrors.count")(t.span("mongo.count_parse_errors")(res.parseErrors.count()))
      _ <- o.op("writeWarnings")(t.span("report.warnings")(
        ReportSink.writeWarnings(out, res.parseErrors, "message")))
      sheets = ReportSink.MongoSheets.zip(Seq(res.detailed, res.queryStats,
        res.nonSlow, res.errors))
      _ <- o.op("writeSheets")(t.span("report.sheets") {
        val (ok, err) = ReportSink.writeSheets(out, sheets)
        if (!ok) throw new IllegalStateException(err)
      })
      _ <- o.op("xlsx")(t.span("report.xlsx")(XlsxWriter.write(s"$out/report.xlsx", sheets)))
      _ = o.gauges("report.xlsx_bytes") = new java.io.File(s"$out/report.xlsx").length.toDouble
    } yield ()
    o
  }
}

/** `graft.cli.Main --mode mysql --scale`, call for call. */
object MySqlReport extends Workload {
  val name = "mysql_report"
  val confs = CliConfs

  def pass(spark: SparkSession, t: Tracer, input: String, out: String,
           materialize: Boolean, seed: Long): PassOut = {
    val o = new PassOut
    for {
      entries0 <- o.op("readDelimited")(t.span("ingest.construct")(
        Sources.readDelimited(spark, input)
          .selectExpr("cast(0 as long) as file_id", "entry_no",
            "entry_no as ord", "entry")))
      entries <- o.op("ingest")(
        if (!materialize) entries0
        else t.span("ingest.exec")(materialized(entries0)))
      _ <- o.op("expr")(if (materialize) t.span("expr.parse")(
        noop(entries.select(NativeFunctions.mysqlEntryFields(col("entry"))))))
      res <- o.op("parseEntries")(
        if (!materialize) t.span("mysql.construct")(MySqlLogPipeline.parseEntries(entries))
        else {
          // parseEntries == resultFromProjected(projectedOf(_)), split so
          // the parse and the branches each fill their own span
          val projected = t.span("mysql.construct")(MySqlLogPipeline.projectedOf(entries))
          t.span("mysql.exec")(materialized(projected))
          val r = t.span("mysql.construct")(MySqlLogPipeline.resultFromProjected(projected))
          t.span("mysql.branches")(Seq(r.detailed, r.aggregate, r.warnings)
            .foreach(noop))
          r
        })
      _ <- o.op("isEmpty")(t.span("mysql.is_empty")(res.detailed.isEmpty))
      _ <- o.op("warnings.count")(t.span("mysql.count_warnings")(res.warnings.count()))
      _ <- o.op("writeWarnings")(t.span("report.warnings")(
        ReportSink.writeWarnings(out, res.warnings)))
      _ <- o.op("writeSheets")(t.span("report.sheets") {
        val (ok, err) = ReportSink.writeSheets(out, ReportSink.MySqlSheets.zip(Seq(
          MySqlLogPipeline.referenceDetailed(res.detailed), res.aggregate)))
        if (!ok) throw new IllegalStateException(err)
      })
    } yield ()
    o
  }
}

/** The library path: StageCache builds cold, then registry queries warm
  * through the noop sink, in a seeded order.
  */
object Registry extends Workload {
  val name = "registry"
  val confs = BenchConfs

  /** BenchStages rows built cold in every pass. */
  val Stages: Seq[String] = Seq(
    "_stage_mysql_parsed", "_stage_doc_tf", "_stage_simhash_pairs")

  /** One consumer of each stage above; dedup_pagerank is also one of the
    * job-heavy rows the ROADMAP names.
    */
  val Queries: Seq[String] = Seq("mysql_agg", "text_tfidf_topk", "dedup_pagerank")

  def order(seed: Long): Seq[String] = new scala.util.Random(seed).shuffle(Queries)

  def pass(spark: SparkSession, t: Tracer, dir: String, out: String,
           materialize: Boolean, seed: Long): PassOut = {
    val o = new PassOut
    o.op("StageCache.clear")(t.span("stagecache.clear")(StageCache.clear(spark)))
    val before = storedBytes(spark)
    val builders = BenchStages.rows.toMap
    for (stage <- Stages) {
      val t0 = System.nanoTime()
      o.op(stage)(t.span(s"stagecache.build.$stage")(
        builders(stage)(spark, dir).queryExecution.toRdd.count()))
      o.stageSeconds += stage -> (System.nanoTime() - t0) / 1e9
    }
    o.gauges("stagecache.pin_bytes") = storedBytes(spark) - before
    val registry = SparkEntry.queries
    for (q <- order(seed)) {
      val size0 = StageCache.size(spark)
      val t0 = System.nanoTime()
      o.op(q)(t.span(s"ext.query.$q") {
        val df = t.span("ext.construct")(registry(q)(spark, dir))
        if (materialize) t.span("ext.plan")(df.queryExecution.executedPlan)
        t.span("ext.exec")(noop(df))
      })
      o.querySeconds += (System.nanoTime() - t0) / 1e9
      if (StageCache.size(spark) > size0) o.consumerRebuilds += 1
    }
    o
  }
}
