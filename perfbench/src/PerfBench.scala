package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.core.HostProbe
import graft.streaming.Warehouse

/** JVM side of the benchmark: runs one workload against graft's public
  * entry points over inputs the generator already wrote, and writes the
  * raw measurements to `<work>/jvm_result.json`. Checks that need files
  * read after the run (DWS timelines, the DuckDB oracle) are made by
  * run.py; checks that need the engine (the equivalence gate, ADS answers)
  * are made here, outside the timed regions.
  *
  * Usage: PerfBench <params.properties>
  *        PerfBench --session   (start and stop a session, nothing else:
  *                               the build's class-archive dump run)
  */
object PerfBench {

  /** Flat key=value parameters written by run.py. */
  final class Params(path: String) {
    private val p = new java.util.Properties()
    private val in = Files.newBufferedReader(Paths.get(path))
    try p.load(in) finally in.close()
    def apply(k: String): String =
      Option(p.getProperty(k)).getOrElse(sys.error(s"missing parameter $k"))
    def int(k: String): Int = apply(k).toInt
    def dbl(k: String): Double = apply(k).toDouble
  }

  /** Measurements accumulated for the result file. */
  final class Out {
    val values = mutable.LinkedHashMap.empty[String, Any]
    def update(k: String, v: Any): Unit = values(k) = v
    private def js(v: Any): String = v match {
      case null => "null"
      case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case b: Boolean => b.toString
      case n: Int => n.toString
      case n: Long => n.toString
      case m: collection.Map[_, _] =>
        m.map { case (k, x) => js(k.toString) + ":" + js(x) }.mkString("{", ",", "}")
      case s: Iterable[_] => s.map(js).mkString("[", ",", "]")
      case other => js(other.toString)
    }
    def json: String = js(values)
  }

  private def now(): Long = System.currentTimeMillis()

  /** Post-full-GC used heap in MB: the live set at a quiet point. The
    * second collection follows Spark's context cleaner, which releases
    * blocks and shuffles of the objects the first one found unreachable. */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }

  def session(cpus: Int): SparkSession = {
    // the same session configuration as graft.Bench
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id) s")
      .write.format("noop").mode("overwrite").save()
    spark
  }

  def main(args: Array[String]): Unit = {
    if (args(0) == "--session") { session(1).stop(); return }
    val p = new Params(args(0))
    val out = new Out
    val cpus = p.int("cpus")
    val spark = session(cpus)
    out("session_ready_ms") = now()
    val tracer = if (p("trace") == "1") Some(new Tracer(spark, cpus)) else None
    val cpu0 = HostProbe.cpuSample()
    val t0 = System.nanoTime()
    try p("workload") match {
      case "wh_catchup" => whCatchup(spark, p, out, tracer)
      case "ads_dashboard" => adsDashboard(spark, p, out, tracer)
      case "curate_batch" => curateBatch(spark, p, out, tracer)
      case w => sys.error(s"unknown workload $w")
    } finally {
      out("host_other_cores") = HostProbe.otherCores(cpu0, HostProbe.cpuSample(),
        (System.nanoTime() - t0) / 1e9)
      out("host_io_mbps") = HostProbe.ioProbeMbps()
      tracer.foreach { t =>
        out("engine") = t.engineMetrics().toMap
        t.stop()
      }
      Files.writeString(Paths.get(p("work"), "jvm_result.json"), out.json)
      spark.stop()
    }
  }

  // --------------------------------------------------------------------
  // warehouse workloads
  // --------------------------------------------------------------------

  /** Query handle names → layer labels (the modules). */
  val Layers: Seq[(String, String)] = Seq(
    "base_log" -> "dwd.base_log", "base_db" -> "dwd.base_db",
    "unique_visit" -> "dwm.unique_visit", "user_jump" -> "dwm.user_jump",
    "order_wide" -> "dwm.order_wide", "payment_wide" -> "dwm.payment_wide",
    "visitor" -> "dws.visitor", "province" -> "dws.province",
    "keyword" -> "dws.keyword", "product" -> "dws.product")

  val DwsNames = Seq("visitor", "province", "keyword", "product")
  private val OdsLog = graft.io.KafkaTopology.Topics.OdsBaseLog
  private val OdsDb = graft.io.KafkaTopology.Topics.OdsBaseDb

  /** The seven equivalence booleans plus non-emptiness of every DWS
    * table; returns the names of the checks that failed. */
  def checkChain(spark: SparkSession, lay: Warehouse.Layout): Seq[String] = {
    val g = Warehouse.equivalenceGate(spark, lay).collect()(0)
    val gate = g.schema.fieldNames.toSeq.filter(f => !g.getAs[Boolean](f))
    gate ++ DwsNames.filter(n => Warehouse.dwsTable(spark, lay, n).isEmpty)
      .map(n => s"$n:empty")
  }

  private def stopAll(qs: Map[String, StreamingQuery]): Unit =
    qs.values.foreach(q => try q.stop() catch { case _: Throwable => () })

  /** Copy a generated backlog into a fresh layout's ODS topics, the dims
    * file a minute older than the facts: with one file per trigger the db
    * source replays the dims first, as the reference preloads them. */
  private def stageBacklog(backlog: String, lay: Warehouse.Layout): Unit = {
    val base = now() - 3600000L
    def put(src: Path, topic: String, mtime: Long): Unit = {
      val dst = Paths.get(lay.topic(topic)).resolve(src.getFileName)
      Files.createDirectories(dst.getParent)
      Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
      dst.toFile.setLastModified(mtime)
    }
    put(Paths.get(backlog, "db", "dims.parquet"), OdsDb, base - 60000L)
    put(Paths.get(backlog, "log", "slice0000.parquet"), OdsLog, base)
    put(Paths.get(backlog, "db", "slice0000.parquet"), OdsDb, base)
  }

  private val OdsOptions = Map("maxFilesPerTrigger" -> "1")

  /** Catch-up after a restart: a fresh JVM starts the whole chain on a
    * backlog already on disk and drains it, once. The timed region is
    * exactly `Warehouse.start` → `drainAll` returning with every window
    * closed; the checks run after it. */
  def whCatchup(spark: SparkSession, p: Params, out: Out,
      tracer: Option[Tracer]): Unit = {
    out("warmup_s") = 0.0
    val lay = Warehouse.Layout(s"${p("work")}/chain")
    stageBacklog(p("backlog"), lay)
    tracer.foreach(_.open())
    val s = now()
    val qs = Warehouse.start(spark, lay, OdsOptions)
    val started = now()
    try Warehouse.drainAll(spark, p("sf"), lay, qs)
    catch { case e: Throwable => stopAll(qs); throw e }
    val e = now()
    tracer.foreach { t => t.close(); t.finish(qs) }
    out("heap_live_peak_mb") = liveHeapMb()
    stopAll(qs)
    val g0 = now()
    out("failed_checks") = checkChain(spark, lay)
    out("gate_s") = (now() - g0) / 1000.0
    out("dir") = lay.root
    out("start_ms") = s
    out("started_ms") = started
    out("end_ms") = e
    tracer.foreach(t => out("queries") = t.queryMetrics(Layers).toMap)
  }

  // --------------------------------------------------------------------
  // ADS dashboard
  // --------------------------------------------------------------------

  private def day(df: DataFrame, d: String): DataFrame =
    df.filter(date_format(col("stt"), "yyyyMMdd") === d)

  /** The publisher endpoints: Serving.gmv plus the group-by / top-N reads
    * of the reference's Visitor, Province, Keyword and ProductStats
    * mappers, each over `Warehouse.dwsTable` (latest `_ver` per key). */
  def endpoint(spark: SparkSession, lay: Warehouse.Layout, name: String,
      d: String, topN: Int): DataFrame = {
    def t(n: String) = Warehouse.dwsTable(spark, lay, n)
    name match {
      case "gmv" => graft.ads.Serving.gmv(t("product"), d)
      case "visitor" => day(t("visitor"), d).groupBy("is_new")
        .agg(sum("uv_ct"), sum("pv_ct"), sum("sv_ct"), sum("uj_ct"),
          sum("dur_sum")).orderBy("is_new")
      case "province" => day(t("province"), d)
        .groupBy("province_id", "province_name")
        .agg(sum("order_amount").as("a"), sum("order_count").as("n"))
        .orderBy(col("a").desc, col("province_id")).limit(topN)
      case "keyword" => day(t("keyword"), d).groupBy("word")
        .agg(sum("ct").as("ct")).orderBy(col("ct").desc, col("word"))
        .limit(topN)
      case "product" => day(t("product"), d).groupBy("sku_id")
        .agg(sum("order_amount").as("a")).filter(col("a") > 0)
        .orderBy(col("a").desc, col("sku_id")).limit(topN)
    }
  }

  /** Canonical answer text: rows ';'-joined, fields '|'-joined. */
  def render(df: DataFrame): String = df.collect().map(_.toSeq.map {
    case d: java.math.BigDecimal => d.setScale(2).toPlainString
    case null => "null"
    case x => x.toString
  }.mkString("|")).mkString(";")

  val Endpoints = Seq("gmv", "visitor", "province", "keyword", "product")

  /** The ADS run shape: one closed-loop client issues WarmRequests
    * unmeasured requests, the steepest part of the JIT's warm-up, then
    * requests for the measured time and at least MinRequests of them, so
    * that p50 and p75 each have ten samples beyond them. */
  val WarmRequests = 30
  val MinRequests = 40

  def adsDashboard(spark: SparkSession, p: Params, out: Out,
      tracer: Option[Tracer]): Unit = {
    val lay = Warehouse.Layout(p("dws_root"))
    val topN = p.int("top_n")
    val days = p("days").split(",").toSeq
    val expected = Files.readAllLines(Paths.get(p("expected_tsv"))).asScala
      .map(_.split("\t", 2)).map(a => a(0) -> (if (a.length > 1) a(1) else "")).toMap
    final case class Req(ep: String, day: String, ns: Long, answer: String,
        error: String)
    // endpoints in rotation (an even mix at any run length), days at random
    val rng = new scala.util.Random(p("seed").toLong)
    var i = 0
    def request(): Req = {
      val ep = Endpoints(i % Endpoints.size)
      i += 1
      val d = days(rng.nextInt(days.size))
      val s = System.nanoTime()
      val r =
        try Req(ep, d, 0L, render(endpoint(spark, lay, ep, d, topN)), null)
        catch { case e: Throwable => Req(ep, d, 0L, null, e.toString) }
      r.copy(ns = System.nanoTime() - s)
    }
    val w0 = now()
    val warm = Seq.fill(WarmRequests)(request())
    out("warmup_s") = (now() - w0) / 1000.0
    tracer.foreach(_.open())
    val t0 = System.nanoTime()
    val deadline = t0 + (p.dbl("seconds") * 1e9).toLong
    val rs = mutable.ArrayBuffer.empty[Req]
    while (System.nanoTime() < deadline || rs.size < MinRequests)
      rs += request()
    val wall = (System.nanoTime() - t0) / 1e9
    tracer.foreach(_.close())
    out("heap_live_peak_mb") = liveHeapMb()
    val wrong = (warm ++ rs).filter(r => r.error == null &&
      !expected.get(s"${r.ep}|${r.day}").contains(r.answer))
    out("wall_s") = wall
    out("latencies_ms") = rs.map(_.ns / 1e6)
    out("endpoints") = rs.map(_.ep)
    out("attempted") = rs.size
    // a wrong or failed warm-up answer fails the run as well
    out("failed") = (warm ++ rs).count(_.error != null) + wrong.size
    out("errors") = (warm ++ rs).filter(_.error != null).map(_.error).distinct.take(3)
    out("mismatches") = wrong.take(3).map(r =>
      Seq(r.ep, r.day, r.answer, expected.getOrElse(s"${r.ep}|${r.day}", "<none>")))
  }

  // --------------------------------------------------------------------
  // curation
  // --------------------------------------------------------------------

  /** x_curation_e2e's parameters. */
  def curate(docs: DataFrame): DataFrame =
    graft.ext.Curation.curate(docs, "text", "doc_id", "lang", "n_chars",
      qualityMin = 0.45, dupFracMax = 0.1, ceMax = 3.45, benchMod = 7,
      weights = Map("en" -> 0.4, "zh" -> 0.15, "es" -> 0.15, "de" -> 0.15,
        "fr" -> 0.15),
      packBudget = 512, minSharedPct = 20)

  /** One `curate` call written to parquet, as a batch job on a fresh
    * JVM: no warm-up. */
  def curateBatch(spark: SparkSession, p: Params, out: Out,
      tracer: Option[Tracer]): Unit = {
    val work = p("work")
    Files.writeString(Paths.get(work, "oracle.sql"),
      graft.SparkEntry.oracleSql("x_curation_e2e"))
    out("warmup_s") = 0.0
    val docs = spark.read.parquet(p("corpus"))
    val dst = s"$work/curated"
    tracer.foreach(_.open())
    val s = System.nanoTime()
    curate(docs).write.parquet(dst)
    out("wall_s") = (System.nanoTime() - s) / 1e9
    tracer.foreach(_.close())
    out("heap_live_peak_mb") = liveHeapMb()
    out("output") = dst
  }
}
