package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.graph.GraphOps
import graft.model.Tables
import graft.ops.{EdgeRules, FuzzySearch, Relational}

import RequestLog._

/** End-to-end serving benchmark: builds the standing serving state (corpus
  * table, partitioned capped adjacency, q-gram name index), replays a
  * seeded request log against it as one closed-loop client, then checks
  * the answers against from-scratch computations over the final corpus.
  *
  * Writes one raw JSON document (samples, spans, job records, gate
  * results) for `run.py` to reduce into metrics.
  *
  * One client is deliberate: operators still set and restore shared
  * session conf (the adjacency apply's partition-overwrite mode, the
  * graph loops' scoped width), so concurrent requests would race. */
object Serve {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, cores: Int, data: String, work: String, out: String)

  val Corpus = "students"
  val Edges = "edges"
  val Adj = "adjacency"
  val Fuzzy = "fuzzy"

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("cores").toInt, m("data"), m("work"), m("out"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, a) finally spark.stop()
  }

  private def run(spark: SparkSession, a: Args): Unit = {
    val sf = s"${a.data}/sf0.1"
    val controlSf = s"${a.data}/sf0.01"
    val trace = new Trace(spark.sparkContext, a.trace)
    def secs(t0: Long) = (System.nanoTime() - t0) / 1e9

    def control(): Double = {
      val t0 = System.nanoTime()
      Relational.q1PricingSummary(spark, controlSf)
        .write.format("noop").mode("overwrite").save()
      secs(t0)
    }
    val phases = ArrayBuffer.empty[(String, Double)]
    var phaseStart = System.nanoTime()
    def phase(name: String): Unit = {
      phases += name -> secs(phaseStart); phaseStart = System.nanoTime()
    }

    val corpusRows = Tables.students(spark, sf).collect().map(r => CorpusRow(
      r.getAs[Long]("id"), r.getAs[String]("name"), r.getAs[String]("college"),
      r.getAs[String]("board"), r.getAs[String]("stream"),
      r.getAs[String]("address"))).toVector
    val baseMax = corpusRows.map(_.id).max
    val log = RequestLog.generate(a.workload, a.seed, corpusRows, 500)
    val logHash = RequestLog.sha256(log)
    phase("log")

    spark.sql("CREATE DATABASE serve")
    spark.catalog.setCurrentDatabase("serve")
    val setupStart = System.nanoTime()
    setup(spark, sf, trace)
    val setupSecs = secs(setupStart)
    phase("setup")

    // The first request of each type in block 0 warms the JIT and Spark's
    // code generation; it is served like any other request but neither
    // timed nor counted in the per-layer figures (request -1).
    val server = new Server(spark, trace, baseMax)
    val warmup = log(0).distinctBy(_.kind)
    for (r <- warmup) {
      val (ok, err) = server.serve(r, -1)
      require(ok, s"warm-up request failed: $err")
    }
    phase("warmup")
    val controlBefore = control()

    val samples = ArrayBuffer.empty[(String, Double, Boolean, String)]
    var cachePeak = 0L
    var blocks = 1
    var busyNanos = 0L
    // Whole blocks until the requests have taken --seconds.
    while (busyNanos < a.seconds * 1e9 && blocks < log.size) {
      for (r <- log(blocks)) {
        val t0 = System.nanoTime()
        val checks0 = server.checkNanos
        val (ok, err) = server.serve(r, samples.size + 1)
        val dt = System.nanoTime() - t0 - (server.checkNanos - checks0)
        busyNanos += dt
        samples += ((r.kind, dt / 1e6, ok, err))
        cachePeak = math.max(cachePeak,
          spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum)
      }
      blocks += 1
    }
    phase("window")
    val controlAfter = control()
    trace.drain()
    val storeBytes = dirBytes(new File(
      spark.sessionState.catalog.getDatabaseMetadata(
        spark.catalog.currentDatabase).locationUri))

    val gate = new Gate(spark, server, a.seed).run()
    phase("control_gate")

    val raw = Seq(
      "workload" -> a.workload,
      "seed" -> a.seed,
      "cores" -> a.cores,
      "trace" -> a.trace,
      "log_sha256" -> logHash,
      "blocks_timed" -> (blocks - 1),
      "warmup_requests" -> warmup.size,
      "phases_s" -> phases.toSeq,
      "setup_s" -> setupSecs,
      "controls_q1_sf0.01_s" -> Map("before" -> controlBefore, "after" -> controlAfter),
      "requests" -> samples.toSeq.map { case (k, ms, ok, err) =>
        Map("kind" -> k, "ms" -> ms, "ok" -> ok, "error" -> err) },
      "store_bytes" -> storeBytes,
      "cache_bytes_peak" -> cachePeak,
      "onboarded" -> server.onboarded.toSeq,
      "redeliveries" -> server.redeliveries,
      "compactions" -> server.compactions.toSeq.map { case (q, f) =>
        Map("request" -> q, "fired" -> f) },
      "edges_per_onboard" -> server.edgeCounts.toSeq.map { case (q, n) =>
        Map("request" -> q, "edges" -> n) },
      "gate" -> gate,
      "errors" -> server.errors.take(20).toSeq,
      "spans" -> trace.spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "request" -> s.request, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "gc_ms" -> s.gcMs)),
      "jobs" -> trace.listener.toSeq.flatMap(_.jobs.values().asScala).map(j =>
        Map("id" -> j.id, "span" -> j.span, "start_ms" -> j.startMs,
          "end_ms" -> j.endMs, "tasks" -> j.tasks, "shuffle_bytes" -> j.shuffleBytes,
          "input_bytes" -> j.inputBytes, "output_bytes" -> j.outputBytes)))
    Files.write(Paths.get(a.out), Json.render(raw).getBytes(StandardCharsets.UTF_8))
  }

  /** The standing serving state: corpus table, partitioned capped
    * adjacency, q-gram name index, and the (initially empty) table of
    * similarity edges that onboarding materializes. */
  def setup(spark: SparkSession, sf: String, trace: Trace): Unit = {
    Tables.students(spark, sf).write.saveAsTable(Corpus)
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      EdgeRules.incrementalEdges(spark.table(Corpus), spark.table(Corpus)).schema)
      .write.saveAsTable(Edges)
    trace.span("graph.adj_build", 0) {
      GraphOps.buildAdjacencyTablePartitioned(spark.table(Corpus), Adj)
    }
    trace.span("fuzzy.build", 0) {
      FuzzySearch.buildIndex(spark.table(Corpus), Fuzzy)
    }
  }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
}
