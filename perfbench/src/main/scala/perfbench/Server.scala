package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.GraphOps
import graft.ops.{EdgeRules, FuzzySearch, Ingest, Recommend, StudentQueries}

import RequestLog._
import Serve.{Adj, Corpus, Edges, Fuzzy}

/** The serving tier the log is replayed against: one handler per request
  * type, each a sequence of public calls into the program, each call
  * wrapped in a span named after its layer. A handler returns whether
  * its answer passed the per-request check; an exception counts as a
  * failed request. */
final class Server(spark: SparkSession, trace: Trace, val baseMax: Long) {

  /** Ids assigned to first deliveries, in order. */
  val onboarded = ArrayBuffer.empty[Long]
  val onboardedNames = ArrayBuffer.empty[String]
  /** Per first delivery: (request, similarity edges it materialized). */
  val edgeCounts = ArrayBuffer.empty[(Int, Long)]
  /** Served answers, for the gate to sample: (input, answer, onboards
    * done when it was served). */
  val pprAnswers = ArrayBuffer.empty[(Long, Seq[(Long, Long)], Int)]
  val searchAnswers = ArrayBuffer.empty[(String, Seq[(Long, Double)], Int)]
  /** Exceptions raised while serving or checking. */
  val errors = ArrayBuffer.empty[String]
  var redeliveries = 0
  /** Per compaction-policy check: (request, whether it compacted). */
  val compactions = ArrayBuffer.empty[(Int, Boolean)]
  /** Time spent on the redelivery check, which is not part of serving. */
  var checkNanos = 0L
  /** Redeliveries whose table digests differed before and after. */
  val redeliveryChanges = ArrayBuffer.empty[String]
  private var last: Option[(NewStudent, Long)] = None

  private def corpus: DataFrame = spark.table(Corpus)

  def serve(r: Request, request: Int): (Boolean, String) =
    try trace.span(s"request.${r.kind}", request)(handle(r, request)) match {
      case true => (true, null)
      case false => (false, s"wrong answer: ${r.text}")
    } catch {
      case e: Exception =>
        errors += s"${r.text}: $e"
        (false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  private def handle(r: Request, req: Int): Boolean = r match {
    case Onboard(s) =>
      val id = onboard(s, None, req)
      onboarded += id; onboardedNames += s.name; last = Some((s, id))
      true
    case Redeliver =>
      val (s, id) = last.get
      redeliveries += 1
      val before = checked(Gate.digest(spark))
      onboard(s, Some(id), req)
      val after = checked(Gate.digest(spark))
      if (before != after) redeliveryChanges += s"id $id: $before -> $after"
      before == after
    case PprRecommend(t) =>
      val anchor = t.id
      val recs = trace.span("graph.ppr_recommend", req)(pprAnswer(anchor))
      pprAnswers += ((anchor, recs, onboarded.size))
      recs.nonEmpty && recs.length <= 10 && !recs.exists(_._1 == anchor)
    case RequestLog.Recommend(t) =>
      val anchor = t.id
      val msg = trace.span("recommend.score", req) {
        Recommend.responseMessage(Recommend.recommend(corpus, anchor)).collect()
      }
      msg.length == 1 && msg(0).getAs[Long]("total_matches") > 0
    case Search(q) =>
      val hits = trace.span("fuzzy.search", req)(indexedSearch(q))
      searchAnswers += ((q, hits, onboarded.size))
      val scores = hits.map(_._2)
      hits.nonEmpty && scores.forall(_ >= 70.0) && scores == scores.sortBy(-_)
    case LookupById(t) =>
      val id = t.id
      val rows = trace.span("student_queries.lookup", req) {
        StudentQueries.byId(corpus, id).collect()
      }
      rows.length == 1 && rows(0).getAs[Long]("id") == id
    case LookupByName(t) =>
      val rows = trace.span("student_queries.lookup", req) {
        StudentQueries.byName(corpus, t.name).collect()
      }
      rows.length == 1 && rows(0).getAs[String]("name") == t.name
  }

  private def checked[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally checkNanos += System.nanoTime() - t0
  }

  def pprAnswer(anchor: Long): Seq[(Long, Long)] = Gate.pprKey(
    GraphOps.personalizedPageRankRecommendIndexed(spark, Adj, corpus, anchor))

  def indexedSearch(q: String): Seq[(Long, Double)] =
    Gate.key(FuzzySearch.topKIndexed(spark, Fuzzy, q))

  /** EP1: assign MAX+1 (or reuse the id a redelivery carries), derive and
    * merge the new student's similarity edges, append the row and edges,
    * apply the edges to the standing adjacency, index the name, and let
    * the index's compaction policy decide whether to compact. */
  private def onboard(s: NewStudent, redelivered: Option[Long], req: Int): Long = {
    import spark.implicits._
    val (row, id) = trace.span("ingest.next_id", req) {
      val norm = Ingest.normalizeNew(
        Seq((s.name, s.college, s.board, s.stream, s.address))
          .toDF("name", "college", "board", "stream", "address"))
      val id = redelivered.getOrElse(Ingest.nextId(corpus))
      (norm.select(lit(id).as("id"), col("name"), col("college"), col("board"),
        col("stream"), col("address")), id)
    }
    // Materialized before the appends below: the delta is derived from
    // the tables they write to.
    val delta = trace.span("edge_rules.incremental", req) {
      EdgeRules.mergeNew(EdgeRules.incrementalEdges(corpus, row),
        spark.table(Edges)).localCheckpoint()
    }
    val edges = delta.count()
    if (redelivered.isEmpty) edgeCounts += ((req, edges))
    trace.span("tables.append", req) {
      // The corpus append is this serving tier's own step, so its dedupe
      // is too: a redelivery skips the row it already holds. Every later
      // step is the program's, and the redelivery check tests it as is.
      if (redelivered.isEmpty || StudentQueries.byId(corpus, id).isEmpty)
        row.write.mode("append").saveAsTable(Corpus)
      if (edges > 0) delta.write.mode("append").saveAsTable(Edges)
    }
    trace.span("graph.adj_apply", req) {
      GraphOps.adjacencyApplyDelta(spark, Adj, delta, id)
    }
    trace.span("fuzzy.index_delta", req) {
      FuzzySearch.indexDeltaIdempotent(Fuzzy, row)
    }
    compactions += ((req,
      trace.span("fuzzy.compact", req)(FuzzySearch.compactIfNeeded(spark, Fuzzy))))
    id
  }
}
