package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.GraphOps
import graft.ops.FuzzySearch

import Gate.{key, pprKey}
import Serve.{Adj, Corpus}

/** The correctness gate, run after the timed window: what the replay
  * served and the state it maintained incrementally must equal what the
  * program computes from scratch over the final corpus. Samples are
  * drawn from the run's own served requests with a seeded generator. */
final class Gate(spark: SparkSession, server: Server, seed: Long) {
  private def corpus = spark.table(Corpus)

  def run(): Map[String, Any] = {
    val rnd = new Random(seed ^ 0x5eedL)
    def pick[T](xs: collection.Seq[T], n: Int): Seq[T] = rnd.shuffle(xs.toSeq).take(n)
    val wrote = server.onboarded.nonEmpty
    // An answer served before later onboards is recomputed over the final
    // state before it is compared.
    def current[K, A](served: (K, A, Int), recompute: K => A): (K, A) =
      (served._1, if (served._3 == server.onboarded.size) served._2 else recompute(served._1))
    // Served search answers when there are any; otherwise a probe for the
    // latest onboarded name, so the index deltas are checked.
    val searches = pick(server.searchAnswers, 2).map(current(_, server.indexedSearch)) ++
      (if (server.searchAnswers.isEmpty) server.onboardedNames.lastOption.map { n =>
        val q = n.patch(rnd.nextInt(n.length), "x", 1)
        (q, server.indexedSearch(q))
      } else None)
    val pprs = pick(server.pprAnswers, 1).map(current(_, server.pprAnswer))

    val checks = Seq[(String, () => Option[Boolean])](
      // Every write run redelivers its last onboard once more here, so
      // the no-op check never depends on the log drawing a redelivery.
      // It runs first, so the checks below see the state it leaves.
      "redeliveries_change_nothing" -> (() => Option.when(wrote)(
        server.serve(RequestLog.Redeliver, Gate.Untimed)._1 &&
          server.redeliveryChanges.isEmpty)),
      // A run that wrote nothing serves the set-up build, which every
      // write run checks after its onboards; rebuilding it here would
      // price the same check again.
      "adjacency_equals_rebuild" -> (() => Option.when(wrote)(adjacency())),
      "fuzzy_indexed_equals_scan" -> (() => Some(searches.forall { case (q, got) =>
        got == key(FuzzySearch.topK(corpus, q, c => FuzzySearch.levRatio(c, lit(q))))
      })),
      "ppr_indexed_equals_inline" -> (() => Option.when(pprs.nonEmpty)(pprs.forall {
        case (anchor, got) =>
          got == pprKey(GraphOps.personalizedPageRankRecommend(corpus, anchor))
      })),
      "onboarded_ids_contiguous" -> (() => Some(contiguous())))
    val results = checks.map { case (name, check) =>
      val t0 = System.nanoTime()
      val ok = try check() catch {
        case e: Exception => server.errors += s"$name: $e"; Some(false)
      }
      (name, ok, (System.nanoTime() - t0) / 1e9)
    }
    Map("passed" -> results.forall(_._2.getOrElse(true)),
      "checks" -> results.map(r => r._1 -> r._2.map(Boolean.box).getOrElse("skipped")).toMap,
      "check_s" -> results.map(r => r._1 -> r._3).toMap,
      "samples" -> Map("search_queries" -> searches.map(_._1),
        "ppr_anchors" -> pprs.map(_._1)),
      "redelivery_changes" -> server.redeliveryChanges.toSeq)
  }

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  private def adjacency(): Boolean = {
    GraphOps.buildAdjacencyTable(corpus, "gate_adjacency")
    try sameRows(spark.table(Adj).drop("bucket"), spark.table("gate_adjacency"))
    finally spark.sql("DROP TABLE gate_adjacency")
  }

  /** Onboarded ids are MAX+1 in order, and the corpus holds each id once. */
  private def contiguous(): Boolean = {
    val n = server.onboarded.size
    val stats = corpus.agg(count(lit(1)), countDistinct(col("id")), max(col("id")))
      .first()
    server.onboarded == (1 to n).map(server.baseMax + _) &&
      stats.getLong(1) == stats.getLong(0) && stats.getLong(2) == server.baseMax + n
  }
}

object Gate {
  /** Request id of requests the gate serves; like the warm-up's, they
    * are neither timed nor counted in the per-layer figures. */
  val Untimed = -2

  /** Comparable forms of a collected search answer and recommendation
    * answer. */
  def key(df: DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getAs[Long]("id"), r.getAs[Double]("score"))).toSeq
  def pprKey(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getAs[Long]("node"), r.getAs[Long]("rank_scaled"))).toSeq

  /** Row count and an order-independent content hash of every table in
    * the current database, as one query so the table scans run side by
    * side. */
  def digest(spark: SparkSession): Map[String, (Long, Long)] =
    spark.catalog.listTables().collect().filterNot(_.isTemporary).map { t =>
      spark.table(t.name).agg(lit(t.name), count(lit(1)),
        coalesce(sum(xxhash64(col("*")).bitwiseAND(0xffffffffL)), lit(0L)))
    }.reduce(_ union _).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
}
