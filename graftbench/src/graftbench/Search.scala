package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Row}

import graft.search.{MultiFieldSearcher, Searcher}

/** The read side shared by both workloads: one query of any class, or a
  * searchMany batch, timed as an op. When the tracer is active, each call
  * is split into the three steps `BenchExtra` times: the search call
  * returning its Dataset (construct), `queryExecution.executedPlan`
  * (plan), and `collect` (execute). */
final class Search(run: Run) {
  import run.{spark, tracer}

  final case class Single(cls: String, text: String, sec: Double, h: Searcher.IndexHandle,
                          mh: Option[MultiFieldSearcher.MultiHandle], spanId: Int)
  val singles = mutable.ArrayBuffer.empty[Single]
  final case class Batch(texts: Seq[String], sec: Double, h: Searcher.IndexHandle)
  val batches = mutable.ArrayBuffer.empty[Batch]
  /** every returned top-k, by query text, for the verification pass */
  val results = mutable.LinkedHashMap.empty[(String, String), mutable.ArrayBuffer[Hits]]
  val seen = mutable.ArrayBuffer.empty[String]

  def clear(): Unit = { singles.clear(); batches.clear(); results.clear(); seen.clear() }

  private def steps[A, B](construct: => A)(plan: A => Unit)(execute: A => B): B = {
    if (!tracer.active) { val a = construct; execute(a) }
    else {
      val a = tracer.span("construct", "search")(construct)
      tracer.span("plan", "plan")(plan(a))
      tracer.span("execute", "execute")(execute(a))
    }
  }

  private def hits(ds: Dataset[Searcher.SearchHit]): Hits =
    ds.collect().toSeq.map(h => (h.docId, h.score))

  private def record(kind: String, text: String, h: Hits): Unit =
    results.getOrElseUpdate((kind, text), mutable.ArrayBuffer.empty) += h

  def single(cls: String, text: String, h: Searcher.IndexHandle,
             mh: Option[MultiFieldSearcher.MultiHandle]): Option[Hits] = {
    seen += text
    val spanId = tracer.spans.size
    val (res, sec) = run.op(s"query $cls", "client")(call(cls, text, h, mh))
    res.foreach(record(if (cls == "field") "field" else "single", text, _))
    singles += Single(cls, text, sec, h, mh, spanId)
    res
  }

  private def call(cls: String, text: String, h: Searcher.IndexHandle,
                   mh: Option[MultiFieldSearcher.MultiHandle]): Hits = cls match {
    case "faceted" =>
      steps(Searcher.searchFaceted(spark, h, text, "lang", Seq.empty, k = 10)) { f =>
        f.hits.queryExecution.executedPlan; f.facets.queryExecution.executedPlan; ()
      } { f =>
        try {
          f.facets.collect()
          f.hits.collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))
        } finally f.close()
      }
    case "field" =>
      steps(MultiFieldSearcher.search(spark, mh.get, text, 10))(
        _.queryExecution.executedPlan)(hits)
    case _ =>
      steps(Searcher.search(spark, h, text, 10))(_.queryExecution.executedPlan)(hits)
  }

  private def qids(texts: Seq[String]): Seq[(String, String)] =
    texts.zipWithIndex.map { case (t, i) => s"b$i" -> t }

  private def batchCall(qs: Seq[(String, String)], h: Searcher.IndexHandle): Map[String, Hits] =
    steps(Searcher.searchMany(spark, h, qs, 10))(_.queryExecution.executedPlan)(byQid)

  /** one searchMany call; each query's hits are recorded by text */
  def batch(texts: Seq[String], h: Searcher.IndexHandle): Option[Map[String, Hits]] = {
    seen ++= texts
    val qs = qids(texts)
    val (res, sec) = run.op("query batch", "client")(batchCall(qs, h))
    batches += Batch(texts, sec, h)
    res.map { byId =>
      val byText = qs.map { case (id, t) => t -> byId.getOrElse(id, Seq.empty) }.toMap
      byText.foreach { case (t, hs) => record("single", t, hs) }
      byText
    }
  }

  /** seconds of one call run untraced, and of the same call run traced */
  final case class Pair(cls: String, untraced: Double, traced: Double)

  /** Tracing overhead, measured untimed in the traced run: each single and
    * batch not replayed yet, up to `MaxSinglePairs` singles and
    * `MaxBatchPairs` batches in all, runs again twice on its own handle,
    * once untraced and once traced, the order alternating between pairs.
    * The traced member's spans are dropped, so its Spark jobs are
    * attributed to no span. */
  /** the fewest singles that cover a serve cycle, rounded up to even so
    * that each order runs first equally often */
  val MaxSinglePairs: Int = (Queries.Classes.size + 1) / 2 * 2
  val MaxBatchPairs = 4
  val singlePairs = mutable.ArrayBuffer.empty[Pair]
  val batchPairs = mutable.ArrayBuffer.empty[Pair]
  def replay(): Unit = {
    val was = tracer.active
    def pair(i: Int, cls: String)(f: => Any): Pair = {
      def once(traced: Boolean): Double = {
        val n = tracer.spans.size
        tracer.active = traced
        try run.op("replay", "client")(f)._2
        finally { tracer.active = false; tracer.spans.remove(n, tracer.spans.size - n) }
      }
      if (i % 2 == 0) { val u = once(false); Pair(cls, u, once(true)) }
      else { val t = once(true); Pair(cls, once(false), t) }
    }
    singles.slice(singlePairs.size, MaxSinglePairs).foreach { q =>
      singlePairs += pair(singlePairs.size, q.cls)(call(q.cls, q.text, q.h, q.mh))
    }
    batches.slice(batchPairs.size, MaxBatchPairs).foreach { q =>
      batchPairs += pair(batchPairs.size, "batch")(batchCall(qids(q.texts), q.h))
    }
    tracer.active = was
  }

  def byQid(df: DataFrame): Map[String, Hits] =
    df.collect().toSeq.groupBy((r: Row) => r.getString(0)).map { case (q, rs) =>
      q -> rs.map(r => (r.getLong(1), r.getDouble(2))).sortBy { case (d, s) => (-s, d) }
    }
}
