package graftbench

import scala.collection.mutable

import graft.analysis.Analyzer
import graft.codec.{LengthByte, PostingsCodec}
import graft.corpus.SynthCorpus
import graft.ref.RefModel
import graft.search._

/** Spark-free layer section of the traced run: Analyzer, PostingsCodec and
  * Kernel.topK over an in-memory segment built from the run's seeded docs,
  * each timed from outside. The kernel's top-k is checked against RefModel
  * on the same docs. */
object Layers {

  final case class Result(metrics: Seq[(String, Double, String)], mismatches: Seq[String])

  private def bestOf[A](reps: Int)(f: => A): (A, Double) = {
    var best = Double.MaxValue
    var out: Option[A] = None
    (0 until reps).foreach { _ =>
      val (a, s) = Clock.time(f)
      if (s < best) best = s
      out = Some(a)
    }
    (out.get, best)
  }

  def run(seed: Long, nDocs: Int, tracer: Tracer): Result = {
    val docs = (0 until nDocs).map(i => (i.toLong, SynthCorpus.doc(seed, i.toLong)))
    val out = mutable.ArrayBuffer.empty[(String, Double, String)]
    val bad = mutable.ArrayBuffer.empty[String]

    // ---- analysis ----
    val (analyzed, aSec) = bestOf(3) {
      tracer.span("Analyzer.analyze", "analysis")(docs.map { case (_, t) => Analyzer.analyze(t) })
    }
    out += (("analysis.tokens_per_s", analyzed.map(_.fieldLen.toLong).sum / aSec, "1/s"))

    // ---- codec: one docId-ascending posting list per term ----
    val byTerm = mutable.HashMap.empty[String, mutable.ArrayBuffer[PostingsCodec.Pst]]
    val everyEnc = new PostingsCodec.Encoder
    val p0 = Array(0)
    var totalLen = 0L
    docs.zip(analyzed).foreach { case ((docId, _), a) =>
      totalLen += a.fieldLen
      val lb = LengthByte.encode(a.fieldLen)
      everyEnc.add(docId, 1, lb, p0)
      a.terms.foreach { case (term, ps) =>
        byTerm.getOrElseUpdate(term, mutable.ArrayBuffer.empty) +=
          PostingsCodec.Pst(docId, ps.length, lb, ps)
      }
    }
    val postings = byTerm.valuesIterator.map(_.size.toLong).sum
    val (encoded, eSec) = bestOf(3) {
      tracer.span("PostingsCodec.encode", "codec") {
        byTerm.iterator.map { case (t, ps) => t -> PostingsCodec.encode(ps.iterator) }.toMap
      }
    }
    val encBytes = encoded.valuesIterator.map(_.bytes.length.toLong).sum
    out += (("codec.encode_mb_per_s", encBytes / 1e6 / eSec, "MB/s"))
    out += (("codec.bytes_per_posting", encBytes.toDouble / postings, "B"))
    val (decoded, dSec) = bestOf(3) {
      tracer.span("PostingsCodec.decodeIterator", "codec") {
        encoded.valuesIterator.map(e => PostingsCodec.decodeIterator(e.bytes).size.toLong).sum
      }
    }
    if (decoded != postings) bad += s"codec: decoded $decoded postings, encoded $postings"
    out += (("codec.decode_mb_per_s", encBytes / 1e6 / dSec, "MB/s"))

    // ---- kernel: the in-memory segment exactly as the engine's lists ----
    val lists: Map[String, Kernel.TermList] = encoded.map { case (t, e) =>
      t -> Kernel.TermList(e.bytes, e.maxTf, e.df.toLong)
    } + {
      val ev = everyEnc.finish()
      Q.EveryTerm -> Kernel.TermList(ev.bytes, ev.maxTf, ev.df.toLong)
    }
    val stats = BM25.CorpusStats(nDocs.toLong, totalLen)
    val sortedTerms = encoded.keys.toSeq.sorted
    val ref = new RefModel(docs)
    val stream = new Queries.Stream(seed ^ 0x5deece66dL, nDocs.toLong)
    var postingsTouched = 0L
    var kernelSec = 0.0
    def expand(q0: Q): Q =
      if (q0.hasPrefix) QueryRewrite.expandPrefixes(q0, mq => sortedTerms.filter(mq.matches)) else q0
    // one untimed call per class first, so no class pays the JIT
    val queries = Queries.KernelClasses.map(c => c -> (0 until 13).map(_ => stream.text(c)))
    queries.foreach { case (_, ts) => Kernel.topK(expand(QueryParser.parse(ts.head)), lists, stats, 10) }
    queries.foreach { case (cls, ts) =>
      val us = ts.tail.map { text =>
        val q0 = QueryParser.parse(text)
        val q = expand(q0)
        val (hits, sec) = bestOf(5) {
          tracer.span(s"Kernel.topK $cls", "kernel")(Kernel.topK(q, lists, stats, 10))
        }
        val oracle = ref.search(q0, 10)
        if (hits.map(_.docId).toSeq != oracle.map(_._1) ||
            hits.zip(oracle).exists { case (h, (_, s)) => math.abs(h.score - s) > 1e-6 })
          bad += s"kernel $cls '$text': ${hits.toSeq} != RefModel $oracle"
        val touched = q.terms.iterator.map(t => lists.get(t).map(_.globalDf).getOrElse(0L)).sum +
          (if (q.hasEvery) nDocs.toLong else 0L)
        postingsTouched += touched
        kernelSec += sec
        sec * 1e6
      }
      out += ((s"kernel.topk_us.$cls", Stats.median(us), "us"))
    }
    out += (("kernel.postings_per_s", postingsTouched / kernelSec, "1/s"))
    Result(out.toSeq, bad.toSeq)
  }
}
