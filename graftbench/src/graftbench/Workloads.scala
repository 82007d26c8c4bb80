package graftbench

import scala.collection.mutable

import org.apache.spark.sql.Dataset

import graft.build.{Deletes, IndexBuilder}
import graft.build.MultiFieldIndex
import graft.corpus.SynthCorpus
import graft.merge.Merger
import graft.model.CorpusRow
import graft.search.{MultiFieldSearcher, Searcher}
import graft.streaming.StreamingIngest

/** The two workloads. Both set up by bulk-building the seeded corpus twice
  * (the median repetition is `setup_s`; serve builds its path field index
  * first, which warms the JVM), then
  * run one closed-loop client:
  *  - serve: whole cycles of single queries over every class with a
  *    searchMany batch after every 4th single, on the fresh, colocated
  *    index and warm handles;
  *  - ingest: rounds of append, tombstone, periodic MERGE_SMALL, reopen,
  *    poll for the round's marker doc, then a few queries and batches on
  *    the cold handle. */
object Workloads {

  /** The timed work: whole units (serve cycles, ingest merge cycles) of
    * about `unitSec` seconds each on 4 cores, as many as fill `seconds`
    * there. A count, not a deadline, so that the query mix, the JIT's
    * progress and the index state do not depend on the program's speed. */
  private def units(seconds: Int, unitSec: Double): Int =
    math.max(1, math.round(seconds / unitSec).toInt)

  // ---------------------------------------------------------------- serve

  def serve(run: Run): Search = {
    import run.{conf, spark, tracer}
    import spark.implicits._
    val corpus = run.corpus("corpus", 0L, conf.docs)
    val inputBytes = run.contentBytes(corpus)
    // the path field index beside the last set-up's content index; built
    // first, it is also the JVM warm-up build (untimed)
    val root = s"${conf.work}/rep1"
    val (_, pathSec) = Clock.time {
      IndexBuilder.build(spark, corpus.map(r => r.copy(content = r.path)),
        MultiFieldIndex.fieldDir(root, "path"), conf.cfg)
    }
    run.notes += f"prep: path field index (warm-up build) $pathSec%.2f s"
    val rep = run.setupReps(corpus, i => MultiFieldIndex.fieldDir(s"${conf.work}/rep$i", "content"))
    run.put("write_docs_per_s", run.metrics("build_docs_per_s")._1, "docs/s")

    // untimed preparation: the two-field handle, and one warm call for each
    // plan shape the set-up's probe query did not run
    tracer.active = false
    val mh = MultiFieldSearcher.open(spark, root, MultiFieldIndex.contentAndPath)
    val h = rep.handle
    val search = new Search(run)
    val warm = new Queries.Stream(conf.seed + 1, conf.docs)
    val (_, warmSec) = Clock.time {
      Seq("faceted", "field").foreach(c => search.single(c, warm.text(c), h, Some(mh)))
      search.batch(warm.batch(), h)
    }
    search.clear()
    run.attempted = 0; run.failed = 0
    run.notes += f"prep: warm-up queries $warmSec%.2f s"

    // visible_p50_s: time from Searcher.open of the fresh index until the
    // new handle returns the needle doc, over several reopens
    val visible = (0 until ReopenSamples).map { i =>
      run.op("reopen", "client")(run.probe(Searcher.open(spark, rep.ix), s"reopen $i"))._2
    }
    run.put("visible_p50_s", Stats.median(visible), "s")

    // timed closed loop, one client, in whole cycles: each visits every
    // class once in a seeded order, with a batch after every 4th single
    val stream = new Queries.Stream(conf.seed, conf.docs)
    tracer.active = conf.trace
    (0 until units(conf.seconds, CycleSec)).foreach { _ =>
      stream.cycle(Queries.Classes).zipWithIndex.foreach { case (cls, j) =>
        search.single(cls, stream.text(cls), h, Some(mh))
        if (j % 4 == 3) search.batch(stream.batch(), h)
      }
    }
    tracer.active = false
    if (conf.trace) search.replay()
    val (_, checkSec) = Clock.time(verify(run, search, h, Some(mh)))
    run.notes += f"verification (untimed): $checkSec%.2f s"

    run.put("index_bytes_per_input_byte", run.dirBytes(rep.ix).toDouble / inputBytes, "ratio")
    run.notes += s"corpus: ${conf.docs} docs, $inputBytes content bytes, segSize ${conf.segSize}"
    search
  }

  /** Every recorded top-k must equal the same handle's exhaustive
    * (prune = false) result: docIds exactly, scores within 1e-6. One
    * searchMany job evaluates every distinct single-field text. */
  def verify(run: Run, search: Search, h: Searcher.IndexHandle,
             mh: Option[MultiFieldSearcher.MultiHandle]): Unit = {
    import run.spark
    val singleTexts = search.results.keys.collect { case ("single", t) => t }.toSeq.distinct
    val qs = singleTexts.zipWithIndex.map { case (t, i) => s"v$i" -> t }
    val exhaustive =
      if (qs.isEmpty) Map.empty[String, Hits]
      else search.byQid(Searcher.searchMany(spark, h, qs, 10, prune = false))
    qs.foreach { case (id, t) =>
      val want = exhaustive.getOrElse(id, Seq.empty)
      search.results(("single", t)).foreach(got => run.sameHits(s"'$t'", got, want))
    }
    search.results.keys.collect { case ("field", t) => t }.toSeq.distinct.foreach { t =>
      val want = MultiFieldSearcher.search(spark, mh.get, t, 10, prune = false)
        .collect().toSeq.map(x => (x.docId, x.score))
      search.results(("field", t)).foreach(got => run.sameHits(s"field '$t'", got, want))
    }
  }

  // --------------------------------------------------------------- ingest

  /** serve: seconds one cycle of 13 singles and 3 batches takes */
  val CycleSec = 4.5
  /** serve: reopens of the fresh index behind visible_p50_s */
  val ReopenSamples = 5

  /** docs per appended batch, one of them the round's marker doc */
  val BatchDocs = 1000
  /** MERGE_SMALL every this many rounds */
  val MergeEvery = 2
  /** seconds one merge cycle of rounds takes */
  val MergeCycleSec = 14.0
  /** the serve classes but `field` (the ingest index has no path field) */
  val IngestClasses: Seq[String] = Queries.Classes.filterNot(_ == "field")
  /** single queries per round, on the reopened handle: each merge cycle
    * visits every ingest class once */
  val QueriesPerRound: Int = IngestClasses.size / MergeEvery
  /** searchMany batches of 10 per round */
  val BatchesPerRound = 2
  /** live docIds tombstoned per round */
  val DeletesPerRound = 25

  final case class Round(appendSec: Double, deleteSec: Double, mergeSec: Double,
                         visibleSec: Double, traced: Boolean, lexiconSec: Double,
                         contentBytes: Long)

  def ingest(run: Run): (Search, Seq[Round]) = {
    import run.{conf, spark, tracer, fs}
    import spark.implicits._
    val corpus = run.corpus("corpus", 0L, conf.docs)
    val baseBytes = run.contentBytes(corpus)
    // no separate warm-up build: the first set-up repetition pays the JIT,
    // and the warm-up round below appends to its index
    val rep = run.setupReps(corpus, i => s"${conf.work}/ix$i")
    val ix = rep.ix
    val warmIx = run.reps.head.ix
    tracer.active = false

    // live docIds of the base index, from its manifests
    val live = mutable.LinkedHashSet.empty[Long]
    IndexBuilder.readManifests(fs, ix).foreach { m =>
      require(m.docHi - m.docLo + 1 == m.docCount, s"segment ${m.segId} has a docId gap")
      (m.docLo to m.docHi).foreach(live += _)
    }
    val rng = new java.util.SplittableRandom(conf.seed * 31 + 7)
    val deleted = mutable.HashSet.empty[Long]
    def pickDeletes(): Seq[Long] = {
      val pool = live.toIndexedSeq
      val ids = mutable.LinkedHashSet.empty[Long]
      while (ids.size < math.min(DeletesPerRound, pool.size)) ids += pool(rng.nextInt(pool.size))
      live --= ids
      ids.toSeq.sorted
    }

    var nextDoc = conf.docs
    def batch(marker: String): (Dataset[CorpusRow], Long) = {
      val rows = (nextDoc until nextDoc + BatchDocs).map(i => SynthCorpus.row(conf.seed, i))
      nextDoc += BatchDocs
      val withMarker = rows.init :+ rows.last.copy(content = rows.last.content + " " + marker)
      (spark.createDataset(withMarker), withMarker.map(_.content.length.toLong).sum)
    }

    val search = new Search(run)
    val stream = new Queries.Stream(conf.seed, conf.docs)
    // round r queries the next QueriesPerRound of IngestClasses
    var classCursor = 0
    def checkDeleted(what: String, hs: Seq[(Long, Double)]): Unit =
      hs.map(_._1).filter(deleted).foreach(d => run.mismatch(s"$what returned tombstoned doc $d"))

    val rounds = mutable.ArrayBuffer.empty[Round]
    var liveSegsMax = 0
    var deltasMax = 0

    /** One round; returns its record. `timed` = false for the warm-up. In
      * the traced run every timed call is traced. */
    def round(r: Int, target: String, timed: Boolean, merge: Boolean): Round = {
      val traced = conf.trace && timed
      tracer.active = traced
      val marker = s"zmark${conf.seed}${if (timed) "t" else "w"}$r"
      val (ds, bytes) = batch(marker)
      val delIds = pickDeletes()
      val tA = System.nanoTime()
      val (_, appendSec) = run.op("append", "client")(tracer.span("StreamingIngest.append", "streaming") {
        StreamingIngest.append(spark, ds, target, conf.cfg)
      })
      val lexiconSec = StreamingIngest.IngestMetrics.lastAppendLexiconSec
      val (_, deleteSec) = run.op("delete", "client")(tracer.span("Deletes.add", "deletes") {
        Deletes.add(spark, target, delIds)
      })
      deleted ++= delIds
      val mergeSec =
        if (!merge) 0.0
        else run.op("merge", "client")(tracer.span("Merger.mergeSmall", "merge") {
          Merger.mergeSmall(spark, target)
        })._2
      // reopen and poll until the marker doc is visible
      var handle: Option[Searcher.IndexHandle] = None
      var found = false
      var polls = 0
      while (!found && polls < 10) {
        handle = run.op("reopen", "client")(tracer.span("Searcher.open", "search") {
          Searcher.open(spark, target)
        })._1.orElse(handle)
        found = handle.exists { h =>
          run.op("poll", "client")(Searcher.search(spark, h, marker, 10).collect())._1
            .exists(_.length == 1)
        }
        polls += 1
      }
      val visibleSec = if (found) (System.nanoTime() - tA) / 1e9 else Double.PositiveInfinity
      if (!found) run.mismatch(s"round $r: marker $marker not visible after $polls polls")
      handle.foreach { h =>
        // the warm-up round's batch warms the read path; singles are warm
        // from the set-up probes
        (0 until (if (timed) QueriesPerRound else 0)).foreach { _ =>
          val cls = IngestClasses(classCursor % IngestClasses.size)
          classCursor += 1
          search.single(cls, stream.text(cls), h, None).foreach(checkDeleted(s"round $r $cls", _))
        }
        (0 until (if (timed) BatchesPerRound else 1)).foreach { _ =>
          search.batch(stream.batch(), h)
            .foreach(_.foreach { case (t, hs) => checkDeleted(s"round $r batch '$t'", hs) })
        }
      }
      // before the next round's merge can retire this handle's segments
      if (traced) search.replay()
      if (timed) {
        liveSegsMax = math.max(liveSegsMax, IndexBuilder.readManifests(fs, target).size)
        deltasMax = math.max(deltasMax, IndexBuilder.liveLexDeltaDirs(fs, target).size)
      }
      tracer.active = false
      Round(appendSec, deleteSec, mergeSec, visibleSec, traced, lexiconSec, bytes)
    }

    // untimed warm-up: one round without a merge on the first set-up's index
    val (_, warmSec) = Clock.time(round(0, warmIx, timed = false, merge = false))
    search.clear()
    run.attempted = 0; run.failed = 0
    deleted.clear()
    classCursor = 0
    run.notes += f"prep: warm-up round $warmSec%.2f s"
    // the warm-up tombstoned ids of the first set-up's index only
    live.clear()
    IndexBuilder.readManifests(fs, ix).foreach(m => (m.docLo to m.docHi).foreach(live += _))

    (0 until MergeEvery * units(conf.seconds, MergeCycleSec)).foreach { r =>
      rounds += round(r, ix, timed = true, merge = r % MergeEvery == MergeEvery - 1)
    }

    rounds.zipWithIndex.foreach { case (x, i) =>
      run.notes += f"round $i: append ${x.appendSec}%.2f s, delete ${x.deleteSec}%.3f s, " +
        f"merge ${x.mergeSec}%.2f s, visible after ${x.visibleSec}%.2f s"
    }
    val appended = rounds.size.toLong * BatchDocs
    val writeSec = rounds.map(x => x.appendSec + x.deleteSec + x.mergeSec).sum
    run.put("write_docs_per_s", appended / writeSec, "docs/s")
    run.put("visible_p50_s", Stats.median(rounds.map(_.visibleSec).toSeq), "s")
    val appendedBytes = rounds.map(_.contentBytes).sum
    run.put("index_bytes_per_input_byte",
      run.dirBytes(ix).toDouble / (baseBytes + appendedBytes), "ratio")
    run.put("ingest.live_segments_max", liveSegsMax, "count")
    run.put("ingest.lexicon_deltas_max", deltasMax, "count")
    run.notes += s"corpus: ${conf.docs} base docs, $baseBytes content bytes, segSize ${conf.segSize}; " +
      s"${rounds.size} rounds of $BatchDocs docs ($appendedBytes content bytes), " +
      s"$DeletesPerRound tombstones per round, MERGE_SMALL every $MergeEvery rounds"
    (search, rounds.toSeq)
  }
}
