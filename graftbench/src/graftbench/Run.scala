package graftbench

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Dataset, SparkSession}

import graft.build.IndexBuilder
import graft.build.IndexBuilder.IndexConfig
import graft.corpus.CorpusSource
import graft.model.CorpusRow
import graft.search.Searcher

final case class Conf(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      out: String, work: String, cores: Int) {
  /** corpus size of every workload */
  val docs: Long = 10000L
  /** Bench's segment size, max(4096, docs / 128), at this corpus size */
  val segSize: Int = 4096
  val cfg: IndexConfig = IndexConfig(segSize = segSize, sortPartitions = cores * 2)
}

/** State shared by the workloads: the timed-op ledger, the correctness
  * ledger, the set-up repetitions and the metrics to print. */
final class Run(val conf: Conf, val spark: SparkSession, val tracer: Tracer) {
  val fs: FileSystem = FileSystem.get(new java.net.URI(conf.work),
    spark.sparkContext.hadoopConfiguration)

  var attempted = 0L
  var failed = 0L
  val mismatches = mutable.ArrayBuffer.empty[String]
  /** (name, value, unit) in print order */
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.ArrayBuffer.empty[String]

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  def mismatch(msg: String): Unit = {
    if (mismatches.size < 20) System.err.println(s"[graftbench] MISMATCH $msg")
    mismatches += msg
  }

  /** A timed op: returns the result and its wall seconds; an exception is
    * logged, counted as failed, and its latency is +Inf. */
  def op[A](name: String, layer: String)(f: => A): (Option[A], Double) = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(name, layer)(f)
      (Some(r), (System.nanoTime() - t0) / 1e9)
    } catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"[graftbench] op '$name' failed: $e")
        (None, Double.PositiveInfinity)
    }
  }

  // ---- corpus and set-up ----

  /** materialise the seeded corpus as parquet (untimed preparation) */
  def corpus(name: String, lo: Long, hi: Long): Dataset[CorpusRow] = {
    val path = s"${conf.work}/$name"
    val seed = conf.seed
    import spark.implicits._
    val (_, sec) = Clock.time {
      spark.range(lo, hi, 1L, conf.cores * 2)
        .map(i => graft.corpus.SynthCorpus.row(seed, i))
        .write.mode("overwrite").parquet(path)
    }
    notes += f"prep: corpus ($name, ${hi - lo} docs) written in $sec%.2f s"
    CorpusSource.read(spark, "parquet", path)
  }

  def contentBytes(ds: Dataset[CorpusRow]): Long = {
    import org.apache.spark.sql.functions._
    ds.select(sum(length(col("content")))).head().getLong(0)
  }

  /** bytes of an index directory, without the checksum side files */
  def dirBytes(dir: String): Long = {
    val it = fs.listFiles(new Path(dir), true)
    var n = 0L
    while (it.hasNext) {
      val f = it.next()
      if (!f.getPath.getName.endsWith(".crc")) n += f.getLen
    }
    n
  }

  /** Bench's witness: sha256 over the manifests' digests in segId order */
  def digest(ix: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    IndexBuilder.readManifests(fs, ix).sortBy(_.segId).foreach(m => md.update(m.digest.getBytes))
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  /** digests known from earlier runs, by seed */
  private val pinnedDigest = Map(42L -> "86e98796c63e9b80")

  final case class Rep(buildSec: Double, totalSec: Double, ix: String, handle: Searcher.IndexHandle)
  val reps = mutable.ArrayBuffer.empty[Rep]

  /** Query a handle for the needle phrase, which every 1000th synthetic
    * doc carries; a wrong hit count is a mismatch. */
  def probe(h: Searcher.IndexHandle, what: String): Unit = {
    val n = Searcher.search(spark, h, "\"needle alpha beta\"", 10).collect().length
    val want = math.min(10L, (conf.docs + 999) / 1000)
    if (n != want) mismatch(s"$what: needle probe returned $n hits, want $want")
  }

  /** One set-up repetition: bulk build the content index, open it, and
    * query until a needle document (every 1000th doc carries the phrase)
    * is visible. Every repetition must produce the same digest. */
  def setupRep(corpus: Dataset[CorpusRow], ix: String): Rep = {
    val t0 = System.nanoTime()
    tracer.span("IndexBuilder.build", "build")(IndexBuilder.build(spark, corpus, ix, conf.cfg))
    val buildSec = (System.nanoTime() - t0) / 1e9
    val h = tracer.span("Searcher.open", "search")(Searcher.open(spark, ix))
    tracer.span("query probe", "client")(probe(h, "set-up"))
    val d = digest(ix)
    reps.headOption.map(r => digest(r.ix)).filter(_ != d)
      .foreach(d0 => mismatch(s"digest $d differs from the first set-up's $d0"))
    pinnedDigest.get(conf.seed).filter(_ != d)
      .foreach(p => mismatch(s"digest $d != pinned $p for seed ${conf.seed}"))
    if (reps.isEmpty) notes += s"index digest $d"
    val rep = Rep(buildSec, (System.nanoTime() - t0) / 1e9, ix, h)
    reps += rep
    rep
  }

  /** `n` set-up repetitions; their median is `setup_s`, their best build
    * rate `build_docs_per_s` */
  def setupReps(corpus: Dataset[CorpusRow], dirOf: Int => String, n: Int = 2): Rep = {
    tracer.active = conf.trace
    (0 until n).foreach(i => setupRep(corpus, dirOf(i)))
    notes += "set-up repetitions (s): " + reps.map(r => f"${r.totalSec}%.2f").mkString(" ")
    put("setup_s", Stats.median(reps.map(_.totalSec).toSeq), "s")
    // the best build: the first repetition still pays JIT warm-up
    put("build_docs_per_s", reps.map(conf.docs / _.buildSec).max, "docs/s")
    reps.last
  }

  // ---- result verification ----


  def sameHits(what: String, got: Hits, want: Hits): Unit =
    if (got.map(_._1) != want.map(_._1) ||
        got.zip(want).exists { case ((_, a), (_, b)) => math.abs(a - b) > 1e-6 })
      mismatch(s"$what: got $got, exhaustive $want")

  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }
}
