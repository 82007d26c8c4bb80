package graftbench

import java.util.SplittableRandom

/** Seeded query stream over the synthetic corpus's Zipf vocabulary
  * (`w0000` is the most frequent term). Terms come from three rank bands;
  * hot draws repeat often, cold draws rarely, so per-handle memos see both
  * repeats and misses. */
object Queries {
  /** classes the single-field kernel evaluates (also the Spark-free kernel
    * section's classes) */
  val KernelClasses: Seq[String] = Seq("term_hot", "term_mid", "term_cold",
    "and", "or", "phrase", "mixed", "not", "every", "prefix", "spannear")
  /** every single-query class of the serve stream */
  val Classes: Seq[String] = KernelClasses ++ Seq("faceted", "field")
  /** a searchMany batch: the class mix of Bench's q_batch10, the same in
    * every batch so batch cost does not depend on the seed */
  val BatchClasses: Seq[String] = Seq("term_hot", "term_mid", "term_cold", "and", "and",
    "or", "or", "phrase", "mixed", "not")

  private def w(rank: Int): String = f"w$rank%04d"

  final class Stream(seed: Long, nDocs: Long) {
    private val r = new SplittableRandom(seed * 0x9e3779b97f4a7c15L + 17L)
    private def hot = w(r.nextInt(10))
    private def mid = w(100 + r.nextInt(900))
    private def cold = w(3000 + r.nextInt(7000))
    private def head = w(r.nextInt(50))

    def batch(): Seq[String] = BatchClasses.map(text)

    /** every class once, in a seeded order */
    def cycle(classes: Seq[String]): Seq[String] = {
      val a = classes.toArray
      (a.length - 1 to 1 by -1).foreach { i =>
        val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a.toSeq
    }

    def text(cls: String): String = cls match {
      case "term_hot"  => hot
      case "term_mid"  => mid
      case "term_cold" => cold
      case "and"       => s"$head AND $head"
      case "or"        => s"$hot OR $mid OR $cold"
      case "phrase"    => "\"" + hot + " " + hot + "\""
      case "mixed"     => s"$hot AND ($mid OR $mid)"
      case "not"       => s"$mid NOT $hot"
      case "every"     => s"NOT $hot"
      // a three-digit stem: expands to ten terms w<stem>0..w<stem>9
      case "prefix"    => f"w${r.nextInt(1000)}%03d*"
      case "spannear"  => s"$hot NEAR/5 $mid"
      case "faceted"   => if (r.nextBoolean()) hot else mid
      // a content term OR one document's path (SynthCorpus paths are
      // src/f<10-digit i>.<ext>, ext cycling with i % 5)
      case "field"     =>
        val i = (r.nextLong() & Long.MaxValue) % nDocs
        val ext = Seq("scala", "py", "java", "rs", "txt")((i % 5).toInt)
        f"$mid OR path:f$i%010d.$ext^2"
    }
  }
}
