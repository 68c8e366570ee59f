package perfbench

/** Seeded generator of a document corpus for exact plus near-duplicate
  * removal, with the survivor set the dedup must return.
  *
  * Documents are 60-200 tokens drawn from a Zipf vocabulary. Planted
  * clusters: a base document plus 1-3 exact copies, or a base plus 1-3
  * near copies that each replace a few tokens of the base with tokens
  * no other document uses. Every near copy shares at least 0.6 of its
  * word 3-shingles with its base (checked here), far above the 0.5
  * threshold, while unrelated documents share almost none. Ids are a
  * seeded permutation, so a cluster's survivor (its minimum id) is not
  * always its base. */
object CorpusGen {

  case class Corpus(docs: IndexedSeq[(Long, String)], survivors: IndexedSeq[Long],
      exactCopies: Int, nearCopies: Int) {
    def textBytes: Long = docs.map(_._2.length.toLong).sum
  }

  val K = 3
  val Threshold = 0.5

  /** Word k-shingle set, whitespace tokens, as `Dedup.shingles` forms them. */
  def shingles(tokens: IndexedSeq[String]): Set[String] =
    tokens.sliding(K).filter(_.size == K).map(_.mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double =
    (a intersect b).size.toDouble / (a union b).size

  private val Vocab = 20000
  private val ZipfS = 0.8
  /** Share of base documents that get exact, or near, copies. */
  private val ExactShare = 0.05
  private val NearShare = 0.05

  def generate(seed: Long, nDocs: Int): Corpus = {
    val r = BagGen.rng(seed, "corpus")
    val cdf = {
      val w = Array.tabulate(Vocab)(i => 1.0 / math.pow(i + 1, ZipfS))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def word(): String = {
      val u = r.nextDouble()
      var i = java.util.Arrays.binarySearch(cdf, u)
      if (i < 0) i = -i - 1
      "w" + Integer.toString(math.min(i, Vocab - 1), 36)
    }
    // (text, cluster) in generation order; cluster = index of its base
    val texts = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
    var exact = 0; var near = 0
    while (texts.size < nDocs) {
      val cluster = texts.size
      val base = IndexedSeq.fill(60 + r.nextInt(141))(word())
      texts += base.mkString(" ") -> cluster
      val u = r.nextDouble()
      val copies = math.min(1 + r.nextInt(3), nDocs - texts.size)
      if (u < ExactShare) {
        (0 until copies).foreach(_ => texts += base.mkString(" ") -> cluster)
        exact += copies
      } else if (u < ExactShare + NearShare) {
        val baseSet = shingles(base)
        (0 until copies).foreach { j =>
          val m = 1 + r.nextInt(math.max(1, base.size / 40))
          val mutated = (0 until m).foldLeft(base) { (toks, q) =>
            toks.updated(r.nextInt(toks.size), s"x${cluster}m${j}q$q")
          }
          val sim = jaccard(baseSet, shingles(mutated))
          require(sim >= 0.6, s"near copy too far from its base: $sim")
          texts += mutated.mkString(" ") -> cluster
        }
        near += copies
      }
    }
    // ids: a seeded permutation of 1..n
    val ids = (1L to texts.size.toLong).toArray
    for (i <- ids.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    val docs = texts.indices.map(i => ids(i) -> texts(i)._1)
    val survivors = texts.indices.groupBy(i => texts(i)._2).values
      .map(_.map(i => ids(i)).min).toIndexedSeq.sorted
    Corpus(docs, survivors, exact, near)
  }
}
