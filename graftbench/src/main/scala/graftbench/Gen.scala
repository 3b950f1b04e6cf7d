package graftbench

import scala.util.Random

/** Seeded synthetic inputs. Everything the program is given is made
  * here from the run's seed; the benchmark keeps its own copy of every
  * input so that the checks never have to trust the program's output.
  */
object Gen {
  val Dim = 64

  /** Word `w<i>` with i drawn from a skewed (density ~ 1/sqrt(i))
    * distribution over `vocab` words: a few words are common, most are
    * rare, and trigram shingles stay far below the dedup df cap.
    */
  def word(rnd: Random, vocab: Int): String = {
    val u = rnd.nextDouble()
    "w" + (vocab * u * u).toInt
  }

  def text(rnd: Random, vocab: Int, minWords: Int, maxWords: Int): String =
    Seq.fill(minWords + rnd.nextInt(maxWords - minWords + 1))(word(rnd, vocab)).mkString(" ")

  /** `n` vectors of dimension [[Dim]] drawn around `clusters` Gaussian
    * centres (unit-variance centres, `spread` noise per coordinate).
    */
  final case class Vectors(centres: Array[Array[Double]], rows: Array[Array[Double]])

  def vectors(rnd: Random, n: Int, clusters: Int, spread: Double): Vectors = {
    val centres = Array.fill(clusters)(Array.fill(Dim)(rnd.nextGaussian()))
    val rows = Array.fill(n) {
      val c = centres(rnd.nextInt(clusters))
      c.map(_ + spread * rnd.nextGaussian())
    }
    Vectors(centres, rows)
  }

  /** A query near a random centre: a point the store has not seen. */
  def query(rnd: Random, v: Vectors, spread: Double): Array[Double] =
    v.centres(rnd.nextInt(v.centres.length)).map(_ + spread * rnd.nextGaussian())

  /** A two-term keyword query of steady cost: one of the 20 most
    * common words and one from the next 500.
    */
  def queryTerms(rnd: Random): Seq[String] =
    Seq("w" + rnd.nextInt(20), "w" + (20 + rnd.nextInt(500)))

  /** Seed corpus for the curation pipeline: ordinary documents plus
    * planted exact duplicates (a copy of an earlier document under a
    * new id) and planted short documents (below the pipeline's
    * 10-word quality gate). Near-duplicates are planted in the ingest
    * batches instead (see [[batch]]), where the verdict is exact
    * rather than MinHash-approximate.
    */
  def seedCorpus(rnd: Random, n: Int, vocab: Int, dupRate: Double,
                 shortRate: Double): IndexedSeq[(Long, String)] = {
    val docs = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    for (i <- 0 until n) {
      val u = rnd.nextDouble()
      val t =
        if (u < dupRate && docs.nonEmpty) docs(rnd.nextInt(docs.size))._2
        else if (u < dupRate + shortRate) text(rnd, vocab, 3, 9)
        else text(rnd, vocab, 20, 50)
      docs += ((i.toLong, t))
    }
    docs.toIndexedSeq
  }

  /** Replace one word strictly inside the document: 3 of its trigram
    * shingles change, so a long document stays a near-duplicate
    * (Jaccard >= 0.8 from 29 words up) and a short one does not.
    */
  def nearCopy(rnd: Random, t: String, vocab: Int): String = {
    val ws = t.split(" ")
    val at = 2 + rnd.nextInt(ws.length - 4)
    var w = word(rnd, vocab)
    while (w == ws(at)) w = word(rnd, vocab)
    ws(at) = w
    ws.mkString(" ")
  }

  private sealed trait Kind
  private case object Fresh extends Kind
  private case object ExactCopy extends Kind
  private case object NearCopy extends Kind
  private case object DeletedCopy extends Kind

  /** An ingest batch of `n` (id, text) pairs with new ids from
    * `firstId`, in seeded order: 10% exact copies and 15% near copies of
    * live documents of at least 30 words (so a near copy stays at
    * Jaccard >= 0.8), 5% copies of taken-down documents, the rest fresh.
    */
  def batch(rnd: Random, firstId: Long, n: Int, vocab: Int,
            live: IndexedSeq[String], deleted: IndexedSeq[String]): IndexedSeq[(Long, String)] = {
    val long = live.filter(_.count(_ == ' ') >= 29)
    def pick(xs: IndexedSeq[String]) = xs(rnd.nextInt(xs.size))
    val kinds = Seq.fill(n / 10)(ExactCopy) ++ Seq.fill(n * 3 / 20)(NearCopy) ++
      Seq.fill(if (deleted.isEmpty) 0 else n / 20)(DeletedCopy)
    rnd.shuffle(kinds ++ Seq.fill(n - kinds.size)(Fresh)).zipWithIndex.map { case (k, i) =>
      val t = k match {
        case ExactCopy => pick(live)
        case NearCopy => nearCopy(rnd, pick(long), vocab)
        case DeletedCopy => pick(deleted)
        case Fresh => text(rnd, vocab, 20, 50)
      }
      (firstId + i, t)
    }.toIndexedSeq
  }
}
