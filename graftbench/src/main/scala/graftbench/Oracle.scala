package graftbench

import scala.collection.mutable

/** The benchmark's own answers, computed from its own copy of the
  * inputs and never from the program's output, plus the checks that
  * compare the two. A check returns `None` when the answer is right and
  * `Some(reason)` when it is wrong.
  */
object Oracle {
  type Verdict = Option[String]
  val ScoreTol = 1e-9

  def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  def l2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    math.sqrt(s)
  }

  /** The `nprobe` shards whose centroids are nearest to `q` by L2. */
  def probedShards(q: Array[Double], cents: Seq[(Int, Array[Double])], nprobe: Int): Set[Int] =
    cents.map { case (s, c) => (l2(q, c), s) }.sorted.take(nprobe).map(_._2).toSet

  def nearestShard(v: Array[Double], cents: Seq[(Int, Array[Double])]): Int =
    cents.minBy { case (s, c) => (l2(v, c), s) }._1

  /** A best-first top-k answer `got` (id, score) against every
    * candidate's score as the benchmark computes it (`candidates` calls
    * its argument once per candidate): the right number of distinct
    * rows, every id a live candidate with the score claimed (within
    * `tol`), best-first order, and no candidate left out that beats the
    * worst one returned.
    */
  def checkTopK(got: Seq[(Long, Double)], k: Int, tol: Double)(
      candidates: ((Long, Double) => Unit) => Unit): Verdict = {
    val claimed = mutable.LongMap.empty[Double]
    got.foreach(p => claimed(p._1) = p._2)
    if (claimed.size != got.size) return Some("an id is returned twice")
    val own = mutable.LongMap.empty[Double]
    var n = 0L
    var bestLeftOut = Double.NegativeInfinity
    candidates { (id, s) =>
      n += 1
      if (claimed.contains(id)) own(id) = s
      else if (s > bestLeftOut) bestLeftOut = s
    }
    val want = math.min(k.toLong, n)
    if (got.size != want) return Some(s"returned ${got.size} rows, expected $want")
    for ((id, s) <- got) own.get(id) match {
      case None => return Some(s"id $id is not a live candidate")
      case Some(t) if math.abs(t - s) > tol => return Some(s"id $id scored $s, expected $t")
      case _ =>
    }
    val mine = got.map(p => own(p._1))
    if (mine.zip(mine.drop(1)).exists { case (a, b) => b > a + ScoreTol })
      return Some("results are not best-first")
    if (mine.nonEmpty && bestLeftOut > mine.min + ScoreTol)
      Some(s"a candidate scoring $bestLeftOut beats the returned ${mine.min}")
    else None
  }

  def checkTopK(got: Seq[(Long, Double)], all: collection.Map[Long, Double], k: Int,
                tol: Double = ScoreTol): Verdict =
    checkTopK(got, k, tol)(f => all.foreach { case (id, s) => f(id, s) })

  /** `get(id)`: exactly one row, equal to the vector last written. */
  def checkGet(got: Seq[Array[Double]], want: Array[Double]): Verdict =
    if (got.size != 1) Some(s"get returned ${got.size} rows")
    else if (!got.head.sameElements(want)) Some("get returned another vector")
    else None

  /** `get` of a deleted id: no row. */
  def checkAbsent(got: Seq[Array[Double]]): Verdict =
    if (got.nonEmpty) Some(s"get returned ${got.size} rows for a deleted id") else None

  /** Id inventory of a store or index equals the live set. */
  def checkInventory(what: String, got: Set[Long], live: collection.Set[Long]): Verdict = {
    val stale = got -- live
    val lost = live.filterNot(got)
    if (stale.nonEmpty) Some(s"$what still holds deleted or unknown ids ${stale.take(5).mkString(",")}")
    else if (lost.nonEmpty) Some(s"$what lost ids ${lost.take(5).mkString(",")}")
    else None
  }

  /** Spark's `round(x, 4)` (HALF_UP). */
  def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Best-first by score, ties by id ascending. */
  def ranked(scores: collection.Map[Long, Double]): Seq[(Long, Double)] =
    scores.toSeq.sortBy { case (id, s) => (-s, id) }

  /** Reciprocal-rank fusion of two rank lists (doc -> 1-based rank)
    * with k = 60 and unit weights: the page of `topK` rows
    * (doc, rank_kw, rank_vec), best-first, ties by doc ascending.
    */
  def rrf(kw: Map[Long, Int], vec: Map[Long, Int], topK: Int): Seq[(Long, Int, Int)] = {
    def part(r: Option[Int]): Double = r.fold(0.0)(x => 1.0 / (x + 60L))
    (kw.keySet ++ vec.keySet).toSeq
      .map(d => (d, 1.0 * part(kw.get(d)) + 1.0 * part(vec.get(d))))
      .sortBy { case (d, s) => (-s, d) }
      .take(topK)
      .map { case (d, _) => (d, kw.getOrElse(d, 0), vec.getOrElse(d, 0)) }
  }

  def checkPage(got: Seq[(Long, Int, Int)], want: Seq[(Long, Int, Int)]): Verdict =
    if (got == want) None
    else Some(s"fused page ${got.take(3).mkString(" ")} ... differs from ${want.take(3).mkString(" ")} ...")

  def checkVerdicts(got: collection.Map[Long, String], want: collection.Map[Long, String]): Verdict =
    if (got.keySet != want.keySet) Some("verdicts cover other documents than the batch")
    else want.collectFirst {
      case (id, v) if got(id) != v => s"doc $id judged ${got(id)}, expected $v"
    }
}

/** The live text corpus as the benchmark sees it: BM25 statistics and
  * trigram-shingle sets, updated by the same appends and deletes the
  * program is asked to make.
  */
final class Corpus {
  import Corpus._
  val texts = mutable.LinkedHashMap.empty[Long, String]
  private val tokens = mutable.Map.empty[Long, Array[String]]
  private val postings = mutable.Map.empty[String, mutable.Map[Long, Int]]
  private var sumDl = 0L
  private val shingleSets = mutable.Map.empty[Long, Set[String]]
  private val byShingle = mutable.Map.empty[String, mutable.Set[Long]]
  private val byText = mutable.Map.empty[String, Int]

  def size: Int = texts.size
  def ids: collection.Set[Long] = texts.keySet
  /** Live documents holding `word`. */
  def df(word: String): Int = postings.get(word).fold(0)(_.size)

  def add(id: Long, text: String): Unit = {
    require(!texts.contains(id), s"doc $id added twice")
    texts(id) = text
    val ws = text.split(" ")
    tokens(id) = ws
    sumDl += ws.length
    ws.groupBy(identity).foreach { case (w, occ) =>
      postings.getOrElseUpdate(w, mutable.Map.empty)(id) = occ.length
    }
    val sh = shingles(text)
    shingleSets(id) = sh
    sh.foreach(s => byShingle.getOrElseUpdate(s, mutable.Set.empty) += id)
    byText(text) = byText.getOrElse(text, 0) + 1
  }

  def remove(id: Long): Unit = {
    val text = texts.remove(id).getOrElse(sys.error(s"doc $id is not live"))
    val ws = tokens.remove(id).get
    sumDl -= ws.length
    ws.distinct.foreach { w =>
      val p = postings(w); p -= id
      if (p.isEmpty) postings -= w
    }
    shingleSets.remove(id).get.foreach { s =>
      val d = byShingle(s); d -= id
      if (d.isEmpty) byShingle -= s
    }
    byText(text) -= 1
    if (byText(text) == 0) byText -= text
  }

  /** BM25 (k1 = 1.2, b = 0.75) of every live document matching at
    * least one term, contributions summed in query-term order.
    */
  def bm25(terms: Seq[String]): Map[Long, Double] = {
    val n = texts.size.toDouble
    val avg = sumDl.toDouble / n
    val acc = mutable.LinkedHashMap.empty[Long, Double]
    for (t <- terms; p <- postings.get(t)) {
      val df = p.size.toDouble
      val idf = StrictMath.log(1.0 + (n - df + 0.5) / (df + 0.5))
      for ((d, tf) <- p) {
        val dl = tokens(d).length.toDouble
        val c = idf * (tf * (K1 + 1.0)) / (tf + K1 * ((1.0 - B) + B * dl / avg))
        acc(d) = acc.getOrElse(d, 0.0) + c
      }
    }
    acc.toMap
  }

  /** Verdict for a new text against the live corpus: `exact` if some
    * live document has the same text, `near` if some live document's
    * trigram-shingle Jaccard with it is at least `threshold`, else
    * `keep`.
    */
  def verdict(text: String, threshold: Double = 0.8): String =
    if (byText.contains(text)) "exact"
    else {
      val a = shingles(text)
      val shared = mutable.Map.empty[Long, Int]
      a.foreach(s => byShingle.get(s).foreach(_.foreach(d => shared(d) = shared.getOrElse(d, 0) + 1)))
      val near = shared.exists { case (d, i) =>
        i.toDouble / (a.size + shingleSets(d).size - i) >= threshold
      }
      if (near) "near" else "keep"
    }

  /** Highest document frequency of any shingle over the live corpus
    * plus `batch` — the dedup gate's df cap must not bind.
    */
  def maxShingleDf(batch: Seq[String]): Int = {
    val b = mutable.Map.empty[String, Int]
    batch.foreach(t => shingles(t).foreach(s => b(s) = b.getOrElse(s, 0) + 1))
    val withBatch = b.iterator.map { case (s, c) => c + byShingle.get(s).fold(0)(_.size) }
    (withBatch ++ byShingle.valuesIterator.map(_.size)).maxOption.getOrElse(0)
  }
}

object Corpus {
  val K1 = 1.2
  val B = 0.75

  def shingles(text: String): Set[String] = {
    val ws = text.split(" ")
    if (ws.length < 3) Set.empty
    else ws.sliding(3).map(_.mkString(" ")).toSet
  }
}

/** The benchmark's own feature-hashing embedder: each word adds a
  * signed one to dimension `md5_32(word) mod 64` (sign from the next
  * bit), and the sum is L2-normalised.
  */
object Embed {
  def apply(text: String): Array[Double] = {
    val raw = new Array[Double](Gen.Dim)
    val md = java.security.MessageDigest.getInstance("MD5")
    text.split(" ").foreach { w =>
      val d = md.digest(w.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      raw((h % Gen.Dim).toInt) += (if ((h / Gen.Dim) % 2 == 0) 1.0 else -1.0)
    }
    val nrm = math.sqrt(raw.map(x => x * x).sum)
    raw.map(x => if (nrm == 0) 0.0 else x / nrm)
  }
}
