package graftbench

import scala.util.Random

/** Each check is fed a right answer, which it must accept, and
  * deliberately wrong ones, which it must reject: a swapped neighbour,
  * a deleted id that still appears, a flipped verdict. Runs without
  * Spark, before every benchmark run.
  */
object SelfTest {
  /** Names of the self-tests that did not behave; empty when all did. */
  def run(): Seq[String] = {
    val bad = Seq.newBuilder[String]
    def pass(name: String, v: Oracle.Verdict): Unit = v.foreach(r => bad += s"$name rejected a right answer: $r")
    def fail(name: String, v: Oracle.Verdict): Unit = if (v.isEmpty) bad += s"$name accepted a wrong answer"

    val rnd = new Random(42)
    // IVF top-k over a small model: 300 vectors, 4 centroids, nprobe 2
    val cents = (0 until 4).map(s => (s, Array.fill(Gen.Dim)(rnd.nextGaussian())))
    val model = new VectorModel(cents)
    (0 until 300).foreach(i => model.put(i.toLong, cents(i % 4)._2.map(_ + rnd.nextGaussian())))
    val q = cents(1)._2.map(_ + 0.3 * rnd.nextGaussian())
    val cand = collect(model, q, 2)
    val right = Oracle.ranked(cand).take(10)
    pass("ivf top-k", Oracle.checkTopK(right, cand, 10, Oracle.ScoreTol))
    val outsider = Oracle.ranked(cand)(20)
    fail("ivf top-k, swapped neighbour", Oracle.checkTopK(right.updated(4, outsider), cand, 10))
    fail("ivf top-k, swapped order", Oracle.checkTopK(right.updated(2, right(3)).updated(3, right(2)), cand, 10))
    val gone = right(5)._1
    val afterDelete = cand - gone
    fail("ivf top-k, deleted id still returned", Oracle.checkTopK(right, afterDelete, 10))
    val unprobed = model.liveIds.find(id => !cand.contains(id)).get
    fail("ivf top-k, id from an unprobed shard",
      Oracle.checkTopK(right.updated(9, (unprobed, right(9)._2)), cand, 10))

    // get
    val v = model.vec(7L)
    pass("get", Oracle.checkGet(Seq(v.clone()), v))
    fail("get, stale vector", Oracle.checkGet(Seq(v.map(_ + 1e-6)), v))
    pass("get of a deleted id", Oracle.checkAbsent(Nil))
    fail("get, deleted id still returned", Oracle.checkAbsent(Seq(v)))
    fail("get, missing row", Oracle.checkGet(Nil, v))

    // BM25 over a small corpus
    val corpus = new Corpus
    (0 until 200).foreach(i => corpus.add(i.toLong, Gen.text(rnd, 300, 10, 30)))
    val terms = Seq("w1", "w7", "w40")
    val scores = corpus.bm25(terms)
    val top = Oracle.ranked(scores).take(10).map { case (d, s) => (d, Oracle.round4(s)) }
    pass("bm25", Oracle.checkTopK(top, scores, 10, tol = 5.1e-5))
    fail("bm25, swapped neighbour", Oracle.checkTopK(
      top.updated(3, (Oracle.ranked(scores)(15)._1, top(3)._2)), scores, 10, tol = 5.1e-5))
    val deletedDoc = top.head._1
    val live = new Corpus
    corpus.texts.foreach { case (i, t) => if (i != deletedDoc) live.add(i, t) }
    fail("bm25, deleted id still returned", Oracle.checkTopK(top, live.bm25(terms), 10, tol = 5.1e-5))
    fail("bm25, wrong k1", Oracle.checkTopK(top.map { case (d, s) => (d, s * 1.01) }, scores, 10, tol = 5.1e-5))

    // hybrid: RRF over the benchmark's own rankings
    val page = Checks.hybridPage(corpus, model, terms, q, 2, 50, 10)
    pass("hybrid", Oracle.checkPage(page, page))
    fail("hybrid, swapped neighbour", Oracle.checkPage(page.updated(0, page(1)).updated(1, page(0)), page))
    fail("hybrid, flipped arm rank", Oracle.checkPage(page.updated(2, page(2).copy(_2 = page(2)._2 + 1)), page))

    // judge verdicts against the live corpus
    val judged = new Corpus
    val base = (0 until 50).map(i => (i.toLong, Gen.text(rnd, 2000, 30, 40)))
    base.foreach { case (i, t) => judged.add(i, t) }
    val exact = base(3)._2
    val near = Gen.nearCopy(rnd, base(4)._2, 2000)
    val fresh = Gen.text(rnd, 2000, 30, 40)
    val want = Map(100L -> judged.verdict(exact), 101L -> judged.verdict(near), 102L -> judged.verdict(fresh))
    if (want != Map(100L -> "exact", 101L -> "near", 102L -> "keep")) bad += s"judge model gave $want"
    pass("judge", Oracle.checkVerdicts(want, want))
    fail("judge, flipped verdict", Oracle.checkVerdicts(want.updated(101L, "keep"), want))
    judged.remove(3L)
    fail("judge, copy of a deleted document judged exact",
      Oracle.checkVerdicts(want, want.updated(100L, judged.verdict(exact))))

    // inventories
    pass("inventory", Oracle.checkInventory("index", Set(1L, 2L), Set(1L, 2L)))
    fail("inventory, deleted id still present", Oracle.checkInventory("index", Set(1L, 2L, 3L), Set(1L, 2L)))
    fail("inventory, lost id", Oracle.checkInventory("index", Set(1L), Set(1L, 2L)))

    // the embedder model: identical texts embed identically, unit norm
    val e = Embed(base(0)._2)
    if (math.abs(Oracle.dot(e, e) - 1.0) > 1e-12) bad += "embedder model is not unit-norm"
    bad.result()
  }

  private def collect(m: VectorModel, q: Array[Double], nprobe: Int): Map[Long, Double] = {
    val b = Map.newBuilder[Long, Double]
    m.candidates(q, nprobe)((id, s) => b += id -> s)
    b.result()
  }
}
