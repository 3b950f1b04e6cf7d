package graftbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}

import graft.text.TermIndex
import graft.vector.VectorStore

/** `point_serve`: single requests against a prebuilt store of clustered
  * vectors and a term index over documents attached to its first ids.
  */
object Point {
  val NumVectors = 4000
  val NumShards = 16
  val Clusters = 32
  val Spread = 0.5
  val NumDocs = 1000
  val Vocab = 10000
  val NProbe = 2
  val TopK = 10
  val WarmRounds = 2
  val NominalRoundSeconds = 4.0
  /** One round: ten requests in seeded order. */
  val Round: Seq[String] = Seq.fill(6)("search") ++ Seq.fill(2)("get") ++ Seq.fill(2)("bm25")

  /** Runs one lazy call: through the meter when measured, bare in warm-up. */
  type Exec = (String, () => DataFrame) => Array[Row]

  final class State(val vectors: Gen.Vectors, val model: VectorModel, val corpus: Corpus,
                    val store: VectorStore, val terms: TermIndex, val storeDir: String)

  def setup(c: Ctx, dir: String): State = {
    val rnd = new Random(c.seed)
    val vectors = Gen.vectors(rnd, NumVectors, Clusters, Spread)
    val docs = (0 until NumDocs).map(i => (i.toLong, Gen.text(rnd, Vocab, 20, 60)))
    val storeDir = s"$dir/store"
    val store = new VectorStore(c.spark, storeDir, NumShards)
    c.meter.setupStep("store_build") {
      store.build(Frames.vectors(c.spark, vectors.rows.indices.map(i => (i.toLong, vectors.rows(i))),
        "id", "vector"), iters = 3)
    }
    val terms = new TermIndex(c.spark, s"$dir/terms")
    c.meter.setupStep("term_build")(terms.build(Frames.docs(c.spark, docs)))
    val model = new VectorModel(Frames.centroids(c.spark, storeDir))
    vectors.rows.indices.foreach(i => model.put(i.toLong, vectors.rows(i)))
    val corpus = new Corpus
    docs.foreach { case (i, t) => corpus.add(i, t) }
    val s = new State(vectors, model, corpus, store, terms, storeDir)
    // unmeasured (but checked) rounds, so measuring starts on a warmer JVM
    c.meter.setupStep("warmup") {
      val w = new Random(c.seed ^ 0x5eedL)
      val bare: Exec = (_, df) => df().collect()
      (0 until WarmRounds).foreach(_ => round(s, w, bare, (op, v) => c.tally.invariant(s"warm-up $op")(v)))
    }
    s
  }

  def search(s: State, rnd: Random, exec: Exec): Oracle.Verdict = {
    val q = Gen.query(rnd, s.vectors, Spread)
    val rows = exec("search", () => s.store.search(q, TopK, NProbe))
    Oracle.checkTopK(Checks.topK(rows, 0, 2), TopK, Oracle.ScoreTol)(s.model.candidates(q, NProbe))
  }

  def get(s: State, rnd: Random, exec: Exec): Oracle.Verdict = {
    val id = rnd.nextInt(NumVectors).toLong
    val rows = exec("get", () => s.store.get(id))
    Oracle.checkGet(rows.toSeq.map(_.getAs[Seq[Double]]("vector").toArray), s.model.vec(id))
  }

  def bm25(s: State, rnd: Random, exec: Exec): Oracle.Verdict = {
    val t = Gen.queryTerms(rnd)
    val rows = exec("bm25", () => s.terms.search(t, TopK))
    Oracle.checkTopK(Checks.topK(rows, 0, 1), s.corpus.bm25(t), TopK, tol = 5.1e-5)
  }

  private def round(s: State, rnd: Random, exec: Exec, record: (String, => Oracle.Verdict) => Unit): Unit =
    rnd.shuffle(Round).foreach {
      case "search" => record("search", search(s, rnd, exec))
      case "get" => record("get", get(s, rnd, exec))
      case op => record(op, bm25(s, rnd, exec))
    }

  /** Closed loop, one client, `rounds` whole rounds. */
  def run(c: Ctx, s: State, rounds: Int): Figures = {
    val rnd = new Random(c.seed * 7919L + 1)
    val exec: Exec = (op, df) => c.meter.lazyOp(op)(df())
    val figs = (0 until rounds).map { _ =>
      RoundFig.of(c.meter, Round.count(_ == "search"), Set("search")) {
        round(s, rnd, exec, (op, v) => c.tally.op(op)(v))
      }
    }
    Figures(figs, Frames.bytesUnder(s"${s.storeDir}/vectors"), s.model.size)
  }
}
