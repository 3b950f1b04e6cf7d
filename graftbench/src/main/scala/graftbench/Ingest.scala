package graftbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.CheckpointInterop

import graft.dedup.{Dedup, ShingleIndex}
import graft.embed.HashEmbedder
import graft.pipeline.CurationPipeline
import graft.text.TermIndex
import graft.vector.{Serving, VectorStore}

/** `ingest_curate`: a curated corpus behind a dedup gate, with rounds
  * of gated appends, upserts, takedowns and read-backs.
  */
object Ingest {
  val SeedDocs = 200
  val DupRate = 0.05
  val ShortRate = 0.03
  val Vocab = 10000
  val NumShards = 4
  val BatchDocs = 25
  val Takedowns = 3
  val NProbe = 2
  val TopK = 10
  val Shortlist = 50
  val MinWords = 10 // CurationPipeline.curate's default quality gate
  val NominalRoundSeconds = 12.0

  final class State(val dir: String, val model: VectorModel, val corpus: Corpus,
                    val store: VectorStore, val terms: TermIndex, val shingles: ShingleIndex) {
    val deleted = mutable.ArrayBuffer.empty[String]
    def storeDir = s"$dir/store"
  }

  /** Survivors the pipeline must keep: at least [[MinWords]] words,
    * and the lowest id of each group of identical texts.
    */
  def expectedKept(docs: Seq[(Long, String)]): Set[Long] =
    docs.filter(_._2.split(" ").length >= MinWords)
      .groupBy(_._2).values.map(_.map(_._1).min).toSet

  def setup(c: Ctx, dir: String): State = {
    val rnd = new Random(c.seed + 1000003L)
    val seedDocs = Gen.seedCorpus(rnd, SeedDocs, Vocab, DupRate, ShortRate)
    val kept = c.meter.setupStep("curate") {
      val (r, _) = CurationPipeline.curateAndIndex(c.spark, Frames.docs(c.spark, seedDocs),
        s"$dir/store", NumShards)
      val rows = r.kept.select("doc_id", "text").collect().map(x => (x.getLong(0), x.getString(1)))
      r.release()
      rows.sortBy(_._1).toSeq
    }
    c.tally.invariant("curated survivors")(Oracle.checkInventory("curated corpus",
      kept.map(_._1).toSet, expectedKept(seedDocs)))
    val keptFrame = Frames.docs(c.spark, kept)
    val terms = new TermIndex(c.spark, s"$dir/terms")
    c.meter.setupStep("term_build")(terms.build(keptFrame))
    val shingles = new ShingleIndex(c.spark, s"$dir/shingles")
    c.meter.setupStep("shingle_build")(shingles.build(keptFrame))
    val model = new VectorModel(Frames.centroids(c.spark, s"$dir/store"))
    val corpus = new Corpus
    kept.foreach { case (i, t) => corpus.add(i, t); model.put(i, Embed(t)) }
    val s = new State(dir, model, corpus, new VectorStore(c.spark, s"$dir/store", NumShards),
      terms, shingles)
    c.meter.setupStep("warmup") {
      val ids = corpus.ids.toIndexedSeq
      c.tally.invariant("warm-up search")(
        freshSearch(s, s.model.vec(ids(new Random(c.seed ^ 0x5eedL).nextInt(ids.size))), None))
    }
    s
  }

  /** A vector search for `q`, read back right after a write. */
  def freshSearch(s: State, q: Array[Double], meter: Option[Meter]): Oracle.Verdict = {
    val df = () => s.store.search(q, TopK, NProbe)
    val rows = meter.fold(df().collect())(_.lazyOp("fresh_search")(df()))
    Oracle.checkTopK(Checks.topK(rows, 0, 2), TopK, Oracle.ScoreTol)(s.model.candidates(q, NProbe))
  }

  /** `get` of a live id returns the vector last upserted; of a deleted
    * one, no row.
    */
  def freshGet(s: State, id: Long, m: Meter): Oracle.Verdict = {
    val rows = m.lazyOp("fresh_get")(s.store.get(id)).toSeq.map(_.getAs[Seq[Double]]("vector").toArray)
    if (s.model.liveIds.contains(id)) Oracle.checkGet(rows, s.model.vec(id)) else Oracle.checkAbsent(rows)
  }

  /** A BM25 search read back right after a write. */
  def freshBm25(s: State, terms: Seq[String], m: Meter): Oracle.Verdict = {
    val rows = m.lazyOp("fresh_bm25")(s.terms.search(terms, TopK))
    Oracle.checkTopK(Checks.topK(rows, 0, 1), s.corpus.bm25(terms), TopK, tol = 5.1e-5)
  }

  /** Two distinct words of a document: its rarest in the live corpus,
    * which ranks the document itself near the top of a keyword query
    * (so a stale index shows), and its most common, so the query has
    * other matches too.
    */
  def keywords(s: State, text: String): Seq[String] = {
    val ws = text.split(" ").distinct.sortBy(w => (s.corpus.df(w), w))
    Seq(ws.head, ws.last).distinct
  }

  /** Documents read back as one hybrid page: each one's keywords plus
    * its embedding.
    */
  def hybridPage(c: Ctx, s: State, qs: Seq[(Long, Seq[String], Array[Double])]): Oracle.Verdict = {
    val frame = Frames.hybridQueries(c.spark, qs)
    val got = Checks.byQuery(c.meter.lazyOp("hybrid_join")(
      Serving.hybridJoin(s.terms, s.store, frame, TopK, Shortlist, NProbe)))(
      r => (r.getLong(2), r.getLong(3).toInt, r.getLong(4).toInt))
    Checks.page(qs) { case (qid, t, q) =>
      Oracle.checkPage(got.getOrElse(qid, Nil),
        Checks.hybridPage(s.corpus, s.model, t, q, NProbe, Shortlist, TopK)).map(r => s"query $qid: $r")
    }
  }

  /** Live ids of the store and both indexes, read from their files. */
  def inventory(c: Ctx, s: State): Oracle.Verdict = {
    val live = s.corpus.ids
    // an index's ids: its per-document table minus its tombstones
    def indexed(index: String, table: String): Set[Long] =
      Frames.ids(c.spark, s"${s.dir}/$index/$table", "doc_id") --
        Frames.ids(c.spark, s"${s.dir}/$index/del", "doc_id")
    Oracle.checkInventory("vector store", Frames.ids(c.spark, s"${s.storeDir}/vectors", "id"), live)
      .orElse(Oracle.checkInventory("term index", indexed("terms", "post"), live))
      .orElse(Oracle.checkInventory("shingle index", indexed("shingles", "fp"), live))
  }

  /** The calls whose time counts as the dedup gate's. */
  val GateOps = Set("judge", "shingle_append", "term_append", "upsert")

  /** One round: a batch through the dedup gate, the kept documents
    * appended to both indexes and upserted, a takedown across all
    * three, and reads right after the writes — of the documents just
    * kept, and of the ones just taken down.
    */
  def round(c: Ctx, s: State, rnd: Random, r: Int): RoundFig = {
    val m = c.meter
    val liveTexts = s.corpus.texts.values.toIndexedSeq
    val batch = Gen.batch(rnd, 1000000L + r * 1000L, BatchDocs, Vocab, liveTexts, s.deleted.toIndexedSeq)
    val nLive = s.corpus.size
    val cap = math.max(Dedup.DefaultDfCapFloor,
      math.ceil((nLive + batch.size) * Dedup.DefaultMaxDfFraction).toLong)
    c.tally.invariant("shingle df under cap") {
      val df = s.corpus.maxShingleDf(batch.map(_._2))
      if (df > cap) Some(s"a shingle reaches df $df over cap $cap") else None
    }
    val want = batch.map { case (id, t) => id -> s.corpus.verdict(t) }.toMap
    val fig = RoundFig.of(m, batch.size, GateOps) {
      val batchFrame = Frames.docs(c.spark, batch)
      var verdicts = Map.empty[Long, String]
      c.tally.op("judge") {
        verdicts = m.eagerOp("judge") {
          val v = s.shingles.judge(batchFrame)
          try v.collect().map(x => x.getLong(0) -> x.getString(1)).toMap
          finally CheckpointInterop.unpersistCheckpoint(v)
        }
        Oracle.checkVerdicts(verdicts, want)
      }
      val kept = batch.filter(b => verdicts.get(b._1).contains("keep"))
      val keptFrame = Frames.docs(c.spark, kept)
      c.tally.op("shingle_append") { m.eagerOp("shingle_append")(s.shingles.append(keptFrame, s"b$r")); None }
      c.tally.op("term_append") { m.eagerOp("term_append")(s.terms.append(keptFrame, s"b$r")); None }
      c.tally.op("upsert") {
        m.eagerOp("upsert")(s.store.upsert(HashEmbedder.embed(keptFrame)
          .select(col("doc_id").as("id"), col("embedding").as("vector"))))
        None
      }
      kept.foreach { case (i, t) => s.corpus.add(i, t); s.model.put(i, Embed(t)) }

      // a takedown: one document just kept and taken live ones
      val live = s.corpus.ids.toIndexedSeq.sorted
      val gone = (kept.take(1).map(_._1) ++ rnd.shuffle(live).take(Takedowns)).distinct.take(Takedowns)
      val goneQs = gone.map { i =>
        val t = s.corpus.texts(i)
        (i, keywords(s, t), s.model.vec(i))
      }
      c.tally.op("vector_delete") { m.eagerOp("vector_delete")(s.store.delete(gone)); None }
      c.tally.op("term_delete") { m.eagerOp("term_delete")(s.terms.delete(gone, s"d$r")); None }
      c.tally.op("shingle_delete") { m.eagerOp("shingle_delete")(s.shingles.delete(gone, s"d$r")); None }
      gone.foreach { i => s.deleted += s.corpus.texts(i); s.corpus.remove(i); s.model.remove(i) }

      // read-backs, each right after the writes: a kept document must be
      // found and a document just taken down must not come back, through
      // every read path (single search, get and keyword search, and the
      // batched hybrid page)
      val fresh = kept.map(_._1).filter(s.corpus.ids.contains)
      val probe = fresh.headOption.getOrElse(live.find(s.corpus.ids.contains).get)
      val (takenId, takenWords, takenVec) = goneQs.last
      c.tally.op("fresh_search")(freshSearch(s, takenVec, Some(m)))
      c.tally.op("fresh_get")(freshGet(s, probe, m))
      c.tally.op("fresh_get")(freshGet(s, takenId, m))
      c.tally.op("fresh_bm25")(freshBm25(s, (keywords(s, s.corpus.texts(probe)).take(1) ++
        takenWords.take(1)).distinct, m))
      c.tally.op("hybrid_join")(hybridPage(c, s,
        fresh.map(i => (i, keywords(s, s.corpus.texts(i)), s.model.vec(i))) ++ goneQs))
    }
    c.tally.invariant(s"round $r inventory")(inventory(c, s))
    fig
  }

  /** Closed loop, one client, `rounds` whole rounds. */
  def run(c: Ctx, s: State, rounds: Int): Figures = {
    c.tally.invariant("set-up inventory")(inventory(c, s))
    val rnd = new Random(c.seed * 7919L + 3)
    val figs = (0 until rounds).map(r => round(c, s, rnd, r))
    Figures(figs, Frames.bytesUnder(s"${s.storeDir}/vectors"), s.model.size)
  }
}
