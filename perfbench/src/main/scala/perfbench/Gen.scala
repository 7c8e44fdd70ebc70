package perfbench

import scala.collection.mutable
import scala.util.Random

/** Seeded input generators. Everything a workload feeds the engine comes
  * from here; the same seed yields the same rows. */
object Gen {
  private val stops = Array("the", "of", "and", "a", "is", "to", "with")

  /** `n` distinct lowercase pseudo-words of 4 to 9 letters. */
  def vocabulary(rng: Random, n: Int): Array[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < n)
      seen += Array.fill(4 + rng.nextInt(6))(('a' + rng.nextInt(26)).toChar).mkString
    seen.toArray
  }

  /** Zipf(s) sampler over ranks 0 until n by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def sample(rng: Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** English-looking sentence tokens: a stop word every fourth token, the
    * last token closed by a period. */
  def sentence(rng: Random, pick: Random => String, len: Int): Seq[String] = {
    val toks = (0 until len).map(i =>
      if (i % 4 == 0) stops(rng.nextInt(stops.length)) else pick(rng))
    toks.init :+ (toks.last + ".")
  }

  def body(rng: Random, pick: Random => String, nTokens: Int): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    while (out.size < nTokens) out ++= sentence(rng, pick, 8 + rng.nextInt(5))
    out.toSeq
  }

  // ---------------------------------------------------------------- corpus

  final case class Doc(doc_id: Long, text: String, source: String)

  /** A corpus in the q292 layout (one `documents` table; ids with
    * `id % 10 == 9` are the held-out eval split) with planted structure.
    * `exactDups` and `contaminated` must be absent from the pipeline output. */
  final case class Corpus(docs: Seq[Doc], exactDups: Set[Long], contaminated: Set[Long])

  val CorpusSources = Seq("web" -> 0.35, "books" -> 0.25, "news" -> 0.2,
    "wiki" -> 0.12, "forums" -> 0.08)

  def corpus(seed: Long, nDocs: Int): Corpus = {
    val rng = new Random(seed)
    val vocab = vocabulary(rng, 30000)
    val pick = (r: Random) => vocab(r.nextInt(vocab.length))
    val cum = CorpusSources.map(_._2).scanLeft(0.0)(_ + _).tail
    def source(r: Random) = {
      val u = r.nextDouble()
      CorpusSources(cum.indexWhere(_ > u) max 0)._1
    }
    // 20-token boilerplate paragraphs: paragraphDedup works on 20-token
    // windows, so a paragraph placed at a document's start is one window
    val paragraphs = Array.fill(6)(body(rng, pick, 40).take(20))
    val text = new Array[Seq[String]](nDocs)
    val src = new Array[String](nDocs)
    // c clean, l low quality, b/n near-duplicate base/variant, o/d exact
    // duplicate original/copy, x contaminated
    val role = new Array[Char](nDocs)
    for (i <- 0 until nDocs) {
      val b = body(rng, pick, 70 + rng.nextInt(60))
      text(i) = if (i % 10 != 9 && rng.nextDouble() < 0.12)
        paragraphs(rng.nextInt(paragraphs.length)) ++ b else b
      src(i) = source(rng)
      role(i) = 'c'
    }
    val corpusIds = (0 until nDocs).filter(_ % 10 != 9).toArray
    val evalIds = (0 until nDocs).filter(_ % 10 == 9).toArray
    def freeCorpusId(): Int = {
      var i = corpusIds(rng.nextInt(corpusIds.length))
      while (role(i) != 'c') i = corpusIds(rng.nextInt(corpusIds.length))
      i
    }
    val share = (f: Double) => math.max(1, (corpusIds.length * f).toInt)
    // low quality: Spanish stop words instead of English, rejected by langId
    val es = Array("el", "la", "de", "y", "es")
    (0 until share(0.04)).foreach { _ =>
      val i = freeCorpusId(); role(i) = 'l'
      text(i) = text(i).zipWithIndex.map { case (t, k) =>
        if (k % 4 == 0) es(rng.nextInt(es.length)) else t }
    }
    // near-duplicate families: 1-2 variants of a base, every 20-token window
    // edited so paragraphDedup keeps them whole and MinHash-LSH must act
    (0 until share(0.02)).foreach { _ =>
      val base = freeCorpusId(); role(base) = 'b'
      (0 until 1 + rng.nextInt(2)).foreach { _ =>
        val v = freeCorpusId(); role(v) = 'n'
        text(v) = text(base).zipWithIndex.map { case (t, k) =>
          if (k % 20 == 7 || rng.nextDouble() < 0.03) pick(rng) else t }
        src(v) = src(base)
      }
    }
    // exact duplicates of a lower-id clean document
    (0 until share(0.03)).foreach { _ =>
      val a = freeCorpusId(); val b = freeCorpusId()
      val (orig, dup) = if (a < b) (a, b) else (b, a)
      if (orig != dup) {
        role(orig) = 'o'; role(dup) = 'd'
        text(dup) = text(orig); src(dup) = src(orig)
      }
    }
    // contamination: a 9-token span of an eval document inside a corpus doc
    (0 until share(0.015)).foreach { _ =>
      val i = freeCorpusId(); role(i) = 'x'
      val e = text(evalIds(rng.nextInt(evalIds.length)))
      val at = rng.nextInt(e.length - 9)
      val pos = 20 + rng.nextInt(text(i).length - 20)
      text(i) = text(i).take(pos) ++ e.slice(at, at + 9) ++ text(i).drop(pos)
    }
    val ids = (r: Char) => (0 until nDocs).filter(role(_) == r).map(_.toLong).toSet
    Corpus((0 until nDocs).map(i => Doc(i.toLong, text(i).mkString(" "), src(i))),
      ids('d'), ids('x'))
  }

  // ----------------------------------------------------------- feature lane

  final case class Event(key: Long, value: Long)

  /** Base event log: `nEvents` events, each on a key drawn uniformly from
    * `nKeys`, as the user ids of the sf0.1 fixture's `events` table are
    * (1,500 users, 100,000 events, 45 to 99 per user). */
  def events(rng: Random, nKeys: Int, nEvents: Int): Seq[Event] =
    Seq.fill(nEvents)(Event(rng.nextInt(nKeys).toLong, rng.nextInt(1000000).toLong))

  // --------------------------------------------------------- profile stream

  final case class StreamRow(doc_id: Long, text: String, embedding: Seq[Float],
      value: Double, source: String)

  val StreamSources = Array("s0", "s1", "s2", "s3", "s4", "s5", "s6", "s7")

  /** Micro-batch `b` of the profile stream. Documents have 10 to 100
    * tokens, uniformly, as those of the sf0.1 fixture. The vocabulary grows by
    * `vocabGrowth` words per batch and the embedding mean drifts slowly, so
    * the stream moves away from the reference taken at batch 0. */
  def streamBatch(seed: Long, b: Int, rows: Int, dim: Int, vocab: Array[String],
      baseVocab: Int, vocabGrowth: Int, nullShare: Double): Seq[StreamRow] = {
    val rng = new Random(seed * 1000003L + b)
    val live = math.min(vocab.length, baseVocab + b * vocabGrowth)
    val zipf = new Zipf(live, 1.05)
    val pick = (r: Random) => vocab(zipf.sample(r))
    val shift = 0.002 * b
    (0 until rows).map { i =>
      StreamRow(b.toLong * rows + i, body(rng, pick, 10 + rng.nextInt(91)).mkString(" "),
        Seq.fill(dim)((rng.nextGaussian() * 0.1 + shift).toFloat),
        rng.nextGaussian() * 60.0 + 20.0 + b,
        if (rng.nextDouble() < nullShare) null
        else StreamSources(math.min(StreamSources.length - 1,
          (math.abs(rng.nextGaussian()) * 2.5).toInt)))
    }
  }
}
