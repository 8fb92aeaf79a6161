package perfbench

import java.util.Random

import scala.collection.mutable

/** Seeded input generator. Every workload's inputs are a pure function
  * of (seed, sizes); each generator also returns a 64-bit FNV-1a
  * fingerprint of everything it produced, which the benchmark checks by
  * generating twice. */
object Inputs {

  final class Fingerprint {
    private var h = 0xcbf29ce484222325L
    def add(x: Long): Unit = {
      var i = 0
      while (i < 8) {
        h ^= (x >>> (8 * i)) & 0xff
        h *= 0x100000001b3L
        i += 1
      }
    }
    def add(f: Float): Unit = add(java.lang.Float.floatToIntBits(f).toLong)
    def add(s: String): Unit = { add(s.length.toLong); s.foreach(c => add(c.toLong)) }
    def add(v: Array[Float]): Unit = { add(v.length.toLong); v.foreach(add) }
    def value: Long = h
  }

  /** Index sampler with P(i) proportional to 1 / (i + 1)^s. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def draw(rng: Random): Int = {
      val u = rng.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** Pseudo-word vocabulary: distinct lowercase tokens of 3 to 9 letters. */
  def vocabulary(rng: Random, size: Int): IndexedSeq[String] = {
    val seen = mutable.LinkedHashSet[String]()
    while (seen.size < size)
      seen += Seq.fill(3 + rng.nextInt(7))(('a' + rng.nextInt(26)).toChar).mkString
    seen.toIndexedSeq
  }

  /** Zipf-weighted mixture of Gaussian clusters on the unit sphere, as in
    * tools/make_clustered.py (48 clusters there): random unit means,
    * per-cluster sigma in [0.05, 0.12], cluster weights 1 / rank^1.2. */
  final class Clusters(rng: Random, k: Int, dim: Int) {
    private val means = Array.fill(k)(unit(Array.fill(dim)(rng.nextGaussian().toFloat)))
    private val sigma = Array.fill(k)(0.05 + 0.07 * rng.nextDouble())
    private val weights = new Zipf(k, 1.2)
    def draw(rng: Random): (Array[Float], Int) = {
      val c = weights.draw(rng)
      val v = Array.tabulate(dim)(j => (means(c)(j) + rng.nextGaussian() * sigma(c)).toFloat)
      (unit(v), c)
    }
  }

  def unit(v: Array[Float]): Array[Float] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum)
    v.map(x => (x / n).toFloat)
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    d / math.sqrt(na * nb)
  }

  final case class Doc(id: Long, text: String)

  private def words(rng: Random, vocab: IndexedSeq[String], zipf: Zipf, n: Int): Seq[String] =
    Seq.fill(n)(vocab(zipf.draw(rng)))

  // ---- query_serve ------------------------------------------------------

  final case class Corpus(docs: IndexedSeq[Doc], queries: IndexedSeq[String], fingerprint: Long)

  /** Seed of the query_serve document corpus, the same in every run. */
  val corpusSeed = 0L

  /** A document corpus plus a /query text stream: each query is either a
    * window of 6 to 12 consecutive words of a corpus document or a bag of
    * 4 to 10 vocabulary words. The corpus comes from [[corpusSeed]] and
    * only the text stream from `seed`: an NSW serve's cost follows the
    * graph the corpus gives, and a run has room for only two or three
    * NSW serves, so a corpus per seed would swing the serve latencies
    * with the draw of the corpus rather than with the program. */
  def corpus(seed: Long, nDocs: Int, nQueries: Int): Corpus = {
    val rng = new Random(corpusSeed * 1000003L + 11)
    val vocab = vocabulary(rng, 3000)
    val zipf = new Zipf(vocab.size, 1.05)
    val docs = (0 until nDocs).map { i =>
      Doc(i.toLong, words(rng, vocab, zipf, 40 + rng.nextInt(60)).mkString(" "))
    }
    val qrng = new Random(seed * 1000003L + 13)
    val queries = (0 until nQueries).map { _ =>
      if (qrng.nextBoolean()) {
        val w = docs(qrng.nextInt(nDocs)).text.split(" ")
        val len = math.min(w.length, 6 + qrng.nextInt(7))
        val from = qrng.nextInt(w.length - len + 1)
        w.slice(from, from + len).mkString(" ")
      } else words(qrng, vocab, zipf, 4 + qrng.nextInt(7)).mkString(" ")
    }
    val fp = new Fingerprint
    docs.foreach { d => fp.add(d.id); fp.add(d.text) }
    queries.foreach(fp.add)
    Corpus(docs, queries, fp.value)
  }

  /** `n` documents of 30 to 80 Zipf words, about 6% of them planted exact
    * copies and 6% near copies (two words replaced) of earlier documents;
    * a copy always has a higher id than its source. Returns the documents
    * and the ids of the exact copies. */
  def documents(rng: Random, vocab: IndexedSeq[String], zipf: Zipf, firstId: Long,
      n: Int): (IndexedSeq[Doc], Seq[Long]) = {
    val docs = mutable.ArrayBuffer[Doc]()
    val exact = mutable.ArrayBuffer[Long]()
    while (docs.size < n) {
      val id = firstId + docs.size
      val r = rng.nextDouble()
      if (docs.size > 4 && r < 0.06) {
        docs += Doc(id, docs(rng.nextInt(docs.size)).text)
        exact += id
      } else if (docs.size > 4 && r < 0.12) {
        val w = docs(rng.nextInt(docs.size)).text.split(" ")
        (0 until 2).foreach(_ => w(rng.nextInt(w.length)) = vocab(zipf.draw(rng)))
        docs += Doc(id, w.mkString(" "))
      } else docs += Doc(id, words(rng, vocab, zipf, 30 + rng.nextInt(50)).mkString(" "))
    }
    (docs.toIndexedSeq, exact.toSeq)
  }

  // ---- maintain_mixed ---------------------------------------------------

  final case class Batch(id: Long, upserts: Seq[(Long, Array[Float])], deletes: Seq[Long],
      docs: IndexedSeq[Doc], exactDupIds: Seq[Long])

  final case class Maintenance(base: IndexedSeq[(Long, Array[Float])],
      batches: IndexedSeq[Batch], queries: IndexedSeq[Array[Float]],
      liveAfter: IndexedSeq[Map[Long, Array[Float]]], fingerprint: Long)

  /** A base corpus of `n0` clustered vectors and a stream of batches, each
    * with `inserts` new ids, `updates` re-embedded live ids and `deletes`
    * removed live ids (updates and deletes disjoint), plus `nDocs` incoming
    * documents to clean (see [[documents]]). `liveAfter(b)` is the
    * expected live set after batch b (index 0 = the base). */
  def maintenance(seed: Long, n0: Int, nBatches: Int, inserts: Int, updates: Int,
      deletes: Int, nDocs: Int, nQueries: Int): Maintenance = {
    val rng = new Random(seed * 31337L + 5)
    val clusters = new Clusters(rng, 48, 64)
    val vocab = vocabulary(rng, 2000)
    val zipf = new Zipf(vocab.size, 1.05)
    val base = (0 until n0).map(i => (i.toLong, clusters.draw(rng)._1))
    var live = base.toMap
    var nextId = n0.toLong
    val lives = mutable.ArrayBuffer(live)
    val batches = (1 to nBatches).map { b =>
      val ids = live.keys.toIndexedSeq.sorted
      val picked = mutable.LinkedHashSet[Long]()
      while (picked.size < updates + deletes) picked += ids(rng.nextInt(ids.size))
      val (upd, del) = picked.toSeq.splitAt(updates)
      val ups = upd.map(id => (id, clusters.draw(rng)._1)) ++
        (0 until inserts).map { _ => nextId += 1; (nextId - 1, clusters.draw(rng)._1) }
      live = live -- del ++ ups
      lives += live
      val (docs, dups) = documents(rng, vocab, zipf, b * 100000L, nDocs)
      Batch(b.toLong, ups, del, docs, dups)
    }
    val queries = IndexedSeq.fill(nQueries)(clusters.draw(rng)._1)
    val fp = new Fingerprint
    base.foreach { case (i, v) => fp.add(i); fp.add(v) }
    batches.foreach { b =>
      fp.add(b.id); b.upserts.foreach { case (i, v) => fp.add(i); fp.add(v) }
      b.deletes.foreach(fp.add)
      b.docs.foreach { d => fp.add(d.id); fp.add(d.text) }
    }
    queries.foreach(fp.add)
    Maintenance(base, batches, queries, lives.toIndexedSeq, fp.value)
  }
}
