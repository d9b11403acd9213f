package perfbench

import scala.collection.mutable.ArrayBuffer

/** One generated document: `owner` is the tenant every owner-scoped
  * search filters on. */
final case class Doc(id: Long, owner: String, text: String)

/** A document shard plus what was planted in it: ids built to fail the
  * Gopher quality rules, and duplicate id → original id. */
final case class Shard(docs: Vector[Doc], lowQuality: Set[Long],
                       dupOf: Map[Long, Long]) {
  def userBytes: Long = docs.map(Gen.userBytes).sum
}

/** A search request: text plus the owner it is restricted to. */
final case class Query(qid: Long, owner: String, text: String)

/** One CDC change; `doc` is the new version for an upsert and the
  * deleted version for a delete. */
final case class Change(op: String, doc: Doc)

/** Seeded input generator. Everything here is a pure function of the
  * seed, so the same seed gives byte-identical inputs in any JVM; the
  * engine only ever sees the generated rows. Vocabulary and owner
  * sizes are Zipf-skewed, as real tenants and term frequencies are. */
object Gen {
  val StopWords: Array[String] =
    Array("the", "be", "to", "of", "and", "that", "have", "with")

  def userBytes(d: Doc): Long =
    8L + d.owner.getBytes("UTF-8").length + d.text.getBytes("UTF-8").length

  /** Deterministic generator stream (SplittableRandom is specified
    * bit-for-bit, unlike scala.util.Random's seeding across versions). */
  final class Rng(seed: Long) {
    private val r = new java.util.SplittableRandom(seed)
    def int(n: Int): Int = r.nextInt(n)
    def between(lo: Int, hi: Int): Int = lo + r.nextInt(hi - lo + 1)
    def chance(p: Double): Boolean = r.nextDouble() < p
    def unit(): Double = r.nextDouble()
  }

  /** Zipf(s) over ranks 0 until n by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def draw(r: Rng): Int = {
      val u = r.unit()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** The vocabulary is the same for every seed, as a language's is; the
    * seed draws documents from it. Its most frequent words set the
    * direction every hash vector shares, and with it how full the
    * dedup blocking buckets are: a seeded vocabulary made the exact
    * dedup pair join vary sixfold from seed to seed. */
  final class Lexicon(size: Int) {
    val words: Array[String] = {
      val r = new Rng(0x5eedL)
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      val stop = StopWords.toSet
      while (seen.size < size) {
        val w = Array.fill(r.between(3, 9))(('a' + r.int(26)).toChar).mkString
        if (!stop(w)) seen += w
      }
      seen.toArray
    }
    private val zipf = new Zipf(size, 1.0)

    /** `n` words, about a quarter of them stop words, with a sentence
      * end every 8 to 16 words (the chunker is sentence-aware). */
    def text(r: Rng, n: Int): String = {
      val sb = new StringBuilder
      var untilEnd = r.between(8, 16)
      var i = 0
      while (i < n) {
        if (i > 0) sb.append(' ')
        sb.append(if (r.chance(0.25)) StopWords(r.int(StopWords.length))
                  else words(zipf.draw(r)))
        untilEnd -= 1
        if (untilEnd == 0 || i == n - 1) { sb.append('.'); untilEnd = r.between(8, 16) }
        i += 1
      }
      sb.toString
    }
  }

  def owners(n: Int): Vector[String] = Vector.tabulate(n)(i => f"o$i%02d")

  /** A shard of `n` documents with ids from `idBase`. With `plant`,
    * about 3 % are low quality (too short, or one repeated phrase) and
    * about 3 % are exact or near copies of an earlier document in the
    * shard. A near copy keeps the first 300 characters and rewrites
    * the rest, so its summary (the first 256 characters) matches the
    * original's and only the body differs. */
  def shard(seed: Long, n: Int, idBase: Long, lex: Lexicon,
            ownerNames: Vector[String], plant: Boolean): Shard = {
    val r = new Rng(seed)
    val ownerZipf = new Zipf(ownerNames.size, 1.0)
    val docs = ArrayBuffer.empty[Doc]
    val normal = ArrayBuffer.empty[Int]
    val low = Set.newBuilder[Long]
    val dup = Map.newBuilder[Long, Long]
    var i = 0
    while (i < n) {
      val id = idBase + i
      val roll = r.unit()
      if (plant && roll < 0.03) {
        val t =
          if (r.chance(0.5)) lex.text(r, r.between(12, 40))
          else Array.fill(r.between(30, 50))("buy cheap now").mkString(" ")
        docs += Doc(id, ownerNames(ownerZipf.draw(r)), t)
        low += id
      } else if (plant && roll < 0.06 && normal.nonEmpty) {
        val orig = docs(normal(r.int(normal.size)))
        val t =
          if (r.chance(0.5) || orig.text.length <= 300) orig.text
          else orig.text.take(300) + " " + lex.text(r, r.between(30, 60))
        docs += Doc(id, orig.owner, t)
        dup += id -> orig.id
      } else {
        docs += Doc(id, ownerNames(ownerZipf.draw(r)), lex.text(r, r.between(90, 150)))
        normal += docs.size - 1
      }
      i += 1
    }
    Shard(docs.toVector, low.result(), dup.result())
  }

  /** `n` queries over `docs`: the owner is that of a random document
    * (so owners are queried in proportion to their Zipf size), the
    * text a run of 3 to 8 words from it. */
  def queries(seed: Long, n: Int, docs: Vector[Doc]): Vector[Query] = {
    val r = new Rng(seed ^ 0x9e3779b97f4a7c15L)
    Vector.tabulate(n) { q =>
      val d = docs(r.int(docs.size))
      val ws = d.text.split(' ')
      val len = math.min(ws.length, r.between(3, 8))
      val from = r.int(ws.length - len + 1)
      Query(q.toLong, d.owner, ws.slice(from, from + len).mkString(" "))
    }
  }

  /** `epochs` CDC batches over a live corpus. Each batch touches
    * `perEpoch` distinct ids: 20 % inserts of new ids, 20 % deletes and
    * the rest edits of live documents. The counts are the same in every
    * batch, so every epoch calls the same engine functions. Edits and
    * deletes pick by recency rank with a Zipf skew, so recently written
    * ids are hot. The first edit and the first delete of every batch
    * fall on the largest owner, `ownerNames.head`, so a reader of that
    * owner sees an upsert and a delete in every epoch. */
  def cdc(seed: Long, epochs: Int, perEpoch: Int, initial: Vector[Doc],
          lex: Lexicon, ownerNames: Vector[String]): Vector[Vector[Change]] = {
    val r = new Rng(seed ^ 0x243f6a8885a308d3L)
    val ownerZipf = new Zipf(ownerNames.size, 1.0)
    // live ids, least recently written first
    val recency = ArrayBuffer.from(initial.map(_.id))
    val live = scala.collection.mutable.HashMap.from(initial.map(d => d.id -> d))
    var nextId = initial.map(_.id).max + 1
    val hot = new Zipf(recency.size, 1.0)
    val inserts = math.round(perEpoch * 0.2).toInt
    val deletes = math.round(perEpoch * 0.2).toInt
    Vector.fill(epochs) {
      val touched = scala.collection.mutable.HashSet.empty[Long]
      def pickLive(headOwner: Boolean): Long = {
        var id = -1L
        while (id < 0 || touched(id) || (headOwner && live(id).owner != ownerNames.head))
          id = recency(recency.size - 1 - math.min(hot.draw(r), recency.size - 1))
        touched += id
        id
      }
      val edits = Vector.tabulate(perEpoch - inserts - deletes) { j =>
        val id = pickLive(headOwner = j == 0)
        Change("upsert", Doc(id, live(id).owner, lex.text(r, r.between(90, 150))))
      }
      val adds = Vector.fill(inserts) {
        nextId += 1
        Change("upsert", Doc(nextId - 1, ownerNames(ownerZipf.draw(r)),
          lex.text(r, r.between(90, 150))))
      }
      val dels = Vector.tabulate(deletes)(j => Change("delete", live(pickLive(headOwner = j == 0))))
      val batch = edits ++ adds ++ dels
      batch.foreach { c =>
        recency -= c.doc.id
        if (c.op == "upsert") { live(c.doc.id) = c.doc; recency += c.doc.id }
        else live -= c.doc.id
      }
      batch
    }
  }

  /** SHA-256 over every generated input, for the determinism
    * self-check. */
  def digest(docs: Iterable[Doc], qs: Iterable[Query],
             batches: Iterable[Iterable[Change]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def put(s: String): Unit = { md.update(s.getBytes("UTF-8")); md.update(0.toByte) }
    docs.foreach(d => { put(d.id.toString); put(d.owner); put(d.text) })
    qs.foreach(q => { put(q.qid.toString); put(q.owner); put(q.text) })
    batches.foreach(_.foreach(c => { put(c.op); put(c.doc.id.toString); put(c.doc.text) }))
    md.digest().map("%02x".format(_)).mkString
  }
}
