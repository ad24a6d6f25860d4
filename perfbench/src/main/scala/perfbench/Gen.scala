package perfbench

import scala.collection.mutable
import scala.util.Random

import graft.api.Event

/** Zipf(s) sampler over ranks 0 until n. */
final class Zipf(n: Int, s: Double, rnd: Random) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  def next(): Int = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** Order-independent 64-bit content hash: the wrapping sum of per-item
  * hashes, so any permutation of the same multiset hashes alike.
  */
object ContentHash {
  def of(items: Iterator[String]): Long = items.foldLeft(0L)((acc, s) => acc + item(s))
  def item(s: String): Long = {
    val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x3c074a61)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x1b873593)
    (h1.toLong << 32) ^ (h2.toLong & 0xffffffffL)
  }
  def event(e: Event): Long = item(s"${e.space}|${e.grouping}|${e.ts_us}|${e.event_id}|${e.value}|${e.payload}")
  def hex(h: Long): String = f"$h%016x"
}

/** Seeded input generators. Everything the engine receives is built
  * here from the run's seed; the same seed gives the same inputs.
  */
object Gen {
  val T0Us: Long = 1704067200L * 1000000L // 2024-01-01T00:00:00Z
  val MinuteUs: Long = 60L * 1000000L
  val HourUs: Long = 60L * MinuteUs
  val DayUs: Long = 24L * HourUs
  val Countries: IndexedSeq[String] = (0 until 16).map(i => f"c$i%02d")
  val IndexAttr = "country"

  def payload(country: String, seq: Long): String = s"""{"country":"$country","seq":$seq}"""
  def countryOf(payload: String): String = {
    val i = payload.indexOf("\"country\":\"") + 11
    payload.substring(i, payload.indexOf('"', i))
  }

  /** A store fixture: events plus the grouping → spaces layout requests
    * are drawn from.
    */
  final case class Timeline(events: Array[Event], spaces: IndexedSeq[String],
                            groupings: IndexedSeq[String], homes: Map[String, IndexedSeq[String]],
                            maxTsUs: Long) {
    lazy val hash: Long = ContentHash.of(events.iterator.map(e =>
      s"${e.space}|${e.grouping}|${e.ts_us}|${e.event_id}|${e.value}|${e.payload}"))
  }

  /** `nEvents` events over `nSpaces` spaces. Grouping sizes are Zipf
    * distributed (tens to thousands of events); each grouping lives in
    * one to three spaces, themselves Zipf-popular. Timestamps fall on
    * whole minutes over `spanDays`, so timelines hold ties that only
    * the event_id tie-break orders.
    */
  def timeline(seed: Long, nEvents: Int, nSpaces: Int, spanDays: Int,
               firstEventId: Long = 0L): Timeline = {
    val rnd = new Random(seed)
    val spaces = (0 until nSpaces).map(i => f"s$i%02d")
    val nGroupings = math.max(1, nEvents / 100)
    val weights = Array.tabulate(nGroupings)(i => 1.0 / math.pow(i + 1.0, 0.8))
    val wsum = weights.sum
    val sizes = weights.map(w => math.max(3, math.round(nEvents * w / wsum).toInt))
    val groupings = (0 until nGroupings).map(i => f"g$i%05d")
    val spaceZipf = new Zipf(nSpaces, 0.7, rnd)
    val homes = groupings.map { g =>
      val k = 1 + rnd.nextInt(3)
      g -> Iterator.continually(spaces(spaceZipf.next())).distinct.take(k).toIndexedSeq
    }.toMap
    val minutes = spanDays * 24 * 60
    val buf = mutable.ArrayBuffer.empty[(String, String, Long, Double, String)]
    var seq = 0L
    groupings.zip(sizes).foreach { case (g, n) =>
      val hs = homes(g)
      var i = 0
      while (i < n && buf.size < nEvents) {
        val ts = T0Us + rnd.nextInt(minutes) * MinuteUs
        val country = Countries(rnd.nextInt(Countries.size))
        buf += ((hs(rnd.nextInt(hs.size)), g, ts, math.rint(rnd.nextDouble() * 1e4) / 100, payload(country, seq)))
        seq += 1
        i += 1
      }
    }
    // insertion order is a seeded shuffle; event_id is the insertion position
    val shuffled = rnd.shuffle(buf.toIndexedSeq)
    val events = shuffled.zipWithIndex.map { case ((s, g, ts, v, p), i) =>
      Event(s, g, ts, firstEventId + i, v, p)
    }.toArray
    Timeline(events, spaces, groupings, homes, T0Us + minutes.toLong * MinuteUs)
  }

  /** One ingest batch: most events arrive at the writer's clock, a
    * share arrives late (up to three days behind it).
    */
  def batch(rnd: Random, n: Int, firstId: Long, clockUs: Long, tl: Timeline,
            groupingZipf: Zipf, lateFrac: Double): Array[Event] =
    Array.tabulate(n) { i =>
      val g = tl.groupings(groupingZipf.next())
      val hs = tl.homes(g)
      val late = rnd.nextDouble() < lateFrac
      val ts = if (late) clockUs - (1 + rnd.nextInt(3 * 24 * 60)) * MinuteUs
               else clockUs + rnd.nextInt(60) * MinuteUs
      val id = firstId + i
      Event(hs(rnd.nextInt(hs.size)), g, ts, id, math.rint(rnd.nextDouble() * 1e4) / 100,
        payload(Countries(rnd.nextInt(Countries.size)), id))
    }

  // --- curation corpus -----------------------------------------------------

  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
  final case class Emb(vec_id: Long, embedding: Array[Float], label: Int)

  /** Planted ground truth of a corpus. */
  final case class Corpus(docs: Array[Doc], embs: Array[Emb],
                          exactGroups: Seq[Seq[Long]], nearPairs: Seq[(Long, Long)],
                          pii: Map[Long, (Int, Int, Int)], piiStrings: Map[Long, Seq[String]],
                          embPairs: Seq[(Long, Long)], queries: Array[Emb]) {
    lazy val hash: Long = ContentHash.of(docs.iterator.map(d => s"${d.doc_id}|${d.text}") ++
      embs.iterator.map(e => s"${e.vec_id}|${e.embedding.mkString(",")}"))
    /** Pairs whose texts are planted as similar (exact copies or edits). */
    lazy val similarTextPairs: Set[(Long, Long)] =
      exactGroups.flatMap(g => for (a <- g; b <- g if a < b) yield (a, b)).toSet ++ nearPairs
  }

  private val StopWords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "y", "en", "que", "es"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "mit"),
    "fr" -> Seq("le", "les", "et", "est", "une", "pour", "dans"),
    "zh" -> Seq("shi", "le", "zai", "you", "wo", "ta"))
  private val Langs = Seq("en", "en", "en", "es", "de", "fr", "zh")
  private val Syllables = Seq("ka", "lo", "mi", "ne", "ru", "ta", "vo", "shi", "pen", "dar",
    "qua", "zel", "mor", "fin", "gal", "hep", "jun", "bex", "cor", "wyn")

  def corpus(seed: Long, nDocs: Int, nEmbs: Int, dims: Int, nQueries: Int): Corpus = {
    val rnd = new Random(seed)
    val vocab = Array.fill(20000)(Iterator.fill(2 + rnd.nextInt(3))(Syllables(rnd.nextInt(Syllables.size))).mkString)
    def words(lang: String, n: Int): Array[String] = {
      val stop = StopWords(lang)
      Array.fill(n)(if (rnd.nextDouble() < 0.25) stop(rnd.nextInt(stop.size)) else vocab(rnd.nextInt(vocab.length)))
    }
    val texts = mutable.ArrayBuffer.empty[String]
    val langs = mutable.ArrayBuffer.empty[String]
    val pii = mutable.Map.empty[Long, (Int, Int, Int)]
    val piiStrings = mutable.Map.empty[Long, Seq[String]]
    val exactGroups = mutable.ArrayBuffer.empty[Seq[Long]]
    val nearPairs = mutable.ArrayBuffer.empty[(Long, Long)]
    // documents already part of a planted group (or carrying PII) are
    // never copied again, so every planted relation stays pairwise
    val touched = mutable.HashSet.empty[Int]
    def original(id: Int): Option[Int] =
      Iterator.continually(rnd.nextInt(id)).take(20).find(o => !touched(o))
    while (texts.size < nDocs) {
      val id = texts.size
      val r = rnd.nextDouble()
      val o = if (id > 10 && r < 0.10) original(id) else None
      if (o.isDefined && r < 0.05) {
        // exact copies of an earlier document
        val copies = math.min(1 + rnd.nextInt(2), nDocs - id)
        val ids = (0 until copies).map(i => (id + i).toLong)
        ids.foreach { _ => texts += texts(o.get); langs += langs(o.get) }
        exactGroups += (o.get.toLong +: ids)
        touched += o.get
        ids.foreach(i => touched += i.toInt)
      } else if (o.isDefined) {
        // a one-token edit of an earlier document
        val toks = texts(o.get).split(' ')
        toks(rnd.nextInt(toks.length)) = vocab(rnd.nextInt(vocab.length)) + "x"
        texts += toks.mkString(" "); langs += langs(o.get)
        nearPairs += ((o.get.toLong, id.toLong))
        touched += o.get
        touched += id
      } else {
        val lang = Langs(rnd.nextInt(Langs.size))
        val toks = words(lang, 60 + rnd.nextInt(60))
        if (rnd.nextDouble() < 0.15) {
          // PII strings at distinct token positions
          val kinds = Seq.fill(1 + rnd.nextInt(3))(rnd.nextInt(3))
          val planted = kinds.map {
            case 0 => s"${vocab(rnd.nextInt(vocab.length))}${rnd.nextInt(100)}@mail${rnd.nextInt(9)}.example.org"
            case 1 => f"${200 + rnd.nextInt(700)}%03d-${rnd.nextInt(1000)}%03d-${rnd.nextInt(10000)}%04d"
            case _ => s"10.${rnd.nextInt(256)}.${rnd.nextInt(256)}.${rnd.nextInt(256)}"
          }
          rnd.shuffle(toks.indices.toIndexedSeq).take(planted.size).zip(planted)
            .foreach { case (i, s) => toks(i) = s }
          pii(id.toLong) = (kinds.count(_ == 0), kinds.count(_ == 1), kinds.count(_ == 2))
          piiStrings(id.toLong) = planted
          touched += id
        }
        texts += toks.mkString(" "); langs += lang
      }
    }
    val docs = texts.zipWithIndex.map { case (t, i) =>
      Doc(i.toLong, t, langs(i), s"src${i % 7}", t.codePointCount(0, t.length).toLong)
    }.toArray

    // embeddings: random unit vectors; planted pairs at cosine >= 0.95
    def unit(v: Array[Double]): Array[Double] = { val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
    val vecs = mutable.ArrayBuffer.empty[Array[Double]]
    val embPairs = mutable.ArrayBuffer.empty[(Long, Long)]
    while (vecs.size < nEmbs) {
      if (vecs.size > 0 && vecs.size + 1 < nEmbs && rnd.nextDouble() < 0.05) {
        val o = vecs.size - 1 - rnd.nextInt(math.min(vecs.size, 50))
        if (!embPairs.exists(p => p._1 == o || p._2 == o)) {
          var partner: Array[Double] = null
          while (partner == null) {
            val cand = unit(vecs(o).map(x => x + rnd.nextGaussian() * 0.025))
            if (cand.zip(vecs(o)).map { case (a, b) => a * b }.sum >= 0.955) partner = cand
          }
          embPairs += ((o.toLong, vecs.size.toLong))
          vecs += partner
        }
      } else vecs += unit(Array.fill(dims)(rnd.nextGaussian()))
    }
    val embs = vecs.zipWithIndex.map { case (v, i) => Emb(i.toLong, v.map(_.toFloat), i % 10) }.toArray
    // queries: every planted partner's original, then random vectors
    val planted = embPairs.map(_._1.toInt).take(nQueries / 5)
    val rest = rnd.shuffle((0 until nEmbs).filterNot(planted.contains).toIndexedSeq).take(nQueries - planted.size)
    val queries = (planted ++ rest).map(embs(_)).toArray
    Corpus(docs, embs, exactGroups.toSeq, nearPairs.toSeq, pii.toMap, piiStrings.toMap, embPairs.toSeq, queries)
  }
}
