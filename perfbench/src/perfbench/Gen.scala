package perfbench

import java.sql.Timestamp

import scala.collection.mutable
import scala.util.Random

/** Seeded input generators. Everything the engine sees is derived from
  * the run seed; the expected outputs the checks compare against are
  * derived from the same draws, independently of the engine. */
object Gen {

  /** First tick of every generated series: 22:00 UTC, so the 48 ticks
    * (four hours at 300 s) of the dashboard store span two calendar days
    * and each history bound shape selects a different row count. */
  val T0: Long = java.time.Instant.parse("2024-03-01T22:00:00Z").toEpochMilli
  val TickMs: Long = 300L * 1000L
  val DayA = "2024-03-01"
  val DayB = "2024-03-02"

  /** One shaped (valid) quote: what the store and the snapshot hold. */
  final case class Quote(symbol: String, name: String, price: Double,
                         cap: Option[Double], volume: Double)

  /** One generated poll: the raw JSON payload plus what the shape step
    * must keep (`valid`, keyed by lower-cased symbol) and how many
    * elements it must drop. */
  final case class Tick(index: Int, ms: Long, json: String,
                        valid: Map[String, Quote], planted: Int) {
    def ts: Timestamp = new Timestamp(ms)
  }

  /** The reference's 100-coin universe as a seeded random walk. Each
    * tick replaces 0-3 elements with rows the shape step must drop
    * (missing symbol, null name, non-numeric price, non-object element)
    * and leaves some `market_cap` values null (four coins always, others
    * at 2 % per tick). */
  final class Market(seed: Long, val coins: Int = 100) {
    private val rnd = new Random(seed * 7919L + 17L)
    private val symbols: IndexedSeq[String] = {
      val seen = mutable.LinkedHashSet.empty[String]
      while (seen.size < coins) {
        val len = 3 + rnd.nextInt(2)
        seen += Seq.fill(len)(('A' + rnd.nextInt(26)).toChar).mkString
      }
      seen.toIndexedSeq
    }
    private val supply = Array.fill(coins)(1e6 * math.exp(rnd.nextGaussian() * 2.0 + 4.0))
    private val price = Array.fill(coins)(math.exp(rnd.nextGaussian() * 2.5 + 1.0))
    private val noCap = rnd.shuffle(symbols.indices.toList).take(4).toSet
    private var next = 0

    def tick(): Tick = {
      val i = next
      next += 1
      val ms = T0 + i * TickMs
      val bad = rnd.shuffle(symbols.indices.toList).take(rnd.nextInt(4))
        .map(_ -> rnd.nextInt(4)).toMap
      val valid = Map.newBuilder[String, Quote]
      val elems = symbols.indices.map { c =>
        price(c) = price(c) * math.exp(rnd.nextGaussian() * 0.004)
        val sym = symbols(c)
        val name = s"Coin $sym"
        val cap =
          if (noCap(c) || rnd.nextDouble() < 0.02) None
          else Some(price(c) * supply(c))
        val vol = cap.getOrElse(price(c) * 1e6) * (0.01 + 0.05 * rnd.nextDouble())
        def num(o: Option[Double]) = o.map(java.lang.Double.toString).getOrElse("null")
        val p = java.lang.Double.toString(price(c))
        val v = java.lang.Double.toString(vol)
        bad.get(c) match {
          case Some(0) => s"""{"name":"$name","current_price":$p,"market_cap":${num(cap)},"total_volume":$v}"""
          case Some(1) => s"""{"symbol":"$sym","name":null,"current_price":$p,"market_cap":${num(cap)},"total_volume":$v}"""
          case Some(2) => s"""{"symbol":"$sym","name":"$name","current_price":"n/a","market_cap":${num(cap)},"total_volume":$v}"""
          case Some(_) => "42"
          case None =>
            valid += sym.toLowerCase -> Quote(sym.toLowerCase, name, price(c), cap, vol)
            s"""{"symbol":"$sym","name":"$name","current_price":$p,"market_cap":${num(cap)},"total_volume":$v,"image":"https://img/$sym.png"}"""
        }
      }
      Tick(i, ms, elems.mkString("[", ",", "]"), valid.result(), bad.size)
    }
  }

  /** Latest valid quote per symbol after a sequence of ticks — the
    * snapshot the engine must emit. */
  final class Latest {
    val bySymbol = mutable.Map.empty[String, (Quote, Long)]
    def add(t: Tick): Unit = t.valid.foreach { case (s, q) => bySymbol(s) = (q, t.ms) }
  }

  /** Dashboard order: market cap descending (nulls last), then symbol. */
  val dashboardOrder: Ordering[Quote] = Ordering.by[Quote, (Int, Double, String)] { q =>
    (if (q.cap.isEmpty) 1 else 0, -q.cap.getOrElse(0.0), q.symbol)
  }

  // ---- curation corpus ----------------------------------------------

  val Vocab: IndexedSeq[String] = ("a the of and is batch part spark line column order " +
    "small sort fast value scan hash slow group agg filter query big key window row " +
    "table stream merge data join vector customer time price coin market chart").split(" ").toIndexedSeq
  val Langs = IndexedSeq("en", "de", "es", "fr", "zh")

  final case class Doc(docId: Long, text: String, lang: String, source: String, nChars: Long)
  final case class Emb(vecId: Long, embedding: Array[Float], label: Int)

  /** Documents and embeddings with planted near-duplicates: a tenth of
    * the documents copy an earlier one with one word replaced (word
    * 3-shingle Jaccard >= 0.85 at 40-70 words), a tenth of the vectors
    * are an earlier same-label vector plus 2 % noise (cosine > 0.99).
    * Ids are a seeded permutation and rows are shuffled, so neither id
    * order nor file order carries the duplicate structure. */
  final class Corpus(seed: Long, val nDocs: Int, val nEmb: Int, val dim: Int = 64) {
    private val rnd = new Random(seed * 104729L + 3L)
    val docs: IndexedSeq[Doc] = {
      val texts = mutable.ArrayBuffer.empty[IndexedSeq[String]]
      for (_ <- 0 until nDocs) {
        if (texts.nonEmpty && rnd.nextDouble() < 0.1) {
          val src = texts(rnd.nextInt(texts.size))
          val at = rnd.nextInt(src.size)
          texts += src.updated(at, Vocab(rnd.nextInt(Vocab.size)))
        } else texts += IndexedSeq.fill(40 + rnd.nextInt(31))(Vocab(rnd.nextInt(Vocab.size)))
      }
      val ids = rnd.shuffle((0L until nDocs.toLong).toVector)
      rnd.shuffle(texts.indices.toVector.map { i =>
        val t = texts(i).mkString(" ")
        Doc(ids(i), t, Langs(rnd.nextInt(Langs.size)), s"src${rnd.nextInt(20)}", t.length.toLong)
      })
    }
    val embeddings: IndexedSeq[Emb] = {
      val rows = mutable.ArrayBuffer.empty[(Array[Float], Int)]
      for (_ <- 0 until nEmb) {
        if (rows.nonEmpty && rnd.nextDouble() < 0.1) {
          val (v, l) = rows(rnd.nextInt(rows.size))
          rows += (v.map(x => (x + 0.02 * rnd.nextGaussian()).toFloat) -> l)
        } else rows += (Array.fill(dim)(rnd.nextGaussian().toFloat) -> rnd.nextInt(10))
      }
      val ids = rnd.shuffle((0L until nEmb.toLong).toVector)
      rnd.shuffle(rows.indices.toVector.map(i => Emb(ids(i), rows(i)._1, rows(i)._2)))
    }
  }
}
