package graft.perfbench

import java.sql.Timestamp
import scala.collection.mutable
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.PageRow
import graft.analysis.Tokenizer
import graft.corpus.Corpus
import graft.index.DocIds

/** Seeded splitmix stream: the only source of randomness in a run. */
final class Rng(seed: Long) {
  private var n = 0L
  def long(): Long = { n += 1; Corpus.mix(seed * 0x2545F4914F6CDD1DL + n) }
  def below(m: Int): Int = java.lang.Math.floorMod(long(), m.toLong).toInt
  def unit(): Double = (long() >>> 11).toDouble / (1L << 53).toDouble
}

/** One page as the generator sees it: the url of corpus row `urlIdx`
  * carrying the html/text of corpus row `contentIdx`, crawled at `tsMs`.
  * A re-crawl keeps the url and takes another row's content, so postings
  * change while extract(html) == text still holds byte for byte.
  */
final case class Doc(urlIdx: Long, contentIdx: Long, tsMs: Long)

object Doc {
  def row(d: Doc): PageRow = PageRow(Corpus.url(d.urlIdx),
    new Timestamp(d.tsMs), Corpus.html(d.contentIdx),
    Corpus.text(d.contentIdx), Corpus.lang(d.contentIdx))

  def pages(spark: SparkSession, docs: Seq[Doc], parts: Int): Dataset[PageRow] = {
    import spark.implicits._
    spark.createDataset(spark.sparkContext.parallelize(docs, parts)).map(row)
  }

  /** html + text bytes of one page: the input size the ratios divide by. */
  def inputBytes(contentIdx: Long): Long =
    Corpus.html(contentIdx).length.toLong +
      Corpus.text(contentIdx).getBytes("UTF-8").length
}

/** The generator's model of the live url set: what the index must hold. */
final class LiveSet {
  private val urls = mutable.ArrayBuffer.empty[Long]
  private val pos = mutable.HashMap.empty[Long, Int]
  private val docs = mutable.HashMap.empty[Long, Doc]
  private val byDocId = mutable.HashMap.empty[Long, Long]

  def size: Int = urls.size
  def all: Seq[Doc] = urls.iterator.map(docs).toSeq

  /** Content row of the live doc with this docId, if any. */
  def contentOf(docId: Long): Option[Long] = byDocId.get(docId)

  def put(d: Doc): Unit = {
    if (!pos.contains(d.urlIdx)) { pos(d.urlIdx) = urls.size; urls += d.urlIdx }
    docs(d.urlIdx) = d
    byDocId(Gen.docId(d)) = d.contentIdx
  }

  def remove(d: Doc): Unit = pos.remove(d.urlIdx).foreach { i =>
    val last = urls.remove(urls.size - 1)
    if (last != d.urlIdx) { urls(i) = last; pos(last) = i }
    docs.remove(d.urlIdx)
    byDocId.remove(Gen.docId(d))
  }

  /** `k` distinct live urls, seeded. */
  def pick(rng: Rng, k: Int): Seq[Doc] = {
    val chosen = mutable.LinkedHashSet.empty[Long]
    while (chosen.size < math.min(k, size)) chosen += urls(rng.below(size))
    chosen.toSeq.map(docs)
  }
}

/** BM25 query classes; each leans on a different read stage. */
object QClass extends Enumeration {
  val Cached, Numeric, Stopword, Absent = Value
  def tag(c: Value): String = c match {
    case Cached => "a"; case Numeric => "b"; case Stopword => "c"
    case Absent => "d"
  }
}

final case class BmQuery(cls: QClass.Value, text: String)

/** Everything a run draws from its seed: corpus offset, churn schedule and
  * query stream. Term distributions do not depend on the seed; urls,
  * numeric title tokens and which docs are touched do.
  */
final class Gen(val workload: String, val seed: Long) {
  private val rng = new Rng(Corpus.mix(seed ^ workload.hashCode.toLong))

  /** First corpus row of the base corpus: a seed-dependent million. */
  val offset: Long = (1L + java.lang.Math.floorMod(Corpus.mix(seed), 900L)) *
    1000000L
  /** Content rows for re-crawled pages come from a disjoint range. */
  private var nextContent: Long = offset + 500000L
  def freshContent(): Long = { nextContent += 1; nextContent }

  private val contentCdf: Array[Double] = {
    val w = Array.tabulate(Corpus.numContentWords)(r => 1.0 / math.pow(r + 1.0, 1.2))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  /** Zipf draws stratified by rank: each block of eight draws takes one
    * uniform from each eighth of the CDF, in seeded order, so every seed's
    * stream holds frequent and infrequent terms in the same proportions.
    */
  private var strata = Array.empty[Int]
  private var nextStratum = 0
  private def zipfContent(): String = {
    if (nextStratum == strata.length) {
      strata = new scala.util.Random(rng.long()).shuffle((0 until 8).toVector)
        .toArray
      nextStratum = 0
    }
    val u = (strata(nextStratum) + rng.unit()) / strata.length
    nextStratum += 1
    val i = java.util.Arrays.binarySearch(contentCdf, u)
    Corpus.contentWord(math.min(if (i >= 0) i else -i - 1, contentCdf.length - 1))
  }

  private var cachedTerms = 0

  /** Class a: `nTerms` content or rare terms (every tenth a rare marker),
    * Zipf-drawn, so repeats are common and the ~4.1k-term vocabulary fits
    * the reader's term cache.
    */
  def cachedQuery(nTerms: Int): BmQuery = BmQuery(QClass.Cached,
    Seq.fill(nTerms) {
      cachedTerms += 1
      if (cachedTerms % 10 == 0)
        Corpus.rareMarker(rng.below(Corpus.numRareMarkers))
      else zipfContent()
    }.mkString(" "))

  /** Class b: the numeric title token of one live doc (df 1), uniform over
    * the corpus, so nearly every probe misses the term cache.
    */
  def numericQuery(live: LiveSet): BmQuery =
    BmQuery(QClass.Numeric, live.pick(rng, 1).head.contentIdx.toString)

  /** Class c: every stopword, "document" and 1,000 of the 1,020 most
    * frequent content words (20 left out, seeded), a "more like this"
    * query of fixed length: at 5,000 docs its blocks outnumber
    * `IndexReader.LocalEvalMaxBlocks`, so it takes the per-bucket
    * distributed path. Every run checks that it does.
    */
  def stopwordQuery(): BmQuery = {
    val out = mutable.HashSet.empty[Int]
    while (out.size < 20) out += rng.below(1020)
    BmQuery(QClass.Stopword, (Corpus.stopwords.toSeq ++ Seq("document") ++
      (0 until 1020).filterNot(out).map(Corpus.contentWord)).mkString(" "))
  }

  /** Class d: terms absent from the vocabulary (the empty fast path). */
  def absentQuery(): BmQuery = BmQuery(QClass.Absent,
    Seq.fill(1 + rng.below(2))("zq" +
      Seq.fill(6)(('a' + rng.below(26)).toChar).mkString).mkString(" "))

  /** Phrase kind "ngram": adjacent tokens (2 or 3) from the text of a live
    * doc.
    */
  def ngramQuery(live: LiveSet): String = {
    val toks = Tokenizer.tokenize(Corpus.text(live.pick(rng, 1).head.contentIdx))
    val n = 2 + rng.below(2)
    val at = rng.below(toks.length - n + 1)
    toks.slice(at, at + n).mkString(" ")
  }

  private val stopBigrams = Seq("of the", "in the", "to the", "and the",
    "the of", "is a", "on the", "for the")

  /** Phrase kind "stop": a stopword bigram, the largest position lists. */
  def stopBigram(): String = stopBigrams(rng.below(stopBigrams.size))

  /** `k` distinct live docs, seeded. */
  def pick(live: LiveSet, k: Int): Seq[Doc] = live.pick(rng, k)
}

object Gen {
  def docId(d: Doc): Long = DocIds.docId(Corpus.url(d.urlIdx))

  /** The title phrase of a page ("Document <i>"): only that page holds it. */
  def titlePhrase(d: Doc): String = s"document ${d.contentIdx}"
}
