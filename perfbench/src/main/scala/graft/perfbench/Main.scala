package graft.perfbench

import java.sql.Timestamp
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.{BenchScale, Hit}
import graft.analysis.Tokenizer
import graft.corpus.Corpus
import graft.extract.HtmlText
import graft.index.{Codec, Positional, SegmentBuilder}
import graft.query.{Bm25, IndexReader, Phrase, QuerySet, Wand}
import graft.sources.TableIO
import graft.sync.{PurgeJob, ReconcileJob, SyncJob}

/** The repository benchmark: one workload at one seed, in one JVM at
  * local[4] with one client thread.
  *
  * {{{
  * Main --workload churn|search --seed N --seconds S --trace 0|1 --work DIR
  *      [--spans FILE]
  * }}}
  *
  * It drives the engine only through its public entry points (SyncJob,
  * PurgeJob, ReconcileJob, Positional.build, IndexReader.topK,
  * Phrase.topKLive), checks every answer it gets, and prints one JSON line
  * last: the end-to-end metrics untraced, the per-layer metrics traced.
  * The exit code is non-zero when an operation threw or an answer check
  * failed. perfbench/README.md defines every metric.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = kv.getOrElse("workload", "")
    require(Workloads.contains(workload),
      s"--workload must be one of ${Workloads.mkString(", ")}")
    val run = new Run(workload, kv("seed").toLong, kv("seconds").toInt,
      kv.get("trace").contains("1"), kv("work"), kv.get("spans"))
    System.exit(run.execute())
  }

  val Workloads = Seq("churn", "search")

  /** Base corpus size of both workloads. */
  val BaseDocs = 5000
  /** Segment count that triggers compaction (the engine default is 6): at
    * two, the second batch on a base index (churn's purge) folds the
    * segments, and the first (search's reconcile) does not.
    */
  val CompactSegments = 2
  val Cpus = 4
  val K = 10
}

final class Run(workload: String, seed: Long, seconds: Int, traced: Boolean,
                work: String, spansOut: Option[String]) {
  import Main._

  private val gen = new Gen(workload, seed)
  private val live = new LiveSet
  private val root = s"$work/index"
  private val posRoot = s"$root/posindex"

  private var spark: SparkSession = _
  /** Start of set-up: session start, after the first host probe. */
  private var runStart = 0L
  private var tr: Trace = _
  private var io: TableIO = _

  private var attempted = 0
  private var failed = 0
  private def fail(what: String): Unit = {
    failed += 1
    System.err.println(s"[perfbench] FAILED: $what")
  }
  private def check(what: => String)(ok: Boolean): Boolean = {
    if (!ok) fail(what)
    ok
  }

  /** Benchmark-side work inside a phase that is not engine work (answer
    * checks, micro loops): subtracted from the phase's wall time.
    */
  private var asideNs = 0L
  private def aside[A](f: => A): A = {
    val t0 = System.nanoTime()
    try f finally asideNs += System.nanoTime() - t0
  }

  private def secs[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  // ---- results -----------------------------------------------------------
  private var buildDocsPerSec = 0.0
  private final case class Batch(kind: String, wall: Double,
                                 compacted: Boolean, wchar: Long,
                                 ingested: Long)
  private val batches = mutable.ArrayBuffer.empty[Batch]
  private final case class BmSample(q: BmQuery, ms: Double, hits: Array[Hit],
                                    profile: IndexReader.QueryProfile,
                                    seenShare: Double, files: Int)
  private val bm = mutable.ArrayBuffer.empty[BmSample]
  /** Phrase latencies by kind: "ngram" (adjacent tokens of a doc's text)
    * or "stop" (a stopword bigram).
    */
  private val phraseMs = mutable.ArrayBuffer.empty[(String, Double)]
  private val readerOpenMs = mutable.ArrayBuffer.empty[Double]
  private var maxResidentPositions = 0L
  private var maxResidentCompressed = 0L
  private var segmentsMax = 0
  private var tombstonesMax = 0L
  private var setupSec = 0.0
  /** wchar and html+text bytes of the write operations the ratio covers. */
  private var writeBytes = 0L
  private var ingestedBytes = 0L
  private var baseInputBytes = 0L
  private var liveDeltaBytes = 0L
  private val micro = mutable.LinkedHashMap.empty[String, Double]

  // ---- engine calls ------------------------------------------------------

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName(s"graft-perfbench-$workload")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Virtual crawl clock: every batch gets its own, later, batch time. */
  private var clock = 0L
  private var nextUrl = 0L

  private def baseBuild(): Unit = {
    val lo = gen.offset
    val hi = lo + BaseDocs
    (lo until hi).foreach(i => live.put(Doc(i, i, Corpus.warcTsMillis(i))))
    nextUrl = hi
    clock = Corpus.warcTsMillis(hi)
    val pages = Corpus.pagesRange(spark, lo, hi, 2 * Cpus)
    val w0 = Proc.wchar()
    val (r, sec) = secs(tr.span("build", "sync.build") {
      SyncJob.run(spark, io, pages, new Timestamp(clock))
    })
    attempted += 1
    writeBytes += Proc.wchar() - w0
    buildDocsPerSec = BaseDocs / sec
    batches += Batch("build", sec, compacted = false, 0L, 0L)
    aside(tr.span("check.build") {
      check(s"build indexed ${r.deltaRows} rows, expected $BaseDocs")(
        r.deltaRows == BaseDocs)
      val bad = SegmentBuilder.verifyExtraction(pages)
      check(s"$bad pages violate byte-identical extraction")(bad == 0)
      baseInputBytes = pages.toDF()
        .selectExpr("sum(length(html) + octet_length(text))")
        .head().getLong(0)
    })
    ingestedBytes += baseInputBytes
  }

  private def posBuild(): Unit = {
    val w0 = Proc.wchar()
    tr.span("posbuild", "posindex.build") {
      Positional.build(spark, Doc.pages(spark, live.all, 2 * Cpus), posRoot,
        io.currentVersion())
    }
    attempted += 1
    writeBytes += Proc.wchar() - w0
  }

  /** New docs (urls from `nextUrl` on, each its own content) until they
    * carry `bytes` of html+text.
    */
  private def newDocs(bytes: Long, ts: Long): Seq[Doc] = {
    val ds = mutable.ArrayBuffer.empty[Doc]
    var sum = 0L
    while (sum < bytes) {
      nextUrl += 1
      ds += Doc(nextUrl, nextUrl, ts - ds.size)
      sum += Doc.inputBytes(nextUrl)
    }
    ds.toSeq
  }

  /** Re-crawls of distinct live urls until they carry `bytes` of
    * html+text. Each takes another page's html/text, so postings change
    * while extraction stays byte-identical, and the timestamp
    * `stamp(indexed doc, i)` for the i-th re-crawl.
    */
  private def recrawls(bytes: Long)(stamp: (Doc, Int) => Long): Seq[Doc] = {
    val ds = mutable.LinkedHashMap.empty[Long, Doc]
    var sum = 0L
    while (sum < bytes) {
      val d = gen.pick(live, 1).head
      if (!ds.contains(d.urlIdx)) {
        val c = gen.freshContent()
        ds(d.urlIdx) = Doc(d.urlIdx, c, stamp(d, ds.size))
        sum += Doc.inputBytes(c)
      }
    }
    ds.values.toSeq
  }

  /** One incremental batch of `kind`; returns the docs it (re)wrote, or the
    * docs it purged. A crawl (`SyncJob.run`) brings new urls carrying 1% of
    * the base's input bytes and re-crawls of live urls carrying 0.5%; a
    * reconcile re-indexes re-crawls carrying 1% that no sync saw; a purge
    * drops 0.3% of the live urls. Sizing by bytes keeps the write ratio's
    * denominator from swinging with page lengths.
    */
  private def batch(kind: String): (Seq[Doc], Batch) = {
    clock += 60000L
    val ts = clock
    val before = manifest()
    val (touched, source, expected) = kind match {
      case "crawl" =>
        val ds = newDocs(baseInputBytes / 100, ts) ++
          recrawls(baseInputBytes / 200)((_, i) => ts - 1000 - i)
        (ds, ds, ds.size.toLong)
      case "purge" =>
        val gone = gen.pick(live, live.size * 3 / 1000)
        val goneSet = gone.map(_.urlIdx).toSet
        (gone, live.all.filterNot(d => goneSet(d.urlIdx)), gone.size.toLong)
      case "reconcile" =>
        // the source holds newer crawls of these urls that no sync saw:
        // their timestamps differ from the indexed ones
        val drift = recrawls(baseInputBytes / 100)((d, _) => d.tsMs + 1)
        val byUrl = drift.map(d => d.urlIdx -> d).toMap
        (drift, live.all.map(d => byUrl.getOrElse(d.urlIdx, d)),
          drift.size.toLong)
    }
    val pages = Doc.pages(spark, source, 2 * Cpus)
    val batchTs = new Timestamp(ts)
    val w0 = Proc.wchar()
    val ((done, compacted), wall) = secs(tr.span(s"$kind@$ts", s"sync.$kind") {
      val n = kind match {
        case "crawl" => SyncJob.run(spark, io, pages, batchTs).deltaRows
        case "purge" => PurgeJob.run(spark, io, pages, batchTs).purged
        case "reconcile" => ReconcileJob.run(spark, io, pages, batchTs).reindexed
      }
      // a compacting publish folds segments and drops the tombstones
      val after = manifest()
      val c = after._1.size < before._1.size || (before._2 > 0 && after._2 == 0)
      tr.note("compacted", if (c) 1.0 else 0.0)
      (n, c)
    })
    val wrote = Proc.wchar() - w0
    attempted += 1
    check(s"$kind touched $done docs, expected $expected")(done == expected)
    val ingest = if (kind == "purge") 0L
      else aside(touched.map(d => Doc.inputBytes(d.contentIdx)).sum)
    aside(kind match {
      case "purge" => touched.foreach { d =>
        liveDeltaBytes -= Doc.inputBytes(live.contentOf(Gen.docId(d)).get)
        live.remove(d)
      }
      case _ => touched.foreach { d =>
        live.contentOf(Gen.docId(d)).foreach(c =>
          liveDeltaBytes -= Doc.inputBytes(c))
        liveDeltaBytes += Doc.inputBytes(d.contentIdx)
        live.put(d)
      }
    })
    val b = Batch(kind, wall, compacted, wrote, ingest)
    batches += b
    (touched, b)
  }

  /** (segments, tombstone count) of the published version. */
  private def manifest(): (Seq[String], Long) =
    io.readManifest(io.currentVersion().get)

  private def openReader(): IndexReader = {
    val (r, sec) = secs(tr.span("reader.open", "query.open") {
      new IndexReader(spark, root)
    })
    readerOpenMs += sec * 1e3
    segmentsMax = math.max(segmentsMax, r.segments.size)
    tombstonesMax = math.max(tombstonesMax, r.tombstoneCount)
    aside(check(s"reader holds ${r.stats.n} docs, generator ${live.size}")(
      r.stats.n == live.size))
    r
  }

  private val seenTerms = mutable.HashSet.empty[String]

  /** One timed BM25 top-10 call. */
  private def bm25(reader: IndexReader, q: BmQuery): BmSample = {
    val terms = Bm25.queryTerms(q.text)
    val seen = if (terms.isEmpty) 0.0
      else terms.count(seenTerms.contains).toDouble / terms.length
    attempted += 1
    val (hits, sec) = secs(tr.span(s"bm25.${QClass.tag(q.cls)}", "query.bm25") {
      reader.topK(q.text, K)
    })
    val profile = IndexReader.lastProfile
    seenTerms ++= terms
    val files = if (traced) aside(reader.filesForQuery(q.text).size) else 0
    val s = BmSample(q, sec * 1e3, hits, profile, seen, files)
    bm += s
    q.cls match {
      case QClass.Stopword => check(s"class-c query took the ${profile.path} " +
        "path, not perBucket")(profile.path == "perBucket")
      case QClass.Absent => check(s"absent terms '${q.text}' returned hits")(
        hits.isEmpty)
      case _ =>
    }
    s
  }

  /** Rank identity with the TAAT evaluation: same docIds in the same
    * order (score desc, docId asc), scores equal to 1e-9 relative.
    */
  private def checkTaat(reader: IndexReader, s: BmSample): Unit = aside {
    val ref = tr.span("check.taat")(reader.topK(s.q.text, K, useWand = false))
    check(s"WAND != TAAT for '${s.q.text}'")(
      ref.length == s.hits.length && ref.zip(s.hits).forall { case (a, b) =>
        a.docId == b.docId &&
          math.abs(a.score - b.score) <= 1e-9 * math.max(1.0, math.abs(a.score))
      })
  }

  /** One timed phrase top-10 call of `kind`; every hit must hold the
    * phrase.
    */
  private def phrase(reader: IndexReader, kind: String, ph: String): Array[Hit] = {
    attempted += 1
    Phrase.resetResidentTracking()
    val (hits, sec) = secs(tr.span(s"phrase.$kind", "query.phrase") {
      Phrase.topKLive(spark, io, posRoot, ph, K, reader)
    })
    phraseMs += ((kind, sec * 1e3))
    maxResidentPositions = math.max(maxResidentPositions,
      Phrase.maxResidentPositions.get)
    maxResidentCompressed = math.max(maxResidentCompressed,
      Phrase.maxResidentCompressedBytes.get)
    aside {
      val want = Tokenizer.tokenize(ph).toSeq
      val ok = hits.forall(h => live.contentOf(h.docId).exists(c =>
        Tokenizer.tokenize(Corpus.text(c)).toSeq.containsSlice(want)))
      check(s"phrase '$ph' returned a doc without the phrase")(ok)
    }
    hits
  }

  // ---- workloads ---------------------------------------------------------

  /** churn — setup: base build + posindex base, so every later batch also
    * stages a positional delta, and one untimed pass of the probes. Timed:
    * whole cycles of a crawl and a purge batch; with the compaction
    * threshold at two the purge folds the segments every cycle. After each
    * publish a new reader answers read-after-write probes (see `probe`).
    */
  private def churn(): Unit = {
    baseBuild()
    posBuild()
    // warm-up on the base index, untimed and not reported: the first query
    // of each kind in a JVM pays code generation that the timed
    // fresh-reader probes must not
    val Seq(w1, w2) = gen.pick(live, 2)
    probe(openReader(), "warm-up", w1, w2)
    bm.clear(); phraseMs.clear(); readerOpenMs.clear(); seenTerms.clear()
    setupSec = (System.nanoTime() - runStart - asideNs) / 1e9
    writeBytes = 0L; ingestedBytes = 0L

    val tStart = System.nanoTime()
    do {
      Seq("crawl", "purge").foreach { kind =>
        val (touched, b) = batch(kind)
        writeBytes += b.wchar
        ingestedBytes += b.ingested
        // a crawl lists its new docs first and its re-crawls last
        val other = if (kind == "purge") gen.pick(live, 1).head else touched.last
        probe(openReader(), kind, touched.head, other)
      }
    } while ((System.nanoTime() - tStart) / 1e9 < seconds)
    if (traced) microLayers()
  }

  /** Class a on churn: the engine's reference queries, the same for every
    * seed.
    */
  private val reference = Seq("q04", "q07", "q11").map(n =>
    BmQuery(QClass.Cached, QuerySet.all.toMap.apply(n)))

  /** The fresh-reader probes after a batch of `kind` that wrote (or, for a
    * purge, dropped) doc `d`; `other` is a live doc (after a crawl, one it
    * re-crawled):
    *  - class a: the three reference queries; class b: the numeric title
    *    tokens of `d` and `other`, which must rank that doc first, and of
    *    one more live doc; class d: two absent-term queries. After a purge
    *    the token of `d` is absent from the dict and counts as class d: it
    *    must return nothing;
    *  - the title phrase of `d` (phrase kind "ngram"): only `d` holds it, so
    *    it must return `d`, and after a purge nothing;
    *  - after the crawl (two segments and tombstones) two class-c queries
    *    and one stopword bigram, which cost about a second each on a fresh
    *    reader (the warm-up sends one class-c query).
    * Every BM25 answer that is not empty, except the second class-c one,
    * is checked against TAAT; the untimed warm-up checks none.
    */
  private def probe(reader: IndexReader, kind: String, d: Doc,
                    other: Doc): Unit = {
    val gone = kind == "purge"
    val own = bm25(reader, BmQuery(if (gone) QClass.Absent else QClass.Numeric,
      d.contentIdx.toString))
    val oth = bm25(reader, BmQuery(QClass.Numeric, other.contentIdx.toString))
    val answers = Seq(own, oth, bm25(reader, gen.numericQuery(live))) ++
      reference.map(bm25(reader, _)) ++
      (if (gone) Nil else Seq(bm25(reader, gen.stopwordQuery())))
    if (kind == "crawl") bm25(reader, gen.stopwordQuery())
    Seq.fill(2)(bm25(reader, gen.absentQuery()))
    if (kind != "warm-up")
      answers.filter(_.q.cls != QClass.Absent).foreach(checkTaat(reader, _))
    val title = phrase(reader, "ngram", Gen.titlePhrase(d))
    if (!gone) phrase(reader, "stop", gen.stopBigram())
    def first(s: BmSample, x: Doc) = s.hits.headOption.exists(_.docId == Gen.docId(x))
    aside(check(s"read-after-write probes for ${Corpus.url(d.urlIdx)} " +
      s"after $kind")(first(oth, other) && (
      if (gone) !title.exists(_.docId == Gen.docId(d))
      else first(own, d) && title.exists(_.docId == Gen.docId(d)))))
  }

  /** search — setup: base build, one reconcile batch that re-crawls 1% of
    * the urls (a second segment and tombstones), posindex base, reader open and one untimed pass of
    * every query kind. Timed: a closed loop with one client over a seeded
    * stream of BM25 and phrase top-10 queries.
    */
  private def search(): Unit = {
    baseBuild()
    val (_, b) = batch("reconcile")
    writeBytes += b.wchar
    ingestedBytes += b.ingested
    posBuild()
    val reader = openReader()
    // warm-up: one query of each kind, untimed and not reported
    cycle(reader, 1, 1)
    bm.clear(); phraseMs.clear(); seenTerms.clear()
    setupSec = (System.nanoTime() - runStart - asideNs) / 1e9

    val tStart = System.nanoTime()
    while ((System.nanoTime() - tStart) / 1e9 < seconds) cycle(reader, 4, 2)
    // answer checks after the loop: the first answer of each class and
    // every eighth answer against TAAT
    val firsts = bm.indices.groupBy(j => bm(j).q.cls).values.map(_.min).toSet
    bm.indices.filter(j => j % 8 == 0 || firsts(j))
      .foreach(j => checkTaat(reader, bm(j)))
    if (traced) microLayers()
  }

  /** One query cycle, fixed order with seeded contents. The gated metrics
    * are per class and per phrase kind, so these counts set only how many
    * samples each median gets: `cheap` (4 in the timed loop) of each cheap
    * BM25 class (a, b, d), `many` (2) class-c queries and one phrase of
    * each kind. The class-a queries have 1, 2, 3, 1 terms.
    */
  private def cycle(reader: IndexReader, cheap: Int, many: Int): Unit = {
    (0 until cheap).foreach { j =>
      bm25(reader, gen.cachedQuery(1 + j % 3))
      bm25(reader, gen.numericQuery(live))
      bm25(reader, gen.absentQuery())
    }
    Seq.fill(many)(bm25(reader, gen.stopwordQuery()))
    phrase(reader, "ngram", gen.ngramQuery(live))
    phrase(reader, "stop", gen.stopBigram())
  }

  // ---- micro layers (traced runs) ---------------------------------------

  /** Repeat `body` single-threaded for at least two passes and 0.3 s, and
    * record its work units per second as micro-layer metric `name`.
    */
  private def rate(name: String, unitsPerPass: Double)(body: => Unit): Unit =
    aside(tr.span(s"micro.$name") {
      var passes = 0
      val t0 = System.nanoTime()
      while (passes < 2 || System.nanoTime() - t0 < 300000000L) {
        body; passes += 1
      }
      micro(name) = unitsPerPass * passes / ((System.nanoTime() - t0) / 1e9)
    })

  private def microLayers(): Unit = {
    val sample = gen.pick(live, 1000)
    val htmls = sample.map(d => Corpus.html(d.contentIdx)).toArray
    val texts = htmls.map(HtmlText.extract)
    rate("extract.mb_per_s", htmls.map(_.length.toLong).sum / 1e6) {
      htmls.foreach(HtmlText.extract)
    }
    rate("analysis.tokens_per_s",
      texts.map(t => Tokenizer.tokenize(t).length.toLong).sum.toDouble) {
      texts.foreach(Tokenizer.tokenize)
    }
    val reader = new IndexReader(spark, root)
    val s = spark
    import s.implicits._
    val stop = Corpus.stopwords.toSeq :+ "document"
    val content = (0 until 20).map(Corpus.contentWord)
    val blocks = aside(tr.span("micro.fetch") {
      reader.index.filter($"term".isin(stop ++ content: _*)).collect()
    })
    val postings = blocks.map(_.count.toLong).sum.toDouble
    rate("index.decode_postings_per_s", postings) {
      blocks.foreach(SegmentBuilder.decodeBlock)
    }
    val ids = blocks.map(b => Codec.decodeDocIds(b.docIdsVB, b.count, b.firstDocId))
    rate("index.encode_postings_per_s", postings) {
      ids.foreach(a => Codec.encodeDocIds(a, a(0)))
    }
    val stopBlocks = blocks.filter(b => stop.contains(b.term))
    val df = stopBlocks.groupBy(_.term).map { case (t, bs) =>
      t -> bs.map(_.count.toLong).sum }
    val idf = df.map { case (t, d) => t -> Bm25.idf(reader.stats.n, d) }
    val byBucket = stopBlocks.groupBy(_.bucket).values
      .map(_.groupBy(_.term).toSeq).toSeq
    rate("query.wand_postings_per_s",
      stopBlocks.map(_.count.toLong).sum.toDouble) {
      byBucket.foreach(tb =>
        Wand.topKInBucket(tb, idf, reader.stats.avgdl, K, reader.dead))
    }
    aside(tr.span("micro.index_shape") {
      val r = reader.index.selectExpr("sum(count)", "count(*)").head()
      val files = reader.segments.map(seg =>
        Proc.duBytes(new java.io.File(io.segmentDir(seg), "index"))).sum
      micro("index.postings") = r.getLong(0).toDouble
      micro("index.blocks") = r.getLong(1).toDouble
      micro("index.bytes_per_posting") = files.toDouble / r.getLong(0)
    })
  }

  // ---- reporting ---------------------------------------------------------

  private def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  private def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The timing metrics that both kinds of run report (traced runs as
    * `traced.<name>`).
    */
  private def timings(): Seq[(String, Double, String)] = {
    val incremental = batches.filter(_.kind != "build").map(_.wall).toSeq
    Seq(("batch_mean_s", incremental.sum / math.max(incremental.size, 1), "s")) ++
      QClass.values.toSeq.map { c =>
        val t = QClass.tag(c)
        (s"bm25_${t}_p50_ms", median(bm.filter(_.q.cls == c).map(_.ms).toSeq),
          "ms")
      } ++
      Seq("ngram", "stop").map(k => (s"phrase_${k}_p50_ms",
        median(phraseMs.filter(_._1 == k).map(_._2).toSeq), "ms"))
  }

  private def endToEnd(): Seq[(String, Double, String)] = {
    val liveBytes = baseInputBytes + liveDeltaBytes
    Seq(("setup_s", setupSec, "s"),
      ("build_docs_per_s", buildDocsPerSec, "docs/s")) ++ timings() ++ Seq(
      ("index_bytes_per_input_byte",
        Proc.duBytes(new java.io.File(root)).toDouble / liveBytes, "ratio"),
      ("bytes_written_per_input_byte",
        writeBytes.toDouble / ingestedBytes, "ratio"))
  }

  private def perLayer(spans: Seq[Span], runWall: Double,
                       host: Seq[(String, Double)]): Seq[(String, Double, String)] = {
    val out = mutable.ArrayBuffer.empty[(String, Double, String)]
    def put(n: String, v: Double, u: String): Unit = out += ((n, v, u))
    micro.foreach { case (n, v) =>
      put(n, v, if (n.endsWith("mb_per_s")) "MB/s" else if (n.endsWith("_per_s"))
        "1/s" else if (n.endsWith("bytes_per_posting")) "B" else "count")
    }
    Seq("build", "crawl", "purge", "reconcile", "compaction")
      .foreach { op =>
        // an op's metrics cover all its batches; "compaction" covers the
        // batches, of any op, whose publish folded the segments
        val ss = spans.filter(s =>
          if (op == "compaction") s.attrs.get("compacted").contains(1.0)
          else s.kind == s"sync.$op")
        val costs = ss.map(s => tr.inclusiveCost(s, spans))
        val n = math.max(ss.size, 1).toDouble
        val wall = ss.map(_.seconds).sum
        val task = costs.map(_.taskMs).sum / 1e3
        put(s"sync.$op.wall_s", wall / n, "s")
        put(s"sync.$op.spark_jobs", costs.map(_.jobs).sum / n, "count")
        put(s"sync.$op.task_s", task / n, "s")
        put(s"sync.$op.core_util", if (wall > 0) task / (wall * Cpus) else 0.0,
          "ratio")
        put(s"sync.$op.shuffle_write_bytes",
          costs.map(_.shuffleWrite).sum / n, "B")
        put(s"sync.$op.spill_bytes", costs.map(_.spill).sum / n, "B")
        put(s"sync.$op.wchar_bytes", ss.map(_.wcharBytes).sum / n, "B")
      }
    put("sync.segments_max", segmentsMax, "count")
    put("sync.tombstones_max", tombstonesMax.toDouble, "count")
    put("query.reader_open_ms", median(readerOpenMs.toSeq), "ms")
    Seq("a", "b", "c", "d").foreach { c =>
      val ps = bm.filter(s => QClass.tag(s.q.cls) == c).map(_.profile)
        .filter(_ != null)
      put(s"query.dict_ms.$c", median(ps.map(_.dictSec * 1e3).toSeq), "ms")
      put(s"query.scan_ms.$c", median(ps.map(_.scanSec * 1e3).toSeq), "ms")
      put(s"query.score_ms.$c", median(ps.map(_.scoreSec * 1e3).toSeq), "ms")
    }
    val nBm = math.max(bm.size, 1).toDouble
    val bmCosts = spans.filter(_.kind == "query.bm25").map(tr.inclusiveCost(_, spans))
    // BM25 spans include the untimed warm-up queries
    val nBmSpans = math.max(bmCosts.size, 1).toDouble
    put("query.spark_jobs_per_query", bmCosts.map(_.jobs).sum / nBmSpans, "count")
    put("query.task_ms_per_query", bmCosts.map(_.taskMs).sum / nBmSpans, "ms")
    put("query.files_per_query", bm.map(_.files).sum / nBm, "count")
    Seq("local", "perBucket", "empty").foreach { p =>
      put(s"query.path_share.$p",
        bm.count(s => s.profile != null && s.profile.path == p) / nBm, "ratio")
    }
    put("query.bm25_p90_ms", quantile(bm.map(_.ms).toSeq, 0.9), "ms")
    val phCosts = spans.filter(_.kind == "query.phrase").map(tr.inclusiveCost(_, spans))
    val nPh = math.max(phCosts.size, 1).toDouble
    put("phrase.spark_jobs_per_query", phCosts.map(_.jobs).sum / nPh, "count")
    put("phrase.shuffle_bytes_per_query",
      phCosts.map(c => c.shuffleWrite).sum / nPh, "B")
    put("phrase.max_resident_positions", maxResidentPositions.toDouble, "count")
    put("phrase.max_resident_compressed_bytes", maxResidentCompressed.toDouble,
      "B")
    put("jvm.gc_s", Proc.gcSeconds(), "s")
    put("jvm.heap_peak_mb", Proc.heapPeakBytes() / 1e6, "MB")
    val top = spans.filter(_.parent.isEmpty).map(_.seconds).sum
    put("trace.unattributed_share", math.max(0.0, 1.0 - top / runWall), "ratio")
    put("trace.overhead_share", tr.overheadSeconds / runWall, "ratio")
    put("trace.window_jobs", tr.windowJobs(spans).toDouble, "count")
    put("traced.build_docs_per_s", buildDocsPerSec, "docs/s")
    timings().foreach { case (n, v, u) => put(s"traced.$n", v, u) }
    host.foreach { case (n, v) => put(n, v, if (n.endsWith("_s")) "s" else "GB/s") }
    out.toSeq
  }

  private def json(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$n": {"value": $x, "unit": "$u"}"""
    }.mkString("{", ", ", "}")

  private def mark(what: String): Unit = System.err.println(
    f"[perfbench] $what at ${(System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.1f s")

  def execute(): Int = {
    mark("main")
    val probe0 = (BenchScale.probeSec(), BenchScale.bandwidthGBs(Cpus))
    mark("probe0")
    runStart = System.nanoTime()
    val runStartMs = System.currentTimeMillis()
    System.setProperty("graft.compact.segments", CompactSegments.toString)
    spark = session()
    tr = new Trace(spark.sparkContext, traced, s"$workload-$seed")
    tr.before("session.start", runStartMs, runStart)
    io = new TableIO(spark, root)
    val error = try {
      tr.span("session")(spark.range(1).count())
      workload match {
        case "churn" => churn()
        case "search" => search()
      }
      None
    } catch {
      case e: Throwable =>
        attempted += 1
        fail(s"${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
        Some(e)
    }
    val runWall = (System.nanoTime() - runStart) / 1e9
    mark("workload done")
    val spans = tr.finish()
    spansOut.foreach(tr.write(spans, _))
    val probe1 = (BenchScale.probeSec(), BenchScale.bandwidthGBs(Cpus))
    val host = Seq("host.cpu_probe_s" -> math.max(probe0._1, probe1._1),
      "host.bw_gbs" -> math.min(probe0._2, probe1._2))
    mark("probe1")
    val correct = error.isEmpty && failed == 0
    val metrics =
      if (error.nonEmpty) Seq.empty
      else if (traced) perLayer(spans, runWall, host)
      else endToEnd()
    // the run's record, printed beside the metrics and never gated: what
    // the generator drew and the host-noise probes bracketing the run
    def share(xs: Seq[BmSample], f: BmSample => String): String =
      xs.groupBy(f).toSeq.sortBy(_._1).map { case (k, v) =>
        s""""$k": ${v.size.toDouble / xs.size}""" }.mkString("{", ", ", "}")
    val byClass = bm.toSeq.groupBy(s => QClass.tag(s.q.cls)).toSeq.sortBy(_._1)
      .map { case (c, xs) => s""""$c": ${share(xs, s =>
        Option(s.profile).map(_.path).getOrElse("none"))}""" }
      .mkString("{", ", ", "}")
    println(s"""{"record": {"workload": "$workload", "seed": $seed, """ +
      s""""corpus_offset": ${gen.offset}, "base_docs": $BaseDocs, """ +
      s""""compact_segments": $CompactSegments, "cores": $Cpus, """ +
      s""""batches": ${batches.map(b => "\"" + b.kind +
        (if (b.compacted) "+compaction" else "") + "\"").mkString("[", ", ", "]")}, """ +
      s""""bm25_samples": ${bm.size}, "phrase_samples": ${phraseMs.size}, """ +
      s""""phrase_kind_share": ${phraseMs.groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k": ${v.size.toDouble / phraseMs.size}""" }
        .mkString("{", ", ", "}")}, """ +
      s""""class_share": ${share(bm.toSeq, s => QClass.tag(s.q.cls))}, """ +
      s""""path_share_by_class": $byClass, """ +
      s""""term_seen_share": ${if (bm.isEmpty) 0.0
        else bm.map(_.seenShare).sum / bm.size}, """ +
      s""""index_fs": "${Proc.fsType(work)}", "device_flush": "none", """ +
      s""""host": {"gated": false, "cpu_probe_s": [${probe0._1}, ${probe1._1}], """ +
      s""""bw_gbs": [${probe0._2}, ${probe1._2}]}}}""")
    spark.stop()
    mark("stopped")
    println(s"""{"correct": $correct, "attempted": ${math.max(attempted, 1)}, """ +
      s""""failed": $failed, "metrics": ${json(metrics)}}""")
    if (correct) 0 else 1
  }
}
