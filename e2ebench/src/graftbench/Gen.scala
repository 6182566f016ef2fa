package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import graft.pipeline.{ExtractPath, PdfGen}

/** Seeded input generators. Every corpus, container mix, planted pair
  * and request sequence is a pure function of the seed: the same seed
  * gives byte-identical inputs, which every run re-checks by
  * generating its inputs once per set-up and comparing digests.
  *
  * Work per seed is held steady on purpose: long-tailed sizes sit at
  * fixed quantiles (each seed shuffles them over the documents) and
  * container kinds come in fixed counts, so a seed changes which
  * document is long and which is encrypted, and the text itself, but
  * not the total amount of work.
  */
object Gen {

  /** splitmix64 — a small, well-mixed, seedable generator. */
  final class Rng(seed: Long) {
    private var s = seed * 0x9e3779b97f4a7c15L + 0x632be59bd9b4e019L
    def nextLong(): Long = {
      s += 0x9e3779b97f4a7c15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def uniform(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
    def below(n: Int): Int = java.lang.Math.floorMod(nextLong(), n.toLong).toInt
    /** Standard normal, by Box–Muller. */
    def gaussian(): Double =
      math.sqrt(-2.0 * math.log(1.0 - uniform())) * math.cos(2 * math.Pi * uniform())
    def shuffle[A](xs: IndexedSeq[A]): IndexedSeq[A] = {
      val a = xs.toArray[Any]
      var i = a.length - 1
      while (i > 0) { val j = below(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
      a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
    }
  }

  /** A stream of the run's seed: independent generators per purpose. */
  def rng(seed: Long, stream: Long): Rng = new Rng(seed * 1000003L + stream)

  /** Zipf(1.1) sampler over a vocabulary of lowercase words. */
  final class Zipf(val size: Int, exponent: Double = 1.1) {
    private val cum = {
      val c = new Array[Double](size)
      var acc = 0.0
      var i = 0
      while (i < size) { acc += 1.0 / math.pow(i + 1.0, exponent); c(i) = acc; i += 1 }
      c
    }
    def rank(u: Double): Int = {
      val x = u * cum(size - 1)
      var lo = 0; var hi = size - 1
      while (lo < hi) { val mid = (lo + hi) >>> 1; if (cum(mid) < x) lo = mid + 1 else hi = mid }
      lo
    }
    def word(r: Rng): String = Gen.word(rank(r.uniform()))
  }

  /** Word `i` of the vocabulary: letters only (the containers' glyph
    * tables stay small), distinct for distinct `i`. */
  def word(i: Int): String = {
    val sb = new StringBuilder
    var n = i
    val cons = "bcdfghklmnprstvz"; val vow = "aeiou"
    do {
      sb.append(cons.charAt(n % 16)); n /= 16
      sb.append(vow.charAt(n % 5)); n /= 5
    } while (n > 0)
    sb.toString
  }

  /** `n` sizes from a Pareto law with minimum `min` and tail index
    * `alpha`, one at the midpoint of each of `n` equal quantile strata,
    * shuffled: every seed gets the same sizes, on other documents. */
  def paretoSizes(r: Rng, n: Int, min: Int, alpha: Double): IndexedSeq[Int] =
    r.shuffle((0 until n).map { i =>
      val u = (i + 0.5) / n
      (min * math.pow(1.0 - u * 0.999, -1.0 / alpha)).toInt
    })

  def sha256(parts: Iterator[Array[Byte]]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach(md.update)
    md.digest().map("%02x".format(_)).mkString
  }

  // ---------------------------------------------------------------- ingest

  /** Container kinds of the ingest corpus, how many of each a corpus
    * holds, and the extraction route each one must take. The traffic is
    * the reference's: 100 arXiv papers (BASELINE.md), in the two
    * containers `PdfGen` names as the arXiv shape (Type0/ToUnicode and
    * the object-stream writer), split evenly for want of a recorded
    * split. Every other kind is there for decoder coverage only — no
    * record gives its share — so each comes in a count of one to four
    * documents of one page. */
  final case class Kind(name: String, count: Int, route: String) {
    def arxiv: Boolean = Kind.Arxiv(name)
  }
  object Kind { val Arxiv = Set("type0", "objstm") }
  val Kinds: Seq[Kind] = Seq(
    Kind("type0", 39, ExtractPath.PdfText),
    Kind("objstm", 39, ExtractPath.PdfText),
    Kind("simple", 2, ExtractPath.PdfText),
    Kind("predictor_flate", 2, ExtractPath.PdfText),
    Kind("filter_chain", 2, ExtractPath.PdfText),
    Kind("rc4", 2, ExtractPath.PdfDecrypted),
    Kind("aes256", 2, ExtractPath.PdfDecrypted),
    Kind("rc4_password", 1, ExtractPath.PdfEncrypted),
    Kind("non_pdf", 1, ExtractPath.NonPdf),
    Kind("truncated_pdf", 1, ExtractPath.PdfFallback),
    Kind("dct", 2, ExtractPath.PdfImage),
    Kind("ccitt", 2, ExtractPath.PdfImage),
    Kind("jbig2", 1, ExtractPath.PdfImage),
    Kind("raster_twin", 4, ExtractPath.PdfImage))
  /** Documents per ingest corpus: the reference's `limit(100)`. */
  val IngestDocs: Int = Kinds.map(_.count).sum
  require(IngestDocs == 100)

  /** Words per page: the generator's layout, 40 lines of 12 words. */
  val PageWords = 480
  /** Length law of the arXiv-shaped documents, in words: Pareto with
    * tail index 1.2, so that over one container's 39 quantiles the
    * longest document is about ten times the mean — BASELINE.md's
    * outliers of ~30 min against a ~3 min average, with OCR time taken
    * as proportional to length. The 1.5-page minimum (mean ≈ 5.4 pages)
    * is set by the run budget: a pass of 100 documents has to fit
    * several times in a measured window; real papers are longer. */
  val ArxivMinWords: Int = 3 * PageWords / 2
  val ArxivAlpha = 1.2

  /** Texts of `n` documents under the arXiv length law. */
  def arxivTexts(seed: Long, n: Int): IndexedSeq[String] = {
    val r = rng(seed, 3)
    val z = new Zipf(20000)
    paretoSizes(r, n, ArxivMinWords, ArxivAlpha).map(text(r, z, _))
  }

  final case class Doc(id: Long, kind: Kind, text: String, bytes: Array[Byte])

  final case class IngestCorpus(docs: IndexedSeq[Doc], twins: Set[(Long, Long)]) {
    def digest: String = sha256(docs.iterator.flatMap(d =>
      Iterator(d.id.toString.getBytes(StandardCharsets.UTF_8), d.bytes)))
    def expectedRoutes: Map[Long, String] = docs.map(d => d.id -> d.kind.route).toMap
  }

  /** Document text: lines of ~12 words, a page break every 40 lines. */
  def text(r: Rng, z: Zipf, words: Int): String = {
    val sb = new StringBuilder
    var w = 0
    while (w < words) {
      if (w > 0) sb.append(if (w % 480 == 0) "\f" else if (w % 12 == 0) "\n" else " ")
      sb.append(z.word(r))
      w += 1
    }
    sb.toString
  }

  /** The ingest corpus, ids from `firstId`: [[Kinds]] in a seeded
    * order; arXiv-shaped documents under the arXiv length law, coverage
    * documents one page each. Raster twins come in (original, twin)
    * pairs of [[PdfGen.rasterPdf]] / [[PdfGen.rasterPdfTwin]]. */
  def ingestCorpus(seed: Long, firstId: Long = 1L): IngestCorpus = {
    val r = rng(seed, 1)
    val z = new Zipf(20000)
    val n = IngestDocs
    val kinds = r.shuffle(Kinds.flatMap(k => Seq.fill(k.count)(k)).toIndexedSeq)
    // each arXiv container draws its own full set of quantiles, so every
    // seed gives each container the same lengths
    val arxivSizes = Kinds.filter(_.arxiv).map(k =>
      k.name -> paretoSizes(r, k.count, ArxivMinWords, ArxivAlpha).iterator).toMap
    val sizes = kinds.map(k => if (k.arxiv) arxivSizes(k.name).next() else PageWords)
    val twinKinds = kinds.zipWithIndex.filter(_._1.name == "raster_twin").map(_._2)
    // consecutive raster_twin slots pair up: (original, twin) share an image id
    val twinOf: Map[Int, (Long, Boolean)] = twinKinds.grouped(2).zipWithIndex.flatMap {
      case (Seq(a, b), k) => Seq(a -> (seed * 1000L + k, false), b -> (seed * 1000L + k, true))
      case (Seq(a), k) => Seq(a -> (seed * 1000L + k, false))
      case _ => Nil
    }.toMap
    val docs = (0 until n).map { i =>
      val id = firstId + i
      val k = kinds(i)
      val t = text(r, z, sizes(i))
      val imageId = math.abs(seed * 7919L + i)
      val bytes: Array[Byte] = k.name match {
        case "type0" => PdfGen.type0(t)
        case "simple" => PdfGen.simple(t)
        case "predictor_flate" => PdfGen.predictorFlate(t)
        case "objstm" => PdfGen.objStm(t)
        case "filter_chain" => PdfGen.filterChain(t)
        case "rc4" => PdfGen.encrypted(t)
        case "aes256" => PdfGen.encryptedAes256(t)
        case "rc4_password" => PdfGen.encrypted(t, userPwd = s"pw$seed")
        case "non_pdf" => t.getBytes(StandardCharsets.UTF_8)
        case "truncated_pdf" => s"%PDF-1.4\n% truncated after the header, doc $id\n"
          .getBytes(StandardCharsets.ISO_8859_1)
        case "dct" => PdfGen.dctImageOnly(imageId)
        case "ccitt" => PdfGen.ccittPdf(imageId)
        case "jbig2" => PdfGen.jbig2Pdf(imageId)
        case "raster_twin" =>
          val (img, isTwin) = twinOf(i)
          if (isTwin) PdfGen.rasterPdfTwin(img) else PdfGen.rasterPdf(img)
      }
      Doc(id, k, if (k.route == ExtractPath.PdfImage) "" else t, bytes)
    }
    val twins = twinKinds.grouped(2).collect { case Seq(a, b) =>
      (math.min(docs(a).id, docs(b).id), math.max(docs(a).id, docs(b).id))
    }.toSet
    IngestCorpus(docs, twins)
  }

  /** One file per document, named by id (`readBinaryDocs` takes the
    * id from the digits of the file name). */
  def writeCorpus(c: IngestCorpus, dir: Path): Unit = {
    Files.createDirectories(dir)
    c.docs.foreach(d => Files.write(dir.resolve(f"doc${d.id}%08d.pdf"), d.bytes))
  }

  // ----------------------------------------------------------------- dedup

  final case class DedupDoc(id: Long, text: String, lang: String)
  final case class DedupCorpus(docs: IndexedSeq[DedupDoc], eval: IndexedSeq[DedupDoc],
      planted: Set[(Long, Long)], plantedContained: Set[(Long, Long)]) {
    def digest: String = sha256((docs ++ eval).iterator.map(d =>
      s"${d.id}|${d.lang}|${d.text}".getBytes(StandardCharsets.UTF_8)))
  }

  val Langs = IndexedSeq("en", "fr", "de", "zh")
  /** Eval-set ids start here; corpus ids are below. */
  val EvalIdBase = 10000000L

  /** Zipf long-tail corpus shaped like `graft.tools.LongTailCorpus`:
    * 30–80 token documents, every tenth slot a planted near duplicate
    * of the slot before it (same language), plus `longDocs` documents
    * of at least 10k tokens. Near duplicates resample 5 % of the token positions,
    * which keeps their Jaccard well above 0.7. The eval set is `nEval` documents, half of them
    * excerpts (90 % of the tokens, in order) of corpus documents. */
  def dedupCorpus(seed: Long, n: Int, longDocs: Int, nEval: Int): DedupCorpus = {
    val r = rng(seed, 2)
    val z = new Zipf(30000)
    val base = new Array[IndexedSeq[String]](n)
    val langs = new Array[String](n)
    val planted = Set.newBuilder[(Long, Long)]
    for (i <- 0 until n) {
      val long = i >= n - longDocs
      if (!long && i % 10 == 9) {
        val prev = base(i - 1)
        val swap = r.shuffle(prev.indices).take(math.max(1, prev.size / 20)).toSet
        base(i) = prev.indices.map(p => if (swap(p)) z.word(r) else prev(p))
        langs(i) = langs(i - 1)
        planted += ((i - 1).toLong -> i.toLong)
      } else {
        val len = if (long) 10000 else 30 + r.below(51)
        base(i) = IndexedSeq.fill(len)(z.word(r))
        langs(i) = Langs(r.below(4))
      }
    }
    val docs = (0 until n).map(i => DedupDoc(i.toLong, base(i).mkString(" "), langs(i)))
    val contained = Set.newBuilder[(Long, Long)]
    val eval = (0 until nEval).map { j =>
      val id = EvalIdBase + j
      if (j % 2 == 0) {
        val src = r.below(n - longDocs)
        val toks = base(src).filter(_ => r.uniform() < 0.9)
        contained += (id -> src.toLong)
        DedupDoc(id, toks.mkString(" "), langs(src))
      } else DedupDoc(id, IndexedSeq.fill(30 + r.below(51))(z.word(r)).mkString(" "), Langs(r.below(4)))
    }
    DedupCorpus(docs, eval, planted.result(), contained.result())
  }

  // ----------------------------------------------------------------- serve

  /** The two fixture tables serve's queries read, generated in the
    * schema and row counts of the sf0.1 fixtures (FIXTURES.md §B,
    * TESTDATA.md): `documents`, 5 000 texts of 44–577 characters with
    * the fixture's language proportions and 20 sources of 250
    * documents; `embeddings`, 2 000 unit 64-float vectors scattered
    * around ten label centroids. */
  final case class ServeTables(docs: IndexedSeq[(Long, String, String, String, Long)],
      embs: IndexedSeq[(Long, Array[Float], Int)]) {
    def digest: String = sha256(
      docs.iterator.map(d => d.productIterator.mkString("|").getBytes(StandardCharsets.UTF_8)) ++
        embs.iterator.map { case (id, e, l) =>
          val b = java.nio.ByteBuffer.allocate(12 + 4 * e.length).putLong(id).putInt(l)
          e.foreach(b.putFloat)
          b.array()
        })
  }

  val ServeLangs: Seq[(String, Int)] = Seq("en" -> 2059, "zh" -> 753, "de" -> 702, "fr" -> 742, "es" -> 744)

  def serveTables(seed: Long): ServeTables = {
    val r = rng(seed, 5)
    val z = new Zipf(20000)
    val langs = r.shuffle(ServeLangs.flatMap { case (l, k) => Seq.fill(k)(l) }.toIndexedSeq)
    val docs = langs.indices.map { i =>
      val target = 44 + r.below(534)
      val sb = new StringBuilder(z.word(r))
      while (sb.length < target) sb.append(' ').append(z.word(r))
      val t = sb.toString
      (i.toLong, t, langs(i), s"src${i % 20}", t.length.toLong)
    }
    val centroids = IndexedSeq.fill(10)(Array.fill(64)(r.gaussian()))
    val embs = (0 until 2000).map { i =>
      val label = r.below(10)
      val v = centroids(label).map(c => c + 0.6 * r.gaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat), label)
    }
    ServeTables(docs, embs)
  }

  /** Request kinds of the serve loop. */
  val Search = "search"; val Append = "append"; val Query = "query"

  /** The serve interleave: blocks of twelve requests, 8 search, 1
    * append, 3 queries, always in this order. The seed draws what each
    * request carries (search texts, appended documents, the corpus
    * behind the index and the tables); the order is fixed because it
    * moves latency by itself — a search right after a query runs slower
    * than one after a search — and a seed should change the inputs, not
    * the mix being timed. */
  val Block: IndexedSeq[String] = IndexedSeq(Search, Search, Search, Search, Append,
    Search, Search, Search, Search, Query, Query, Query)

  /** Search text: a few words drawn from one document's text. */
  def searchText(r: Rng, texts: IndexedSeq[String]): String = {
    val toks = texts(r.below(texts.size)).split("\\s+").filter(_.nonEmpty)
    val start = r.below(math.max(1, toks.length - 6))
    toks.slice(start, start + 6).mkString(" ")
  }
}
