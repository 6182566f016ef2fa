package graftbench

import java.nio.file.Path

import graft.multimodal.ImageDedup
import graft.pipeline._
import org.apache.spark.sql.functions._

/** The paper's pipeline over generated PDFs: extraction with LPT
  * placement → dHash scan-dedup of the image-routed documents →
  * chunking → batched embedding → parquet index. Every stage is
  * materialized (written, or persisted and counted) so it can be timed
  * on its own, and every call is a public entry point. */
object IngestPass {
  val Embedder = HashingEmbedder(64)
  val BatchSize = 150
  val MaxHamming = 2

  /** What a pass leaves behind for the output checks. */
  final case class PassOut(dir: Path, imagePairs: Set[(Long, Long)], chunks: Long)

  def partitioner: AutoPartitioner = AutoPartitioner(TextPartitioner())

  /** One whole pipeline pass over `input`; stage outputs land in `dir`. */
  def pass(ctx: Ctx, input: Path, dir: Path, req: Long): PassOut = {
    val spark = ctx.spark
    import spark.implicits._
    val t = ctx.trace
    val extracted = dir.resolve("extracted").toString
    val chunks = dir.resolve("chunks").toString
    val index = dir.resolve("index").toString

    t.span("pipeline.extract", req) {
      val bin = OcrPipeline.readBinaryDocs(spark, input.toString)
      OcrPipeline.extractTextAudited(spark, bin, partitioner, parallelism = ctx.cores)
        .write.parquet(extracted)
    }
    val (pairs, _) = t.span("pipeline.scan_hash", req) {
      val imageIds = spark.read.parquet(extracted)
        .filter($"extract_path" === ExtractPath.PdfImage).select($"doc_id")
      val images = OcrPipeline.readBinaryDocs(spark, input.toString)
        .join(imageIds, Seq("doc_id"), "left_semi")
      val hashed = ImageDedup.withPHash(images, "doc_id", "content", PdfRasterCodec())
      val p = ImageDedup.nearDupPairs(hashed, "doc_id", MaxHamming)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      ctx.dropBlocks()
      p
    }
    t.span("pipeline.chunk", req) {
      Inference.chunkDocuments(spark, spark.read.parquet(extracted).select($"doc_id", $"text"))
        .write.parquet(chunks)
    }
    val ((embedded, n), _) = t.span("pipeline.embed", req) {
      val e = embed(ctx, spark.read.parquet(chunks).as[Chunk]).persist()
      (e, e.count())
    }
    t.span("pipeline.index_write", req) {
      embedded.write.parquet(index)
      embedded.unpersist(blocking = true)
    }
    PassOut(dir, pairs, n)
  }

  def embed(ctx: Ctx, chunks: org.apache.spark.sql.Dataset[Chunk]): org.apache.spark.sql.Dataset[EmbeddedChunk] =
    Inference.embedChunks(chunks, Embedder, BatchSize)

  /** Output checks on one pass, run after the measured window. */
  def checks(ctx: Ctx, corpus: Gen.IngestCorpus, out: PassOut): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val audited = spark.read.parquet(out.dir.resolve("extracted").toString)
      .select($"doc_id", $"text", $"extract_path").as[(Long, String, String)].collect()
    val expected = corpus.expectedRoutes
    val ids = audited.map(_._1)
    ctx.check("ingest.audited_once",
      ids.length == expected.size && ids.distinct.length == ids.length && ids.forall(expected.contains),
      s"${ids.length} audit rows for ${expected.size} documents")
    val wrong = audited.filter { case (id, _, route) => expected.get(id).exists(_ != route) }
    ctx.check("ingest.route_mix", wrong.isEmpty,
      wrong.take(5).map { case (id, _, r) => s"doc $id routed $r, expected ${expected(id)}" }.mkString("; "))

    // windows of 200 chars, kept when longer than 50 (Chunker.charWindowChunks + the len > 50 filter)
    val driverChunks = audited.map { case (_, text, _) =>
      val len = if (text == null) 0 else text.codePointCount(0, text.length)
      len / 200 + (if (len % 200 > 50) 1 else 0)
    }.map(_.toLong).sum
    ctx.check("ingest.chunk_count", driverChunks == out.chunks,
      s"index holds ${out.chunks} chunks, driver-side count $driverChunks")

    val index = spark.read.parquet(out.dir.resolve("index").toString)
    val sample = index.select($"chunk_id", $"chunk", $"embedding").as[(String, String, Array[Float])]
      .collect().sortBy(_._1)
    val r = Gen.rng(ctx.seed, 11)
    val picks = Seq.fill(math.min(50, sample.length))(sample(r.below(sample.length)))
    val badEmb = picks.filterNot { case (_, chunk, emb) =>
      java.util.Arrays.equals(emb, Embedder.embedOne(chunk)) }
    ctx.check("ingest.embeddings", picks.nonEmpty && badEmb.isEmpty,
      s"${badEmb.size}/${picks.size} sampled embeddings differ from embedOne")

    // brute-force dHash pairs over the image-routed documents
    val hashes = corpus.docs.filter(_.kind.route == ExtractPath.PdfImage)
      .map(d => d.id -> ImageDedup.dHash(PdfRasterCodec(), d.bytes))
    val brute = (for {
      (a, ha) <- hashes; (b, hb) <- hashes
      if a < b && java.lang.Long.bitCount(ha ^ hb) <= MaxHamming
    } yield (a, b)).toSet
    ctx.check("ingest.raster_twins_found", corpus.twins.nonEmpty && corpus.twins.subsetOf(out.imagePairs),
      s"${(corpus.twins -- out.imagePairs).size} of ${corpus.twins.size} planted twins missing")
    ctx.check("ingest.scan_pairs_exact", brute == out.imagePairs,
      s"spark ${out.imagePairs.size} pairs, brute force ${brute.size}")
  }

  /** Single-thread cost of the decoders, per category, on a seeded
    * sample (traced runs only): µs per KB of input through
    * `AutoPartitioner.partitionWithPath`, and µs per image through
    * `ImageDedup.dHash`. */
  def decoderCosts(ctx: Ctx, corpus: Gen.IngestCorpus): Unit = {
    val p = partitioner
    def group(kinds: Set[String]) = corpus.docs.filter(d => kinds(d.kind.name)).take(12)
    def usPerKb(docs: Seq[Gen.Doc]): Double = {
      docs.foreach(d => p.partitionWithPath(d.bytes, PartitionStrategy.OcrOnly))  // warm
      val t0 = System.nanoTime()
      docs.foreach(d => p.partitionWithPath(d.bytes, PartitionStrategy.OcrOnly))
      val kb = docs.map(_.bytes.length).sum / 1024.0
      if (kb == 0) 0.0 else (System.nanoTime() - t0) / 1e3 / kb
    }
    def usPerImage(docs: Seq[Gen.Doc]): Double = {
      val codec = PdfRasterCodec()
      docs.foreach(d => ImageDedup.dHash(codec, d.bytes))
      val t0 = System.nanoTime()
      docs.foreach(d => ImageDedup.dHash(codec, d.bytes))
      if (docs.isEmpty) 0.0 else (System.nanoTime() - t0) / 1e3 / docs.size
    }
    val text = Set("type0", "simple", "predictor_flate", "objstm", "filter_chain")
    ctx.metric("pipeline.extract.us_per_kb.text", usPerKb(group(text)), "us/KB")
    ctx.metric("pipeline.extract.us_per_kb.encrypted", usPerKb(group(Set("rc4", "aes256"))), "us/KB")
    ctx.metric("pipeline.extract.us_per_kb.raster",
      usPerKb(group(Set("dct", "ccitt", "jbig2", "raster_twin"))), "us/KB")
    Seq("dct", "ccitt", "jbig2").foreach(k =>
      ctx.metric(s"pipeline.scan_hash.us_per_image.$k", usPerImage(group(Set(k))), "us"))
  }

  /** Route counts of the audited pass, for the traced run. */
  def routeMix(ctx: Ctx, out: PassOut): Map[String, Long] = {
    val spark = ctx.spark
    import spark.implicits._
    spark.read.parquet(out.dir.resolve("extracted").toString)
      .groupBy($"extract_path").agg(count(lit(1))).as[(String, Long)].collect().toMap
  }
}
