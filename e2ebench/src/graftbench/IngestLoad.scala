package graftbench

import graft.pipeline.ExtractPath

/** Workload `ingest`: the whole pipeline over a generated corpus of
  * [[Docs]] PDF and non-PDF documents, one pass per job, repeated for
  * the measured window. */
object IngestLoad {
  val Docs: Int = Gen.IngestDocs
  val Stages = Seq("extract", "scan_hash", "chunk", "embed", "index_write")
  /** Stage `busy_s` must sum to the pass wall time within this share. */
  val StageSumTolerance = 0.05

  def run(ctx: Ctx): Unit = {
    val (corpus, input) = Main.setups(ctx) { dir =>
      val c = Gen.ingestCorpus(ctx.seed)
      Gen.writeCorpus(c, dir.resolve("input"))
      ((c, dir.resolve("input")), c.digest)
    }
    // the newest pass's output is kept for the checks; the one before
    // it is deleted after each pass, outside the pass's time
    var outputs = List.empty[java.nio.file.Path]
    def dropOld(): Unit = { outputs.drop(1).foreach(Main.deleteTree); outputs = outputs.take(1) }
    // four warm-up passes: pass times keep falling for several passes
    // after the cold one while the JIT compiles the decoders
    val (times, last) = ctx.batch(Docs, warmups = 4, "ingest_docs_per_s", dropOld _) { i =>
      val out = ctx.op(s"ingest pass $i") {
        ctx.trace.span("ingest.pass", i)(IngestPass.pass(ctx, input, ctx.dir(s"pass-$i"), i))._1
      }
      out.foreach(o => outputs = o.dir :: outputs)
      out
    }

    if (ctx.trace.enabled) {
      val n = times.size.toDouble
      Stages.foreach(s => ctx.metric(s"pipeline.$s.busy_s", ctx.trace.busyS(s"pipeline.$s") / n, "s"))
      val stageSum = Stages.map(s => ctx.trace.busyS(s"pipeline.$s")).sum
      val ratio = stageSum / times.sum
      ctx.metric("pipeline.stage_sum_over_wall", ratio, "ratio")
      ctx.check("ingest.stage_sum_within_5pct", ratio >= 1 - StageSumTolerance && ratio <= 1.0,
        f"stage busy_s sum to $ratio%.4f of the pass wall time")
      // skew of the heaviest stage inside the extract span: the per-document map
      val ex = ctx.trace.layer("pipeline.extract")
      val heaviest = ex.synchronized(ex.stageTaskMs.values.maxByOption(_.sum).map(_.toSeq))
      ctx.metric("pipeline.extract.task_skew", heaviest.filter(_.nonEmpty).map(ts =>
        ts.max / math.max(1.0, Stats.median(ts.map(_.toDouble)))).getOrElse(0.0), "ratio")
      last.foreach { o =>
        val mix = IngestPass.routeMix(ctx, o)
        Seq(ExtractPath.PdfText, ExtractPath.PdfImage, ExtractPath.PdfDecrypted,
            ExtractPath.PdfEncrypted, ExtractPath.PdfFallback, ExtractPath.NonPdf)
          .foreach(r => ctx.metric(s"pipeline.extract.route.$r", mix.getOrElse(r, 0L).toDouble, "docs"))
        ctx.metric("pipeline.extract.useful_ratio",
          (mix.getOrElse(ExtractPath.PdfText, 0L) + mix.getOrElse(ExtractPath.PdfDecrypted, 0L)).toDouble /
            Docs, "ratio")
        ctx.metric("pipeline.chunk.chunks", o.chunks.toDouble, "count")
        ctx.metric("pipeline.embed.us_per_chunk",
          1e6 * ctx.trace.busyS("pipeline.embed") / n / math.max(1L, o.chunks), "us")
        ctx.metric("pipeline.index_write.bytes", Main.treeBytes(o.dir.resolve("index")).toDouble, "bytes")
      }
      IngestPass.decoderCosts(ctx, corpus)
    }
    last.foreach(o => IngestPass.checks(ctx, corpus, o))
  }
}
