package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{Artifacts, ArtifactCache, SparkEntry}
import graft.pipeline._

/** Workload `serve`: one client, closed loop, no think time, over a
  * fixed interleave of three request kinds against state built in
  * set-up — top-5 search over the index of an ingest-generated corpus,
  * appends of freshly embedded chunks to that index (later searches
  * must see them), and a fixed sample of the declared queries over
  * generated fixture tables through the noop sink. */
object ServeLoad {
  /** Documents behind the search index, under the ingest corpus's arXiv length law. */
  val Docs = 20
  val TopK = 5
  /** Sample of `SparkEntry.queries`, all of them in every block: they
    * read only the two tables set-up generates, and q44 reads the `ivf`
    * artifact that set-up builds, through `ArtifactCache`. */
  val Queries = Seq("q16_chunks", "q19_similarity_topk", "q44_ivf_search")
  val QueryArtifacts = Seq("ivf")
  require(Gen.Block.count(_ == Gen.Query) == Queries.size)

  /** Driver-side copy of the index, for the brute-force check. */
  final case class Row(chunkId: String, emb: Array[Float])
  /** One search: its text, the rows appended to the index before it
    * (in its block), and its top-k. */
  final case class SearchLog(text: String, appended: Seq[Row], got: Seq[(String, Double)],
      afterAppend: Boolean)

  final case class State(texts: IndexedSeq[String], index: Path, tables: String, base: Seq[Row])

  def digest(texts: Seq[String], tables: Gen.ServeTables): String =
    Gen.sha256(Iterator(Gen.sha256(texts.iterator.map(_.getBytes(StandardCharsets.UTF_8))),
      tables.digest).map(_.getBytes(StandardCharsets.UTF_8)))
  def digest(seed: Long): String = digest(Gen.arxivTexts(seed, Docs), Gen.serveTables(seed))

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val st = Main.setups(ctx) { dir =>
      val texts = Gen.arxivTexts(ctx.seed, Docs)
      val t = Gen.serveTables(ctx.seed)
      val tables = dir.resolve("tables").toString
      t.docs.toDF("doc_id", "text", "lang", "source", "n_chars").write.parquet(s"$tables/documents.parquet")
      t.embs.toDF("vec_id", "embedding", "label").write.parquet(s"$tables/embeddings.parquet")
      val index = dir.resolve("index")
      val docs = texts.zipWithIndex.map { case (x, i) => (i + 1L, x) }.toDF("doc_id", "text")
      IngestPass.embed(ctx, Inference.chunkDocuments(spark, docs)).write.parquet(index.toString)
      val t0 = System.nanoTime()
      ArtifactCache.clearRoot()
      Artifacts.builders.filter(b => QueryArtifacts.contains(b._1)).foreach(_._2(spark, tables))
      ctx.metric("core.artifact_build_s", (System.nanoTime() - t0) / 1e9, "s")
      val base = spark.read.parquet(index.toString).select($"chunk_id", $"embedding")
        .as[(String, Array[Float])].collect().map { case (id, e) => Row(id, e) }.toSeq
      (State(texts, index, tables, base), digest(texts, t))
    }
    val index = st.index.toString
    val baseFiles = files(st.index)
    val appended = mutable.ArrayBuffer.empty[Row]
    val searches = mutable.ArrayBuffer.empty[SearchLog]
    val r = Gen.rng(ctx.seed, 4)
    var appends = 0
    var fresh: Option[IndexedSeq[String]] = None

    /** Block boundary, outside the timed requests: the index goes back
      * to its set-up state, so every block searches the same rows. */
    def resetIndex(): Unit = {
      files(st.index).filterNot(baseFiles).foreach(Files.delete)
      appended.clear()
      fresh = None
    }

    def search(req: Long): Unit = {
      // the first search after an append looks for one appended chunk, verbatim
      val text = fresh.map(c => c(r.below(c.size))).getOrElse(Gen.searchText(r, st.texts))
      val afterAppend = fresh.isDefined
      fresh = None
      val got = ctx.trace.span(Gen.Search, req) {
        VectorSearch.searchText(spark.read.parquet(index), "embedding", "chunk_id", text,
            IngestPass.Embedder, TopK)
          .select($"chunk_id", $"sim").as[(String, Double)].collect().toSeq
      }._1
      searches += SearchLog(text, appended.toList, got, afterAppend)
    }
    def append(req: Long): Unit = {
      val docs = (0 until 2).map(j => (2000000L + 10 * appends + j, Gen.text(r, new Gen.Zipf(20000), 120)))
      appends += 1
      val added = ctx.trace.span(Gen.Append, req) {
        val emb = IngestPass.embed(ctx, Inference.chunkDocuments(spark, docs.toDF("doc_id", "text")))
          .persist()
        emb.write.mode("append").parquet(index)
        val out = emb.select($"chunk_id", $"chunk", $"embedding").as[(String, String, Array[Float])].collect()
        emb.unpersist(blocking = true)
        out
      }._1
      appended ++= added.map { case (id, _, e) => Row(id, e) }
      fresh = Some(added.map(_._2).toIndexedSeq)
    }
    val firstQuery = Gen.Block.indexOf(Gen.Query)
    def query(i: Long): Unit = {
      val name = Queries((i % Gen.Block.size).toInt - firstQuery)
      ctx.trace.span(Gen.Query, i) {
        SparkEntry.queries(name)(spark, st.tables).write.mode("overwrite").format("noop").save()
      }
      ctx.dropBlocks()
    }
    def request(i: Long): Option[(String, Double)] = {
      val kind = Gen.Block((i % Gen.Block.size).toInt)
      val t0 = System.nanoTime()
      ctx.op(s"$kind request $i") {
        kind match {
          case Gen.Search => search(i)
          case Gen.Append => append(i)
          case Gen.Query => query(i)
        }
      }.map(_ => kind -> (System.nanoTime() - t0) / 1e9)
    }

    // cold: the first request of each kind
    val cold = Seq(Gen.Search, Gen.Append, Gen.Query).map { k =>
      val t0 = System.nanoTime()
      request(Gen.Block.indexOf(k).toLong)
      k -> (System.nanoTime() - t0) / 1e9
    }.toMap
    resetIndex()
    // warm-up, outside the window: one block while the JIT settles
    Gen.Block.indices.foreach(i => request(Gen.Block.size.toLong + i))
    resetIndex()
    ctx.heapCheckpoint()
    searches.clear()
    // whole blocks: every block runs the same request mix on the same index
    val samples = ctx.window(minOps = 2 * Gen.Block.size, block = Gen.Block.size, resetIndex _)(i =>
      request(2L * Gen.Block.size + i))
    def of(k: String) = samples.filter(_._1 == k).map(_._2)
    val blocks = samples.grouped(Gen.Block.size).filter(_.size == Gen.Block.size).map(_.map(_._2).sum).toSeq
    ctx.metric("throughput_per_s", Gen.Block.size / Stats.median(blocks), "1/s")
    ctx.metric("p50_ms", 1000 * Stats.median(of(Gen.Search)), "ms")
    ctx.metric("heap_after_gc_peak_mb", ctx.heapAfterGcPeakMb, "MB")
    val (st1, sp) = Stats.tail(of(Gen.Search))
    val (qt, qp) = Stats.tail(of(Gen.Query))
    ctx.metric("search_p50_ms", 1000 * Stats.median(of(Gen.Search)), "ms")
    ctx.metric("search_tail_ms", 1000 * st1, "ms")
    ctx.metric("search_tail_percentile", sp, "pct")
    ctx.metric("search_samples", of(Gen.Search).size, "count")
    ctx.metric("query_p50_s", Stats.median(of(Gen.Query)), "s")
    ctx.metric("query_tail_s", qt, "s")
    ctx.metric("query_tail_percentile", qp, "pct")
    ctx.metric("query_samples", of(Gen.Query).size, "count")
    ctx.metric("append_p50_ms", 1000 * Stats.median(of(Gen.Append)), "ms")
    ctx.coldMinusWarm(cold, samples)
    if (ctx.trace.enabled) {
      val n = of(Gen.Search).size.max(1)
      // the query embedding alone, through the same public embedder
      val t0 = System.nanoTime()
      searches.takeRight(n).foreach(s => IngestPass.Embedder.embed(Seq(s.text)))
      val embedUs = (System.nanoTime() - t0) / 1e3 / n
      ctx.metric("pipeline.search.embed_us", embedUs, "us")
      ctx.metric("pipeline.search.exec_ms", ctx.trace.busyS(Gen.Search) * 1000 / n - embedUs / 1000, "ms")
      ctx.metric("pipeline.append.busy_ms",
        ctx.trace.busyS(Gen.Append) * 1000 / of(Gen.Append).size.max(1), "ms")
    }
    checks(ctx, st.base, searches.toSeq)
    writeOracleSample(ctx, st.tables)
  }

  def files(dir: Path): Set[Path] = {
    val s = Files.list(dir)
    try s.iterator.asScala.toSet finally s.close()
  }

  /** Brute-force cosine top-k over `rows`. Cosine is accumulated left
    * to right in double, as `VectorSearch.cosineSim` does; ties break
    * on chunk id. */
  def bruteTopK(rows: Seq[Row], q: Array[Float], k: Int): Seq[(String, Double)] = {
    val qd = q.map(_.toDouble)
    val nq = math.sqrt(qd.foldLeft(0.0)((a, x) => a + x * x))
    rows.map { row =>
      var dot = 0.0; var nr = 0.0; var j = 0
      while (j < qd.length) { val x = row.emb(j).toDouble; dot += x * qd(j); nr += x * x; j += 1 }
      row.chunkId -> dot / (math.sqrt(nr) * nq)
    }.sortBy { case (id, s) => (-s, id) }.take(k)
  }

  def checks(ctx: Ctx, base: Seq[Row], searches: Seq[SearchLog]): Unit = {
    val bad = searches.filterNot { s =>
      val want = bruteTopK(base ++ s.appended, IngestPass.Embedder.embedOne(s.text), TopK)
      want.map(_._1) == s.got.map(_._1) &&
        want.zip(s.got).forall { case ((_, a), (_, b)) => math.abs(a - b) <= 1e-9 }
    }
    ctx.check("serve.search_equals_brute_force", searches.nonEmpty && bad.isEmpty,
      s"${bad.size}/${searches.size} searches differ from brute-force cosine top-$TopK")
    // a chunk searched verbatim has cosine 1 with itself: it must rank first
    val after = searches.filter(_.afterAppend)
    def seen(s: SearchLog) = s.got.headOption.exists(g => s.appended.exists(_.chunkId == g._1))
    ctx.check("serve.searches_see_appends", after.nonEmpty && after.forall(seen),
      s"${after.count(!seen(_))}/${after.size} searches for an appended chunk did not rank an " +
        "appended chunk first")
  }

  /** Results of the sampled queries that have oracle SQL, written as
    * parquet next to an `oracle_sql.json` and a `tables` file naming the
    * generated tables, for the DuckDB comparison the launcher runs after
    * the JVM exits. */
  def writeOracleSample(ctx: Ctx, tables: String): Unit = {
    val dir = ctx.workDir.resolve("oracle")
    Files.createDirectories(dir)
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => Queries.contains(k) }
    oracle.keys.foreach { name =>
      SparkEntry.queries(name)(ctx.spark, tables).write.mode("overwrite").parquet(dir.resolve(name).toString)
      ctx.dropBlocks()
    }
    val json = oracle.toSeq.sortBy(_._1).map { case (k, v) =>
      "\"" + k + "\":\"" + v.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\"" }.mkString("{", ",", "}")
    Files.write(dir.resolve("oracle_sql.json"), json.getBytes(StandardCharsets.UTF_8))
    Files.write(dir.resolve("tables"), tables.getBytes(StandardCharsets.UTF_8))
  }
}
