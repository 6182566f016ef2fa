package graftbench

import java.nio.file.Path

import graft.operators.{Dedup, PrefixJoin}
import org.apache.spark.sql.functions._

/** Workload `dedup`: the corpus → cluster-representatives job over a
  * generated Zipf long-tail corpus with planted near duplicates, a
  * tail of long documents, and an eval set checked for containment.
  * Every step is a public operator entry point, materialized by
  * collecting its (small) output. */
object DedupLoad {
  val Docs = 800
  val LongDocs = 1
  val EvalDocs = 100
  val Jaccard = 0.7
  val Containment = 0.8
  val SizeBand = 40L
  val Steps = Seq("prefix_jaccard", "blocked_jaccard", "containment", "minhash", "components")

  final case class PassOut(prefix: Map[(Long, Long), Double], blocked: Map[(Long, Long), Double],
      contained: Map[(Long, Long), Double], minhash: Map[(Long, Long), Double],
      labels: Map[Long, Long])

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val (corpus, docsPath, evalPath) = Main.setups(ctx) { dir =>
      val c = Gen.dedupCorpus(ctx.seed, Docs, LongDocs, EvalDocs)
      def write(ds: Seq[Gen.DedupDoc], p: Path) =
        ds.map(d => (d.id, d.text, d.lang)).toDF("doc_id", "text", "lang")
          .withColumn("n_tok", size(split(trim($"text"), "\\s+")).cast("long"))
          .write.parquet(p.toString)
      write(c.docs, dir.resolve("docs"))
      write(c.eval, dir.resolve("eval"))
      ((c, dir.resolve("docs").toString, dir.resolve("eval").toString), c.digest)
    }
    // what the operators persisted is released after each pass, outside
    // its time; two warm-up passes, because pass times keep falling for
    // several passes after the cold one
    val (times, last) = ctx.batch(Docs, warmups = 2, "dedup_docs_per_s", ctx.dropBlocks _) { i =>
      ctx.op(s"dedup pass $i") {
        ctx.trace.span("dedup.pass", i)(onePass(ctx, docsPath, evalPath, i))._1
      }
    }

    if (ctx.trace.enabled) {
      val n = times.size.toDouble
      Steps.foreach { s =>
        val l = ctx.trace.layer(s"operators.$s")
        ctx.metric(s"operators.$s.busy_s", ctx.trace.busyS(s"operators.$s") / n, "s")
        ctx.metric(s"operators.$s.shuffle_bytes", l.shuffleWrite / n, "bytes")
      }
      ctx.metric("operators.components.jobs", ctx.trace.layer("operators.components").jobs / n, "count")
      val ratio = Steps.map(s => ctx.trace.busyS(s"operators.$s")).sum / times.sum
      ctx.metric("operators.stage_sum_over_wall", ratio, "ratio")
      ctx.check("dedup.stage_sum_within_5pct", ratio >= 1 - IngestLoad.StageSumTolerance && ratio <= 1.0,
        f"step busy_s sum to $ratio%.4f of the pass wall time")
      last.foreach { o =>
        ctx.metric("operators.prefix_jaccard.pairs", o.prefix.size.toDouble, "pairs")
        ctx.metric("operators.blocked_jaccard.pairs", o.blocked.size.toDouble, "pairs")
        ctx.metric("operators.containment.pairs", o.contained.size.toDouble, "pairs")
        ctx.metric("operators.minhash.pairs", o.minhash.size.toDouble, "pairs")
        ctx.metric("operators.components.pairs", o.labels.count { case (id, rep) => id == rep }.toDouble,
          "clusters")
        ctx.metric("operators.minhash.recall",
          o.prefix.keySet.count(o.minhash.contains).toDouble / math.max(1, o.prefix.size), "ratio")
      }
    }
    last.foreach(o => checks(ctx, corpus, o))
  }

  def onePass(ctx: Ctx, docsPath: String, evalPath: String, req: Long): PassOut = {
    val spark = ctx.spark
    import spark.implicits._
    val t = ctx.trace
    val docs = spark.read.parquet(docsPath)
    def collectPairs(df: org.apache.spark.sql.DataFrame, v: String) =
      df.select($"id_a", $"id_b", col(v).cast("double")).as[(Long, Long, Double)].collect()
        .map { case (a, b, x) => (a, b) -> x }.toMap
    val prefix = t.span("operators.prefix_jaccard", req) {
      collectPairs(PrefixJoin.jaccardPairsPrefix(spark, docs, "doc_id", "text", Jaccard), "jaccard")
    }._1
    val blocked = t.span("operators.blocked_jaccard", req) {
      collectPairs(Dedup.jaccardPairs(docs, "doc_id", "text", "lang", "n_tok", SizeBand, Jaccard), "jaccard")
    }._1
    val contained = t.span("operators.containment", req) {
      val eval = spark.read.parquet(evalPath)
      collectPairs(PrefixJoin.containmentPairsPrefix(spark, eval.unionByName(docs), "doc_id", "text",
          Containment, minSize = 5)
        .filter($"id_a" >= Gen.EvalIdBase && $"id_b" < Gen.EvalIdBase), "containment")
    }._1
    val minhash = t.span("operators.minhash", req) {
      collectPairs(Dedup.minhashPairsExact(spark, docs, "doc_id", "text", threshold = Jaccard), "jaccard")
    }._1
    val labels = t.span("operators.components", req) {
      val pairs = (prefix.keySet ++ blocked.keySet ++ minhash.keySet).toSeq.toDF("id_a", "id_b")
      Dedup.connectedComponents(docs.select($"doc_id"), "doc_id", pairs)
        .select($"id", $"rep").as[(Long, Long)].collect().toMap
    }._1
    PassOut(prefix, blocked, contained, minhash, labels)
  }

  // ---------------------------------------------------------------- checks

  def tokens(text: String): Set[String] = text.trim.split("\\s+").filter(_.nonEmpty).toSet

  def checks(ctx: Ctx, c: Gen.DedupCorpus, o: PassOut): Unit = {
    val toks = c.docs.map(d => d.id -> tokens(d.text)).toMap
    val lang = c.docs.map(d => d.id -> d.lang).toMap
    val ntok = c.docs.map(d => d.id -> d.text.trim.split("\\s+").count(_.nonEmpty).toLong).toMap
    def jac(a: Long, b: Long): Double = {
      val i = (toks(a) intersect toks(b)).size.toDouble
      i / (toks(a).size + toks(b).size - i)
    }
    ctx.check("dedup.prefix_recall_planted", c.planted.subsetOf(o.prefix.keySet),
      s"${(c.planted -- o.prefix.keySet).size} of ${c.planted.size} planted pairs missing")
    ctx.check("dedup.blocked_recall_planted", c.planted.subsetOf(o.blocked.keySet),
      s"${(c.planted -- o.blocked.keySet).size} of ${c.planted.size} planted pairs missing")
    ctx.check("dedup.containment_recall_planted", c.plantedContained.subsetOf(o.contained.keySet),
      s"${(c.plantedContained -- o.contained.keySet).size} of ${c.plantedContained.size} planted excerpts missing")

    // brute force on a seeded subsample (plus every planted pair's members)
    val r = Gen.rng(ctx.seed, 21)
    val sample = (Seq.fill(300)(c.docs(r.below(c.docs.size)).id) ++
      c.planted.toSeq.take(40).flatMap { case (a, b) => Seq(a, b) }).distinct.sorted
    val inS = sample.toSet
    def restrict(m: Map[(Long, Long), Double]) = m.filter { case ((a, b), _) => inS(a) && inS(b) }
    def near(a: Map[(Long, Long), Double], b: Map[(Long, Long), Double]) =
      a.keySet == b.keySet && a.forall { case (k, v) => math.abs(v - b(k)) <= 1e-4 }
    val bruteJ = (for (a <- sample; b <- sample if a < b; j = jac(a, b) if j > Jaccard)
      yield (a, b) -> j).toMap
    ctx.check("dedup.prefix_equals_brute_force", near(restrict(o.prefix), bruteJ),
      s"spark ${restrict(o.prefix).size} pairs on the subsample, brute force ${bruteJ.size}")
    val bruteB = bruteJ.filter { case ((a, b), _) =>
      lang(a) == lang(b) && math.abs(ntok(a) - ntok(b)) <= SizeBand }
    ctx.check("dedup.blocked_equals_brute_force", near(restrict(o.blocked), bruteB),
      s"spark ${restrict(o.blocked).size} pairs on the subsample, brute force ${bruteB.size}")
    ctx.check("dedup.minhash_exact_on_subsample",
      restrict(o.minhash).forall { case (k, v) => bruteJ.get(k).exists(j => math.abs(j - v) <= 1e-4) },
      "minhash reported a pair the brute force rejects")

    val evalToks = c.eval.map(d => d.id -> tokens(d.text))
    val bruteC = (for {
      (e, te) <- evalToks if te.size >= 5; s <- sample
      v = (te intersect toks(s)).size.toDouble / te.size if v > Containment
    } yield (e, s) -> v).toMap
    val sparkC = o.contained.filter { case ((_, b), _) => inS(b) }
    ctx.check("dedup.containment_equals_brute_force", near(sparkC, bruteC),
      s"spark ${sparkC.size} pairs against the subsample, brute force ${bruteC.size}")

    // union-find over the same pair union: every id labelled with its component's min id
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    (o.prefix.keySet ++ o.blocked.keySet ++ o.minhash.keySet).foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val wrong = c.docs.count(d => !o.labels.get(d.id).contains(find(d.id)))
    ctx.check("dedup.components_match_union_find", wrong == 0 && o.labels.size == c.docs.size,
      s"$wrong of ${c.docs.size} documents carry the wrong representative")
  }
}
