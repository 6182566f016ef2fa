package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PrefixJoinSpec extends SparkSpec {

  private def corpus = {
    import spark.implicits._
    // near-dup pairs at several sizes plus unrelated docs
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"),       // J(1,2) = 5/7
      (3L, "one two three four five six seven eight"),
      (4L, "one two three four five six seven nine"),   // J(3,4) = 7/9
      (5L, "totally different words entirely here"),
      (6L, "alpha beta gamma delta epsilon zeta"))      // exact dup of 1
      .toDF("doc_id", "text")
  }

  test("prefix-filtered join equals brute force exactly") {
    import spark.implicits._
    val got = PrefixJoin.jaccardPairsPrefix(spark, corpus, "doc_id", "text", 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // brute force over the same token sets
    val toks = corpus.collect().map(r =>
      r.getLong(0) -> r.getString(1).split("\\s+").toSet).toMap
    val expected = (for {
      a <- toks.keys; b <- toks.keys if a < b
      inter = (toks(a) & toks(b)).size.toDouble
      j = inter / (toks(a).size + toks(b).size - inter)
      if j > 0.7
    } yield (a, b, math.floor(j * 10000 + 0.5) / 10000)).toSet
    assert(got === expected)
    assert(got.nonEmpty)   // the fixture plants pairs above threshold
  }

  test("common-token corpora yield no pairs: rarity prefixes are disjoint") {
    import spark.implicits._
    // 100 docs share 4 COMMON tokens of 7 (J=0.4 per pair, under
    // threshold); each prefix is the 2 rarest tokens (unique per doc),
    // so prefixes are disjoint and the join sees zero candidates
    // where all-pairs would verify 4,950
    val docs = (1L to 100L).map(i =>
      (i, s"common shared words everywhere unique_$i distinct_$i special_$i"))
      .toDF("doc_id", "text")
    val out = PrefixJoin.jaccardPairsPrefix(spark, docs, "doc_id", "text", 0.8)
    assert(out.count() === 0)
  }

  test("vocab-rank broadcast flips to a shuffle join past maxBroadcastVocab") {
    // same query, two gates: with the default threshold the rank
    // translation is a hinted broadcast; with the threshold below the
    // vocabulary size the hint must disappear so a 100M-term
    // vocabulary never forces a multi-GB broadcast. Auto-broadcast is
    // disabled so the planner can't re-broadcast the small test frame
    // on its own.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import s2.implicits._
    val docs = corpus.collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq.toDF("doc_id", "text")

    def plan(maxVocab: Long): String = {
      val df = PrefixJoin.jaccardPairsPrefix(
        s2, docs, "doc_id", "text", 0.7, maxBroadcastVocab = maxVocab)
      df.count()
      val p = df.queryExecution.executedPlan.toString
      s2.catalog.clearCache()
      p
    }
    // the vocab rank is the only hinted broadcast (the fused join has
    // no verify side to broadcast): hinted under the default gate,
    // dropped when the measured vocabulary exceeds it
    assert(plan(Long.MaxValue).contains("BroadcastHashJoin"))
    assert(!plan(0L).contains("BroadcastHashJoin"))
  }

  test("results identical whether the vocab rank broadcasts or shuffles") {
    val a = PrefixJoin.jaccardPairsPrefix(spark, corpus, "doc_id", "text", 0.7)
      .collect().map(_.toSeq).toSet
    val b = PrefixJoin.jaccardPairsPrefix(spark, corpus, "doc_id", "text", 0.7,
        maxBroadcastVocab = 0L)
      .collect().map(_.toSeq).toSet
    assert(a === b && a.nonEmpty)
  }

  test("containment join equals brute force: directed, minSize on the coveree only") {
    import spark.implicits._
    val rnd = new scala.util.Random(26)
    val vocab = ('a' to 'p').map(_.toString)
    // random sets plus planted ones: 200 (2 tokens, under minSize)
    // may cover others but is never a coveree — without the floor
    // (200, 201) would qualify at 1.0; 203 ⊂ 201 only one way round
    val docs = (1L to 80L).map { i =>
      (i, Seq.fill(1 + rnd.nextInt(9))(vocab(rnd.nextInt(vocab.size))).distinct.mkString(" "))
    } ++ Seq((200L, "x1 x2"), (201L, "x1 x2 x3 x4 x5 x6"), (203L, "x1 x2 x3"),
      (204L, "x1 x2 y9"))
    val sets = docs.map { case (id, t) => id -> t.split(" ").toSet }
    def r4(d: Double) = math.floor(d * 10000.0 + 0.5) / 10000.0
    // 0.6 runs the kernel's integer threshold test, 0.55 its double
    // fallback
    for (t <- Seq(0.6, 0.55)) {
      val got = PrefixJoin.containmentPairsPrefix(spark, docs.toDF("doc_id", "text"),
          "doc_id", "text", t, minSize = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val expect = (for {
        (a, sa) <- sets; (b, sb) <- sets
        if a != b && sa.size >= 3
        c = (sa & sb).size.toDouble / sa.size
        if c > t
      } yield (a, b, r4(c))).toSet
      assert(got === expect, s"threshold $t")
      assert(got.contains((203L, 201L, 1.0)) && !got.exists(p => p._1 == 201L && p._2 == 203L))
      assert(got.contains((204L, 200L, 0.6667)) && !got.exists(_._1 == 200L))
    }
  }

  test("string ids survive: no silent long-cast collapse") {
    import spark.implicits._
    val docs = Seq(
      ("doc-a", "alpha beta gamma delta epsilon zeta"),
      ("doc-b", "alpha beta gamma delta epsilon eta"),
      ("doc-c", "unrelated tokens only over here")).toDF("doc_id", "text")
    val got = PrefixJoin.jaccardPairsPrefix(spark, docs, "doc_id", "text", 0.7)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === Set(("doc-a", "doc-b")))
  }

  test("first_common_bounded: bounded sorted-merge first match, null when disjoint") {
    import spark.implicits._
    graft.functions.FirstCommonBounded.register(spark)
    import graft.functions.FirstCommonBounded.first_common_bounded
    import org.apache.spark.sql.functions._
    val df = Seq(
      (Seq(1L, 4L, 7L, 9L), Seq(2L, 4L, 7L), 4, 3),  // first common 4
      (Seq(1L, 4L, 7L, 9L), Seq(2L, 4L, 7L), 1, 3),  // bound cuts a: none in a[0,1)
      (Seq(1L, 4L, 7L, 9L), Seq(2L, 4L, 7L), 4, 1),  // bound cuts b: none vs b[0,1)
      (Seq(3L, 5L), Seq(1L, 2L), 2, 2)               // disjoint
    ).toDF("a", "b", "na", "nb")
    val got = df.select(
      first_common_bounded(col("a"), col("b"), col("na"), col("nb"))).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
    assert(got === Seq(Some(4L), None, None, None))
    // exhaustive vs brute force on random sorted-distinct arrays
    val rnd = new scala.util.Random(19)
    val rows = (0 until 200).map { _ =>
      val a = rnd.shuffle((0L until 30L).toList).take(rnd.nextInt(10) + 1).sorted
      val b = rnd.shuffle((0L until 30L).toList).take(rnd.nextInt(10) + 1).sorted
      (a, b, rnd.nextInt(a.size + 1), rnd.nextInt(b.size + 1))
    }
    val exp = rows.map { case (a, b, na, nb) =>
      val bs = b.take(nb).toSet
      a.take(na).find(bs.contains)
    }
    val out = rows.toDF("a", "b", "na", "nb").select(
      first_common_bounded(col("a"), col("b"), col("na"), col("nb"))).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
    assert(out === exp)
  }
}
