package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Prefix-filtered exact set-similarity joins (the AllPairs/PPJoin
  * candidate scheme — Bayardo et al. WWW'07, Xiao et al. WWW'08):
  * order every document's distinct tokens by GLOBAL RARITY and join
  * only on each document's first `|A| − ⌈t·|A|⌉ + 1` tokens (its
  * "prefix").
  *
  * Guarantee (prefix-filter lemma): if J(A,B) ≥ t, the first common
  * token in the global order lies inside BOTH prefixes — were it past
  * A's prefix, the overlap would fit in A's ⌈t·|A|⌉−1 suffix slots,
  * below the t·|A| floor that J ≥ t implies. So the prefix equi-join
  * loses nothing, and candidates concentrate on RARE tokens (df-
  * ascending order), whose inverted lists are short — the pruning
  * complements LSH banding (Dedup.minhashPairsExact): deterministic
  * full recall without signatures, best on dup-sparse corpora where
  * rare tokens discriminate.
  *
  * Scale shape:
  *  - the global order is a VOCABULARY-sized artifact (one df
  *    aggregate), ranked by sort + zipWithIndex — contiguous global
  *    ordinals with NO single-partition window (plan-pinned in
  *    PlanAuditSpec);
  *  - token→rank translation joins the exploded stream — broadcast
  *    while the vocabulary fits `maxBroadcastVocab`, shuffle join
  *    past it (a 100M-term vocabulary is not broadcastable) —
  *    re-grouped with sort_array, so every sorted merge compares
  *    longs, not strings;
  *  - candidate volume is Σ_token df_prefix(token)², bounded by the
  *    rarity ordering; each prefix row carries its doc's whole rank
  *    array, so the exact verify runs inside the candidate join
  *    ([[fusedJoin]]) — there is no separate verify join.
  *
  * All three public set-similarity joins — [[jaccardPairsPrefix]],
  * [[containmentPairsPrefix]] and [[Dedup.jaccardPairs]] — are thin
  * wrappers over the one [[fusedJoin]] kernel.
  */
object PrefixJoin {

  /** Per-doc rarity-ranked token arrays (id, ranks, nt, p, carry…)
    * with prefix length p = nt − ⌈t·nt⌉ + 1 — the same bound serves
    * the Jaccard lemma (first common token of a qualifying pair falls
    * in both prefixes) and the containment lemma (a set whose
    * t-fraction is covered must share a prefix token with its
    * coverer). `carry` names doc-level columns of the token source
    * kept on each row for [[fusedJoin]]'s extra predicate. The result
    * is persist()ed: the kernel's two join sides read it; storage is
    * released by the caller's clearCache between queries (Bench/Verify
    * do), the repo-wide convention for operator-internal persists.
    */
  private[operators] def rankedArrays(
      spark: SparkSession,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      pretokenized: Option[DataFrame],
      maxBroadcastVocab: Long,
      carry: Seq[String] = Nil): DataFrame = {
    import spark.implicits._

    // ids keep their NATIVE type: a long cast would NULL string ids and
    // collapse the corpus into one NULL-keyed group.
    // `pretokenized` (idCol + `toks`, sorted distinct xxhash64 token
    // arrays) shares one materialized tokenization across operators
    // (q28/q78/q239); the prefix lemma needs only SOME fixed total
    // order, and hashed-token ranks equal the string ranks up to
    // vanishing 64-bit collisions (minhashPairsExact's bound).
    val (src, feature, tokens) = pretokenized match {
      case Some(pt) => (pt, "toks", col("toks"))
      case None =>
        (docs, textCol, array_distinct(graft.functions.TextFunctions.tokens(col(textCol))))
    }
    val kept = $"id" +: carry.map(col)
    val toks = graft.Par.spread(src.select(col(idCol).as("id") +: col(feature) +: carry.map(col): _*))
      .select(kept :+ explode(tokens).as("tok"): _*)

    // global rarity order: df ascending, token as tie-break → one
    // unique long rank per vocabulary term. sort + zipWithIndex, NOT a
    // row_number window: zipWithIndex numbers the range-partitioned
    // frame contiguously, so a 100M-term vocabulary never serializes
    // on one task. Row-generic: `tok` may be a string or a hashed long.
    val (rank, vocabSize) = GlobalOrder.zipRankWithCount(
      toks.groupBy($"tok").agg(count(lit(1)).as("df"))
        .sort($"df", $"tok")
        .select($"tok"),
      "r")

    // token→rank translation: broadcast the vocabulary only while it
    // fits `maxBroadcastVocab` (a 100M-term vocabulary is multi-GB);
    // past it the planner/AQE picks a shuffle join.
    val rankSide = if (vocabSize <= maxBroadcastVocab) broadcast(rank) else rank

    // per-doc rank array, ascending = rarest-first
    toks.join(rankSide, Seq("tok"))
      .groupBy(kept: _*)
      .agg(sort_array(collect_list($"r")).as("ranks"))
      .withColumn("nt", size($"ranks"))
      .withColumn("p", ($"nt" - ceil(lit(threshold) * $"nt") + 1).cast("int"))
      .persist()
  }

  /** The pair bound [[fusedJoin]] enforces. */
  private[operators] sealed trait Bound

  /** J(A,B) > t: symmetric, each unordered pair once with
    * `id_a < id_b`, A's prefix against B's prefix. */
  private[operators] case object JaccardBound extends Bound

  /** |A∩B| / |A| > t: directed, A's prefix against B's FULL rank
    * array; the `minSize` floor applies to the coveree A only. */
  private[operators] final case class ContainmentBound(minSize: Int) extends Bound

  /** The one exact set-similarity join kernel: a FULLY FUSED candidate
    * + verify join over [[rankedArrays]] rows. Prefix rows carry their
    * doc's whole rank array (the array rides the SKINNY pre-join
    * stream — Σ prefix rows, linear — never the quadratic candidate
    * stream), so every filter runs INSIDE the join, cheapest first:
    *  - `extra`: a caller predicate over columns carried on the ranked
    *    rows, addressed as `l.<col>` / `r.<col>`;
    *  - size prune: J > t forces min(na,nb) > t·max(na,nb) (I > t(a+b−I)
    *    ⟹ I(1+t) > t(a+b) ⟹ min(1+t) > t(min+max)); containment
    *    forces nb ≥ ⌈t·na⌉;
    *  - position filter: a shared token at 1-based positions (ia, ib)
    *    caps the overlap at ub = 1 + min(na−ia, nb−ib); a qualifying
    *    pair's FIRST shared token has ub ≥ |A∩B|, and |A∩B|·c > t·s
    *    (Jaccard: c = 1+t, s = na+nb; containment: c = 1, s = na), so
    *    pruning rows with ub·c < t·s − ε loses nothing (ε absorbs the
    *    double-arithmetic edge);
    *  - FIRST-COLLISION dedup (first_common_bounded === current token):
    *    each pair is emitted from exactly its first shared prefix token
    *    — no candidate-stream distinct(); a qualifying pair's first-
    *    common row always survives the position filter, so recall is
    *    intact;
    *  - the EXACT verify, one sorted merge per surviving row: for
    *    t = k/10 the double test equals the integer test ci·I > k·s
    *    (ci = 10+k for Jaccard, 10 for containment — the
    *    minhashPairsExact proof: margins ≥ 1/(10·den) dwarf the 1-ulp
    *    division error, equality rounds to the same double on both
    *    sides). Non-decimal thresholds fall back to comparing the
    *    double value itself.
    * Output: (id_a, id_b, jaccard | containment), r4-rounded.
    */
  private[operators] def fusedJoin(
      ranked: DataFrame,
      threshold: Double,
      bound: Bound,
      extra: Column = lit(true)): DataFrame = {
    val spark = ranked.sparkSession
    import spark.implicits._
    require(threshold > 0 && threshold < 1, "threshold in (0,1)")
    graft.functions.SortedIntersectCount.register(spark)
    import graft.functions.SortedIntersectCount.sorted_intersect_count
    graft.functions.FirstCommonBounded.register(spark)
    import graft.functions.FirstCommonBounded.first_common_bounded

    // one row per (doc, rank) in ranks[0, len), with its 1-based pos
    def postings(df: DataFrame, len: Column): DataFrame = df
      .select(col("*"), posexplode(slice($"ranks", lit(1), len)))
      .withColumnRenamed("col", "r")
      .withColumn("pos", $"pos" + 1)
    val (na, nb) = ($"l.nt", $"r.nt")
    val prefixes = postings(ranked, $"p")
    val (left, right, jaccard) = bound match {
      case JaccardBound => (prefixes, prefixes, true)
      case ContainmentBound(minSize) =>
        (prefixes.filter($"nt" >= minSize), postings(ranked, $"nt"), false)
    }
    val pairs =
      if (jaccard) $"l.id" < $"r.id" && least(na, nb) > lit(threshold) * greatest(na, nb)
      else $"l.id" =!= $"r.id" && nb >= ceil(lit(threshold) * na)
    // a qualifying pair's overlap I satisfies I·c > t·s
    val k10 = math.round(threshold * 10)
    val (c, ci, s) = if (jaccard) (1.0 + threshold, 10 + k10, na + nb) else (1.0, 10L, na)
    def value(i: Column): Column = if (jaccard) i / (na + nb - i) else i / na
    val inter = sorted_intersect_count($"l.ranks", $"r.ranks")
    val thresholdTest =
      if (k10 / 10.0 == threshold) lit(ci) * inter > lit(k10) * s
      else value(inter.cast("double")) > threshold
    left.as("l").join(right.as("r"),
        $"l.r" === $"r.r" && pairs && extra &&
        (lit(1.0) + least(na - $"l.pos", nb - $"r.pos")) * lit(c) >=
          lit(threshold) * s - lit(1e-7) &&
        first_common_bounded($"l.ranks", $"r.ranks", $"l.p",
          if (jaccard) $"r.p" else nb) === $"l.r" &&
        thresholdTest)
      .select($"l.id".as("id_a"), $"r.id".as("id_b"),
        graft.functions.TextFunctions.r4(value(inter.cast("double")))
          .as(if (jaccard) "jaccard" else "containment"))
  }

  /** All pairs with exact Jaccard(token sets) > threshold:
    * (id_a, id_b, jaccard), r4-rounded. Output is identical to the
    * brute-force all-pairs join (and to minhashPairsExact at the same
    * threshold, up to its vanishing LSH miss probability).
    */
  def jaccardPairsPrefix(
      spark: SparkSession,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      pretokenized: Option[DataFrame] = None,
      maxBroadcastVocab: Long = 10000000L): DataFrame =
    fusedJoin(rankedArrays(spark, docs, idCol, textCol, threshold, pretokenized,
      maxBroadcastVocab), threshold, JaccardBound)

  /** All DIRECTED pairs with exact containment |A∩B| / |A| >
    * threshold: (id_a, id_b, containment), r4-rounded — "B covers
    * ≥ t of A", the asymmetric set-overlap the dedup family needs for
    * subset/quotation detection where Jaccard fails (a doc fully
    * contained in a 10× larger one has Jaccard ≤ 0.1 but containment
    * 1.0). Candidate lemma (the JOSIE/PPJoin+ containment prefix): if
    * |A∩B| ≥ ⌈t·|A|⌉ then A's first |A| − ⌈t·|A|⌉ + 1 rarity-ordered
    * tokens intersect B SOMEWHERE — so candidates are A-prefix tokens
    * joined against B's FULL posting lists. The `minSize` floor
    * applies to the coveree (A) only: tiny sets are trivially
    * contained everywhere and would make the output quadratic.
    */
  def containmentPairsPrefix(
      spark: SparkSession,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      pretokenized: Option[DataFrame] = None,
      minSize: Int = 1,
      maxBroadcastVocab: Long = 10000000L): DataFrame =
    fusedJoin(rankedArrays(spark, docs, idCol, textCol, threshold, pretokenized,
      maxBroadcastVocab), threshold, ContainmentBound(minSize))
}
