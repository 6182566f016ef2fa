package graft.operators

import scala.util.hashing.MurmurHash3

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM training-data curation (project
  * north star, BASELINE.json): exact, fingerprint, MinHash+LSH,
  * SimHash, and n-gram/word-set Jaccard similarity join.
  *
  * Scale design (100 TB):
  *  - exact/fingerprint dedup is a hash groupBy — one shuffle keyed
  *    on the digest, map-side partial aggregation applies;
  *  - MinHash/SimHash candidate generation is the LSH band trick: a
  *    shuffle keyed on (band, bandHash) buckets, NEVER an all-pairs
  *    join; verification runs only on bucket-cohabiting candidates;
  *  - the brute-force similarity joins keep an explicit blocking key
  *    (lang/size, label) so the self-join is block-diagonal, not N².
  */
object Dedup {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The canonical r4 convention — see [[graft.functions.TextFunctions.r4]]. */
  private def r4(c: Column): Column = graft.functions.TextFunctions.r4(c)

  // ---------- candidate generation (shared by MinHash / SimHash / LSH) ----------

  /** Buckets of `cap`+ members, for callers that want to log/inspect
    * what [[bucketCandidates]] is about to star-link. Degenerate
    * buckets are a data property (boilerplate corpora) — surfacing
    * them is an explicit diagnostic, not driver-side logging buried
    * in an operator.
    */
  def megaBuckets(keys: DataFrame, keyCols: Seq[String], cap: Int): DataFrame =
    keys.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") > cap)

  /** Candidate (id_a < id_b) pairs by bucket cohabitation, with a
    * mega-bucket cap. Buckets with ≤ cap members contribute all
    * within-bucket pairs (Σ bucket² cost — the LSH contract). Buckets
    * over the cap would go quadratic on degenerate input (thousands
    * of identical boilerplate docs landing in one bucket), so they
    * contribute STAR pairs instead — every member against the
    * bucket's min id, linear in bucket size. For dedup purposes the
    * star preserves the connected component (all members remain
    * reachable through the representative); pairwise similarity
    * output loses only member↔member edges of buckets that are
    * near-cliques anyway. Verification stays exact downstream.
    */
  private[graft] def bucketCandidates(
      keys: DataFrame,
      idCol: String,
      keyCols: Seq[String],
      cap: Int,
      strict: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(cap > 1, "bucket cap must exceed 1")

    // One skinny aggregation up front: how many buckets would star-link?
    // Star-linking silently weakens pairwise output (see scaladoc), so
    // tripping the cap must be OBSERVABLE — a log line in the default
    // mode, a failure in strict mode — never a silent degradation.
    val nMega = megaBuckets(keys, keyCols, cap).count()
    if (nMega > 0 && strict) throw new IllegalStateException(
      s"$nMega bucket(s) exceed cap=$cap; strict mode forbids star-linking " +
        "(pairwise output would lose member-member edges of over-cap buckets)")
    if (nMega == 0) {
      // no over-cap bucket: skip the size window entirely; distinct
      // still reconciles the same pair meeting in several buckets
      val small = keys.select(keyCols.map(col) :+ col(idCol): _*)
      return small.as("l").join(small.as("r"),
          keyCols.map(k => col(s"l.$k") === col(s"r.$k")).reduce(_ && _) &&
            col(s"l.$idCol") < col(s"r.$idCol"))
        .select(col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b"))
        .distinct()
    }
    log.warn(s"bucketCandidates: $nMega bucket(s) over cap=$cap will star-link " +
      "members to the bucket representative (component-preserving, pairwise-lossy)")

    val w = Window.partitionBy(keyCols.map(col): _*)
    val sized = keys
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__min", min(col(idCol)).over(w))

    val small = sized.filter(col("__n") <= cap)
      .select(keyCols.map(col) :+ col(idCol): _*)
    val allPairs = small.as("l").join(small.as("r"),
        keyCols.map(k => col(s"l.$k") === col(s"r.$k")).reduce(_ && _) &&
          col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b"))

    val starPairs = sized.filter(col("__n") > cap && col(idCol) =!= col("__min"))
      .select(col("__min").as("id_a"), col(idCol).as("id_b"))

    allPairs.union(starPairs).distinct()
  }

  /** Candidate (id_a < id_b) pairs from per-row BAND-KEY VECTORS —
    * the shared core of MinHash/SimHash/hyperplane banded LSH.
    * `keyed` must have columns `id: long, keys: array<int>` (one key
    * per band, equal lengths). Each pair is emitted from exactly its
    * FIRST band whose bucket both rows share and is under the cap
    * (the codegen [[graft.functions.FirstBandCollision]] filter runs
    * in-task during the bucket self-join) — no cross-band duplicate
    * rows ever reach a shuffle, which on near-dup-saturated corpora
    * is a ~20× reduction over emit-everywhere + distinct. Over-cap
    * buckets star-link members to the bucket min id (linear,
    * component-preserving — see [[bucketCandidates]]); the final
    * distinct only reconciles star pairs with the grid.
    */
  private[graft] def bandedCandidates(
      keyed: DataFrame,
      bucketCap: Int,
      strict: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = keyed.sparkSession
    import spark.implicits._
    graft.functions.FirstBandCollision.register(spark)
    import graft.functions.FirstBandCollision.first_band_collision

    val rows = keyed.select($"id", $"keys", posexplode($"keys").as(Seq("band", "key")))
    // deliberately NOT persisted: the signature pass above is cheaper
    // to recompute (0.4 s at sf0.1) than the InMemoryRelation decode
    // its three consumers would pay — measured 18.1 vs 14.8 s on q28

    // Eager pre-check on the skinny (|V|·bands)-row key table: when no
    // bucket exceeds the cap — every non-degenerate corpus — the whole
    // mega machinery (size window, per-row flags, star union, final
    // distinct) is dead weight, and the distinct alone is the
    // operator's largest shuffle. One cheap aggregation job here buys
    // a plan where first-band-collision output IS the final pair set.
    // The count doubles as the degradation signal: star-linking in the
    // mega path is pairwise-lossy, so tripping the cap either logs
    // (default) or fails (strict) — never silently.
    val nMega = rows.groupBy($"band", $"key").agg(count(lit(1)).as("n"))
      .filter($"n" > bucketCap).count()
    if (nMega > 0 && strict) throw new IllegalStateException(
      s"$nMega LSH bucket(s) exceed cap=$bucketCap; strict mode forbids " +
        "star-linking (exact pairwise semantics would degrade for those buckets)")
    if (nMega == 0) {
      // repartition on the bucket key BEFORE the self-join: the input
      // is typically a handful of file splits, and a broadcast
      // self-join would evaluate the entire Σ bucket² candidate
      // stream on those few tasks (measured 3× slower than the
      // window path at sf0.1) — the skinny shuffle here is megabytes
      // and buys full-width parallelism
      val small = rows.repartition($"band", $"key")
        .withColumn("megas", array_repeat(lit(false), size($"keys")))
      return small.as("l").join(small.as("r"),
          $"l.band" === $"r.band" && $"l.key" === $"r.key" && $"l.id" < $"r.id" &&
            first_band_collision($"l.keys", $"r.keys", $"l.megas", $"l.band"))
        .select($"l.id".as("id_a"), $"r.id".as("id_b"))
    }
    log.warn(s"bandedCandidates: $nMega LSH bucket(s) over cap=$bucketCap will " +
      "star-link members to the bucket min id (component-preserving, pairwise-lossy)")

    val w = Window.partitionBy($"band", $"key")
    val sized = keyed
      .select($"id", $"keys", posexplode($"keys").as(Seq("band", "key")))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("bmin", min($"id").over(w))

    // per-row flags: which of MY bands landed in an over-cap bucket —
    // collisions there emit star pairs, so they must not suppress
    // emission from a later normal bucket
    val megas = sized.groupBy($"id").agg(
      transform(array_sort(collect_list(struct($"band", ($"n" > bucketCap).as("m")))),
        s => s.getField("m")).as("megas"))

    val small = sized.filter($"n" <= bucketCap)
      .join(megas, "id")
      .select($"id", $"band", $"key", $"keys", $"megas")
    val gridPairs = small.as("l").join(small.as("r"),
        $"l.band" === $"r.band" && $"l.key" === $"r.key" && $"l.id" < $"r.id" &&
          first_band_collision($"l.keys", $"r.keys", $"l.megas", $"l.band"))
      .select($"l.id".as("id_a"), $"r.id".as("id_b"))

    val starPairs = sized.filter($"n" > bucketCap && $"id" =!= $"bmin")
      .select($"bmin".as("id_a"), $"id".as("id_b"))

    // distinct is cheap here: gridPairs are already exact-once; it
    // only dedups star pairs across bands / against the grid
    gridPairs.union(starPairs).distinct()
  }

  // ---------- exact ----------

  /** One row per distinct content hash: representative (min id), dup
    * count. `groupBy(md5)` — shuffle carries (digest, partial agg).
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.Par.spread(df)
      .groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Keep one representative (min id) per normalized-content
    * fingerprint. Single scan + one fp-keyed shuffle via a
    * partitioned window — a groupBy+semi-join formulation reads the
    * input twice and evaluates the md5/regexp projection on both
    * sides (measured 2× slower at sf0.1).
    */
  def fingerprintDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.Par.spread(df)
      .withColumn("fp", TextFunctions.fingerprint(col(textCol)))
      .withColumn("keep", min(col(idCol)).over(Window.partitionBy(col("fp"))))
      .filter(col(idCol) === col("keep"))
      .drop("fp", "keep")
  }

  // ---------- MinHash + LSH ----------

  /** Deterministic MinHash signatures over word k-shingles.
    * numHashes universal-hash permutations of a murmur base hash.
    */
  final case class MinHasher(numHashes: Int = 64, shingleSize: Int = 3, seed: Int = 42)
      extends Serializable {
    private val prime = 2305843009213693951L // 2^61 - 1
    private val rnd = new scala.util.Random(seed)
    private val as: Array[Long] = Array.fill(numHashes)(1 + math.abs(rnd.nextLong()) % (prime - 1))
    private val bs: Array[Long] = Array.fill(numHashes)(math.abs(rnd.nextLong()) % prime)

    def shingles(text: String): Set[Int] =
      if (text == null) Set.empty
      else {
        val toks = text.split("\\s+").filter(_.nonEmpty)
        if (toks.length < shingleSize) Set(MurmurHash3.arrayHash(toks, seed))
        else toks.sliding(shingleSize).map(s => MurmurHash3.arrayHash(s, seed)).toSet
      }

    /** (a*b) mod 2^61-1 without 128-bit overflow: fold the high word
      * using 2^64 ≡ 8 and the low word's top bits using 2^61 ≡ 1.
      * (A plain `(a*h + b) % prime` wraps at 2^64 first — the result
      * would not be the universal hash it claims to be.)
      */
    @inline private def mulmod61(a: Long, b: Long): Long = {
      val hi = Math.multiplyHigh(a, b)
      val lo = a * b
      var r = 8L * hi + (lo & prime) + (lo >>> 61)
      while (r >= prime) r -= prime
      r
    }

    def signature(text: String): Array[Long] =
      signatureOfHashes(shingles(text).iterator.map(_.toLong & 0xffffffffL))

    /** Signature over pre-tokenized features — used by the
      * exact-verify path so the MinHash features are BY CONSTRUCTION
      * the same token set the verification (and the SQL oracle)
      * measures Jaccard on.
      */
    def signatureOfTokens(toks: Iterable[String]): Array[Long] =
      signatureOfHashes(toks.iterator.map(t => MurmurHash3.stringHash(t, seed).toLong & 0xffffffffL))

    /** Same, over 64-bit feature hashes (e.g. xxhash64 of tokens). */
    def signatureOfLongs(feats: Iterable[Long]): Array[Long] =
      signatureOfHashes(feats.iterator.map(h => (h & Long.MaxValue) % prime))

    private def signatureOfHashes(hashes: Iterator[Long]): Array[Long] = {
      val sig = Array.fill(numHashes)(Long.MaxValue)
      for (h <- hashes) {
        var i = 0
        while (i < numHashes) {
          var v = mulmod61(as(i), h) + bs(i)   // < 2p: one conditional subtract
          if (v >= prime) v -= prime
          if (v < sig(i)) sig(i) = v
          i += 1
        }
      }
      sig
    }

    def estJaccard(a: Array[Long], b: Array[Long]): Double = {
      var m = 0; var i = 0
      while (i < numHashes) { if (a(i) == b(i)) m += 1; i += 1 }
      m.toDouble / numHashes
    }
  }

  /** MinHash-LSH near-duplicate pairs.
    *
    * shingle → signature (mapPartitions, one pass) → explode to
    * (band, hash(bandSlice)) keys → shuffle on band key → pairs within
    * buckets → distinct → estimate Jaccard from signatures, keep
    * ≥ threshold. Candidate generation cost is Σ bucket² — bounded by
    * band tuning (bands × rowsPerBand = numHashes), not by N².
    */
  def minhashPairs(
      spark: SparkSession,
      df: DataFrame,
      idCol: String,
      textCol: String,
      hasher: MinHasher = MinHasher(),
      bands: Int = 16,
      threshold: Double = 0.7,
      bucketCap: Int = 10000,
      strict: Boolean = false): DataFrame = {
    import spark.implicits._
    require(hasher.numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = hasher.numHashes / bands

    val sigs = graft.Par.spread(df.select(col(idCol).cast("long"), col(textCol)))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) => (id, hasher.signature(text)) }
      }.toDF("id", "sig").persist()  // reused by band-keys and verify; lifetime = returned plan's

    val bandKeys = sigs.as[(Long, Array[Long])].flatMap { case (id, sig) =>
      sig.grouped(rowsPerBand).zipWithIndex.map { case (slice, b) =>
        (b, MurmurHash3.arrayHash(slice, 17), id)
      }
    }.toDF("band", "bucket", "id")

    val cands = bucketCandidates(bandKeys, "id", Seq("band", "bucket"), bucketCap, strict)

    cands
      .join(sigs.select($"id".as("id_a"), $"sig".as("sig_a")), "id_a")
      .join(sigs.select($"id".as("id_b"), $"sig".as("sig_b")), "id_b")
      .select($"id_a", $"id_b", $"sig_a", $"sig_b")  // USING joins reorder — pin
      .as[(Long, Long, Array[Long], Array[Long])]
      .map { case (a, b, sa, sb) => (a, b, hasher.estJaccard(sa, sb)) }
      .toDF("id_a", "id_b", "est_jaccard")
      .filter($"est_jaccard" >= threshold)
      .select($"id_a", $"id_b", r4($"est_jaccard").as("est_jaccard"))
  }

  /** MinHash-LSH near-dup pairs with EXACT Jaccard verification —
    * the oracle-checkable variant. Candidates come from the band
    * trick exactly as [[minhashPairs]], but the MinHash features are
    * the document's distinct whitespace tokens (the same set the
    * verification measures), and every candidate is verified with an
    * exact sorted-merge intersect, so the output equals the
    * brute-force all-pairs Jaccard join up to LSH recall.
    *
    * Recall: with numHashes=64 and bands=32 (2 rows/band), a pair at
    * the default threshold 0.7 is missed with probability
    * (1 − 0.7²)^32 ≈ 4·10⁻¹⁰ — full recall for any practical corpus,
    * while candidate generation stays Σ bucket², never N².
    *
    * Cost shape, tuned on a near-dup-saturated corpus (the sf0.1
    * fixture has 4.8M true pairs among 5k docs — DuckDB's single-node
    * all-pairs join takes 133 s on it):
    *  - a near-dup pair collides in MOST of its 32 bands; emitting
    *    every collision and `distinct()`-ing shuffles ~20× the true
    *    pair count. The bucket self-join is instead filtered by the
    *    codegen [[graft.functions.FirstBandCollision]] predicate —
    *    each pair is emitted from exactly its first joinable band,
    *    in-task, before anything is shuffled;
    *  - tokens are verified as sorted xxhash64 values, not strings:
    *    the merge compares longs, and a 64-bit collision perturbing
    *    one intersection count happens with p < 1e-11 per pair
    *    (|A|·|B| / 2⁶⁴), vanishing even over millions of pairs;
    *  - the verify joins hit the persisted skinny (id, hashes) table,
    *    which AQE broadcasts at these sizes — candidate pairs never
    *    drag token arrays through a shuffle.
    *
    * Measured dead ends (round 7, sf0.1, cold 14.8 s baseline — kept
    * here so they aren't re-litigated): the 2-row bands are the cost
    * of exactness (the band threshold (1/32)^(1/2) ≈ 0.18 floods
    * 12.3M candidates for 48k true pairs, but r=4/b=16 would miss
    * ~1% of threshold-level pairs and break the oracle); verifying
    * those candidates via a broadcast HashMap + early-abort merge in
    * mapPartitions ran 19.5 s (boxing + the typed boundary cost more
    * than the codegen joins, whose 3× sorted-merge evaluation looks
    * wasteful on the plan but is allocation-free); a typed single-
    * evaluation verify ran 15.6 s (parity — the merge isn't the
    * bottleneck); persisting the exploded band-key rows ran 18.1 s
    * (InMemoryRelation decode beats recomputing a 0.4 s signature
    * pass three times, but loses). The join-verify plan above IS the
    * measured optimum of the shapes tried.
    */
  /** Per-row band-key vector for [[minhashPairsExact]]: MinHash
    * signature over the sorted-distinct xxhash64 token array, sliced
    * into `bands` and each slice collapsed to one 32-bit key. Pure
    * function of (toks, hasher, bands) — content-stampable, so a
    * corpus's signature frame can be built once and served from the
    * [[graft.ArtifactCache]] across runs (the q28 artifact).
    */
  def bandKeys(toksDf: DataFrame, hasher: MinHasher, bands: Int): DataFrame = {
    require(hasher.numHashes % bands == 0, "bands must divide numHashes")
    val spark = toksDf.sparkSession
    import spark.implicits._
    val rowsPerBand = hasher.numHashes / bands
    toksDf.select(col("id"), col("toks")).as[(Long, Seq[Long])]
      .map { case (id, ts) =>
        val keys = hasher.signatureOfLongs(ts).grouped(rowsPerBand)
          .map(slice => MurmurHash3.arrayHash(slice, 17)).toArray
        (id, keys)
      }.toDF("id", "keys")
  }

  def minhashPairsExact(
      spark: SparkSession,
      df: DataFrame,
      idCol: String,
      textCol: String,
      hasher: MinHasher = MinHasher(numHashes = 64, shingleSize = 1),
      bands: Int = 32,
      threshold: Double = 0.7,
      bucketCap: Int = 10000,
      strict: Boolean = false,
      pretokenized: Option[DataFrame] = None,
      prekeyed: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    require(hasher.numHashes % bands == 0, "bands must divide numHashes")
    graft.functions.SortedIntersectCount.register(spark)
    import graft.functions.SortedIntersectCount.sorted_intersect_count

    // tokens hashed to 64 bits ONCE per row, shared by signature
    // computation and exact verification (identical feature set by
    // construction). `pretokenized` (idCol + `toks` =
    // sort_array(array_distinct(transform(tokens(text), xxhash64))),
    // i.e. THIS select, materialized) lets several set-similarity
    // operators over one corpus share a single tokenization pass —
    // long arrays decode far cheaper from parquet than the raw text
    // re-split (and than string-token arrays).
    val toks = (pretokenized match {
      case Some(pt) =>
        graft.Par.spread(pt.select(col(idCol).cast("long").as("id"), col("toks")))
      case None =>
        graft.Par.spread(df.select(col(idCol).cast("long").as("id"), col(textCol)))
          .select(col("id"),
            sort_array(array_distinct(transform(
              TextFunctions.tokens(col(textCol)), t => xxhash64(t)))).as("toks"))
    })
      .withColumn("nt", size(col("toks")))
      .persist()                    // band-keys + two verify joins; lifetime = returned plan's

    // per-row band-key vector (kept whole for first-collision dedup);
    // `prekeyed` (id, keys = THIS bandKeys frame, materialized) lets
    // the signature build be a content-stamped artifact — the verify
    // joins below stay per-run against the fused `toks`
    val keyed = prekeyed.getOrElse(bandKeys(toks, hasher, bands))

    val hydrated = bandedCandidates(keyed, bucketCap, strict)
      .join(toks.select($"id".as("id_a"), $"toks".as("toks_a"), $"nt".as("nt_a")), "id_a")
      .join(toks.select($"id".as("id_b"), $"toks".as("toks_b"), $"nt".as("nt_b")), "id_b")
      // size-ratio prune (see PrefixJoin.fusedJoin proof) before the O(|toks|) merge
      // (an early-abort merge variant — bail once the remaining
      // elements cannot reach the threshold — measured SLOWER here,
      // r18: 23.4 s vs 17.5 s isolated; the fixture's ~23-token sets
      // make the merge 46 cheap steps, and the per-iteration bound
      // check cost more than the aborted tail saved)
      .filter(least($"nt_a", $"nt_b") > lit(threshold) * greatest($"nt_a", $"nt_b"))

    // Threshold test with ONE merge per candidate. The naive shape —
    // withColumn("jaccard", inter/(na+nb-inter)).filter($"jaccard" > t)
    // — gets alias-substituted and pushed into the join CONDITION,
    // where the division's two `inter` occurrences are codegen'd as
    // two independent sorted-merge loops, plus a third in the
    // surviving projection (r19 plan audit: 3 merges/candidate).
    // For t = k/10 (every declared threshold) the double comparison
    // i/(s-i) > t is EQUIVALENT to the integer test (10+k)·i > k·s:
    // when i/(s-i) ≠ k/10 the rational margin is ≥ 1/(10(s-i)),
    // ~1e-7 even at a million tokens, dwarfing the ≤1-ulp division
    // error; when equal, the correctly-rounded division yields
    // exactly double(k/10) and the strict > is false on both sides.
    val k10 = math.round(threshold * 10)
    val filtered =
      if (k10 / 10.0 == threshold)
        hydrated.filter(
          lit(10 + k10) * sorted_intersect_count($"toks_a", $"toks_b") >
            lit(k10) * ($"nt_a" + $"nt_b"))
      else
        hydrated
          .withColumn("inter", sorted_intersect_count($"toks_a", $"toks_b").cast("double"))
          .filter($"inter" / ($"nt_a" + $"nt_b" - $"inter") > threshold)

    filtered
      .withColumn("inter2", sorted_intersect_count($"toks_a", $"toks_b").cast("double"))
      .withColumn("jaccard", $"inter2" / ($"nt_a" + $"nt_b" - $"inter2"))
      .select($"id_a", $"id_b", r4($"jaccard").as("jaccard"))
  }

  // ---------- SimHash ----------

  /** A document → 64-bit-or-narrower SimHash. Implementations share
    * the feature scheme (unigram + space-joined bigram tokens on
    * `\s+` splits, the Charikar STOC'02 construction) and differ only
    * in the per-feature hash family; [[simhashPairs]] is agnostic —
    * the pigeonhole guarantee (any pair within Hamming distance d
    * shares ≥1 of d+1 bit blocks) holds for any fixed-width hash,
    * including ones whose top bits are constant zero.
    */
  sealed trait SimHashFn extends Serializable {
    /** Number of meaningful low bits (the rest are always 0). */
    def nBits: Int
    protected def featureHash(f: String): Long
    final def simhash(text: String): Long = {
      if (text == null) return 0L
      val toks = text.split("\\s+").filter(_.nonEmpty)
      val acc = new Array[Int](nBits)
      def add(f: String): Unit = {
        val h = featureHash(f)
        var i = 0
        while (i < nBits) { if (((h >>> i) & 1L) == 1L) acc(i) += 1 else acc(i) -= 1; i += 1 }
      }
      var i = 0
      while (i < toks.length) {
        add(toks(i)); if (i + 1 < toks.length) add(toks(i) + " " + toks(i + 1)); i += 1
      }
      var out = 0L
      i = 0
      while (i < nBits) { if (acc(i) > 0) out |= (1L << i); i += 1 }
      out
    }

    final def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
  }

  /** 64-bit SimHash with a seeded MurmurHash3 feature family — the
    * production default (best bit diffusion).
    */
  final case class SimHasher(seed: Int = 42) extends SimHashFn {
    def nBits: Int = 64
    protected def featureHash(f: String): Long = {
      val h1 = MurmurHash3.stringHash(f, seed).toLong & 0xffffffffL
      val h2 = MurmurHash3.stringHash(f, seed + 1).toLong & 0xffffffffL
      (h1 << 32) | h2
    }
  }

  /** 61-bit SimHash whose feature hash is the same mod-(2^61−1)
    * polynomial the Winnow oracle replays in DuckDB HUGEINT
    * arithmetic (h = fold(h·B + charCode) mod P) — every bit of the
    * signature, and therefore every emitted pair, is independently
    * re-derivable by a second engine in plain SQL. This is the
    * oracle-replay twin of [[SimHasher]] (the q140/q149 discipline
    * applied to SimHash): q29 keeps the murmur family as the
    * compatibility surface, q154 hash-checks this one end-to-end.
    * charAt is a UTF-16 code unit where SQL's unicode() is a code
    * point — identical on the ASCII corpus, the same caveat the
    * winnow oracle documents.
    */
  final case class PolySimHasher() extends SimHashFn {
    def nBits: Int = 61
    protected def featureHash(f: String): Long =
      graft.functions.PolyHash.featureHash(f)
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxDistance.
    * Pigeonhole blocking: split 64 bits into (maxDistance+1) blocks —
    * any pair within distance shares ≥1 exact block, so candidates
    * come from equal-block buckets (a shuffle), never all pairs.
    * Candidate generation goes through [[bandedCandidates]] (the
    * pigeonhole blocks ARE bands): near-identical pairs share most
    * blocks, and first-collision dedup emits each pair once instead
    * of once per shared block. Block values are 64/nBlocks ≤ 16 bits
    * for any maxDistance ≥ 3, so they fit int band keys; for
    * maxDistance < 3 the sub-key folds the wide block through a hash.
    */
  def simhashPairs(
      spark: SparkSession,
      df: DataFrame,
      idCol: String,
      textCol: String,
      hasher: SimHashFn = SimHasher(),
      maxDistance: Int = 3,
      bucketCap: Int = 10000,
      strict: Boolean = false): DataFrame = {
    import spark.implicits._
    val nBlocks = maxDistance + 1
    val blockBits = 64 / nBlocks

    val hashes = graft.Par.spread(df.select(col(idCol).cast("long"), col(textCol)))
      .as[(Long, String)]
      .mapPartitions(it => it.map { case (id, t) => (id, hasher.simhash(t)) })
      .toDF("id", "sh").persist()    // reused by block-keys and pairs; lifetime = returned plan's

    val keyed = hashes.as[(Long, Long)].map { case (id, sh) =>
      val keys = Array.tabulate(nBlocks) { b =>
        val mask = if (blockBits == 64) -1L else (1L << blockBits) - 1
        val block = (sh >>> (b * blockBits)) & mask
        if (blockBits <= 31) block.toInt
        else MurmurHash3.productHash((block, b))    // wide block → int key
      }
      (id, keys)
    }.toDF("id", "keys")

    bandedCandidates(keyed, bucketCap, strict)
      .join(hashes.select($"id".as("id_a"), $"sh".as("sh_a")), "id_a")
      .join(hashes.select($"id".as("id_b"), $"sh".as("sh_b")), "id_b")
      // Hamming distance as pure Catalyst (popcount of xor) — stays
      // inside whole-stage codegen, no typed round-trip
      .withColumn("hamming", bit_count($"sh_a".bitwiseXOR($"sh_b")))
      .filter($"hamming" <= maxDistance)
      .select($"id_a", $"id_b", $"hamming")
  }

  // ---------- cluster resolution (pairs → canonical representative) ----------

  /** Connected components over a near-dup pair list: every document
    * gets the MIN doc id of its cluster as `rep` (singletons map to
    * themselves). This is the step after any pairwise dedup — "keep
    * one doc per cluster" needs the transitive closure, not pairs.
    *
    * Algorithm: distributed min-label propagation — each round every
    * node adopts the smallest label among itself and its neighbors;
    * converges in O(graph diameter) rounds, each one join of the
    * edge list against the (tiny, broadcastable) label table plus a
    * groupBy. Near-dup clusters are near-cliques (diameter ≤ ~2 —
    * every member overlaps the template), so this settles in 2-3
    * rounds; for adversarial long-chain graphs the O(log n)
    * large-star/small-star variant (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14) swaps in behind
    * the same signature.
    *
    * Every round is cut off with an EAGER `localCheckpoint` — the
    * non-negotiable part of iterative DataFrame algorithms: without
    * it round N's logical plan embeds rounds 1..N−1 plus the whole
    * upstream pair-generation lineage, and analysis/planning cost
    * grows until the driver stalls or overflows. Checkpointing makes
    * each round O(1) to plan; the convergence check is a |V|-sized
    * aggregate, never over edges. (localCheckpoint trades executor-
    * loss recomputability for speed — the right call for a bounded
    * iterative refinement; swap in reliable checkpoints on a
    * preemptible cluster.)
    */
  def connectedComponents(
      ids: DataFrame,
      idCol: String,
      pairs: DataFrame,
      maxIter: Int = 20): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    val edges = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
      .union(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
      .transform(graft.operators.Iterate.truncate)        // materialize once, cut the pair-gen lineage

    var labels = ids.select(col(idCol).cast("long").as("id"))
      .withColumn("rep", col("id")).transform(graft.operators.Iterate.truncate)
    // convergence signal: reps only ever DECREASE, so Σrep strictly
    // drops on any change — one scalar aggregate per round instead
    // of a next-vs-previous join. (Σ of n ids fits a long well past
    // 10^9 rows; use sum(rep as decimal) beyond that.)
    def repSum(df: DataFrame): Long =
      df.agg(coalesce(sum($"rep"), lit(0L))).head.getLong(0)   // empty input → 0, not NPE
    var prevSum = repSum(labels)
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      // smallest neighbor label per node (label table broadcast by AQE)
      val nbrMin = edges.join(labels.select($"id".as("v"), $"rep".as("vrep")), "v")
        .groupBy($"u").agg(min($"vrep").as("nrep"))
      val next = labels.join(nbrMin.select($"u".as("id"), $"nrep"), Seq("id"), "left")
        .select($"id", least($"rep", coalesce($"nrep", $"rep")).as("rep"))
        .transform(graft.operators.Iterate.truncate)
      val nextSum = repSum(next)
      labels = next
      done = nextSum == prevSum
      prevSum = nextSum
      iter += 1
    }
    // an unconverged result is silently WRONG (a component reported as
    // several clusters) — fail loudly; raise maxIter or switch to the
    // O(log n) star variant for pathological-diameter graphs
    if (!done) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds (graph diameter > maxIter)")
    labels
  }

  /** Connected components via alternating large-star / small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — the promised O(log² n)-round alternative to
    * [[connectedComponents]]'s O(diameter) label propagation, same
    * signature, same output contract (every id → component-min rep).
    *
    * Choose by graph shape: near-dup clusters are near-cliques, where
    * label propagation settles in 2-3 rounds and is cheaper per
    * round; citation/link/reply graphs carry long chains, where
    * diameter-many rounds is the scale-killer and the star rounds'
    * poly-log bound wins (a 256-node path converges in ~5 alternating
    * rounds here vs 255 propagation rounds).
    *
    * Round mechanics (edge-rewriting, no label table):
    *  - large-star: every node u points its LARGER neighbors at
    *    m = min(N(u) ∪ {u}) — long chains fold toward small ids;
    *  - small-star: orient edges (big → small), then point u and all
    *    its (smaller) neighbors except the minimum at that minimum —
    *    flattens local trees into stars.
    * Both preserve connectivity invariantly; the fixed point is a
    * star forest (child, root) with root = component min. Convergence
    * is detected by edge-set equality (two anti-joins over the
    * star-forest-sized frame); every round localCheckpoints (the same
    * iterative-lineage discipline as label propagation).
    */
  def connectedComponentsStar(
      ids: DataFrame,
      idCol: String,
      pairs: DataFrame,
      maxIter: Int = 25): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    def canon(df: DataFrame): DataFrame =
      df.select(least($"u", $"v").as("u"), greatest($"u", $"v").as("v"))
        .filter($"u" =!= $"v").distinct()
    var edges = canon(pairs.select(
        col("id_a").cast("long").as("u"), col("id_b").cast("long").as("v")))
      .transform(graft.operators.Iterate.truncate)
    var iter = 0
    var done = edges.isEmpty
    while (!done && iter < maxIter) {
      // large-star: m(u) over the symmetric neighborhood, larger
      // neighbors re-pointed at m
      val sym = edges.union(edges.select($"v".as("u"), $"u".as("v")))
      val mins = sym.groupBy($"u").agg(min($"v").as("mv"))
        .select($"u", least($"mv", $"u").as("m"))
      val large = canon(
        sym.join(mins, "u").filter($"v" > $"u")
          .select($"v".as("u"), $"m".as("v")))
      // small-star: orient big→small; u and all non-min neighbors
      // point at the minimum
      val oriented = large.select($"v".as("u"), $"u".as("v")) // u > v
      val mins2 = oriented.groupBy($"u").agg(min($"v").as("m"))
      val next = canon(
        oriented.join(mins2, "u")
          .select($"v".as("u"), $"m".as("v"))
          .union(mins2.select($"u", $"m".as("v"))))
        .transform(graft.operators.Iterate.truncate)
      done = next.except(edges).isEmpty && edges.except(next).isEmpty
      edges = next
      iter += 1
    }
    if (!done && iter >= maxIter) throw new IllegalStateException(
      s"connectedComponentsStar did not converge in $maxIter rounds")
    // fixed point: (root, child) edges with u = root (smaller id);
    // nodes absent from the forest are singletons
    val roots = edges.select($"v".as("id"), $"u".as("rep"))
      .union(edges.select($"u".as("id"), $"u".as("rep")))
      .groupBy($"id").agg(min($"rep").as("rep"))
    ids.select(col(idCol).cast("long").as("id"))
      .join(roots, Seq("id"), "left")
      .select($"id", coalesce($"rep", $"id").as("rep"))
  }

  /** Connected components with the algorithm CHOSEN BY GRAPH SHAPE —
    * the production entry point ([[connectedComponents]] and
    * [[connectedComponentsStar]] stay callable for explicit control).
    *
    * The probe is one skinny aggregate over the pair list (edge count
    * + approximate distinct endpoints at the default 5% rsd — sketch
    * error that small cannot move a 2× regime threshold, though a
    * graph sitting exactly at meanDeg≈4 may flip algorithm; both
    * produce the identical labeling, so only round counts change):
    * mean degree 2|E|/|V| separates
    * the two regimes this engine actually meets. Near-dup/template
    * graphs are near-cliques — mean degree well above 4, diameter
    * ≤ ~2, where label propagation settles in 2-3 cheap rounds and
    * the star rounds' edge rewriting is pure overhead. Chain-shaped
    * graphs (drifting near-copies, reply/citation links) sit at mean
    * degree ≈ 2, where diameter-many propagation rounds is the
    * scale-killer and the O(log² n) star bound wins (StarComponents
    * Spec: a 255-diameter path finishes in ≤12 alternating rounds
    * while propagation provably cannot). Both algorithms produce the
    * IDENTICAL labeling (component-min rep, proven equivalent in
    * StarComponentsSpec), so the selection is invisible to results —
    * only to round counts.
    */
  def connectedComponentsAuto(
      ids: DataFrame,
      idCol: String,
      pairs: DataFrame,
      maxIter: Int = 25): DataFrame = {
    // materialize pair generation ONCE: the probe is an extra
    // execution of the pairs plan, and a caller handing us the raw
    // similarity join (the documented production entry point) must
    // not pay the multi-second blocked self-join twice — the chosen
    // algorithm below re-reads the checkpointed rows, not the plan
    val mat = pairs.select(col("id_a"), col("id_b")).transform(graft.operators.Iterate.truncate)
    val st = mat
      .select(explode(array(col("id_a").cast("long"), col("id_b").cast("long"))).as("n"))
      .agg(count(lit(1)).as("ends"), approx_count_distinct(col("n")).as("nv"))
      .head()
    val ends = st.getLong(0)
    val nv = st.getLong(1)
    val meanDeg = if (nv == 0) 0.0 else ends.toDouble / nv
    if (meanDeg >= 4.0) connectedComponents(ids, idCol, mat, maxIter)
    else connectedComponentsStar(ids, idCol, mat, maxIter)
  }

  // ---------- similarity joins (word-set Jaccard, embedding cosine) ----------

  /** Word-set Jaccard pairs within a block: (id_a, id_b, jaccard) for
    * every pair with equal `blockCol`, |size_a − size_b| ≤ `sizeBand`
    * and exact Jaccard > threshold, r4-rounded. The prefix-filtered
    * kernel [[PrefixJoin.fusedJoin]] with the block equality (NULL
    * blocks pair with nothing) and the inclusive size band as its
    * extra join predicate.
    */
  def jaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: String,
      sizeCol: String,
      sizeBand: Long,
      threshold: Double): DataFrame = {
    require(sizeBand > 0)
    val rows = docs.select(col(idCol).as("id"), col(textCol).as("text"),
      col(blockCol).as("blk"), col(sizeCol).as("sz"))
    val ranked = PrefixJoin.rankedArrays(docs.sparkSession, rows, "id", "text", threshold,
      pretokenized = None, maxBroadcastVocab = 10000000L, carry = Seq("blk", "sz"))
    PrefixJoin.fusedJoin(ranked, threshold, PrefixJoin.JaccardBound,
      col("l.blk") === col("r.blk") && abs(col("l.sz") - col("r.sz")) <= sizeBand)
  }

  /** Embedding-cosine near-duplicate pairs under a blocking column —
    * grid-distributed (see [[cosineJoinGrid]]). Output is the exact
    * blocked all-pairs join; the plan is a bounded-task grid, not a
    * per-block nested loop, so fixed-cardinality blocking columns
    * (e.g. a 10-value label over 100 TB) no longer cap parallelism
    * at the block count.
    */
  def cosinePairs(
      embs: DataFrame,
      idCol: String,
      vecCol: String,
      blockCol: String,
      threshold: Double): DataFrame =
    cosineJoinGrid(embs, idCol, vecCol, threshold, Some(blockCol))

  /** EXACT cosine similarity join, grid-distributed — the
    * 1-Bucket-Theta shape (Okcan & Riedewald, SIGMOD'11): right rows
    * hash to one of `grid` cells; left rows replicate to every cell;
    * the (block, cell) equi-join gives each unordered pair exactly
    * one meeting (the `id_a < id_b` filter kills the mirror
    * orientation), and the codegen cosine evaluates once per pair.
    *
    * Why brute force at all: exact low-threshold cosine joins admit
    * NO sublinear candidate scheme with guaranteed recall — at the
    * fixture's measured similarity ceiling (max pairwise cosine 0.6,
    * every qualifying pair in [0.4, 0.6]) hyperplane-LSH banding
    * needs 1-bit bands for full recall, which is a disguised cross
    * join. The honest scale story is: work is Σ n_blk² FLOPs no
    * matter what; the grid spreads it over |blocks|·grid equal tasks
    * with bounded memory (each task holds one cell of the right side,
    * streaming the left), so a 1000-executor cluster stays saturated
    * even when the blocking column has 10 values — or none. The
    * APPROXIMATE scale path (for corpora that do have high-similarity
    * structure) is [[AnnSearch.bandJoin]] / [[AnnSearch.lshJoin]],
    * recall-bounded and spec-measured.
    */
  def cosineJoinGrid(
      embs: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      blockCol: Option[String] = None,
      grid: Int = 32): DataFrame = {
    graft.functions.GraftFunctions.register(embs.sparkSession)
    import graft.functions.GraftFunctions.cosine_sim
    require(grid > 0)
    val blk = blockCol.map(col).getOrElse(lit(0))
    val l = embs.select(col(idCol).cast("long").as("id_a"), col(vecCol).as("vec_a"), blk.as("blk"))
      .withColumn("cell", explode(sequence(lit(0), lit(grid - 1))))
    val r = embs.select(col(idCol).cast("long").as("id_b"), col(vecCol).as("vec_b"), blk.as("blk"))
      .withColumn("cell", pmod(hash(col("id_b")), lit(grid)))
    l.join(r, Seq("blk", "cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", cosine_sim(col("vec_a"), col("vec_b")))
      .filter(col("cos") > threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }
}
