package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.text.TextAnalysis
import graft.sketch.{MinHash, SimHash, XxHash64}

/**
 * Training-data-pipeline operators over the `documents` table: exact and
 * near-duplicate detection, token/quality statistics, language ID and
 * fingerprinting. All built-in-function paths stay inside whole-stage
 * codegen; kernel UDFs appear only where the algorithm genuinely isn't
 * expressible (minhash/simhash/winnowing).
 *
 * Scale design: near-dup candidate generation never goes quadratic — MinHash
 * LSH explodes each doc into `bands` bucket keys and self-joins on the
 * bucket (shuffle on band hash; pairs only form within a bucket), and
 * SimHash joins on 16-bit blocks (pigeonhole: hamming ≤3 ⇒ some block
 * equal). Exact verification runs only on the candidate pairs.
 */
object TextQueries {

  /** q15: exact dedup census via content hash (sha2-256 of text). */
  def dedupExact(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val grouped = docs.groupBy(sha2(col("text"), 256).as("h"))
      .agg(count(lit(1)).as("c"))
    grouped.agg(
      sum(col("c")).as("n_docs"),
      count(lit(1)).as("distinct_texts"),
      sum(when(col("c") > 1, 1L).otherwise(0L)).as("dup_groups"),
      sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup_rows"))
  }

  private val MinhashK = 128
  private val Bands = 32
  private val RowsPerBand = 4

  private val ShingleN = 3

  private val ShingleHashSeed = 0x51a9e1eL

  /** |a ∩ b| over SORTED-distinct long arrays as the fused
    * [[graft.agg.IntersectCountSorted]] merge loop — value-identical to
    * `size(array_intersect(a, b))` on distinct inputs (count is
    * order-free; VectorExprSpec), with no per-pair hash set or
    * intersection array. Both set builders below sort ONCE per doc. */
  private def interCountSorted(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.agg.VectorExpressions.intersect_count_sorted(a, b)

  /** Docs with (id, minhash band hashes, xxhash64'd shingle set) — one
    * tokenize+shingle pass per document. The hashed shingle sets ride along
    * so the exact-verify stage intersects long arrays instead of
    * re-tokenizing both full texts per candidate pair (the round-1 q16
    * hot-spot: 15.7s, 2nd slowest gate query). */
  private def minhashSigs(docsIn: DataFrame): DataFrame = {
    val sigUdf = udf((text: String) => {
      val sh = TextAnalysis.shingles(text, ShingleN)
      val hashes = new Array[Long](sh.size)
      var i = 0
      val it = sh.iterator
      while (it.hasNext) { hashes(i) = XxHash64.hashString(it.next(), ShingleHashSeed); i += 1 }
      java.util.Arrays.sort(hashes) // intersect_count_sorted precondition
      (MinHash.bandHashes(MinHash.signature(sh, MinhashK), Bands, RowsPerBand), hashes)
    })
    // persisted: the plan references the signature table from THREE branches
    // (both sides of the bucket self-join + the verify-stage sets); without
    // it Spark re-runs the 128-hash MinHash UDF per branch — measured as
    // most of q16's 18 s at sf0.1. The persisted projection is signatures
    // only (no text), ~1 KB/doc; MEMORY_AND_DISK so a 100× corpus spills
    // instead of evicting.
    Tables.widen(docsIn.select(col("doc_id"), col("text")))
      .select(col("doc_id"), sigUdf(col("text")).as("mh"))
      .select(col("doc_id"), col("mh._1").as("bands"), col("mh._2").as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** q16: MinHash-LSH near-duplicate pairs, exact-Jaccard verified at τ=0.5
    * over word-trigram shingle sets. Candidates via band-bucket self-join
    * (the shuffle key is the band hash — no quadratic pair enumeration),
    * then the exact set-Jaccard filter. At b=32, r=4 a true τ≥0.9 near-dup
    * is missed with probability < 1e-14 — and this corpus's planted
    * near-dups all sit at J ≥ 0.9 with the next pair below 0.07. */
  def dedupMinhash(spark: SparkSession, sfDir: String): DataFrame =
    minhashPairsOver(Tables.documents(spark, sfDir))

  /** The q16 pipeline over an arbitrary (doc_id, text) frame — the shared
    * engine for q16/q37/q61 (driver corpus) and q84 (corpus ∪ planted
    * higher-quality twins). */
  private[queries] def minhashPairsOver(docsIn: DataFrame): DataFrame = {
    val docs = minhashSigs(docsIn)
    val buckets = docs.select(col("doc_id"),
      posexplode(col("bands")).as(Seq("band", "bh")))
    val a = buckets.select(col("band"), col("bh"), col("doc_id").as("id_a"))
    val b = buckets.select(col("band"), col("bh"), col("doc_id").as("id_b"))
    // dedup candidate pairs on narrow ids BEFORE rejoining texts: the
    // distinct shuffle moves 16 bytes/pair, not two documents/pair
    val candidateIds = a.select(col("band"), col("bh"), col("id_a"))
      .join(b.select(col("band"), col("bh"), col("id_b")), Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    // exact verify WITHOUT re-shingling: set Jaccard over the per-doc hashed
    // shingle arrays computed once in minhashDocs. A hash collision
    // perturbing a set size has probability ~|set|²/2⁶⁴ per pair (same
    // discipline as q18; verified value-equal with the string-set oracle).
    val sets = docs.select(col("doc_id"), col("sh"))
    candidateIds
      .join(sets.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sets.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("inter", interCountSorted(col("sh_a"), col("sh_b")))
      .withColumn("uni", size(col("sh_a")) + size(col("sh_b")) - col("inter"))
      .withColumn("jaccard_micro",
        floor(col("inter").cast("double") / col("uni").cast("double") * 1000000.0).cast("long"))
      .filter(col("jaccard_micro") >= 500000L)
      .select(col("id_a"), col("id_b"), col("jaccard_micro"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Per-doc 64-bit SimHash signatures, persisted (both self-join branches
    * of the blocked plan reference it; ~12 bytes/doc). */
  private def simhashDocs(spark: SparkSession, sfDir: String): DataFrame = {
    val shUdf = udf((text: String) => TextAnalysis.simhash(text))
    Tables.widen(Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text")))
      .select(col("doc_id"), shUdf(col("text")).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** SimHash near-dup pairs at hamming ≤ 3, via 16-bit-block pigeonhole
    * join (hamming ≤3 over 4 blocks ⇒ at least one block equal — the
    * shuffle key is (block, value), never a pair enumeration). */
  private[queries] def simhashPairsBlocked(docs: DataFrame): DataFrame = {
    val blocks = docs.select(col("doc_id"), col("sh"),
      explode(sequence(lit(0), lit(3))).as("blk"))
      .withColumn("blk_val", expr("(sh >> (blk * 16)) & 65535"))
    val a = blocks.select(col("blk"), col("blk_val"),
      col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = blocks.select(col("blk"), col("blk_val"),
      col("doc_id").as("id_b"), col("sh").as("sh_b"))
    val distUdf = udf((x: Long, y: Long) => SimHash.hammingDistance(x, y))
    a.join(b, Seq("blk", "blk_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), distUdf(col("sh_a"), col("sh_b")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** SimHash near-dup pairs (library surface; kernel covered in ScalaTest). */
  def dedupSimhash(spark: SparkSession, sfDir: String): DataFrame =
    simhashPairsBlocked(simhashDocs(spark, sfDir))

  /** q17: oracle-checkable SimHash gate — the blocked pigeonhole join must
    * equal a brute-force tiled all-pairs hamming scan over the same
    * signatures (SimHash itself is not SQL-expressible, so the DuckDB twin
    * mirrors the data-derived doc count and the parity verdict the Spark
    * side can only emit as 1 when the two independent plans agree).
    *
    * Scale shape (VERDICT r3 item 1): BOTH parity plans run over a
    * deterministic hash-selected subset whose divisor grows with n
    * ([[PairTiling.hashSubset]], ≈1024 docs at any scale — the q56
    * discipline), so the Ω(subset²) brute twin is constant-cost while the
    * corpus grows; at the verify scales (≤2500 docs) the subset is most of
    * the corpus, so the check loses nothing there. The production operator
    * ([[dedupSimhash]]) stays full-corpus and bucketed; completeness of the
    * blocked join does not vary by doc (same explode/join machinery), so
    * subset-exact parity pins it. One count() sizes the divisor (the
    * accepted scalar-action-at-build-time pattern). */
  def dedupSimhashParity(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = simhashDocs(spark, sfDir)
    val n = docs.count()
    val sub = PairTiling.hashSubset(docs, "doc_id", n)
    val blocked = simhashPairsBlocked(sub)
    val distUdf = udf((x: Long, y: Long) => SimHash.hammingDistance(x, y))
    val brute = PairTiling.allPairs(sub, "doc_id", Nil)
      .filter(distUdf(col("sh_a"), col("sh_b")) <= 3)
    docs.agg(count(lit(1)).as("n_docs")).withColumn("__k", lit(1))
      .join(PairTiling.pairParity(blocked, brute, "parity_ok")
        .withColumn("__k", lit(1)), Seq("__k"))
      .select(col("n_docs"), col("parity_ok"))
  }

  /** Word-bigram array (WITH multiplicity) of a space-split token array —
    * the single pairing definition shared by q18/q55 (which then hash and
    * dedup) and q51 (which keeps multiplicity for the repetition mass). */
  private def wordBigrams(toks: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    zip_with(
      slice(toks, lit(1), size(toks) - 1), slice(toks, lit(2), size(toks) - 1),
      (x, y) => concat_ws(" ", x, y))

  /** Per-doc distinct hashed bigram set + set size. Hashed to longs because
    * array ops over longs are ~5x cheaper than strings; collision odds
    * ~|set|²/2⁶⁴ per pair — verified value-equal with the string oracle. */
  private def bigramDocs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.widen(Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("source"), col("text")))
      .select(col("doc_id"), col("source"),
        sort_array(array_distinct(transform(wordBigrams(split(col("text"), " ")),
          b => xxhash64(b)))).as("bigrams"))
      .withColumn("n", size(col("bigrams")))

  /** Tiling groups for the low-threshold blocked path (and the number of
    * tasks one source block spreads over is G(G+1)/2 = 36). */
  private val JaccardTileG = 8

  /** Prefix filtering only pays above this threshold: the indexed prefix is
    * the first |x|−⌈t·|x|⌉+1 tokens, so at t=0.05 it is ~95% of every doc —
    * candidate volume barely drops while the df pass, the per-doc
    * (df, token) sort and two extra shuffles are all added cost (measured
    * round 2: 7.8 s → 35.7 s at sf0.1). Below this t the tiled path wins at
    * ANY block size. */
  private val PrefixCutoverMicro = 200000L

  /** Block-size arm of the cutover — MEASURED at both decades now
    * (round-4 grid + round-5 `tools/ScaleDecade`, tables in
    * BENCH_SCALING.md): under the interleaved bench the TILED path wins at
    * every threshold t ∈ {0.1..0.5} at gate block sizes (sf0.01/sf0.1 are
    * B = 25/250 docs per source block — sf0.1: 1.2–1.6 s vs 2.8–3.6 s), so
    * threshold alone never justifies the prefix path — BLOCK SIZE does.
    * Tiled work grows as Ω(B²) per block (pair formations) while the
    * prefix path's passes grow ~B·log B plus candidate volume in the
    * rare-token tail. Round 4 extrapolated the crossover from the B = 250
    * point alone (and mislabeled it B = 2500, inflating the estimate to
    * 8192); the round-5 decade corpus measured B = 1000 and B = 2500
    * directly with the HOF verify kernel: prefix won both, ratio curve
    * crossing 1 at B* ≈ 580 → constant 512. The `intersect_count_sorted`
    * fused verify (late round 5) then RE-MOVED the crossover: with the
    * per-pair hash-set/array allocation gone, the re-measured t = 0.3
    * cells read tiled 2.67 s vs prefix 2.98 s at B = 1000 and 11.35 s vs
    * 12.76 s at B = 2500 — tiled ahead by a flat ~1.12× at both decades,
    * because the integer size-ratio prune keeps the Ω(B²) term's constant
    * tiny and both paths now share the same cheap merge-loop verify on the
    * same surviving pairs. Round 5 extrapolated the crossover ≳ 4k from
    * that flat ratio; **round 6 MEASURED the B = 4000 and B = 6000 cells**
    * (`tools/JaccardBigB`, one cell per JVM so spill can't accumulate):
    * tiled 15.1 s vs prefix 62.7 s at B = 4000 and 28.4 s vs 223.4 s at
    * B = 6000 — tiled ahead 4.2× and 7.9×, prefix growing ~B³ while tiled
    * tracks its stated B². The reason is VOCABULARY DENSITY, not block
    * size: this corpus family draws from ≤961 possible bigrams, so every
    * prefix posting list's df grows ∝ B and the prefix candidate volume
    * Σ df² grows ∝ B² with a LARGER constant than tiled's size-pruned
    * B²/2 (plus the distinct + re-join passes). Prefix filtering pays
    * exactly when posting lists are SELECTIVE — the rare-token tail of a
    * realistic open vocabulary — so the block-size arm alone is the wrong
    * dispatch key past ~4k and the dispatcher now also requires measured
    * prefix selectivity (see [[PrefixMinDistinctPerPrefixSq]]). This
    * constant remains the small-block arm: below it tiled wins regardless
    * of vocabulary (measured at every B ≤ 2500 in every era). */
  private val PrefixMinAvgBlockDocs = 4096L

  /** Selectivity arm of the cutover (round 6): the prefix path is chosen
    * only when the candidate-generating posting lists are measurably
    * selective. Per block, tiled forms ~B²/2 pairs; uniform-list prefix
    * candidates are ~(B·p̄)²/(2·D) with p̄ = avg prefix tokens per doc =
    * (1−t)·avg_distinct_bigrams + 1 and D = distinct bigrams per block —
    * so prefix can only win when D ≫ p̄². Real df distributions are
    * Zipf-ish (Σ df² concentrates in the head, hurting prefix further) and
    * the measured misdispatch risk is asymmetric — picking tiled in a
    * prefix-favored regime cost ~1.12× in the HOF era, picking prefix in a
    * tiled-favored regime cost 4.2–7.9× at B = 4k/6k and a disk-spill
    * blowup at B = 10⁴ — so the rule demands a wide margin:
    * D ≥ this·p̄². A web-scale open vocabulary (D ~ 10⁶ per block, p̄² ~
    * 10³–10⁴) passes easily; this synthetic ≤961-bigram family never does,
    * matching every measured cell. The estimate is one linear aggregate
    * over the already-built per-doc distinct bigram arrays. */
  private val PrefixMinDistinctPerPrefixSq = 16L

  /** Broadcast ceiling for the prefix path's df>1 vocabulary join, in
    * ENTRIES (each a hashed-long bigram + long df; a broadcast
    * HashedRelation costs ~40-50 B/entry with hashing overhead): 8M
    * entries ≈ 350-400 MB — comfortably under Spark's executor-side
    * broadcast memory on any reasonably-sized cluster, while 10-100×
    * past it (web-corpus shared vocabularies) must NOT be broadcast.
    * Measured, not guessed, per corpus: the df>1 frame is persisted and
    * counted before the hint is chosen. */
  private[queries] val HotBroadcastMaxEntries = 8000000L

  /** Exact within-`source` word-bigram Jaccard join at threshold
    * `tMicro`/10⁶ — threshold-ADAPTIVE plan selection:
    *
    *  - t below [[PrefixCutoverMicro]]: an exact low-threshold set join is
    *    inherently Ω(surviving-pairs) WORK (prefix filtering is a no-op when
    *    the prefix is ~the whole doc — see above), so the right plan is the
    *    one that spreads that work: a triangle-TILED blocked all-pairs join
    *    ([[graft.queries.AnnQueries.cosineNearDup]]'s layout) with the
    *    integer-exact size-ratio prune. Each source block spreads over
    *    G(G+1)/2 even tasks instead of one straggler task per block, each
    *    pair is formed exactly once (no distinct), and the per-pair verify
    *    is one array intersection.
    *  - t at/above the cutover: AllPairs/PPJoin prefix filtering (Bayardo
    *    WWW'07; Xiao et al. WWW'08) with the POSITIONAL filter — still
    *    exact, candidates ~(1−t)² · rare-token dfs.
    *
    * Both paths produce identical results (the exact verify decides); only
    * the candidate plan differs. At genuine near-dup thresholds (τ ≥ 0.5)
    * prefer the q16 MinHash-LSH path.
    *
    * Dispatch (measured rounds 4–6, see [[PrefixMinAvgBlockDocs]] and
    * [[PrefixMinDistinctPerPrefixSq]]): tiled below t=0.2 at any size;
    * above it, tiled unless the average block outgrows ~4k docs AND the
    * vocabulary is measurably selective enough for prefix postings to
    * prune (D ≥ 16·p̄² per block — the round-6 B = 4k/6k cells showed
    * block size alone misdispatches 4.2–7.9× on dense vocabularies). The
    * block-shape estimate is one aggregate; the selectivity estimate is
    * one linear pass over the per-doc distinct bigram arrays, evaluated
    * ONLY when the block-size arm already favors prefix — at 100 TB both
    * are map-side passes, negligible next to either join. */
  def ngramJaccardJoin(spark: SparkSession, sfDir: String, tMicro: Long): DataFrame = {
    require(tMicro >= 1 && tMicro <= 1000000, s"tMicro out of (0,1]: $tMicro")
    if (tMicro < PrefixCutoverMicro) ngramJaccardTiled(spark, sfDir, tMicro)
    else {
      // block-shape arm first: footer-and-one-column work on the raw table
      // (the bigram tower is NOT built unless the block-size arm already
      // favors prefix — on every committed sf this resolves to tiled here)
      val shape = Tables.documents(spark, sfDir)
        .agg(count(lit(1)).as("n"),
          approx_count_distinct(col("source")).as("g")).head()
      val g = math.max(1L, shape.getLong(1))
      val avgBlock = shape.getLong(0) / g
      // selectivity arm, evaluated ONLY for big blocks: one linear pass
      // over the per-doc distinct bigram arrays for (avg set size,
      // distinct postings per block); an empty corpus aggregates avg to
      // null → dispatch tiled (nothing to win either way). The bigram
      // tower is built (and persisted) ONCE here and handed to whichever
      // path wins — the estimate and the join share the frame instead of
      // re-running the split/zip/hash tower (the round-1 q16 disease, in
      // dispatcher form: caught by round-6 review).
      if (avgBlock > PrefixMinAvgBlockDocs) {
        val bd = bigramDocs(spark, sfDir)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val sel = bd
          .select(col("source"), col("doc_id"), explode(col("bigrams")).as("bg"))
          .agg(approx_count_distinct(struct(col("source"), col("bg"))).as("d"),
            count(lit(1)).as("elems"),
            approx_count_distinct(col("doc_id")).as("docs")).head()
        val selective = sel.getLong(2) > 0L && {
          val distinctPerBlock = sel.getLong(0).toDouble / g
          // true mean set size = elements / docs (an avg over exploded
          // rows would be size-WEIGHTED — E[m²]/E[m], not E[m])
          val avgSetSize = sel.getLong(1).toDouble / sel.getLong(2)
          val prefixTokens = (1.0 - tMicro / 1e6) * avgSetSize + 1.0
          distinctPerBlock >=
            PrefixMinDistinctPerPrefixSq * prefixTokens * prefixTokens
        }
        if (selective) ngramJaccardPrefixOver(bd, tMicro)
        else ngramJaccardTiledOver(bd, tMicro)
      } else ngramJaccardTiled(spark, sfDir, tMicro)
    }
  }

  /** Explicit path selection — the measurement surface for the cutover grid
    * (graft.tools.JaccardCutover) and for callers that know their block
    * shape better than the heuristic does. Results are identical either
    * way (JaccardJoinSpec). */
  def ngramJaccardPath(spark: SparkSession, sfDir: String, tMicro: Long,
      usePrefix: Boolean): DataFrame =
    if (usePrefix) ngramJaccardPrefix(spark, sfDir, tMicro)
    else ngramJaccardTiled(spark, sfDir, tMicro)

  /** q18: exact bigram Jaccard at J ≥ 0.05 within source blocks. */
  def ngramJaccard(spark: SparkSession, sfDir: String): DataFrame =
    ngramJaccardJoin(spark, sfDir, 50000L)

  /** q55: exact bigram Jaccard at J ≥ 0.3, FORCED onto the PPJoin prefix
    * path. The adaptive dispatcher would route gate-sized blocks to the
    * tiled plan (the measured winner there); q55's role is plan COVERAGE —
    * it pins the prefix+positional machinery against the oracle end-to-end
    * at every round, the same slower-but-equal-twin role as q57/q58 for the
    * salted operators. Its gate cost is the honest price of that coverage
    * (~3 s at sf0.1 after the round-4 df>1 broadcast trim, down from 9 s). */
  def ngramJaccardHigh(spark: SparkSession, sfDir: String): DataFrame =
    ngramJaccardPath(spark, sfDir, 300000L, usePrefix = true)

  /** Jaccard verify + threshold over carried bigram arrays `bg_a`/`bg_b`. */
  private def jaccardVerify(pairs: DataFrame, tMicro: Long): DataFrame =
    pairs
      .withColumn("inter", interCountSorted(col("bg_a"), col("bg_b")))
      .withColumn("uni", size(col("bg_a")) + size(col("bg_b")) - col("inter"))
      .withColumn("jaccard_micro",
        floor(col("inter").cast("double") / col("uni").cast("double") * 1000000.0).cast("long"))
      .filter(col("jaccard_micro") >= tMicro)
      .select(col("id_a"), col("id_b"), col("jaccard_micro"))
      .orderBy(col("id_a"), col("id_b"))

  /** Low-threshold path: triangle-tiled blocked all-pairs
    * ([[PairTiling.allPairs]]) + size-ratio prune. Replication cost ~G/2×
    * of the (narrow) signature table through the shuffle; parallelism
    * ~G²/2× per block. The size-ratio prune is integer-exact:
    * J ≥ t ⟹ t ≤ min/max ⟹ 10⁶·min(|x|,|y|) ≥ t·10⁶·max. */
  private[queries] def ngramJaccardTiled(spark: SparkSession, sfDir: String, tMicro: Long): DataFrame =
    // persisted: PairTiling's left and right replication branches both read
    // it — uncached, the split/zip/hash bigram tower runs twice per pass
    // (cache lifecycle per the priorityStratumSurvivors note; gate runners
    // clearCache between queries)
    ngramJaccardTiledOver(bigramDocs(spark, sfDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK), tMicro)

  /** Tiled path over an already-built (persisted) bigram frame — shared by
    * the direct entry above and the dispatcher, which reuses the frame it
    * already built for the selectivity estimate. */
  private def ngramJaccardTiledOver(docs: DataFrame, tMicro: Long): DataFrame = {
    val pairs = PairTiling.allPairs(docs, "doc_id",
        Seq("source"), g = JaccardTileG)
      .filter(least(col("n_a"), col("n_b")) * 1000000L >=
        greatest(col("n_a"), col("n_b")) * tMicro)
      .select(col("id_a"), col("id_b"),
        col("bigrams_a").as("bg_a"), col("bigrams_b").as("bg_b"))
    jaccardVerify(pairs, tMicro)
  }

  /** High-threshold path: PPJoin prefix + positional filtering.
    *
    * 1. canonical global token order = (document frequency asc, hash asc)
    *    — rarest tokens first, so prefixes index the cold tail;
    * 2. index each doc's PREFIX: first |x| − ⌈t·|x|⌉ + 1 tokens in that
    *    order (integer ceil: ⌈t·n⌉ = (t·10⁶·n + 10⁶ − 1) div 10⁶ — no float
    *    ceil that could shorten the prefix and break the guarantee).
    *    PPJoin Lemma 1: J(x,y) ≥ t ⟹ |x∩y| ≥ ⌈t·max(|x|,|y|)⌉ ⟹ the two
    *    prefixes share ≥1 token → candidate recall exactly 1;
    * 3. candidates = prefix self-join on (source, token) + the size-ratio
    *    prune + the POSITIONAL filter (Xiao et al. §4): a matched token at
    *    1-based positions (i, j) bounds the overlap from above by
    *    1 + min(|x|−i, |y|−j); J ≥ t needs overlap ≥ α =
    *    ⌈t/(1+t)·(|x|+|y|)⌉, and for a true pair the FIRST shared prefix
    *    token satisfies the bound (no common tokens precede it), so keeping
    *    pairs where ANY matched occurrence passes is recall-1 and strictly
    *    tighter than prefix-only;
    * 4. distinct surviving pairs, re-join sets, exact verify. */
  private[queries] def ngramJaccardPrefix(spark: SparkSession, sfDir: String, tMicro: Long): DataFrame =
    // persisted: referenced by the df-count pass, the prefix pass and both
    // verify branches — uncached, the split/zip/hash tower re-runs per
    // branch (the round-1 q16 disease)
    ngramJaccardPrefixOver(bigramDocs(spark, sfDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK), tMicro)

  /** Prefix path over an already-built (persisted) bigram frame — shared
    * by the direct entry above and the dispatcher. */
  private def ngramJaccardPrefixOver(docs: DataFrame, tMicro: Long): DataFrame = {
    // n rides along from the per-doc array size (round 7): the window pass
    // below then computes ONLY the running row_number — the previous
    // count().over(doc) second window function forced whole-partition
    // buffering in the window operator for a number the array already knew
    val ex = docs.select(col("source"), col("doc_id"),
      col("n"), explode(col("bigrams")).as("bg"))
    val dfreq = ex.groupBy(col("bg")).agg(count(lit(1)).as("df"))
    // Only df>1 tokens can move a row off the (df=1, bg) default order, so
    // the join back onto the exploded bigram stream — the plan's largest
    // shuffle in round 3 (VERDICT item 3) — carries the df>1 MINORITY only,
    // broadcast when it fits; every unmatched row defaults to df=1. The
    // df>1 side is the cross-doc SHARED vocabulary (hashed longs,
    // ~16 B/entry after the partial-agg shuffle) — but that vocabulary
    // GROWS with corpus size, so the hint is gated on its measured
    // cardinality (the persisted frame is counted, one cheap action over
    // an aggregate the plan needs anyway): past
    // [[HotBroadcastMaxEntries]] the same left join runs as a shuffle
    // join with identical semantics instead of failing at Spark's
    // broadcast limit (ADVICE r4: the unconditional hint was the
    // suite's one unguarded data-dependent broadcast).
    val hot = dfreq.filter(col("df") > 1L)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hotN = hot.count()
    val hotSide = if (hotN <= HotBroadcastMaxEntries) broadcast(hot) else hot
    // prefix tokens per doc under the global (df, bg) order, with 1-based
    // positions — ONE window pass (rank + per-doc count share the keyed
    // sort), no per-doc array build/sort/re-explode: the first cut's
    // collect_list→sort_array→slice→posexplode materialized every doc's
    // token list just to flatten it again
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"), col("doc_id"))
    val pe = ex.join(hotSide, Seq("bg"), "left")
      .withColumn("df", coalesce(col("df"), lit(1L)))
      .withColumn("pos", row_number().over(wDoc.orderBy(col("df").asc, col("bg").asc)))
      // keep only the prefix: pos ≤ n − ⌈t·n⌉ + 1 (integer ceil via
      // integer div — float floor would round up past quotients ~2³³ and
      // shorten the prefix, voiding the recall-1 guarantee)
      .filter(col("pos") <=
        col("n") - expr(s"(n * ${tMicro}L + 999999) div 1000000") + 1L)
      .select(col("source"), col("doc_id"), col("n"), col("pos"), col("bg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candidateIds = pe.select(col("source"), col("bg"),
        col("doc_id").as("id_a"), col("n").as("na"), col("pos").as("pa"))
      .join(pe.select(col("source"), col("bg"),
        col("doc_id").as("id_b"), col("n").as("nb"), col("pos").as("pb")),
        Seq("source", "bg"))
      .filter(col("id_a") < col("id_b") &&
        least(col("na"), col("nb")) * 1000000L >=
          greatest(col("na"), col("nb")) * tMicro &&
        // positional filter, integer-exact: overlap bound 1+min(na−pa,nb−pb)
        // must reach α = ⌈t·(na+nb)/(1+t)⌉; for positive ints
        // ub ≥ ⌈A/B⌉ ⟺ ub·B ≥ A with A = t·10⁶-scaled numerator
        (lit(1L) + least(col("na") - col("pa"), col("nb") - col("pb"))) *
          (lit(1000000L) + tMicro) >= (col("na") + col("nb")) * tMicro)
      .select(col("id_a"), col("id_b"))
      .distinct()
    val sets = docs.select(col("doc_id"), col("bigrams"))
    val pairs = candidateIds
      .join(sets.select(col("doc_id").as("id_a"), col("bigrams").as("bg_a")), Seq("id_a"))
      .join(sets.select(col("doc_id").as("id_b"), col("bigrams").as("bg_b")), Seq("id_b"))
    jaccardVerify(pairs, tMicro)
  }

  /** q19: per-language token statistics — pure built-ins, fully SQL-mirrored. */
  def textStats(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    docs
      .withColumn("tokens", size(split(col("text"), " ")))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("tokens").cast("long")).as("total_tokens"),
        sum(length(col("text")).cast("long")).as("total_chars"),
        floor(avg(length(col("text")).cast("double")) * 1000000.0).cast("long")
          .as("avg_chars_micro"))
      .orderBy(col("lang"))
  }

  /** q20: BPE-ish regex token counts per language (regexp parity between
    * Spark's Java regex and DuckDB's RE2 holds for this pattern class). */
  def tokenCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    docs
      .withColumn("n_bpeish",
        size(regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0))))
      .withColumn("n_ws", size(split(col("text"), " ")))
      .groupBy(col("lang"))
      .agg(sum(col("n_bpeish").cast("long")).as("bpeish_tokens"),
        sum(col("n_ws").cast("long")).as("ws_tokens"))
      .orderBy(col("lang"))
  }

  /** q21: quality-score histogram (formula mirrored exactly in SQL:
    * thirds of length-saturation, lexical diversity, alpha-token ratio). */
  def qualityHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val toks = split(col("text"), " ")
    val nTok = size(toks).cast("double")
    val lengthNorm = least(lit(1.0), nTok / 100.0)
    val diversity = size(array_distinct(toks)).cast("double") / nTok
    // translate-based alpha test; differs from the regex only on a
    // trailing line terminator (see DedupClusterQuery)
    val alphaRatio = size(filter(toks, t =>
      (length(t) > 0) && (translate(t, "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz", "") === lit("")))).cast("double") / nTok
    val score = (lengthNorm + diversity + alphaRatio) / 3.0
    docs
      .withColumn("bucket", floor(score * 10.0).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("bucket"))
  }

  /** q22: heuristic language-ID distribution (kernel UDF). The stopword
    * argmax is pure arithmetic, so this has a full DuckDB oracle
    * (SparkEntry) in addition to TextAnalysisSpec's hand-labeled fixtures. */
  def langIdDistribution(spark: SparkSession, sfDir: String): DataFrame = {
    val langUdf = udf((text: String) => TextAnalysis.detectLanguage(text))
    Tables.documents(spark, sfDir)
      .groupBy(langUdf(col("text")).as("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang_pred"))
  }

  /** q47: deterministic stratified (per-language) uniform sample — the
    * training-mix builder's primitive (pick k docs per stratum uniformly,
    * reproducibly, with no RNG state). Sampling priority = md5 of the doc
    * id: identical bytes-in/hex-out in Spark and DuckDB (→ full oracle) and
    * uniform over the hash space (→ a uniform sample with a seedless,
    * stable derivation — re-runs and backfills pick the SAME docs).
    *
    * Scale shape: per-group top-k never window-sorts whole strata. A
    * counted hash cutoff (margin·k/N_g of the 32-bit prefix space) admits
    * ~margin·k survivors per stratum first; because fixed-width lowercase
    * hex compares stringwise exactly as the 128-bit value, every survivor
    * precedes every non-survivor in priority order, so survivors ⊇ exact
    * top-k whenever each stratum keeps ≥ min(k, N_g) — validated with one
    * count, margin ×4 on failure (the same cheap-pass-then-verify
    * discipline as SketchSelect; /root/reference/Simulation/FilteredSketch.cs
    * pre-filter shape). Only the ~margin·k survivors enter the rank. */
  def stratifiedSample(spark: SparkSession, sfDir: String): DataFrame = {
    val k = 20L
    val docs = Tables.documents(spark, sfDir)
      .select(col("lang"), col("doc_id"), col("n_chars"))
    val survivors = priorityStratumSurvivors(docs, "lang", k)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("pri").asc, col("doc_id").asc)
    survivors.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sampled"), sum(col("n_chars")).as("sample_chars"))
      .orderBy(col("lang"))
  }

  /** Rows holding, per stratum of `strata`, AT LEAST the min(k, N_g)
    * smallest md5 priorities (and nothing but small-priority rows) — the
    * shared cheap-cutoff-then-validate pass behind q47/q50. Adds columns
    * `pri` (md5 hex of doc_id) and `pri32` (its 32-bit prefix); because
    * fixed-width hex compares stringwise as the 128-bit value, the admitted
    * set is a PREFIX of each stratum's priority order, so ranking survivors
    * equals ranking the full stratum up to rank k.
    *
    * Cache lifecycle (applies to every persisted intermediate in this
    * package): Spark's CacheManager keys entries by canonicalized plan, so
    * repeat invocations of the same query REUSE one entry rather than
    * pinning new memory; the distinct-entry count is bounded by the query
    * set, storage is MEMORY_AND_DISK (evicts/spills, never OOMs), and the
    * gate runners (Verify/Bench) clearCache() between queries. */
  private def priorityStratumSurvivors(docsIn: DataFrame, strata: String,
      k: Long): DataFrame = {
    val spark = docsIn.sparkSession
    val docs = docsIn
      // null strata are excluded up front: they'd be counted by the groupBy
      // (null group) but dropped by the equi-join on the cutoff table, so
      // the validation could never reach min(k, n) for them — an infinite
      // margin loop instead of a defined semantics ("sample within known
      // strata")
      .filter(col(strata).isNotNull)
      .withColumn("pri", md5(col("doc_id").cast("string").cast("binary")))
      .withColumn("pri32", conv(substring(col("pri"), 1, 8), 16, 10).cast("long"))
      .cache()
    val totals = docs.groupBy(col(strata)).agg(count(lit(1)).as("n_g"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    var margin = 8L
    var survivors: DataFrame = null
    var ok = false
    while (!ok) {
      val m = margin
      // double arithmetic: the cutoff only needs to be ~margin·k/N_g of the
      // prefix space (the validate pass makes it exact), and 2³²·m·k
      // overflows long at large strata
      val cuts = totals.map { case (g, n) =>
        (g, if (m * k >= n) 1L << 32
            else math.min(1L << 32, ((1L << 32).toDouble * m * k / n).toLong + 1L))
      }
      val cutoffDf = spark.createDataFrame(cuts.toIndexedSeq).toDF(strata, "cut")
      survivors = docs.join(broadcast(cutoffDf), Seq(strata))
        .filter(col("pri32") < col("cut"))
      val got = survivors.groupBy(col(strata)).agg(count(lit(1)).as("c"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      ok = totals.forall { case (g, n) => got.getOrElse(g, 0L) >= math.min(k, n) }
      if (!ok) margin *= 4
    }
    // the cache existed for the validation loop's repeated counts; drop it
    // before returning so library callers don't accumulate one pinned entry
    // per distinct plan (ADVICE r2) — the caller's single downstream pass
    // re-derives the md5 tower once, against an uncached scan
    docs.unpersist()
    survivors.drop("cut")
  }

  /** q50 schedule length (slots of the epoch prefix the gate reports). */
  private val ScheduleK = 100L

  /** q50: deterministic weighted mixture schedule — the training-mix
    * interleave. Each source gets weight w ∈ 1..4 (derived from its name;
    * in production this is the mixture config) and its docs a uniform
    * deterministic order (md5 priority, as q47). Doc at within-source rank
    * rn is scheduled at position rn/w — smooth weighted round-robin, so a
    * weight-4 source appears 4× as often in any schedule prefix. Reported:
    * per-source doc count and first position within the first K slots.
    *
    * Scale shape: a source can place at most K docs in K slots, so only
    * each source's K smallest priorities can matter —
    * [[priorityStratumSurvivors]] admits exactly such a verified superset,
    * the rank window runs on ~margin·K rows per source, and the global
    * K-slot prefix is a TakeOrdered at K=100. Nothing scans or sorts whole
    * sources. */
  def mixtureSchedule(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("source"), col("doc_id"))
    val survivors = priorityStratumSurvivors(docs, "source", ScheduleK)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("pri").asc, col("doc_id").asc)
    survivors
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= ScheduleK)
      // DATA CONTRACT (ADVICE r2): mixture weights derive from the source
      // naming scheme `src<N>` (the stand-in for a mixture config). A
      // source that doesn't parse would silently weight NULL and mis-rank
      // the schedule — fail loudly instead, in-plan, on the first bad name
      .withColumn("weight",
        when(substring(col("source"), 4, 10).cast("int").isNull,
          raise_error(concat(lit("mixtureSchedule: source name not 'src<N>': "),
            col("source"))).cast("int"))
          .otherwise((substring(col("source"), 4, 10).cast("int") % 4 + 1).cast("int")))
      .withColumn("pos", col("rn").cast("double") / col("weight").cast("double"))
      .orderBy(col("pos"), col("source"), col("doc_id"))
      .limit(ScheduleK.toInt)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_scheduled"),
        floor(min(col("pos")) * lit(1000000.0)).cast("long").as("first_pos_micro"))
      .orderBy(col("source"))
  }

  /** q48 capacity: context-window budget in characters (a char proxy keeps
    * both engines exact; swap in token counts for a real tokenizer). */
  private val PackCapacity = 8192L

  /** q48 chunk span: docs per deterministic packing chunk. */
  private val PackSpan = 100L

  /** q48: deterministic sequence packing — greedy first-fit-in-order of
    * documents into fixed-capacity context windows (the pretraining
    * batch-builder step), reported per language as window count and fill.
    *
    * Greedy packing is inherently sequential, so the stream is cut into
    * DETERMINISTIC chunks (lang, doc_id div span) packed independently:
    * chunk boundaries are data-defined, not partition-defined, so the
    * result is engine-reproducible (recursive-CTE oracle) and the plan is
    * embarrassingly parallel — each (lang, chunk) packs in isolation with
    * at most one partially-filled window of boundary waste, amortized away
    * as span ≫ capacity/avg-doc. A doc larger than the capacity gets its
    * own (overfilled) window. At 100 TB: repartition on (lang, chunk) keys
    * spreads uniformly (chunk is dense), the packer is a single streaming
    * pass per partition with O(1) state, and the output is one row per
    * chunk — nothing accumulates. */
  def packWindows(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
      .select(col("lang"),
        floor(col("doc_id") / PackSpan).cast("long").as("chunk"),
        col("doc_id"), col("n_chars"))
    val packed = docs
      .repartition(col("lang"), col("chunk"))
      .sortWithinPartitions(col("lang"), col("chunk"), col("doc_id"))
      .select(col("lang"), col("chunk"), col("n_chars"))
      .as[(String, Long, Long)]
      .mapPartitions { it =>
        // sequential greedy pack via the pure GreedyPacker kernel
        // (property-tested in PackingKernelSpec); groups are contiguous
        // after the sort above, and a group buffers at most PackSpan sizes
        var curLang: String = null
        var curChunk = 0L
        var started = false
        val sizes = scala.collection.mutable.ArrayBuffer.empty[Long]
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long, Long, Long)]
        def flush(): Unit = if (started) {
          val arr = sizes.toArray
          out += ((curLang, curChunk, arr.length.toLong,
            graft.text.GreedyPacker.windowCount(arr, PackCapacity), arr.sum))
        }
        it.foreach { case (lang, chunk, n) =>
          if (!started || lang != curLang || chunk != curChunk) {
            flush(); curLang = lang; curChunk = chunk; started = true
            sizes.clear()
          }
          sizes += n
        }
        flush()
        out.iterator
      }.toDF("lang", "chunk", "n_docs", "n_windows", "chars")
    packed.groupBy(col("lang"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_windows")).as("n_windows"),
        floor(sum(col("chars")).cast("double") /
          (sum(col("n_windows")).cast("double") * PackCapacity) * 1000000.0)
          .cast("long").as("avg_fill_micro"))
      .orderBy(col("lang"))
  }

  /** q51: repetition-filter statistics — the Gopher-family "most common
    * n-gram mass" quality signal (Rae et al. 2021 §A1.1): per document,
    * the fraction of bigram OCCURRENCES (multiplicity kept — this is the
    * repetition measure, unlike q18's distinct sets) taken by the single
    * most frequent bigram; reported per language with the count of docs
    * above the 0.2 repetition threshold. Plain explode + two-level
    * aggregate — scale-safe (nothing per-doc quadratic), docs under 2
    * tokens drop out naturally (empty explode), mirrored 1:1 in SQL with
    * per-row-floored micros into the cross-row aggregates. */
  def repetitionStats(spark: SparkSession, sfDir: String): DataFrame = {
    val ex = Tables.documents(spark, sfDir)
      .select(col("lang"), col("doc_id"),
        explode(wordBigrams(split(col("text"), " "))).as("bg"))
    val perDoc = ex
      .groupBy(col("lang"), col("doc_id"), col("bg"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("lang"), col("doc_id"))
      .agg(max(col("c")).as("mx"), sum(col("c")).as("tot"))
      .select(col("lang"),
        floor(col("mx").cast("double") / col("tot").cast("double") * 1000000.0)
          .cast("long").as("mass_micro"))
    perDoc.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        floor(sum(col("mass_micro")).cast("double") / count(lit(1)).cast("double"))
          .cast("long").as("avg_mass_micro"),
        sum(when(col("mass_micro") >= 200000L, 1L).otherwise(0L))
          .as("hi_repetition_docs"))
      .orderBy(col("lang"))
  }

  /** Word 8-gram shingles of a token array (the decontamination unit —
    * long enough that a match means copied text, short enough to catch
    * partial quotes). Docs under 8 tokens yield an empty array. */
  private def wordShingles8(toks: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(size(toks) < 8, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(toks) - 7),
        i => concat_ws(" ", slice(toks, i, lit(8)))))

  /** q59: benchmark-contamination screen — the decontamination pass every
    * training pipeline runs before a data release: which corpus documents
    * contain text copied from a held-out benchmark set? Here the
    * "benchmark" is every 20th document (deterministic, mirrored in the
    * oracle, and — because the corpus plants near-duplicates — it actually
    * catches copies: 5 flagged docs at sf0.001, 2 at sf0.01); the screen
    * reports, per source, the total remaining docs and how many share ≥1
    * word-8-gram with the benchmark.
    *
    * Scale shape (the C4 FilteredSketch pattern in its pipeline role): the
    * benchmark shingle set rides to executors as a BLOOM filter (bits, not
    * strings — at 100 TB the benchmark suite is millions of shingles and
    * the bloom is ~KBs/M-shingles vs the set's GBs), every corpus shingle
    * is pre-screened by `bloom_contains` inside the scan, and only the
    * bloom-POSITIVE residue (fpp-bounded) reaches the exact broadcast-join
    * verify — so the expensive equi-join sees ~fpp·|shingles| rows instead
    * of all of them, while the final semantics stay EXACT (the bloom can
    * only admit extra candidates, never drop a true match; one-sided
    * error property-tested in HllBloomSpec). */
  def contaminationScreen(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        wordShingles8(split(col("text"), " ")).as("sh"))
    val bench = docs.filter(col("doc_id") % 20 === 0)
      .select(explode(col("sh")).as("s")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // size the bloom from the ACTUAL benchmark cardinality (one count()
    // at plan build, the accepted scalar-action pattern) — a fixed
    // expectedItems would silently saturate to fpp≈1 once the benchmark
    // outgrows it, turning the prefilter into a no-op (review r3 finding)
    val benchCount = math.max(1024L, bench.count())
    // the filter rides a scalar subquery: every row of a task reads the
    // same array, where a crossJoin of the one-row sketch frame would copy
    // the filter bytes into every probe row
    val bloom = bench.agg(graft.agg.SketchFunctions.bloom_sketch(col("s"),
      expectedItems = benchCount, fpp = 0.01)).scalar()
    val corpusShingles = docs.filter(col("doc_id") % 20 =!= 0)
      .select(col("doc_id"), col("source"), explode(col("sh")).as("s"))
      .filter(graft.agg.SketchFunctions.bloom_contains(bloom, col("s")))
    // exact verify of the bloom-positive residue only — no broadcast hint:
    // Spark broadcasts the bench side while it fits and falls back to a
    // shuffle join when a real benchmark suite doesn't
    val contaminated = corpusShingles
      .join(bench, Seq("s"))
      .select(col("doc_id"), col("source"))
      .distinct()
    val totals = docs.filter(col("doc_id") % 20 =!= 0)
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    totals
      .join(contaminated.groupBy(col("source"))
        .agg(count(lit(1)).as("contaminated_docs")), Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("contaminated_docs"), lit(0L)).as("contaminated_docs"))
      .orderBy(col("source"))
  }

  /** Winnowing fingerprint census per document (library surface; the gate
    * checks the kernel's published guarantee via [[fingerprintGuarantee]]
    * and the join scale path via [[fingerprintJoinParity]]). */
  def fingerprintCensus(spark: SparkSession, sfDir: String): DataFrame = {
    val fpUdf = udf((text: String) => TextAnalysis.fingerprints(text))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), fpUdf(col("text")).as("fps"))
      .select(col("doc_id"), size(col("fps")).as("n_fingerprints"),
        array_min(col("fps")).as("min_fp"))
      .orderBy(col("doc_id"))
  }

  /** q23: winnowing COVERAGE-guarantee audit — Schleimer et al. 2003's
    * defining property: the selected fingerprints are a subset of the
    * document's w-gram hashes AND every window of `windowSize` consecutive
    * hashes contains a selected one (checked by set membership, not by
    * replaying the min-selection — an independent verification of the
    * spec). The winnow kernel itself is not SQL-expressible, so the DuckDB
    * twin mirrors the data-derived doc count plus the audit verdict the
    * Spark side can only emit as 1 when every document passes. */
  def fingerprintGuarantee(spark: SparkSession, sfDir: String): DataFrame = {
    val okUdf = udf((text: String) => {
      if (text == null || text.isEmpty) true
      else {
        val sel = TextAnalysis.fingerprints(text).toSet
        val win = graft.sketch.RollingHash.windowFingerprints(text, 8)
        val winSet = win.toSet
        val subset = sel.forall(winSet.contains)
        val covered =
          if (win.length <= 4) sel.contains(win.min)
          else (0 to win.length - 4).forall(i => (i until i + 4).exists(j => sel.contains(win(j))))
        subset && covered
      }
    })
    Tables.documents(spark, sfDir)
      .agg(count(lit(1)).as("n_docs"),
        min(when(okUdf(col("text")), 1L).otherwise(0L)).as("guarantee_ok"))
  }

  /** Stop-fingerprint cutoff: a fingerprint present in more than this many
    * documents is boilerplate (ubiquitous 8-gram), carries no near-dup
    * signal, and is the classic shuffle-key hot spot — the corpus-wide df
    * pass drops it before the join, exactly as MOSS-style systems ignore
    * overly-common k-grams. Measured at sf0.1: without the cutoff the top
    * fingerprints hit df≈3800 of 5000 docs, Σdf² ≈ 208M join rows and ~12M
    * emitted pairs — 'shares ANY fingerprint' is both quadratic and
    * vacuous on a corpus with boilerplate. */
  private val FingerprintMaxDf = 64L

  /** Per-(doc, fp) rows restricted to RARE fingerprints (df ≤
    * [[FingerprintMaxDf]] over the full corpus). */
  private def rareFpRows(docs: DataFrame): DataFrame = {
    val ex = docs.select(col("doc_id"), explode(col("fps")).as("fp"))
    val dfreq = ex.groupBy(col("fp")).agg(count(lit(1)).as("df"))
    ex.join(dfreq.filter(col("df") <= FingerprintMaxDf), Seq("fp"))
      .select(col("doc_id"), col("fp"))
  }

  /** The shared-fingerprint join itself: rare fingerprints → self-join on
    * the fingerprint (shuffle key = fp, never a pair enumeration; join
    * volume ≤ maxDf·Σfp after the stop-fp cutoff) → distinct pairs sharing
    * ≥1 rare winnowing fingerprint. `rare` = [[rareFpRows]] output. */
  private def fingerprintPairs(rare: DataFrame): DataFrame =
    rare.select(col("fp"), col("doc_id").as("id_a"))
      .join(rare.select(col("fp"), col("doc_id").as("id_b")), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()

  /** q56: shared-fingerprint join — the winnowing census's actual scale
    * path (plagiarism-style near-dup) — with a two-part audit the oracle
    * mirrors:
    *
    *  - `sound_ok`: every pair the FULL-corpus join emits genuinely shares
    *    a fingerprint (`arrays_overlap` re-check on the emitted pairs —
    *    cost Ω(|pairs|), scale-safe);
    *  - `parity_ok`: on a hash-selected doc subset the join plan equals a
    *    brute-force tiled all-pairs twin EXACTLY. The subset divisor grows
    *    with n (≈1024 docs survive at any scale), so the Ω(subset²) twin
    *    stays constant-cost while still exercising both plans end-to-end —
    *    the round-3 first cut ran the twin over ALL docs and spent 135 s
    *    (80% of gate wall time) at sf0.1; completeness of the join does
    *    not vary by doc (same explode/join/distinct machinery), so
    *    subset-exact parity + full-corpus soundness is the audit that
    *    scales.
    *
    * Builder runs one count() action to size the subset divisor (the
    * accepted metric-gate pattern: a scalar action at plan-build
    * time, constant cost at any scale). */
  def fingerprintJoinParity(spark: SparkSession, sfDir: String): DataFrame = {
    val fpUdf = udf((text: String) => TextAnalysis.fingerprints(text))
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), fpUdf(col("text")).as("fps"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = docs.count()
    // rare-fingerprint rows + per-doc rare sets (df over the FULL corpus —
    // df is a corpus statistic, shared by both paths and both scopes)
    val rare = rareFpRows(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rareSets = rare.groupBy(col("doc_id"))
      .agg(collect_list(col("fp")).as("fps"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val joined = fingerprintPairs(rare)
    // soundness over the FULL corpus: emitted pairs must truly overlap
    // coalesce: sum() over ZERO pairs is NULL, and `0 === NULL` would report
    // a vacuously-sound empty join as unsound (review r3 finding)
    val soundOk = joined
      .join(rareSets.select(col("doc_id").as("id_a"), col("fps").as("fps_a")), Seq("id_a"))
      .join(rareSets.select(col("doc_id").as("id_b"), col("fps").as("fps_b")), Seq("id_b"))
      .agg(when(count(lit(1)) === coalesce(
        sum(when(arrays_overlap(col("fps_a"), col("fps_b")), 1L).otherwise(0L)),
        lit(0L)),
        1L).otherwise(0L).as("sound_ok"))
    // exact completeness parity on a bounded deterministic subset
    // (PairTiling.hashSubset — shared with q17/q26 since round 4)
    val brute = PairTiling.allPairs(
        PairTiling.hashSubset(rareSets, "doc_id", n), "doc_id", Nil)
      .filter(arrays_overlap(col("fps_a"), col("fps_b")))
    val parity = PairTiling.pairParity(
      fingerprintPairs(PairTiling.hashSubset(rare, "doc_id", n)),
      brute, "parity_ok")
    docs.agg(count(lit(1)).as("n_docs")).withColumn("__k", lit(1))
      .join(parity.withColumn("__k", lit(1)), Seq("__k"))
      .join(soundOk.withColumn("__k", lit(1)), Seq("__k"))
      .select(col("n_docs"), col("parity_ok"), col("sound_ok"))
  }

  /** q65 LM vocabulary size. Deliberately SMALLER than the corpus
    * vocabulary (31 words at every sf) so the out-of-vocabulary floor is a
    * live code path at gate scale, not dead smoothing. */
  private val LmVocabSize = 16L

  /** q65 flag margin (micro-nats above the corpus mean). +1.1 nats flags
    * the measured 2.6% / 3.2% / 5.8% worst tail at sf0.001/0.01/0.1 — a
    * tail at every scale, where any fixed ABSOLUTE cutoff is a tail at one
    * sf and a majority at another (the sf0.1 distribution sits a full nat
    * higher than sf0.001's). */
  private val LmFlagMarginMicro = 1100000L

  /** q65: unigram-LM quality filter — the CCNet/Gopher perplexity-filter
    * shape: score every document by its average per-token negative
    * log-probability under a unigram model trained on the corpus itself,
    * then flag documents scoring far above the corpus mean (improbable
    * token mixes = boilerplate, gibberish, OOV-heavy text).
    *
    * Scale shape: the model is SMALL BY CONSTRUCTION — word counts collapse
    * to vocabulary size under partial aggregation, the top-V vocabulary is
    * selected by [[SketchSelect.topK]] (the library's own sketch-guided
    * selection; exact, deterministic (count desc, word asc) tiebreak), and
    * the V probabilities ship to executors as a LITERAL MAP inside a
    * codegen'd HOF fold — scoring is then one map-side pass per document
    * with zero extra shuffle (the bounded driver materialization pattern of
    * the q39 centroids). Two corpus passes total (score, then
    * flag against the mean), CCNet's own train-then-filter shape.
    *
    * Cross-engine determinism: every per-token term is pre-floored to
    * INTEGER micro-nats, so all downstream sums/means are exact bigint
    * arithmetic — no float-accumulation-order drift between Spark and
    * DuckDB anywhere. The 17 term constants themselves are evaluated at
    * ONE libm call site ([[lmTermMicro]]) and injected into the resolved
    * oracle as literals (ADVICE r4), so not even a 1-ulp ln() divergence
    * between engines can flip a floor boundary. The corpus-relative flag
    * threshold (mean + margin) is likewise integer-exact. */
  /** Micro-nat term of a vocabulary word seen `c` times in `total` tokens:
    * floor(−ln(c/total)·10⁶). The SINGLE definition both the operator and
    * the injected oracle constants evaluate — one JVM libm call site, so
    * the two can never disagree (ADVICE r4: DuckDB's own ln() previously
    * recomputed these, the suite's only cross-engine libm-equality
    * dependence; a 1-ulp divergence at a floor boundary would have flipped
    * an integer term). */
  private[graft] def lmTermMicro(c: Long, total: Long): Long =
    math.floor(-math.log(c.toDouble / total) * 1e6).toLong

  /** OOV surprise term: floor(ln(total)·10⁶) — add-one-smoothing shape. */
  private[graft] def lmOovTermMicro(total: Long): Long =
    math.floor(math.log(total.toDouble) * 1e6).toLong

  /** The q65 model inputs over a tokenized frame: top-V (word, count)
    * vocabulary by (count desc, word asc) + total token count. */
  private def lmVocab(docs: DataFrame): (Array[(String, Long)], Long) = {
    val wc = docs.select(explode(col("t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val total = wc.agg(sum(col("c"))).head().getLong(0)
    val vocab = SketchSelect.topK(wc, "c", "w", LmVocabSize).collect()
      .map(r => (r.getAs[String]("w"), r.getAs[Long]("c")))
    wc.unpersist()
    (vocab, total)
  }

  /** Driver-computed q65 constants for the oracle: the (count → micro-nat
    * term) lookup over the top-V vocabulary counts, plus the OOV term —
    * evaluated through the SAME [[lmTermMicro]]/[[lmOovTermMicro]] the
    * operator uses. The oracle still derives the vocabulary, counts,
    * scoring, mean and flags itself; only the transcendental is shared. */
  def lmTermLookup(spark: SparkSession, sfDir: String): (Seq[(Long, Long)], Long) = {
    val docs = Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("t"))
    val (vocab, total) = lmVocab(docs)
    val lookup = vocab.map(_._2).distinct.sorted.toSeq
      .map(c => c -> lmTermMicro(c, total))
    (lookup, lmOovTermMicro(total))
  }

  def lmQualityFilter(spark: SparkSession, sfDir: String): DataFrame = {
    // null-text docs can't be scored and are excluded from the census —
    // the oracle's unnest would drop them from `scored` implicitly, so the
    // exclusion must be EXPLICIT on both sides or n_docs and the corpus
    // mean diverge the first time a null row enters the table
    // persisted: THREE consumers read the tokenized frame (the wc model
    // build — an in-function action that also materializes the cache —
    // then the mean pass and the final census, both inside the returned
    // lazy plan); uncached, the documents scan + split ran three times
    // (ADVICE r4). Released by the gate runners' clearCache contract, as
    // the last two consumers run after this builder returns.
    val docs = Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("t"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (vocab, total) = lmVocab(docs)
    val terms: Map[String, Long] = vocab.map { case (w, c) =>
      w -> lmTermMicro(c, total)
    }.toMap
    val oovTerm = lmOovTermMicro(total)
    val termMap = typedLit(terms)
    val scored = docs.select(col("doc_id"), col("source"),
      floor(aggregate(col("t"), lit(0L),
        (acc, x) => acc + coalesce(element_at(termMap, x), lit(oovTerm)))
        .cast("double") / size(col("t"))).as("score_micro"))
    val mean = scored.agg(
      floor(sum(col("score_micro")).cast("double") / count(lit(1)))
        .as("mean_micro"))
    scored.crossJoin(mean)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("score_micro") > col("mean_micro") + lit(LmFlagMarginMicro),
          1L).otherwise(0L)).as("flagged_docs"),
        sum(col("score_micro")).as("total_score_micro"))
      .orderBy(col("source"))
  }

  /** q66: per-document n-gram novelty census — the duplication-rate /
    * memorization metric: what fraction of each document's distinct word
    * 8-grams appears NOWHERE else in the corpus? Documents where more than
    * half their 8-grams recur elsewhere are the near-duplicate/boilerplate
    * mass a curation pass would route into dedup (q16/q37) — this is the
    * corpus-wide measurement that sizes that decision.
    *
    * Scale shape — one shuffle, no join-back: a df=1 shingle belongs to
    * exactly ONE document, so `groupBy(shingle).agg(count, min(doc_id))`
    * attributes every unique shingle straight to its owner and the usual
    * df-join-back disappears (the naive explode → df → equi-join plan
    * measured 8.8 s at sf0.1; this shape runs the explode once and
    * shuffles nothing wider than 24 bytes). Shingles are hashed at the
    * map side — the library's q16/q56 shingle discipline: the shuffle
    * carries a 128-bit key (two independently-seeded xxhash64 streams)
    * instead of ~50-char strings. 64 bits alone would start colliding at
    * the 10⁹-distinct-shingle corpora this metric targets (P ≈ n²/2⁶⁵);
    * at 128 bits the merge probability stays below 10⁻²⁰ there, and a
    * collision could only ever UNDERCOUNT novelty by merging two
    * shingles. Per-doc totals come straight from the distinct-shingle
    * array size (no shuffle at all); the final owner→doc join is
    * doc-level and narrow. All verdict arithmetic is integer (counts and
    * a 2× comparison) — exact in both engines. Documents under 8 tokens
    * carry no 8-grams and drop out identically on both sides. */
  def ngramNovelty(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        array_distinct(wordShingles8(split(col("text"), " "))).as("sh"))
    val novelPerDoc = docs
      .select(col("doc_id"), explode(col("sh")).as("g"))
      .select(col("doc_id"),
        xxhash64(col("g")).as("h1"), xxhash64(lit("g2"), col("g")).as("h2"))
      .groupBy(col("h1"), col("h2"))
      .agg(count(lit(1)).as("d"), min(col("doc_id")).as("owner"))
      .filter(col("d") === 1L)
      .groupBy(col("owner")).agg(count(lit(1)).as("novel"))
      .withColumnRenamed("owner", "doc_id")
    val perDoc = docs
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), col("source"), size(col("sh")).cast("long").as("n_sh"))
      .join(novelPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("n_sh"),
        coalesce(col("novel"), lit(0L)).as("novel"))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("novel") * 2 < col("n_sh"), 1L).otherwise(0L))
          .as("dupish_docs"),
        sum(col("n_sh")).as("total_shingles"),
        sum(col("novel")).as("novel_shingles"))
      .orderBy(col("source"))
  }

  /** Positional word 8-gram shingles: (pos, shingle) structs, 1-based
    * positions. Docs under 8 tokens yield an empty array. Unlike
    * [[wordShingles8]] this keeps WHERE each gram sits — the input to
    * span-merge semantics, where a duplicated gram at position p covers
    * tokens [p, p+7]. */
  private def wordShinglesPos8(toks: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(size(toks) < 8,
      array().cast("array<struct<pos:int,g:string>>"))
      .otherwise(transform(sequence(lit(1), size(toks) - 7),
        i => struct(i.as("pos"), concat_ws(" ", slice(toks, i, lit(8))).as("g"))))

  /** q69: exact-substring duplication-span census — the ExactSubstr
    * memorization metric (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better"): per source, how many tokens sit
    * inside a MAXIMAL duplicated span — a run of ≥8 tokens whose every
    * 8-gram occurs more than once in the corpus (within-doc repeats
    * count; verbatim memorization doesn't care which document the copy
    * lives in). Complements q66: novelty counts DISTINCT grams per doc,
    * this measures positional COVERAGE — "40% of this document is text
    * that exists elsewhere", the number an ExactSubstr-style cut actually
    * thresholds on. A duplicated substring of length ≥ 8 contains a
    * duplicated 8-gram at every offset, so merging the per-position gram
    * intervals [p, p+7] (classic gaps-and-islands) reconstructs the
    * maximal spans exactly — no suffix array needed, which is the trick
    * that makes the metric distributable.
    *
    * Scale shape: the gram census is one 24-byte-row shuffle (the q66
    * 128-bit map-side hash discipline — the shuffle never carries the
    * ~50-char gram strings; PlanGuardSpec pins it). The duplicated-gram
    * set joins BACK on the 16-byte hash key with no broadcast hint:
    * dup-gram cardinality grows with the corpus, so forcing a broadcast
    * is the q55 failure mode — AQE sees the actual shuffle size at
    * runtime and converts to broadcast only when the set is genuinely
    * small. Island-merge is a per-doc window (partition = doc_id), so its
    * sort is bounded by document length, never corpus size; every census
    * term is integer, exact in both engines. */
  def dupSpanCensus(spark: SparkSession, sfDir: String): DataFrame = {
    // persisted: the positional-gram pass and the per-doc token census
    // both read the tokenized frame (released by the gate runners'
    // clearCache contract)
    val docs = Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("t"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val coveredPerDoc = maximalDupSpans(docs)
      .groupBy(col("doc_id"))
      .agg(sum(col("e") - col("s") + 1).as("covered"))
    docs
      .select(col("doc_id"), col("source"),
        size(col("t")).cast("long").as("n_tok"))
      .join(coveredPerDoc, Seq("doc_id"), "left")
      .select(col("source"), col("n_tok"),
        coalesce(col("covered"), lit(0L)).as("covered"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("covered") * 2 > col("n_tok"), 1L).otherwise(0L))
          .as("heavy_docs"),
        sum(col("n_tok")).as("total_tokens"),
        sum(col("covered")).as("covered_tokens"))
      .orderBy(col("source"))
  }

  /** Maximal duplicated spans per document: (doc_id, s, e) with every
    * 8-gram inside [s, e] recurring somewhere in the corpus, merged via
    * gaps-and-islands over the per-position intervals [p, p+7]. Shared
    * kernel of the q69 census and the q70 cut. `docs` must carry
    * (doc_id, t: array<string>). The gram census shuffles only the
    * 128-bit gram hash (never the string — PlanGuardSpec pins it); the
    * dup join-back carries no broadcast hint (dup-gram cardinality grows
    * with the corpus; AQE decides at runtime); the island merge is a
    * per-doc window whose sort is bounded by document length. */
  private def maximalDupSpans(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val grams = docs
      .select(col("doc_id"), explode(wordShinglesPos8(col("t"))).as("s"))
      .select(col("doc_id"), col("s.pos").as("pos"),
        xxhash64(col("s.g")).as("h1"),
        xxhash64(lit("g2"), col("s.g")).as("h2"))
    val dupGrams = grams
      .groupBy(col("h1"), col("h2"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") > 1L)
      .select(col("h1"), col("h2"))
    val dupPos = grams.join(dupGrams, Seq("h1", "h2"))
      .select(col("doc_id"), col("pos"), (col("pos") + 7).as("e"))
    val wDoc = w.partitionBy(col("doc_id")).orderBy(col("pos"))
    val wPrev = wDoc.rowsBetween(w.unboundedPreceding, -1)
    dupPos
      .withColumn("pe", max(col("e")).over(wPrev))
      .withColumn("ni",
        when(col("pos") > coalesce(col("pe"), lit(-1)) + 1, 1L).otherwise(0L))
      .withColumn("island", sum(col("ni")).over(wDoc))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("s"), max(col("e")).as("e"))
      .select(col("doc_id"), col("s"), col("e"))
  }

  /** q70: exact-substring duplication CUT — the transform the q69 census
    * measures. Removes from every document every token inside a maximal
    * duplicated span (q69 semantics: runs of ≥8 tokens whose every 8-gram
    * recurs corpus-wide), then emits a per-source census of what survives.
    * Policy: ALL occurrences are cut, including the "original" — the
    * deterministic, owner-free choice (a keep-one policy needs a global
    * owner per span; q66's min(doc_id) idiom would supply one, documented
    * here as the variant, not implemented). Cutting can splice new 8-gram
    * junctions together; like suffix-array ExactSubstr pipelines this is
    * a single-pass cut, not a fixpoint.
    *
    * The census pins POSITIONAL identity, not just counts: `chars_after`
    * (sum of cleaned-text lengths) differs if the wrong tokens were kept
    * even when token counts agree, and `distinct_cleaned` counts the
    * surviving distinct texts (Spark groups a 128-bit xxhash of the
    * cleaned text; the oracle counts raw strings — the q69 collision
    * argument). The cut itself is join-free past the span frame: spans
    * collect to a per-doc array (disjoint and ≥8 tokens each, so
    * |spans| ≤ n_tok/8 — the collect_list row stays bounded by the
    * document itself), and token filtering is a codegen-free but
    * shuffle-free HOF pass: filter-with-index × exists over the span
    * array, O(n_tok · |spans|) per doc worst case, O(n_tok) when clean —
    * per-document work, embarrassingly parallel at any corpus size. */
  def dupSpanCut(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("t"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val spanArr = maximalDupSpans(docs)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("spans"))
    docs.join(spanArr, Seq("doc_id"), "left")
      .withColumn("spans",
        coalesce(col("spans"), array().cast("array<struct<s:int,e:int>>")))
      .withColumn("kept", filter(col("t"), (tok, i) =>
        !exists(col("spans"), sp =>
          sp.getField("s") <= i + 1 && sp.getField("e") >= i + 1)))
      .withColumn("cleaned", array_join(col("kept"), " "))
      .select(col("source"),
        (size(col("spans")) > 0).as("modified"),
        size(col("kept")).cast("long").as("kept_tok"),
        length(col("cleaned")).cast("long").as("kept_chars"),
        xxhash64(col("cleaned")).as("ch1"),
        xxhash64(lit("c2"), col("cleaned")).as("ch2"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("modified"), 1L).otherwise(0L)).as("docs_modified"),
        sum(col("kept_tok")).as("tokens_after"),
        sum(col("kept_chars")).as("chars_after"),
        countDistinct(col("ch1"), col("ch2")).as("distinct_cleaned"))
      .orderBy(col("source"))
  }

  /** q71 sequence length: tokens per training sequence (the context
    * window the concat-and-chunk packer fills). */
  private[queries] val ChunkSeqTokens = 512L

  /** q71 cumsum bucket: docs per two-phase-prefix-sum bucket. */
  private[queries] val CumsumBucketDocs = 4096L

  /** q71: concat-and-chunk packing census — the OTHER pretraining packer
    * (q48 is first-fit with whole documents; this is the GPT-style mode:
    * concatenate every document in deterministic doc_id order into one
    * token stream, slice it into fixed `seqTokens` sequences, and let
    * documents straddle sequence boundaries — zero padding waste, at the
    * cost of split documents). Census per source: how many of its docs
    * straddle a boundary and how many sequences each doc touches — the
    * numbers that decide attention-masking strategy and whether boundary
    * loss matters for a corpus.
    *
    * The kernel is a GLOBAL cumulative sum, done scale-correctly: a naive
    * `sum().over(Window.orderBy(doc_id))` funnels the entire corpus
    * through ONE task (the global-sort single-partition window — the
    * scale-killer q57/q58 exist to avoid). Instead, the classic two-phase
    * prefix sum in the salted-window discipline: (1) per-bucket token
    * subtotals (`bucket = doc_id div 4096` — one row per 4096 docs), (2)
    * running offset across buckets in a window whose single partition
    * holds only the bucket frame (corpus/4096 rows — ~250k rows at 10⁹
    * docs, driver-trivial by construction), broadcast back, (3) within-
    * bucket running sum in a window PARTITIONED by bucket (≤4096 rows per
    * key). Every downstream term is integer floor arithmetic, exact in
    * both engines; doubles appear only inside floor() on values < 2⁵³. */
  def chunkPackCensus(spark: SparkSession, sfDir: String,
      seqTokens: Long = ChunkSeqTokens,
      bucketDocs: Long = CumsumBucketDocs): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        floor(col("doc_id") / lit(bucketDocs)).as("bucket"))
    val bucketOffsets = docs
      .groupBy(col("bucket"))
      .agg(sum(col("n_tok")).as("btot"))
      .withColumn("boff", coalesce(
        sum(col("btot")).over(
          w.orderBy(col("bucket")).rowsBetween(w.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("bucket"), col("boff"))
    docs
      .join(broadcast(bucketOffsets), Seq("bucket"))
      .withColumn("cum_end", col("boff") +
        sum(col("n_tok")).over(
          w.partitionBy(col("bucket")).orderBy(col("doc_id"))))
      .withColumn("first_seq",
        floor((col("cum_end") - col("n_tok")) / lit(seqTokens)))
      .withColumn("last_seq",
        floor((col("cum_end") - 1) / lit(seqTokens)))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("tokens"),
        sum(when(col("last_seq") > col("first_seq"), 1L).otherwise(0L))
          .as("straddling_docs"),
        sum(col("last_seq") - col("first_seq") + 1).as("doc_seq_spans"),
        (max(col("last_seq")) + 1).as("max_seq"))
      .orderBy(col("source"))
  }

  /** PII regex classes, shared by the operator and its gate. Both patterns
    * stay inside the Java-regex ∩ RE2 dialect (character classes, bounded
    * repetition, `\b`) so Spark and DuckDB match identically. */
  private[queries] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[queries] val PhoneRe = "\\b555-[0-9]{4}\\b"

  /** PII redaction over a text column: masks email addresses then
    * NANP-test-exchange phone numbers, returns (redacted text, per-class
    * replacement counts, matched chars removed). Pure built-in regexp
    * functions — one map-side pass, fully codegen, no UDF, no shuffle.
    *
    * The counts report the replacements the sequential rewrite ACTUALLY
    * performs, so the phone count runs over the email-redacted
    * intermediate, not the original: in "555-0142@example.com" the phone
    * digits are consumed by the email mask before the phone pass ever
    * sees them (one email, zero phones), and in "a@b.cc555-0142" the
    * phone's leading word boundary only exists AFTER the email mask is
    * substituted (zero phones on the original, one performed).
    * `chars_removed` is the total length of matched PII text (length
    * delta plus the 7-char mask per replacement) — non-negative even for
    * matches shorter than their mask ("a@b.io" → "<EMAIL>"). */
  def piiRedact(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val r1 = regexp_replace(text, EmailRe, "<EMAIL>")
    val r2 = regexp_replace(r1, PhoneRe, "<PHONE>")
    val emails = size(regexp_extract_all(text, lit(EmailRe), lit(0))).cast("long")
    val phones = size(regexp_extract_all(r1, lit(PhoneRe), lit(0))).cast("long")
    struct(
      r2.as("redacted"),
      emails.as("emails"),
      phones.as("phones"),
      (length(text) - length(r2) + (emails + phones) * lit(7L)).cast("long")
        .as("chars_removed"))
  }

  /** q67: PII-redaction census — the scrubbing pass (emails, phone
    * numbers) every public-corpus release runs before training. The
    * synthetic corpus carries no organic PII, so the gate PLANTS it
    * deterministically in-query — every doc_id ≡ 0 (mod 3) gains an
    * email, every doc_id ≡ 0 (mod 5) a 555-exchange phone, both derived
    * from doc_id and mirrored verbatim in the oracle (the q41/q59
    * in-gate fixture discipline; the redaction operator itself is the
    * deliverable). Census per source: docs, per-class redaction counts,
    * matched chars removed, plus a residual-match audit the oracle
    * RECOMPUTES (not a mirrored constant): matches remaining after
    * redaction, which must be 0 for the replacement tokens to be sound.
    *
    * Scale shape: one codegen map pass, groupBy(source) partial-agg
    * rollup — nothing wider than the text column ever moves, no UDF, no
    * extra pass. All census arithmetic is integer. */
  def piiCensus(spark: SparkSession, sfDir: String): DataFrame = {
    val planted = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@example.com"))).otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            concat(lit(" call 555-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
            .otherwise(lit(""))).as("text"))
    val red = planted.select(col("doc_id"), col("source"),
      piiRedact(col("text")).as("r"))
    red.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("r.emails")).as("emails_redacted"),
        sum(col("r.phones")).as("phones_redacted"),
        sum(col("r.chars_removed")).as("chars_removed"),
        sum(size(regexp_extract_all(col("r.redacted"), lit(EmailRe), lit(0)))
          .cast("long")
          + size(regexp_extract_all(col("r.redacted"), lit(PhoneRe), lit(0)))
            .cast("long")).as("residual_matches"))
      .orderBy(col("source"))
  }

  /** Word 3-gram shingles as a column HOF — the q16 minhash unit
    * ([[TextAnalysis.shingles]] with n=3), expressed in-plan so q73 can
    * shingle without leaving codegen. Docs under 3 tokens yield an empty
    * array (DuckDB's `range(1, len-1)` is end-exclusive and empties the
    * same way). */
  /** DSIR hashed-bigram feature space: a PRIME bucket count (4093, not a
    * power of two — the fold multiplier 131 would alias low bits mod 2^k)
    * sized so the bucket census and its weight table stay driver-bounded
    * constants at any corpus size. */
  private val DsirBuckets = 4093L

  /** The in-gate "target domain": one source's documents play the DSIR
    * target corpus, the whole table plays the raw pool (the q41/q67
    * in-gate fixture discipline — the operator is the deliverable). */
  private[graft] val DsirTargetSource = "src0"

  /** Character-fold polynomial bucket hash `h = (h·131 + code) mod 4093` —
    * chosen over xxhash64 because BOTH engines can express it exactly
    * (DuckDB `list_reduce` over `unicode(c)`), so the oracle re-derives
    * bucket assignment rather than trusting ours; a production build
    * would swap in `pmod(xxhash64(g), B)` one line here. The trailing ""
    * Spark's limit·-1 split emits is filtered to match DuckDB's split. */
  private[queries] def dsirBucket(g: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(filter(split(g, ""), c => c =!= lit("")), lit(0L),
      (acc, c) => (acc * lit(131L) + ascii(c).cast("long")) % lit(DsirBuckets))

  /** Add-one-smoothed log-probability of a count under a total, in floored
    * micro-nats — the ONE libm call site for q74 (the q65 discipline); the
    * oracle receives these as injected (count → term) literals. */
  private[queries] def dsirTermMicro(c: Long, total: Long): Long =
    math.floor(math.log((c + 1).toDouble / (total + DsirBuckets).toDouble)
      * 1e6).toLong

  private def dsirDocs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        wordBigrams(split(col("text"), " ")).as("bg"))
      .filter(size(col("bg")) > 0)

  /** The collected bucket census: (bucket, pool count, target count) rows
    * plus the two totals. ≤ [[DsirBuckets]] rows by construction — a
    * bounded-constant driver materialization at any corpus size. */
  private def dsirCensusOn(docs: DataFrame): (Array[(Long, Long, Long)], Long, Long) = {
    val rows = docs.select(explode(col("bg")).as("g"),
        (col("source") === lit(DsirTargetSource)).as("is_t"))
      .select(dsirBucket(col("g")).as("b"), col("is_t"))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("cb"),
        sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    (rows, rows.map(_._2).sum, rows.map(_._3).sum)
  }

  /** Driver-computed (count → micro-nat term) lookups for the oracle —
    * (target lookup, pool lookup). The oracle re-derives every bucket
    * count itself and joins these by count value, so only the
    * transcendental crosses engines (the q65 injection contract). */
  def dsirTermLookup(spark: SparkSession, sfDir: String): (Seq[(Long, Long)], Seq[(Long, Long)]) = {
    val (rows, nb, nt) = dsirCensusOn(dsirDocs(spark, sfDir))
    ((rows.map(_._3).distinct.sorted.map(c => c -> dsirTermMicro(c, nt))).toSeq,
      (rows.map(_._2).distinct.sorted.map(c => c -> dsirTermMicro(c, nb))).toSeq)
  }

  /** q74: DSIR-style importance selection census (Xie et al. 2023,
    * arXiv:2302.03169 "Data Selection for Language Models via Importance
    * Resampling"): score every document by the log-likelihood ratio of
    * its hashed word-bigram features under a target-domain LM vs the raw
    * pool's LM, and select documents the target model prefers. The paper
    * samples ∝ exp(score); the gate pins the deterministic core — the
    * hashed-ngram importance weight — and selects score > the corpus
    * mean (the q65 corpus-relative flag rule; an absolute score>0 bar is
    * vacuous when target and pool share a template vocabulary, which is
    * exactly this corpus), a census a production resampler thresholds
    * differently but computes identically.
    *
    * Scale shape: ONE tiny shuffle (the bucket census partial-aggregates
    * into ≤4093 groups map-side), a bounded 4093-row driver collect, then
    * scoring as a single map pass — the weight table rides into codegen
    * as an ARRAY literal indexed by bucket (O(1) per lookup; a literal
    * MAP would linear-scan its 4093 keys per bigram). No token-level
    * join anywhere (the q65 lesson). Scores are integer micro-nat SUMS —
    * no division, so no Spark-div-vs-DuckDB-floor-division divergence on
    * negative values. */
  def dsirSelect(spark: SparkSession, sfDir: String): DataFrame = {
    // persisted: the census action below + the scoring pass both read it;
    // released by the gate runners' clearCache contract
    val docs = dsirDocs(spark, sfDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (rows, nb, nt) = dsirCensusOn(docs)
    val wByBucket = rows.map { case (b, cb, ct) =>
      b -> (dsirTermMicro(ct, nt) - dsirTermMicro(cb, nb))
    }.toMap
    // dense array over the full bucket range; unseen buckets are never
    // referenced (every scored bigram was censused) but must hold a slot
    val wArr: Seq[Long] =
      (0L until DsirBuckets).map(b => wByBucket.getOrElse(b, 0L))
    val wLit = typedLit(wArr)
    val scored = docs.select(col("source"),
      aggregate(col("bg"), lit(0L),
        (acc, g) => acc + element_at(wLit,
          (dsirBucket(g) + 1L).cast("int"))).as("score_micro"))
    // floor() on a double mean is floor-toward-minus-infinity in both
    // engines (scores go negative; integer div truncation would diverge)
    val mean = scored.agg(
      floor(sum(col("score_micro")).cast("double") / count(lit(1)))
        .cast("long").as("mean_micro"))
    scored.crossJoin(mean)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("score_micro") > col("mean_micro"), 1L).otherwise(0L))
          .as("selected_docs"),
        sum(col("score_micro")).as("total_score_micro"))
      .orderBy(col("source"))
  }

  /** q73: cross-source n-gram overlap matrix — pairwise source-level
    * Jaccard over distinct word-trigram shingles. q59 screens a corpus
    * against a held-out benchmark; THIS measures the corpus against
    * itself: which source pairs carry the same templated/boilerplate
    * text, the number a curation run reads before setting per-source
    * mixture weights (a pair at jaccard 0.4 is one crawl mirrored twice,
    * not two independent sources).
    *
    * Scale shape: one linear `distinct(source, shingle-hash)` shuffle
    * (the 128-bit q66 hash discipline — the shuffle never carries gram
    * strings), then a self-equi-join on the hash whose per-key fan-out is
    * bounded by the SOURCE count (each hash appears at most once per
    * source after the distinct), collapsed immediately by a partial agg
    * into at most S·(S−1)/2 pair rows. S is a catalog-scale constant
    * (tens-hundreds), so the join output is ≤ S× the distinct frame and
    * the agg state is tiny regardless of corpus size. The S²-row pair
    * scaffold and size table stay broadcast. All arithmetic is integral
    * (`div`, not float divide) — exact in both engines. */
  /** The distinct (source, h1, h2) trigram-shingle census shared by
    * q73/q108. Round 7: the shingle STRING never materializes — each
    * trigram hashes straight off the token array (two independent
    * multi-arg xxhash64 folds over the three tokens; per-field length-
    * seeded folding means no cross-boundary aliasing, and the 128-bit
    * (h1, h2) collision discipline is unchanged at ~|set|²/2¹²⁸ per
    * pair), so the per-doc dedup, the explode and the distinct shuffle
    * all ride 16-byte structs instead of rebuilt concat_ws strings
    * (measured at sf0.1: census 2.0 s → 0.9 s; q73 2.4 s → 1.3 s). */
  private def srcShingleCensus(docs: DataFrame): DataFrame = {
    val toks = col("toks")
    val hashedShingles =
      when(size(toks) < 3, array().cast("array<struct<h1:bigint,h2:bigint>>"))
        .otherwise(transform(sequence(lit(1), size(toks) - 2), i =>
          struct(
            xxhash64(element_at(toks, i), element_at(toks, i + 1),
              element_at(toks, i + 2)).as("h1"),
            xxhash64(lit("g2"), element_at(toks, i), element_at(toks, i + 1),
              element_at(toks, i + 2)).as("h2"))))
    Tables.widen(docs.filter(col("text").isNotNull)
        .select(col("source"), col("text")))
      .select(col("source"), split(col("text"), " ").as("toks"))
      .select(col("source"), explode(array_distinct(hashedShingles)).as("g"))
      .select(col("source"), col("g.h1").as("h1"), col("g.h2").as("h2"))
      .distinct()
  }

  def sourceOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    // persisted: three consumers (size census + both self-join sides);
    // released by the gate runners' clearCache contract
    val srcSh = srcShingleCensus(Tables.documents(spark, sfDir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = srcSh.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = srcSh.select(col("source").as("source_a"), col("h1"), col("h2"))
      .join(srcSh.select(col("source").as("source_b"), col("h1"), col("h2")),
        Seq("h1", "h2"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("i"))
    sizes.select(col("source").as("source_a"), col("n").as("n_a"))
      .join(broadcast(sizes.select(col("source").as("source_b"),
        col("n").as("n_b"))), col("source_a") < col("source_b"))
      .join(inter, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        coalesce(col("i"), lit(0L)).as("inter_shingles"))
      .withColumn("union_shingles",
        col("n_a") + col("n_b") - col("inter_shingles"))
      .withColumn("jaccard_micro",
        expr("inter_shingles * 1000000 div union_shingles"))
      .orderBy(col("source_a"), col("source_b"))
  }

  // ---- q86: priority sampling (Duffield–Lund–Thorup, JACM'07) ----

  private[graft] val PrioritySampleK = 20

  /** q86: weighted sample of documents ∝ length — the token-budget
    * sampling primitive (q47 is the UNIFORM stratified leg; this is the
    * weighted leg): priority sampling takes the top-k items by priority
    * qᵢ = wᵢ/uᵢ (uᵢ uniform in (0,1]) and estimates each sampled weight as
    * ŵᵢ = max(wᵢ, τ) with τ = the (k+1)-th priority — the DLT estimator,
    * unbiased for any weight sequence and provably near-optimal variance.
    *
    * Cross-engine determinism: uᵢ = (first 8 md5 hex digits of the doc id,
    * as an integer) + 1 ∈ [1, 2³²] — the q47 seedless-hash-priority
    * discipline, exact in both engines (Spark `conv`; DuckDB hex-char
    * fold). Priorities are compared as the MILLI-floored integer
    * qᵢ = ⌊10³·wᵢ·2³²/uᵢ⌋ (one bigint division; w ≤ doc-length bound
    * ~10³, so the product stays ≤ ~10¹⁶ at ANY corpus size — w is a
    * per-doc bound, not a corpus bound; the int64 envelope holds for any
    * w ≤ 2·10⁶ — docs beyond ~2 MB need the double-priority variant),
    * tie → lowest doc_id; τ and ŵ are the same milli units, so every
    * emitted value is exact bigint.
    *
    * Scale shape: one codegen map pass (md5 + div), one TakeOrdered(k+1)
    * funnel (per-partition heaps — never a global sort), then arithmetic
    * on the k+1 collected-size frame and a broadcast of the one-row τ. */
  def prioritySample(spark: SparkSession, sfDir: String): DataFrame = {
    val k = PrioritySampleK
    val scored = Tables.documents(spark, sfDir)
      .filter(col("n_chars").isNotNull)
      .select(col("doc_id"), col("n_chars").cast("long").as("w"))
      .withColumn("u", expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint) + 1"))
      .withColumn("p_milli", expr("w * 4294967296 * 1000 div u"))
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)).orderBy(desc("p_milli"), asc("doc_id"))
    val top = scored
      .orderBy(desc("p_milli"), asc("doc_id")).limit(k + 1)
      .withColumn("rn", row_number().over(w1).cast("long"))
    val tau = top.filter(col("rn") === (k + 1).toLong)
      .select(col("p_milli").as("tau_milli"))
    top.filter(col("rn") <= k.toLong)
      .crossJoin(broadcast(tau))
      .select(col("rn").as("smp_rank"), col("doc_id"), col("w"), col("u"),
        col("p_milli"),
        greatest(col("w") * 1000L, col("tau_milli")).as("w_hat_milli"))
      .orderBy(col("smp_rank"))
  }

  // ---- q87: BPE merge learning (Sennrich et al., ACL 2016) ----

  private[graft] val BpeMergeRounds = 6

  /** Adjacent-symbol pairs of a marker-encoded word ("_j _o _i _n" →
    * ["_j _o", "_o _i", "_i _n"]). EVERY adjacent occurrence counts — the
    * BPE census rule ("aaa" yields (a,a) twice) — while the merge APPLY
    * step is leftmost non-overlapping; both engines' `replace` implements
    * exactly that greedy scan. The `_` marker prefixes every symbol, so a
    * pair pattern can never false-match the tail of a longer symbol
    * ("_xa _b" does not contain "_a _b").
    *
    * CONTRACT: the word alphabet must not contain the marker `_` or the
    * separator ` ` (space can't survive the word split; a production run
    * over arbitrary bytes remaps `_` before encoding). */
  private def bpeAdjacentPairs: Column = expr(
    """case when size(split(e, ' ')) >= 2 then
      |  transform(sequence(1, size(split(e, ' ')) - 1),
      |    i -> concat(element_at(split(e, ' '), i), ' ',
      |                element_at(split(e, ' '), i + 1)))
      |else array() end""".stripMargin)

  /** One weighted pair census over an encoding frame `(e, c)` — vocab-sized
    * input, one small shuffle. */
  private[graft] def bpePairCensus(enc: DataFrame): DataFrame =
    enc.select(explode(bpeAdjacentPairs).as("pr"), col("c"))
      .groupBy(col("pr")).agg(sum(col("c")).as("pc"))

  /** The corpus-weighted encoded vocabulary `(w, e, c)`: ONE corpus pass
    * (word census shuffle), then each distinct word rendered as
    * marker-prefixed single-char symbols ("join" → "_j _o _i _n"). The
    * word rides along so q89 can map final encodings back to the corpus;
    * [[bpeMergesOn]] only ever touches `e` and `c`. */
  private[graft] def bpeEncodedVocab(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .select(col("w"), expr("trim(regexp_replace(w, '(.)', '_$1 '))").as("e"), col("c"))

  /** The merge loop over any weighted encoding frame (split out so specs
    * can drive hand fixtures): each round = pair census → global argmax
    * (max count, tie → lexicographically smallest pair) → greedy leftmost
    * merge application via `replace`. Returns (rnd, pair, new_symbol,
    * pair_count) — ONE collected row per round. */
  private[graft] def bpeMergesOn(enc0: DataFrame, rounds: Int): DataFrame = {
    val spark = enc0.sparkSession
    import spark.implicits._
    // cache the census for the rounds — unless the caller already did (q89)
    val callerCached =
      enc0.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val base = if (callerCached) enc0
      else enc0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var enc = base
    val merges = (1 to rounds).map { r =>
      val rows = bpePairCensus(enc)
        .orderBy(desc("pc"), asc("pr")).limit(1).collect()
      require(rows.nonEmpty,
        s"bpeMergesOn: no adjacent pairs left at round $r — the vocabulary " +
          "is fully merged; ask for fewer rounds")
      val top = rows(0)
      val pr = top.getString(0)
      val merged = pr.replace(" _", "") // "_a _b" → "_ab"
      enc = enc.withColumn("e", replace(col("e"), lit(pr), lit(merged)))
      (r.toLong, pr, merged.replace("_", ""), top.getLong(1))
    }
    if (!callerCached) base.unpersist()
    merges.toDF("rnd", "pair", "new_symbol", "pair_count").orderBy(col("rnd"))
  }

  /** q87: learn the first R byte-pair-encoding merges from the corpus —
    * the tokenizer-training face of the pipeline (q20 counts tokens; this
    * LEARNS the merge table those tokenizers are built from). Classic BPE
    * (Sennrich et al. 2016): operate on the frequency-weighted DISTINCT
    * word vocabulary, repeatedly merging the globally most frequent
    * adjacent symbol pair (deterministic tie-break: smallest pair string).
    *
    * Scale shape: the corpus is touched ONCE (the word-census shuffle —
    * the standard wordcount); every merge round then runs over the
    * weighted vocabulary, which is corpus-size-INDEPENDENT up to Heaps'
    * law growth (≪ corpus, broadcast-scale in production). Driver
    * residency is ONE row per round. No window, no global sort — the
    * per-round argmax funnels through TakeOrdered per-partition maxima.
    *
    * Cross-engine exactness: encodings and pair patterns are plain
    * strings, counts are bigint, and merge application is `replace`'s
    * leftmost non-overlapping scan in BOTH engines — the oracle unrolls
    * all R rounds as CTEs and re-derives every pair, count and symbol. */
  def bpeMerges(spark: SparkSession, sfDir: String): DataFrame =
    bpeMergesOn(bpeEncodedVocab(spark, sfDir), BpeMergeRounds)

  /** q89: APPLY the learned BPE merge table back to the corpus — the
    * tokenize face that closes the q87 loop (learn → apply), emitting the
    * first 20 documents' post-BPE token census and compression ratio.
    *
    * Shape: q87's merge loop runs first (corpus touched once for the
    * vocab census; 6 collected merge rows — the bounded driver
    * materialization); the final encodings live on the VOCAB frame, so
    * tokenizing the corpus is a (doc, word) count census joined against
    * the small word→symbol-count dimension — the standard dimension join
    * (broadcast at any realistic vocab; the join key is the word, and
    * skew is pre-collapsed by the per-(doc, word) groupBy). Every output
    * value is exact bigint; `chars_per_tok_milli` is the floored milli
    * ratio both engines derive with integral division. */
  def bpeTokenize(spark: SparkSession, sfDir: String): DataFrame = {
    val enc0 = bpeEncodedVocab(spark, sfDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val merges = bpeMergesOn(enc0, BpeMergeRounds).collect()
    var enc = enc0
    for (r <- merges) {
      val pr = r.getAs[String]("pair")
      enc = enc.withColumn("e", replace(col("e"), lit(pr), lit(pr.replace(" _", ""))))
    }
    val wordSyms = enc.select(col("w"),
      size(split(col("e"), " ")).cast("long").as("sym"),
      length(col("w")).cast("long").as("wlen"))
    val perDocWord = Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("cnt"))
    val out = perDocWord.join(broadcast(wordSyms), "w")
      .groupBy(col("doc_id")).agg(
        sum(col("cnt")).as("n_words"),
        sum(col("cnt") * col("sym")).as("n_tok_bpe"),
        sum(col("cnt") * col("wlen")).as("n_word_chars"))
      .withColumn("chars_per_tok_milli",
        expr("n_word_chars * 1000 div n_tok_bpe"))
      .orderBy(col("doc_id")).limit(20)
    enc0.unpersist()
    out
  }

  // ---- q91: PMI collocation census (Church & Hanks, CL 1990) ----

  private[graft] val PmiTopK = 20
  private[graft] val PmiMinCount = 5

  /** pmi_micro from the floored integer lift: ⌊ln(lift_micro·10⁻⁶)·10⁶⌋ —
    * ONE libm site shared by the operator and the resolved-oracle injection
    * (the q65/q83 contract: the double it logs is derived from an exact
    * bigint BOTH engines agree on, so a 1-ulp ln divergence can never flip
    * a floor boundary between engines). */
  private[graft] def pmiMicroOfLift(liftMicro: Long): Long =
    math.floor(math.log(liftMicro.toDouble / 1e6) * 1e6).toLong

  /** The q91 model, driver-materialized once (bounded: k rows) — the top-k
    * bigram collocations by PMI over the corpus bigram distribution.
    *
    * The RANKING never touches a logarithm: PMI = ln(lift) with
    * lift = c(a,b)·N / (cₗ(a)·cᵣ(b)) (marginals of the bigram table
    * itself), and ln is monotone, so ordering by the exact bigint
    * lift_micro = ⌊c(a,b)·N·10⁶ / (cₗ·cᵣ)⌋ IS the PMI order (ties → the
    * floor could merge two lifts — tie-break on the bigram string keeps it
    * deterministic). ln runs exactly k times, on the driver, for the final
    * emitted constants. Int64 envelope: cab·N·10⁶ < 2⁶³ ⟺ cab·N < 9.2·10¹²
    * — holds through the 10× decade corpus; past that, rank in milli or
    * decimal(38) (documented, not needed at gate scales).
    *
    * Support floor cab ≥ 5: PMI is degenerate on rare pairs (a 1-count
    * pair of 1-count words maximizes lift) — the standard collocation
    * cutoff, deterministic. */
  /** The lift-scored candidate frame over a persisted bigram census —
    * split out so PlanGuardSpec can pin the funnel shape. */
  private[graft] def pmiCandidates(census: DataFrame, n: Long): DataFrame = {
    val left = census.groupBy(element_at(split(col("bg"), " "), 1).as("a"))
      .agg(sum(col("cab")).as("ca"))
    val right = census.groupBy(element_at(split(col("bg"), " "), 2).as("b"))
      .agg(sum(col("cab")).as("cb"))
    census.filter(col("cab") >= PmiMinCount.toLong)
      .withColumn("a", element_at(split(col("bg"), " "), 1))
      .withColumn("b", element_at(split(col("bg"), " "), 2))
      .join(broadcast(left), "a")
      .join(broadcast(right), "b")
      .withColumn("lift_micro",
        expr(s"cab * cast($n as bigint) * 1000000 div (ca * cb)"))
      .select(col("bg"), col("cab"), col("ca"), col("cb"), col("lift_micro"))
  }

  /** The corpus bigram census (one shuffle; vocab²-bounded output). */
  private[graft] def pmiCensus(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .select(explode(wordBigrams(split(col("text"), " "))).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("cab"))

  def pmiModel(spark: SparkSession, sfDir: String): Seq[(String, Long, Long, Long, Long, Long)] = {
    val census = pmiCensus(spark, sfDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // THREE consumers of the persisted census: N, the two marginals, and
    // the candidate frame (the q65 multi-consumer discipline)
    val n = census.agg(sum(col("cab"))).head().getLong(0)
    val top = pmiCandidates(census, n)
      .orderBy(desc("lift_micro"), asc("bg")).limit(PmiTopK)
      .collect()
    census.unpersist()
    top.toSeq.map { r =>
      val lift = r.getAs[Long]("lift_micro")
      (r.getAs[String]("bg"), r.getAs[Long]("cab"), r.getAs[Long]("ca"),
        r.getAs[Long]("cb"), lift, pmiMicroOfLift(lift))
    }
  }

  /** q91: top-20 PMI collocations — the collocation-extraction face of the
    * text stack (q83 ranks documents; this ranks word PAIRS). One bigram
    * census shuffle (vocab²-bounded rows) with broadcast marginal joins; a
    * TakeOrdered(k) funnel; k driver rows.
    *
    * 100 TB note: the marginals are VOCAB-sized, not corpus-sized — the
    * broadcast is the right plan for any vocabulary that fits an executor
    * (collocation extraction is vocabulary-scale work by nature). A
    * misspelling-heavy open-web vocabulary that doesn't fit would switch
    * the two marginal joins to shuffle joins — value-identical, the same
    * equi-join keys — which is a one-line hint change, not a redesign. */
  def pmiCollocations(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    pmiModel(spark, sfDir).zipWithIndex.map { case ((bg, cab, ca, cb, l, p), i) =>
      ((i + 1).toLong, bg, cab, ca, cb, l, p)
    }.toDF("rnk", "bg", "cab", "ca", "cb", "lift_micro", "pmi_micro")
      .orderBy(col("rnk"))
  }

  // ---- q96: bigram-LM perplexity filter (Wenzek et al., CCNet 2020) ----

  private[graft] val PplTopK = 20

  /** Micro-nat surprisal of one bigram under the add-one model:
    * ⌊(ln(ca+V) − ln(cab+1))·10⁶⌋ — strictly positive (den > num always)
    * and the ONE libm site of q96, evaluated on the DRIVER over exact
    * bigints both engines agree on; neither engine's distributed plan
    * touches a logarithm (the model is a joined dimension). */
  private[graft] def pplTermMicro(num: Long, den: Long): Long =
    math.floor((math.log(den.toDouble) - math.log(num.toDouble)) * 1e6).toLong

  /** The trained model, driver-materialized once (bounded: bigram TYPES —
    * vocab²-bounded, NOT corpus-bounded): (bg, cab, ca, term_micro) rows
    * plus the vocabulary size V. Training = q91's bigram census + its
    * left marginal + add-one smoothing p(w|v) = (cab+1)/(ca+V).
    *
    * 100 TB note: CCNet's production form trains the LM on a BOUNDED
    * reference corpus (Wikipedia) and scores the big corpus against it —
    * the model is a dimension by construction. Self-training on an
    * open-web corpus would first prune to the top-M bigrams (standard
    * KenLM pruning), which keeps this exact plan shape; only the
    * dimension build changes. */
  private[graft] def lmModel(spark: SparkSession, sfDir: String)
      : (Long, Seq[(String, Long, Long, Long)]) = {
    val census = pmiCensus(spark, sfDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val la = census.groupBy(element_at(split(col("bg"), " "), 1).as("a"))
      .agg(sum(col("cab")).as("ca"))
    val v = Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .select(explode(split(col("text"), " ")).as("w"))
      .agg(countDistinct(col("w"))).head().getLong(0)
    val rows = census
      .withColumn("a", element_at(split(col("bg"), " "), 1))
      .join(broadcast(la), "a")
      .select(col("bg"), col("cab"), col("ca"))
      .collect()
      .map { r =>
        val (cab, ca) = (r.getAs[Long]("cab"), r.getAs[Long]("ca"))
        (r.getAs[String]("bg"), cab, ca, pplTermMicro(cab + 1, ca + v))
      }.toSeq
    census.unpersist()
    (v, rows)
  }

  /** q96: per-doc perplexity under the corpus's OWN add-one bigram LM —
    * the CCNet quality mechanism (docs scoring far above the corpus model
    * are the distributional outliers); emitted as the top-[[PplTopK]] by
    * mean surprisal. Ranking is by the exact bigint mean_nll_micro
    * (= ln(perplexity)·10⁶; exp is monotone, so this IS the perplexity
    * order — the q91 monotone-transform discipline), tie → doc_id.
    *
    * Scale shape: ONE corpus pass explodes bigram occurrences against the
    * BROADCAST model dimension (vocab²-bounded — the same reason q89's
    * vocab join broadcasts), one per-doc census shuffle, a TakeOrdered(k)
    * funnel, k driver rows. No logarithm anywhere in the distributed
    * plan. */
  /** The distributed q96 scoring frame over a bound model dimension —
    * split out so PlanGuardSpec pins the REAL path (broadcast dimension,
    * log-free plan, TakeOrdered funnel). */
  private[graft] def lmPerDocTop(spark: SparkSession, sfDir: String,
      dim: DataFrame): DataFrame =
    Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        explode(wordBigrams(split(col("text"), " "))).as("bg"))
      .join(broadcast(dim), "bg")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("term_micro")).as("nll_micro"))
      .withColumn("mean_nll_micro", expr("nll_micro div n_bigrams"))
      .orderBy(desc("mean_nll_micro"), asc("doc_id")).limit(PplTopK)

  def lmPerplexity(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (_, model) = lmModel(spark, sfDir)
    val dim = model.map { case (bg, _, _, t) => (bg, t) }
      .toDF("bg", "term_micro")
    val top = lmPerDocTop(spark, sfDir, dim).collect()
    top.toSeq.zipWithIndex.map { case (r, i) =>
      ((i + 1).toLong, r.getAs[Long]("doc_id"), r.getAs[Long]("n_bigrams"),
        r.getAs[Long]("nll_micro"), r.getAs[Long]("mean_nll_micro"))
    }.toDF("rnk", "doc_id", "n_bigrams", "nll_micro", "mean_nll_micro")
      .orderBy(col("rnk"))
  }

  // ---- q92: per-source χ² drift census (Pearson, 1900 — CCNet-style QA) ----

  private[graft] val DriftVocab = 16

  /** q92: which sources' word distributions drift furthest from the
    * corpus — the mixture-QA face next to q73 (lexical overlap) and q74
    * (importance): per source, Pearson's χ² statistic over the top-16 +
    * `<other>` word bucketing (the q65 vocabulary discipline: a FIXED
    * 17-bucket binning makes the statistic well-defined and the rare-word
    * tail never degenerates), computed on MICRO-PROPORTIONS so every term
    * is bounded by 10¹² at ANY corpus size — no overflow envelope at all:
    * term = (p_o − p_e)² div max(p_e, 1) with p_o = ⌊o·10⁶/n_s⌋,
    * p_e = ⌊c·10⁶/N⌋. The clamp is load-bearing, not decorative: past
    * 10⁶ corpus tokens a top-16 word CAN carry < 10⁻⁶ of corpus mass
    * (one dominant word + rare tail), flooring p_e to 0 — and both
    * engines return NULL on integer ÷0 (Spark `div`, DuckDB `//`), which
    * sum() would then drop SILENTLY and identically, i.e. a bucket's
    * drift would vanish from the statistic without any gate noticing.
    * χ² is undefined at zero expectation; clamping to one micro keeps
    * the statistic total and exact in both engines. This is χ²/n_s —
    * the size-normalized drift, the right comparison ACROSS sources.
    *
    * Shape: ONE corpus word-census shuffle; everything after runs on
    * source×bucket grids (20×17), with the missing-bucket zeros restored
    * by a small cross-join (o = 0 terms must count). All bigint. */
  def sourceDrift(spark: SparkSession, sfDir: String): DataFrame =
    sourceDriftOn(Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= ""))

  /** The q92 core over any `(source, w)` frame — split out for fixtures. */
  private[graft] def sourceDriftOn(words: DataFrame): DataFrame = {
    val wc = words.groupBy(col("w")).agg(count(lit(1)).as("c"))
    // bounded driver materialization: the 16-word vocabulary (q65's rule)
    val vocab = SketchSelect.topK(wc, "c", "w", DriftVocab.toLong)
      .collect().map(_.getAs[String]("w")).toSeq
    val bucketed = words.withColumn("bucket",
      when(col("w").isin(vocab: _*), col("w")).otherwise(lit("<other>")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val corpus = bucketed.groupBy(col("bucket")).agg(count(lit(1)).as("c"))
    val totals = bucketed.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
    val o = bucketed.groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("o"))
    val bigN = corpus.agg(sum(col("c")).as("n_total"))
    val grid = totals.crossJoin(broadcast(corpus))
      .join(o, Seq("source", "bucket"), "left")
      .na.fill(0L, Seq("o"))
    val out = grid
      .crossJoin(broadcast(bigN))
      .withColumn("p_o", expr("o * 1000000 div n_s"))
      .withColumn("p_e", expr("greatest(c * 1000000 div n_total, 1L)"))
      .withColumn("term", expr("(p_o - p_e) * (p_o - p_e) div p_e"))
      .groupBy(col("source"))
      .agg(max(col("n_s")).as("n_tokens"), sum(col("term")).as("drift_micro"))
      .orderBy(col("source"))
    bucketed.unpersist()
    out
  }

  // ---- q88: content-defined chunking dedup (Muthitacharoen et al., SOSP'01) ----

  private[graft] val CdcWindow = 8
  private[graft] val CdcDiv = 16

  /** Per-doc content-defined chunks: position i (1-based, i ≥ 8) is a cut
    * iff the char-fold hash of the trailing 8-char window ≡ 0 (mod 16) —
    * the LBFS/rsync boundary rule with the project's established
    * cross-engine fold (h·131 + code) mod 4093. Boundaries depend ONLY on
    * local content, so an insertion reshapes at most the chunks whose
    * windows overlap the edit — the property that lets chunk-level dedup
    * catch near-dups that fixed-size blocking misses (q15 needs byte
    * identity; q69 needs exact 8-gram token runs; this survives arbitrary
    * prefix/infix edits at CHAR granularity).
    *
    * One codegen map pass, no shuffle: chunks explode from a per-row
    * boundary scan. The cut positions come from the native [[graft.agg.CdcCuts]]
    * expression — a genuinely ROLLING O(n) fold with `doGenCode` (ring
    * buffer, no per-position allocation). The HOF twin below recomputes
    * the fold per position (O(8·n) work, a window array allocated per
    * position — it measured 4.3× across the q88 decade before the fusion)
    * and stays as the bit-parity pin (StringExprSpec). */
  private[graft] def cdcCutsHof: Column = expr(
    s"""case when n >= $CdcWindow then
       |  filter(sequence($CdcWindow, n), i ->
       |    aggregate(
       |      filter(split(substring(s, i - ${CdcWindow - 1}, $CdcWindow), ''), c -> c != ''),
       |      cast(0 as bigint),
       |      (acc, c) -> (acc * 131 + ascii(c)) % 4093) % $CdcDiv = 0)
       |else array() end""".stripMargin)

  private[graft] def cdcChunkRows(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"), col("text").as("s"), length(col("text")).as("n"))
      .filter(col("n") >= 1)
      .withColumn("bs",
        graft.agg.StringExpressions.cdc_cuts(col("s"), CdcWindow, CdcDiv))
      .withColumn("cuts", expr(
        """concat(array(0), bs,
          |  case when size(bs) > 0 and element_at(bs, -1) = n
          |       then array() else array(n) end)""".stripMargin))
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(cuts) - 1),
          |  j -> substring(s, element_at(cuts, j) + 1,
          |       element_at(cuts, j + 1) - element_at(cuts, j)))""".stripMargin)).as("ch"))
  }

  /** q88: chunk-level dedup census over CDC chunks — total/distinct chunk
    * counts plus the cross-document shared mass (distinct chunks seen in
    * ≥2 docs and their character volume). The census groups on the 128-bit
    * digest of the chunk, never the chunk text (the q66 small-row shuffle
    * discipline — md5 here because the oracle must re-derive it; at 100 TB
    * the same plan ships 16-byte digests through ONE shuffle and the doc
    * text never leaves the map side). */
  def cdcChunkDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
    val byChunk = cdcChunkRows(docs)
      .groupBy(md5(col("ch")).as("h"))
      .agg(count(lit(1)).as("c"),
        countDistinct(col("doc_id")).as("nd"),
        min(length(col("ch"))).cast("long").as("chlen"))
    val totals = docs.agg(count(lit(1)).as("n_docs"))
    val census = byChunk.agg(
      sum(col("c")).as("total_chunks"),
      count(lit(1)).as("distinct_chunks"),
      sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("cross_doc_chunks"),
      sum(when(col("nd") >= 2, col("chlen")).otherwise(0L)).as("cross_doc_chars"))
    totals.crossJoin(census)
  }

  // ---- q83: BM25 ranked keyword retrieval (Robertson et al., TREC-3) ----

  private[graft] val Bm25K = 5
  private[graft] val Bm25Queries = 4
  /** Query terms are drawn from ranks 17–24 of the df census — below the
    * 16-term stopword head the q65 vocabulary models, so the postings
    * prefilter is genuinely selective instead of matching every document. */
  private[graft] val Bm25StopHead = 16
  private val Bm25Salts = 8

  /** Robertson–Spärck Jones idf in integer micro-nats:
    * floor(ln(1 + (N − df + ½)/(df + ½))·10⁶) — always ≥ 0 (the +1 form).
    * ONE libm call site (the q65 [[lmTermMicro]] contract), shared by the
    * operator and the resolved-oracle injection, so a 1-ulp ln divergence
    * between engines can never flip a floor boundary. */
  private[graft] def bm25IdfMicro(df: Long, n: Long): Long =
    math.floor(math.log1p((n - df + 0.5) / (df + 0.5)) * 1e6).toLong

  /** The q83 model inputs, driver-materialized once (all bounded): the 8
    * selected (term, df, idf_micro) rows in selection-rank order, plus the
    * corpus doc count and the milli-rounded average doc length. Used by
    * BOTH the operator and the oracle injection ([[bm25IdfMicro]] is the
    * shared transcendental site; everything else is re-derived by DuckDB). */
  def bm25Model(spark: SparkSession, sfDir: String): (Seq[(String, Long, Long)], Long, Long) = {
    val docs = Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
    val totals = docs.agg(count(lit(1)).as("n"),
      sum(size(col("t")).cast("long")).as("tt")).head()
    val nDocs = totals.getLong(0)
    val avgDlMilli = totals.getLong(1) * 1000L / nDocs
    val dfc = docs.select(explode(array_distinct(col("t"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("df"))
    // bounded driver materialization (the q39/q65 discipline): 24 rows
    val head = SketchSelect.topK(dfc, "df", "w",
      (Bm25StopHead + 2 * Bm25Queries).toLong).collect()
      .map(r => (r.getAs[String]("w"), r.getAs[Long]("df")))
      .sortBy { case (w, d) => (-d, w) }
    val sel = head.slice(Bm25StopHead, Bm25StopHead + 2 * Bm25Queries).toSeq
    (sel.map { case (w, d) => (w, d, bm25IdfMicro(d, nDocs)) }, nDocs, avgDlMilli)
  }

  /** q83: BM25 top-k keyword search — the ranked-retrieval face of the
    * text stack (ANN covers the vector face: q24/q26/q39/q49/q81). Four
    * 2-term queries over the selective tail of the df census; per (term,
    * doc) score = idf · tf·(k₁+1)/(tf + k₁·(1−b+b·dl/avgdl)) with the
    * standard k₁=1.2, b=0.75, summed per document; top-5 per query.
    *
    * Cross-engine determinism: with avgdl pre-rounded to MILLI tokens
    * (avm = ⌊1000·T/N⌋) and k₁, b folded through, the per-term score is the
    * pure bigint expression ⌊idf_micro·22·tf·avm / (10·avm·tf + 3·avm +
    * 9000·dl)⌋ — no float anywhere downstream of the one injected ln().
    * Every factor is corpus-size-INDEPENDENT (idf ≤ ln(1+2N)·10⁶ ≈ 2·10⁷,
    * tf ≤ dl, avm ≈ 2·10⁵), so the products clear int64 at any corpus.
    *
    * Scale shape — an inverted index, not a scan-per-query: the exploded
    * token stream joins the BROADCAST 8-term query table BEFORE any
    * shuffle, so only matching postings reach the (query, doc, term) tf
    * census; docs containing no query term never leave their input
    * partition. Top-k per query is the q77 two-level salted rank — never
    * one task per query sorting its full candidate list. */
  def bm25Search(spark: SparkSession, sfDir: String): DataFrame = {
    val (sel, _, avm) = bm25Model(spark, sfDir)
    val qdf = broadcast(spark.createDataFrame(sel.zipWithIndex.map {
      case ((w, _, idf), i) => (w, (i / 2).toLong, idf)
    }).toDF("w", "query_id", "idf_micro"))
    val postings = Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), size(col("t")).cast("long").as("dl"),
        explode(col("t")).as("w"))
      .join(qdf, Seq("w")) // inverted-index prefilter: broadcast, pre-shuffle
      .groupBy(col("query_id"), col("doc_id"), col("w"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"),
        max(col("idf_micro")).as("idf"))
    val scored = postings
      .withColumn("term_score", expr(
        s"(idf * 22 * tf * cast($avm as bigint)) div " +
          s"(10 * cast($avm as bigint) * tf + 3 * cast($avm as bigint) + 9000 * dl)"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("term_score")).as("score_micro"))
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"), col("salt"))
      .orderBy(desc("score_micro"), asc("doc_id"))
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(desc("score_micro"), asc("doc_id"))
    scored
      .withColumn("salt", pmod(xxhash64(col("doc_id")), lit(Bm25Salts)))
      .withColumn("r1", row_number().over(w1))
      .filter(col("r1") <= Bm25K)
      .withColumn("rn", row_number().over(w2).cast("long"))
      .filter(col("rn") <= Bm25K)
      .select(col("query_id"), col("rn"), col("doc_id"), col("score_micro"))
      .orderBy(col("query_id"), col("rn"))
  }

  // ---- q108: the MinHash Jaccard ESTIMATOR, audited against exact ----

  private[graft] val MinHashK = 128

  /** q108: gate the MinHash estimator itself (Broder 1997) — q16 uses
    * minhash only as an LSH bucketing key; this gates its QUANTITATIVE
    * claim, Ĵ = |{i : minᵢ(A) = minᵢ(B)}| / k, against the exact
    * per-source-pair trigram Jaccard (the q73 machinery). Each matching
    * component is a Bernoulli(J) trial, so |Ĵ − J| ≤ 4.5·√(J(1−J)/k) +
    * 2/k (the binomial tail at ~3·10⁻⁶ per pair plus the k-quantization
    * slack) — the verdict the Spark side can only emit as true when the
    * estimator genuinely lands inside the published envelope on every one
    * of the S(S−1)/2 pairs.
    *
    * Plan: one distinct-shingle census keyed by the 128-bit hash (one
    * exemplar string per shingle), ONE grouped pass computing all k mins
    * (k codegen'd min aggregates — never k passes), then the S-row
    * signature table self-joins broadcast. At 100 TB the signatures are
    * the only thing that moves: k·8 bytes per source vs the shingle sets'
    * GBs — set similarity from fixed-size state, which is the estimator's
    * entire point. */
  def minhashEstimator(spark: SparkSession, sfDir: String): DataFrame = {
    val srcSh = srcShingleCensus(Tables.documents(spark, sfDir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // k min-hash components gᵢ = xxhash64(i, h1, h2) over the census's own
    // 128-bit shingle hash (round 7) — three FIXED-WIDTH long fields per
    // component instead of re-folding the shingle STRING's bytes k times
    // (the string no longer exists in the census at all): the k-min
    // grouped pass dropped from the query's dominant stage to scan-speed
    // (q108 3.4 s → ~2 s at sf0.1). Each component is still a Bernoulli(J)
    // trial per pair — the binomial-envelope verdict below re-proves the
    // family on every one of the S(S−1)/2 pairs, at every sf, against the
    // exact Jaccard (and does: all 190 verdicts hold).
    val sigCols = (0 until MinHashK)
      .map(i => min(xxhash64(lit(i.toLong), col("h1"), col("h2"))).as(s"m$i"))
    val sigs = srcSh.groupBy(col("source"))
      .agg(sigCols.head, sigCols.tail: _*)
      .select(col("source"),
        array((0 until MinHashK).map(i => col(s"m$i")): _*).as("sig"))
    val sizes = srcSh.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = srcSh.select(col("source").as("source_a"), col("h1"), col("h2"))
      .join(srcSh.select(col("source").as("source_b"), col("h1"), col("h2")),
        Seq("h1", "h2"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("i"))
    val exact = sizes.select(col("source").as("source_a"), col("n").as("n_a"))
      .join(broadcast(sizes.select(col("source").as("source_b"),
        col("n").as("n_b"))), col("source_a") < col("source_b"))
      .join(inter, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"),
        expr("coalesce(i, 0L) * 1000000 div (n_a + n_b - coalesce(i, 0L))")
          .as("jaccard_micro"))
    val est = exact
      .join(broadcast(sigs.select(col("source").as("source_a"),
        col("sig").as("sig_a"))), Seq("source_a"))
      .join(broadcast(sigs.select(col("source").as("source_b"),
        col("sig").as("sig_b"))), Seq("source_b"))
      .withColumn("matches", expr(
        "aggregate(zip_with(sig_a, sig_b, (x, y) -> if(x = y, 1L, 0L)), 0L, (acc, v) -> acc + v)"))
    val j = col("jaccard_micro").cast("double") / lit(1e6)
    val bound = lit(4.5) * sqrt(j * (lit(1.0) - j) / lit(MinHashK.toDouble)) +
      lit(2.0 / MinHashK)
    est.select(col("source_a"), col("source_b"), col("jaccard_micro"),
      (abs(col("matches").cast("double") / lit(MinHashK.toDouble) - j) <= bound)
        .as("est_within_bound"))
      .orderBy(col("source_a"), col("source_b"))
  }
}
