package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.agg.SketchFunctions._

/**
 * Sketch-operator queries wired into the Verify/DuckDB correctness gate.
 *
 * Gate discipline: at sf0.01 every sketch here is sized into its
 * *collision-free / no-compaction regime*, where its answer is provably (and
 * locally verified) identical to the exact answer DuckDB computes — so the
 * driver's hash compare is meaningful. The genuinely approximate regime
 * (narrow sketches, published error bounds, zipf adversaries) is covered by
 * the ScalaTest suites, mirroring how the reference validates empirically
 * against carried ground truth (/root/reference/Simulator/Program.cs:482-512).
 *
 * Plan shapes: one whole-table aggregate builds the O(d·w) sketch (partial
 * per partition → merge), then every probe row reads the one-row sketch
 * as a scalar subquery (`cm_query(sk.scalar(), key)`), so each task sees
 * one array and decodes it once — the Spark analogue of the reference's
 * "build in kernel, serve point queries over TCP" split
 * (/root/reference/KernelQueue/main.c:63-144).
 */
object SketchQueries {

  /** Orders an answer that is tiny by construction (a top-20 listing, one
    * row per probe probability) inside ONE partition: a single-partition
    * child already satisfies the Sort's ordered distribution, so the plan
    * keeps its full Sort and takes no range Exchange, which under AQE
    * costs a sampling job and a map-stage job. Every row passes through one
    * task, so only a bounded answer may use it. */
  private[graft] def sortBounded(df: DataFrame, order: Column*): DataFrame =
    df.coalesce(1).orderBy(order: _*)

  /** q01: CM point-frequency per event_type (collision-free width). */
  def cmPointEventType(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val sk = ev.agg(cm_sketch(col("event_type"), lit(1L), eps = 1e-4).as("sk"))
    ev.agg(collect_set(col("event_type")).as("keys"))
      .select(explode(col("keys")).as("event_type"))
      .select(col("event_type"),
        cm_query(sk.scalar(), col("event_type")).as("est_count"))
      .orderBy("event_type")
  }

  /** q02: heavy hitters (CM + candidate heap) over event user_id, top 20. */
  def cmTopKUsers(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val sk = ev.select(col("user_id").cast("string").as("k"))
      .agg(cm_topk(col("k"), lit(1L), capacity = 4096, eps = 1e-4).as("sk"))
    topUsers(sk)
  }

  /** The top-20 listing of the one-row TopK frame `sk` (column `sk`),
    * heaviest first (q02, and q78 over its streamed sketch). */
  private[graft] def topUsers(sk: DataFrame): DataFrame =
    sortBounded(sk.select(explode(topk_entries(col("sk"), 20)).as("e"))
      .select(col("e.key").as("user_id"), col("e.est").as("est_count")),
      desc("est_count"), asc("user_id"))

  /** q03: ε·N additive-bound audit with a deliberately narrow CM over
    * l_partkey. CM never underestimates (deterministic), and at this sizing
    * no key exceeds the ε·N bound on this dataset (locally verified — the
    * probabilistic guarantee is ≥1−δ; ScalaTest covers the adversarial
    * regime). */
  def cmBoundPartkeys(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val keyed = li.select(col("l_partkey").cast("string").as("k"))
    val sk = keyed.agg(cm_sketch(col("k"), lit(1L), eps = 5e-3)).scalar()
    val exact = keyed.groupBy(col("k")).agg(count(lit(1)).as("true_count"))
    val est = exact
      .select(col("k"), col("true_count"),
        cm_query(sk, col("k")).as("est"),
        cm_total(sk).as("n"))
    // effective epsilon of the built sketch: e / width(2^k ≥ e/eps)
    val width = graft.sketch.SketchIO.nextPow2(math.ceil(math.E / 5e-3).toInt)
    val epsEff = math.E / width
    est.agg(
      count(lit(1)).as("n_keys"),
      sum(when(col("est") < col("true_count"), 1L).otherwise(0L)).as("under_violations"),
      sum(when(col("est").cast("double") >
        col("true_count").cast("double") + lit(epsEff) * col("n").cast("double"), 1L)
        .otherwise(0L)).as("over_violations"))
  }

  /** q04: skew pattern — salted two-level CM build over documents.lang
    * (top language >40% of rows per FIXTURES.md): level 1 aggregates one
    * sketch per (salt) group, level 2 `cm_merge`s the shards, exactly the
    * salted-repartition + merge plan the north rule requires. Merge
    * associativity makes the two-level result bit-identical to a flat build. */
  def cmSaltedLang(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val salted = docs.select(col("lang"),
      pmod(hash(col("doc_id")), lit(8)).as("salt"))
    val shards = salted.groupBy(col("salt"))
      .agg(cm_sketch(col("lang"), lit(1L), eps = 1e-4).as("shard"))
    val merged = shards.agg(cm_merge(col("shard")).as("sk"))
    val langs = docs.select(col("lang")).distinct()
    langs.select(col("lang"), cm_query(merged.scalar(), col("lang")).as("est_count"))
      .orderBy("lang")
  }

  /** q05: HLL distinct users + bound check (exact via countDistinct). */
  def hllUsers(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val sk = ev.agg(
      hll_sketch(col("user_id").cast("string"), p = 14).as("sk"),
      countDistinct(col("user_id")).as("exact_users"))
    sk.select(
      col("exact_users"),
      (abs(hll_count(col("sk")).cast("double") - col("exact_users").cast("double")) <=
        greatest(lit(2.0), lit(3.0) * hll_stderr(col("sk")) * col("exact_users")))
        .as("hll_within_bound"))
  }

  /** q06: HLL across three cardinality regimes, one row per entity. */
  def hllMulti(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val li = Tables.lineitem(spark, sfDir)
    def one(df: DataFrame, keyCol: String, label: String): DataFrame =
      df.agg(
        hll_sketch(col(keyCol).cast("string"), p = 14).as("sk"),
        countDistinct(col(keyCol)).as("exact_count"))
        .select(lit(label).as("entity"), col("exact_count"),
          (abs(hll_count(col("sk")).cast("double") - col("exact_count").cast("double")) <=
            greatest(lit(2.0), lit(3.0) * hll_stderr(col("sk")) * col("exact_count")))
            .as("within_bound"))
    one(ev, "user_id", "events.user_id")
      .unionAll(one(li, "l_orderkey", "lineitem.l_orderkey"))
      .unionAll(one(li, "l_partkey", "lineitem.l_partkey"))
      .orderBy("entity")
  }

  /** q07: Bloom-filter membership pre-filter (the reference's FilteredSketch
    * role): build over a filtered customer-key set, probe every order. FPP
    * sized so false positives are deterministically zero here (verified);
    * FPP-regime behavior is ScalaTest-covered. */
  def bloomOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val members = Tables.customer(spark, sfDir)
      .filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey").cast("string").as("k"))
    val sk = members.agg(bloom_sketch(col("k"), expectedItems = 100000, fpp = 1e-9).as("sk"))
    bloomProbeCounts(Tables.orders(spark, sfDir), sk, members)
  }

  /** q07's and q112's probe side, in one aggregate over one scan of the
    * orders: every order against the one-row Bloom frame `sk` (one binary
    * column), and the exact count of orders whose customer is in `members`
    * (one string key column). The filter rides a scalar subquery, so every
    * row of a task hands `bloom_contains` the same array and the decode
    * memo answers by identity; a cross join would copy the filter into
    * every probe row. Membership is an IN subquery in the projection,
    * planned as an existence join: an order counts once however often its
    * customer appears in `members`, and an order with a null key never
    * counts — a semi join's count. */
  private[graft] def bloomProbeCounts(ord: DataFrame, sk: DataFrame,
      members: DataFrame): DataFrame = {
    val key = col("o_custkey").cast("string")
    ord.select(bloom_contains(sk.scalar(), key).as("hit"),
        key.isin(members).as("member"))
      .agg(
        count(lit(1)).as("probes"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("bloom_positives"),
        count_if(col("member")).as("true_positives"))
  }

  /** q28: the reference's FilteredSketch composition (C4,
    * /root/reference/Simulation/FilteredSketch.cs:55-100): a cheap CM first
    * pass gates the expensive exact second pass — only keys whose CM
    * estimate clears the threshold are recounted exactly. CM never
    * underestimates, so the filter never drops a qualifying key; at this
    * width it admits no extras either (collision-free regime). */
  def filteredHeavyHitters(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val keyed = li.select(col("l_partkey").cast("string").as("k"))
    val sk = keyed.agg(cm_sketch(col("k"), lit(1L), eps = 1e-4).as("sk"))
    // probe shape that survives a billion-key side: distinct keys stay a
    // DataFrame (never funneled through one collect_set row) and read the
    // sketch as a scalar subquery — no per-row sketch bytes
    val candidates = keyed.select(col("k")).distinct()
      .filter(cm_query(sk.scalar(), col("k")) > 45L)
      .select(col("k"))
    // phase 2: exact counts for the surviving candidate set only. The final
    // re-filter on the EXACT count costs nothing (already computed) and
    // makes the query exact at ANY scale: a CM collision can admit a
    // below-threshold key into the candidate set, but never drop one
    // (one-sided overestimate), so filter-then-exact-then-refilter ≡ exact.
    keyed.join(broadcast(candidates), Seq("k"), "left_semi")
      .groupBy(col("k")).agg(count(lit(1)).as("exact_count"))
      .filter(col("exact_count") > 45L)
      .orderBy(col("k"))
  }

  /** q29: Count-Sketch point estimates per event_type (signed-median
    * estimator; exact in the collision-free regime). */
  def csPointEventType(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val sk = ev.agg(cs_sketch(col("event_type"), lit(1L), depth = 5, width = 4096).as("sk"))
    ev.select(col("event_type")).distinct()
      .select(col("event_type"), cs_query(sk.scalar(), col("event_type")).as("est_count"))
      .orderBy("event_type")
  }

  /** q30: Misra-Gries top-20 users (SketchVisor's role with a provable
    * bound; exact when capacity ≥ distinct keys). */
  def mgTopKUsers(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val sk = ev.select(col("user_id").cast("string").as("k"))
      .agg(mg_sketch(col("k"), lit(1L), capacity = 4096).as("sk"))
    sk.select(explode(mg_entries(col("sk"))).as("e"))
      .select(col("e.key").as("user_id"), col("e.est").as("est_count"))
      .orderBy(desc("est_count"), asc("user_id"))
      .limit(20)
  }

  /** q31: Filtered Space-Saving top-20 users with per-key error bounds
    * (f ≥ true ≥ f−e; e = 0 in the all-monitored regime). */
  def fssTopKUsers(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val sk = ev.select(col("user_id").cast("string").as("k"))
      .agg(fss_sketch(col("k"), lit(1L), numEntries = 4096).as("sk"))
    sk.select(explode(fss_entries(col("sk"))).as("e"))
      .select(col("e.key").as("user_id"), col("e.f").as("est_count"),
        col("e.e").as("err_bound"))
      .orderBy(desc("est_count"), asc("user_id"))
      .limit(20)
  }

  /** q32: CountMax audit twin — the reference's order-sensitive flagship
    * runs single-partition only (SURVEY.md §7.5: not mergeable, not the
    * production HH path), so the KERNEL can't be SQL-mirrored; its accuracy
    * CONTRACT can (the q17/q23/q26/q39 audit-twin discipline). Emit the
    * exact top-20 users (DuckDB re-derives them from events) plus two
    * in-plan verdicts the oracle asserts as constants:
    *   - est_le_exact: CountMax point estimates are one-sided UNDERestimates
    *     — a slot counter only ever holds the resident key's own votes minus
    *     votes against (takeover sets it to v − old ≤ v), so query(k) ≤
    *     true(k) for ANY stream order (the accuracy contract behind
    *     /root/reference/Simulation/CountMax.cs:51-57);
    *   - candidate_hit: reversibility — every true heavy hitter is resident
    *     in some slot and enumerable via GetAllKeys
    *     (/root/reference/Simulation/CountMax.cs:101-108; the ElephantCover
    *     metric /root/reference/Simulator/Program.cs:715-722). Unlike
    *     est_le_exact this is a REGIME property, not an algorithm
    *     guarantee: a top key could in principle lose all d slots to
    *     heavier colliders. The gate sizes the sketch so the regime holds
    *     with wide margin (d=4 × w=4096 = 16384 slots vs ≤1500 keys at any
    *     verify scale — verified empirically at sf0.001/0.01/0.1, zero
    *     misses at all three even at the previous 2×1024 sizing); a bigger
    *     corpus widens w, exactly as the reference tunes it.
    * Kernel parity itself stays hand-traced in FrequentItemsSpec. */
  def countMaxParity(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id").cast("string").as("user_id"))
    // the order-sensitive single-stream build (cannot be a distributed agg)
    val skBytes = ev.as[String].repartition(1).mapPartitions { it =>
      val cmx = graft.sketch.CountMax(4, 4096)
      it.foreach(k => cmx.update(k, 1L))
      Iterator.single(cmx.serialize())
    }.collect()(0) // ONE serialized-sketch row; CountMax has no SQL probe
    val bc = spark.sparkContext
      .broadcast(graft.sketch.CountMax.deserialize(skBytes))
    val estOf = udf((k: String) => bc.value.query(k))
    val residentIn = udf((k: String) => bc.value.getAllKeys.contains(k))
    ev.groupBy(col("user_id")).agg(count(lit(1)).as("exact_count"))
      .orderBy(desc("exact_count"), asc("user_id")).limit(20)
      .select(col("user_id"), col("exact_count"),
        (estOf(col("user_id")) <= col("exact_count")).as("est_le_exact"),
        residentIn(col("user_id")).as("candidate_hit"))
      .orderBy(desc("exact_count"), asc("user_id"))
  }

  /** q33: one KLL sketch per group — per-language n_chars quantiles
    * (groupBy().agg(sketch) shape; exact regime at verify scale). */
  def kllByLang(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    docs.groupBy(col("lang"))
      .agg(kll_sketch(col("n_chars").cast("double"), k = 65536).as("sk"))
      .select(col("lang"),
        kll_quantile(col("sk"), lit(0.5)).cast("long").as("p50"),
        kll_quantile(col("sk"), lit(0.9)).cast("long").as("p90"))
      .orderBy(col("lang"))
  }

  /** q34: weighted Count-Min — per-returnflag total quantity (weights are
    * the reference's packet-size semantics, exact in the collision-free
    * regime; update linearity tested in CountMinSpec). */
  def cmWeightedFlag(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val keyed = li.select(col("l_returnflag").as("k"),
      col("l_quantity").cast("long").as("w"))
    val sk = keyed.agg(cm_sketch(col("k"), col("w"), eps = 1e-4).as("sk"))
    keyed.select(col("k")).distinct()
      .select(col("k").as("l_returnflag"),
        cm_query(sk.scalar(), col("k")).as("est_quantity"))
      .orderBy("l_returnflag")
  }

  /** q35: one HLL per group — per-language distinct sources + bound flag. */
  def hllByLang(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    docs.groupBy(col("lang"))
      .agg(hll_sketch(col("source"), p = 14).as("sk"),
        countDistinct(col("source")).as("exact_sources"))
      .select(col("lang"), col("exact_sources"),
        (abs(hll_count(col("sk")).cast("double") - col("exact_sources").cast("double")) <=
          greatest(lit(2.0), lit(3.0) * hll_stderr(col("sk")) * col("exact_sources")))
          .as("within_bound"))
      .orderBy(col("lang"))
  }

  /** q42: the reference's per-switch replication with min-combine (C1,
    * /root/reference/Simulation/CountMin.cs Update-per-switch + per-path
    * query fold) as a RUNNABLE operator, not just the CompositionParitySpec
    * fixture: R = 3 independent CM replicas (distinct seeds) over the same
    * stream, point answer = least of the three estimates — replication
    * tightens the one-sided CM overestimate exactly the way extra depth
    * does, but stays mergeable per replica. Exact regime → exact oracle. */
  def replicatedMinCm(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val keyed = ev.select(col("event_type").as("k"))
    // one frame per replica: a binary pulled out of a multi-column scalar
    // would reach every row as a fresh copy of the ~1.3 MB blob
    val replicas = Seq(0x11L, 0x22L, 0x33L).map(seed =>
      cm_query(keyed.agg(cm_sketch(col("k"), lit(1L), eps = 1e-4, seed = seed))
        .scalar(), col("k")))
    keyed.distinct()
      .select(col("k").as("event_type"), least(replicas: _*).as("est_count"))
      .orderBy("event_type")
  }

  /** q43: HalfSketch 2-way split with max-combine (C3,
    * /root/reference/Simulation/HalfSketch.cs:39-59) as a runnable operator.
    * Stated delta: the reference splits PER UPDATE with an unseeded Random
    * (not reproducible, not mergeable); the deployable variant splits PER
    * KEY (hash parity), which preserves the query shape — max over the two
    * halves — and makes the answer deterministic: a key's whole mass lands
    * in one half, the other returns only collision noise, and max picks the
    * populated half. Exact in the collision-free regime → exact oracle. */
  def halfSketchMax(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val keyed = ev.select(col("event_type").as("k"),
      pmod(xxhash64(col("event_type")), lit(2)).as("half"))
    val sk0 = keyed.filter(col("half") === 0)
      .agg(cm_sketch(col("k"), lit(1L), eps = 1e-4).as("sk0"))
    val sk1 = keyed.filter(col("half") === 1)
      .agg(cm_sketch(col("k"), lit(1L), eps = 1e-4).as("sk1"))
    keyed.select(col("k")).distinct()
      .select(col("k").as("event_type"),
        greatest(cm_query(sk0.scalar(), col("k")),
          cm_query(sk1.scalar(), col("k"))).as("est_count"))
      .orderBy("event_type")
  }

  /** q45: the actual SketchVisor fast path (S12/S13 —
    * [[graft.sketch.SketchVisor]]), single-partition like q32 because the
    * kick-out algorithm is order-sensitive by construction. All-monitored
    * regime at gate scale (capacity ≥ distinct users ⇒ zero kick-outs ⇒
    * exact) → exact top-20 oracle; the kick-out regime is hand-traced and
    * property-tested in SketchVisorSpec. */
  def sketchVisorTopK(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id").cast("string").as("k"))
      .as[String]
    val topDf = ev.repartition(1).mapPartitions { it =>
      val sv = new graft.sketch.SketchVisor(4096)
      it.foreach(k => sv.update(k, 1L))
      sv.entries.toSeq.sortBy { case (k, est) => (-est, k) }.take(20).iterator
    }.toDF("user_id", "est_count")
    topDf.orderBy(desc("est_count"), asc("user_id"))
  }

  private val Probs = Seq(0.01, 0.25, 0.5, 0.75, 0.99)

  /** Probe-probability column as DOUBLE. A `VALUES (0.5)` literal is typed
    * decimal(2,2) by Spark and renders "0.50" — which can never hash-match
    * the DuckDB oracle's double "0.5". Round-1 q08/q09/q10 failed on exactly
    * this; build the column with an explicit DoubleType instead. */
  private def probsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Probs.toDF("p")
  }

  /** q64: the KLL approximate contract IN THE GATE (the q60 discipline for
    * the quantile family): a k=64 sketch over l_extendedprice compacts
    * heavily at every verify scale (6k–600k rows vs 64 slots), and the gate
    * emits, per probe quantile, whether the estimate's EXACT normalized rank
    * (computed distributed, one conditional-sum pass) lands within the
    * published bound ε = 2/k = 0.03125 (Karnin–Lang–Liberty). Measured
    * headroom: max |rank−p| over 9 runs × varied partition/merge orders at
    * all three sfs = 0.0165 — the published bound has ~2× margin, so the
    * verdict is stable under Spark's nondeterministic partial-merge order.
    * The oracle mirrors (p, rank_ok=1) — constants, like q10's p rows. */
  def kllCollidingBound(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_extendedprice").cast("double").as("x"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = li.count()
    val kll = graft.sketch.KllSketch.deserialize(
      li.agg(kll_sketch(col("x"), k = 64).as("sk")).head().getAs[Array[Byte]]("sk"))
    val ests = Probs.map(p => (p, kll.quantile(p)))
    // one distributed pass: exact rank of every estimate at once
    val aggCols = ests.zipWithIndex.map { case ((_, est), i) =>
      sum(when(col("x") <= est, 1L).otherwise(0L)).as(s"r$i")
    }
    val row = li.agg(aggCols.head, aggCols.tail: _*).head()
    li.unpersist()
    val bound = kll.rankError // 2/k
    ests.zipWithIndex.map { case ((p, _), i) =>
      val rank = row.getLong(i).toDouble / n
      (p, if (math.abs(rank - p) <= bound) 1L else 0L)
    }.toDF("p", "rank_ok").orderBy(col("p"))
  }

  /** q08: KLL quantiles of l_extendedprice — k chosen above row count at the
    * verify scale, so the sketch never compacts and the discrete quantile is
    * exact (DuckDB `quantile_disc` semantics). */
  def kllPrice(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    kllQuantiles(li.agg(kll_sketch(col("l_extendedprice"), k = 65536).as("sk")))
  }

  /** q08's answer over the one-row KLL frame `sk`: one quantile per
    * probe probability (q08, and q90 over its streamed sketch). */
  private[graft] def kllQuantiles(sk: DataFrame): DataFrame =
    sortBounded(probsDf(sk.sparkSession)
      .select(col("p"), kll_quantile(sk.scalar(), col("p")).as("quantile_value")),
      col("p"))

  /** q09: KLL quantiles of documents.n_chars (long-typed output). */
  def kllNchars(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val sk = docs.agg(kll_sketch(col("n_chars").cast("double"), k = 65536).as("sk"))
    sortBounded(probsDf(spark)
      .select(col("p"),
        kll_quantile(sk.scalar(), col("p")).cast("long").as("quantile_value")),
      col("p"))
  }

  /** q10: t-digest rank-accuracy audit on l_extendedprice: the estimated
    * quantile's exact rank must sit within 0.02 of the target (published
    * t-digest accuracy at compression 200 is far tighter). */
  def tdigestPrice(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir).select(col("l_extendedprice").as("x"))
    // one aggregate, one scalar: the digest and n as a struct
    val sk = li.agg(struct(tdigest_sketch(col("x"), compression = 200.0).as("sk"),
      count(lit(1)).as("n"))).scalar()
    val withEst = probsDf(spark)
      .select(col("p"), sk.getField("n").as("n"),
        tdigest_quantile(sk.getField("sk"), col("p")).as("est_q"))
    // exact rank of est_q via a broadcast of the 5 estimates against the data
    val ranks = li.crossJoin(broadcast(withEst))
      .groupBy(col("p"), col("n"), col("est_q"))
      .agg(sum(when(col("x") < col("est_q"), 1L).otherwise(0L)).as("below"))
      .select(col("p"), col("n"),
        (abs(col("below").cast("double") / col("n").cast("double") - col("p")) <= 0.02)
          .as("rank_within_bound"))
    sortBounded(ranks, col("p"))
  }

  // ---- q85: heavy-change detection between adjacent epochs ----

  /** 500 planted events for a far-above-corpus user id, all in the second
    * epoch — the change the detector must surface at rank 1 (the
    * q41/q59/q67/q80/q84 in-gate planting discipline). */
  private[graft] val HeavyChangePlantId = 1000000000000L
  private[graft] val HeavyChangeBurst = 500

  /** q85: sketch-based heavy-change detection (Krishnamurthy et al., IMC'03
    * shape) — which keys changed most between two adjacent time epochs?
    * The trick is Count-Sketch LINEARITY: sketch(A) − sketch(B) =
    * sketch(A − B), so ONE build pass over the signed stream (epoch-1
    * events weight +1, epoch-2 weight −1) yields the difference sketch
    * directly — no second sketch, no subtraction pass, mergeable across
    * partitions like any other build.
    *
    * Gate output = the DuckDB-derivable exact side (per-user epoch counts
    * and |Δ| top-20, epoch split by the integer predicate 2·us < min+max —
    * no division, exact in both engines) + the audit verdict the oracle
    * asserts as a constant: the difference sketch's estimate must satisfy
    * the Count-Sketch error envelope (est−Δ)²·width ≤ 8·F₂(Δ), checked in
    * pure bigint arithmetic with F₂ computed exactly in-plan (the
    * q32/q60/q64 audit-twin discipline).
    *
    * Scale shape: one groupBy(user) for the exact census (persisted for
    * its two consumers: the F₂ aggregate and the top-20 funnel), one
    * whole-table sketch aggregate, TakeOrdered top-20, probes against the
    * one-row sketch and F₂ as scalar subqueries. */
  def heavyChangeUsers(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      // driver parquet is TIMESTAMP_NTZ; the cast is exact under the
      // session's UTC timezone (the AsOfJoin discipline)
      .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("us"))
    val bounds = ev.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
    val burst = spark.range(HeavyChangeBurst.toLong)
      .crossJoin(broadcast(bounds))
      .select(lit(HeavyChangePlantId).as("user_id"), col("mx").as("us"))
    val all = ev.unionByName(burst)
      .crossJoin(broadcast(bounds))
      .withColumn("w",
        when(col("us") * 2 < col("mn") + col("mx"), 1L).otherwise(-1L))
    // persisted: the exact census feeds the F2 aggregate AND the top-20
    val exact = all.groupBy(col("user_id"))
      .agg(sum(when(col("w") === 1L, 1L).otherwise(0L)).as("c1"),
        sum(when(col("w") === -1L, 1L).otherwise(0L)).as("c2"))
      .withColumn("delta", col("c1") - col("c2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val f2 = exact.agg(sum(col("delta") * col("delta")).as("f2"))
    val sk = all.agg(
      cs_sketch(col("user_id").cast("string"), col("w")).as("sk"))
    // one projection over the top-20 keeps the TakeOrdered funnel: a
    // separate est_delta column would stay its own Project, and the sort
    // below the limit would plan as a full global sort
    val err = cs_query(sk.scalar(), col("user_id")) - col("delta")
    exact
      .select(col("user_id").cast("string").as("user_id"), col("c1"),
        col("c2"), col("delta"), abs(col("delta")).as("delta_abs"))
      .orderBy(desc("delta_abs"), asc("user_id"))
      .limit(20)
      .select(col("user_id"), col("c1"), col("c2"), col("delta_abs"),
        (err * err * lit(4096L) <= lit(8L) * f2.scalar()).as("within_bound"))
      .orderBy(desc("delta_abs"), asc("user_id"))
  }

  // ---- q98: AMS second-moment estimation (Alon–Matias–Szegedy, STOC'96) ----

  private val AmsWidth = 4096

  /** q98: stream F₂ (self-join size / skew statistic — the classic AMS
    * application) estimated from the SAME Count-Sketch buffer the point
    * queries use ([[graft.sketch.CountSketch.f2Estimate]]): one mergeable
    * whole-table sketch aggregate, exact census twin for the audit.
    *
    * Oracle contract = the q32/q60/q64 audit-twin discipline: the exact
    * side (per-key F₂, key count, total weight) is fully DuckDB-derivable;
    * the kernel estimate itself is not SQL-expressible, so it is asserted
    * through the verdict column — |est − F₂|·10³ ≤ F₂·bound_milli with
    * bound_milli = ⌊√(8/width)·10³⌋ (the AMS median-of-rows tail bound,
    * ~4.4% at width 4096; the one √ is evaluated on the same exactly-
    * representable dyadic 8/4096 in both engines, so the floored constant
    * is cross-engine identical). The verdict can only read true when the
    * estimate genuinely lands inside the bound.
    *
    * Scale shape: one exact groupBy census (the shuffle the exact answer
    * needs anyway), one O(sketch)-state aggregate, a one-row driver
    * collect of the sketch binary. At 100 TB the estimate path alone runs
    * without the census (the audit is the gate's job, not production's). */
  def amsF2(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id").cast("string").as("k"))
    val ex = ev.groupBy(col("k")).agg(count(lit(1)).as("c"))
      .agg(sum(col("c") * col("c")).as("exact_f2"),
        count(lit(1)).as("n_keys"), sum(col("c")).as("f1"))
      .head()
    val (exactF2, nKeys, f1) = (ex.getLong(0), ex.getLong(1), ex.getLong(2))
    val skBytes = ev
      .agg(cs_sketch(col("k"), lit(1L), depth = 5, width = AmsWidth))
      .head().getAs[Array[Byte]](0)
    val est = graft.sketch.CountSketch.deserialize(skBytes).f2Estimate
    val boundMilli = math.floor(math.sqrt(8.0 / AmsWidth) * 1000).toLong
    Seq((exactF2, nKeys, f1, boundMilli,
      math.abs(est - exactF2) * 1000L <= exactF2 * boundMilli))
      .toDF("exact_f2", "n_keys", "f1", "bound_milli", "within_bound")
  }

  // ---- q99: equi-depth histogram (the ANALYZE-stats operator) ----

  private[graft] val EquiDepthBins = 8

  /** q99: equi-depth histogram of l_extendedprice — the statistics
    * operator every optimizer's ANALYZE runs: boundaries = the i/B
    * quantiles from ONE KLL aggregate, then one exact binning census pass
    * against the broadcast boundary literals.
    *
    * Why fully oracle-derivable (stronger than an audit twin): at the
    * gate k the KLL is compaction-free, and its rank rule — the
    * max(1, ⌈q·n⌉)-th order statistic — is EXACTLY DuckDB's
    * `quantile_disc` convention (verified for the i/8 grid), so the
    * boundaries themselves, not just the counts, are cross-engine
    * derivable (the q08 discipline extended from point quantiles to the
    * whole histogram). At production k the same plan degrades gracefully
    * under the q64-audited 2/k rank bound — bins become ≈N/B ± 2N/k.
    *
    * Scale shape: one O(sketch)-state aggregate, a B-value driver
    * collect, one codegen binning pass + a B-group census; empty bins
    * (duplicate-heavy boundaries) are restored so the contract is total. */
  def equiDepthHistogram(spark: SparkSession, sfDir: String): DataFrame =
    equiDepthOn(spark,
      Tables.lineitem(spark, sfDir).select(col("l_extendedprice").as("x")))

  /** The q99 core over any single-double-column frame `x` — split out for
    * the spec's degenerate-distribution fixtures. */
  private[graft] def equiDepthOn(spark: SparkSession, li: DataFrame): DataFrame = {
    import spark.implicits._
    val skRow = li
      .agg(kll_sketch(col("x"), k = 65536).as("sk"), max(col("x")).as("mx"))
      .head()
    val sk = graft.sketch.KllSketch.deserialize(skRow.getAs[Array[Byte]]("sk"))
    val bounds = (1 until EquiDepthBins)
      .map(i => sk.quantile(i.toDouble / EquiDepthBins)) :+ skRow.getDouble(1)
    val binCol = bounds.init.zipWithIndex.foldRight(lit(EquiDepthBins.toLong)) {
      case ((b, i), acc) => when(col("x") <= lit(b), lit((i + 1).toLong)).otherwise(acc)
    }
    val cnt = li.withColumn("bin", binCol)
      .groupBy(col("bin")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getAs[Long]("bin") -> r.getAs[Long]("cnt")).toMap
    var cum = 0L
    (1 to EquiDepthBins).map { i =>
      val c = cnt.getOrElse(i.toLong, 0L)
      cum += c
      (i.toLong, math.floor(bounds(i - 1) * 1e6).toLong, c, cum)
    }.toDF("bin", "hi_micro", "cnt", "cum_cnt").orderBy(col("bin"))
  }

  // ---- q101: HLL set algebra (union / intersection / difference) ----

  /** q101's segment cutoff (1998-06-01 UTC, near the shipdate median), as
    * epoch µs — the q100/q52 timezone-parse-free discipline. */
  private val SetAlgebraCutoffUs = 896659200000000L

  /** HLL's relative standard error at p=14 (1.04/√2¹⁴). */
  private val HllP14Sigma = 1.04 / math.sqrt(16384.0)

  /** q101: distinct-set ALGEBRA on HLL sketches — the capability exact
    * distinct counting cannot ship at 100 TB: |A|, |B|, |A ∪ B| (register
    * max via [[graft.agg.SketchFunctions.hll_set_union]]), |A ∩ B| and |A \ B|
    * by inclusion–exclusion, over the order-key sets shipped before/after
    * the cutoff. Both sketches build in ONE conditional pass (the
    * aggregator skips the `when` nulls), so the input is scanned once.
    *
    * Oracle contract = the q05/q98 audit-twin discipline: the exact sides
    * (conditional countDistincts; intersection/difference are exact
    * integer identities of the three exacts) are fully DuckDB-derivable;
    * the estimates are asserted through verdicts — each derived estimate
    * must land within 3σ of its exact value with σ scaled by the SUM of
    * the cardinalities it composes (inclusion–exclusion compounds the
    * three independent errors; |∪| ≤ |A|+|B| bounds each term). At the
    * gate scale the sketches sit in the linear-counting regime where the
    * estimate is far tighter than the bound; the bound itself is the
    * published one, so the verdict stays honest at any scale.
    *
    * Scale shape: one scan → three partial-aggregating distinct counts
    * (the audit) + two KB-sized sketch buffers; production runs the
    * sketch path alone — set algebra over shards is then register-wise
    * max/merge with NO re-scan, the reference's GetAllKeys union role
    * (/root/reference/Simulation/CountMax.cs:101-108) at bounded space. */
  def hllSetAlgebra(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir).select(
      col("l_orderkey").cast("string").as("k"),
      (unix_micros(col("l_shipdate").cast("timestamp"))
        <= lit(SetAlgebraCutoffUs)).as("early"))
    val agg = li.agg(
      hll_sketch(when(col("early"), col("k"))).as("sk_a"),
      hll_sketch(when(!col("early"), col("k"))).as("sk_b"),
      countDistinct(when(col("early"), col("k"))).as("exact_a"),
      countDistinct(when(!col("early"), col("k"))).as("exact_b"),
      countDistinct(col("k")).as("exact_union"))
    val sigma = lit(3.0 * HllP14Sigma)
    def within(est: Column, exact: Column, scale: Column): Column =
      abs(est.cast("double") - exact.cast("double")) <=
        greatest(lit(2.0), sigma * scale.cast("double"))
    agg
      .withColumn("est_a", hll_count(col("sk_a")))
      .withColumn("est_b", hll_count(col("sk_b")))
      .withColumn("est_union", hll_count(hll_set_union(col("sk_a"), col("sk_b"))))
      .select(
        col("exact_a"), col("exact_b"), col("exact_union"),
        (col("exact_a") + col("exact_b") - col("exact_union"))
          .as("exact_intersect"),
        (col("exact_union") - col("exact_b")).as("exact_a_only"),
        within(col("est_union"), col("exact_union"), col("exact_union"))
          .as("union_within_bound"),
        within(col("est_a") + col("est_b") - col("est_union"),
          col("exact_a") + col("exact_b") - col("exact_union"),
          col("exact_a") + col("exact_b") + col("exact_union"))
          .as("intersect_within_bound"),
        within(col("est_union") - col("est_b"),
          col("exact_union") - col("exact_b"),
          col("exact_union") + col("exact_b")).as("diff_within_bound"))
  }

  // ---- q106: time-decayed heavy hitters ----

  /** q106: heavy hitters under EXPONENTIAL TIME DECAY — the freshness-
    * weighted ranking every monitoring surface actually serves (a burst
    * this hour outranks a steady drip from last month). The stream's span
    * splits into 4 epochs from its own data-derived bounds (the q85
    * integer-split discipline, generalized from halves to quarters:
    * ⌊(us−mn)·4/(mx−mn+1)⌋ is exact, non-negative integral arithmetic in
    * both engines) and epoch i carries weight 2ⁱ — so one WEIGHTED
    * cm_topk build (the reference kernel's (key, weight) update path,
    * /root/reference/Simulation/CountMin.cs:33-39) IS the decayed census.
    * Decayed counts age by halving: re-weighting a finished sketch needs
    * no rescan because the weights are powers of two.
    *
    * Gate regime: ε=1e-4 keeps the CM collision-free and capacity ≥ the
    * verify-scale keyspace keeps the heap trim-free, so the decayed
    * estimates equal DuckDB's exact weighted census (full value oracle —
    * the q02 argument with a non-unit weight column). */
  def decayedTopKUsers(spark: SparkSession, sfDir: String): DataFrame =
    decayedTopKOn(Tables.events(spark, sfDir)
      .select(col("user_id").cast("string").as("k"),
        unix_micros(col("ts").cast("timestamp")).as("us")))

  // ---- q109: KLL shard-merge rollup (re-aggregation without rescan) ----

  /** q109: the re-aggregation serving pattern for the quantile tier —
    * per-source KLL shards built ONCE (one grouped pass), then the global
    * quantile answered by MERGING the finished shards (`kll_merge`), never
    * by rescanning the data. This is the shape a 100 TB deployment
    * actually runs: build per-partition/tenant sketches at ingest, serve
    * any rollup from KB-sized state (the SketchCheckpoint.mergeShards
    * path surfaced as a SQL-level grouped aggregate, now gate-checked).
    *
    * Gate-exact: at k = 65536 every shard is compaction-free, merge
    * concatenates the item multisets, and the KLL rank rule is
    * quantile_disc's convention (the q99-verified identity) — so both the
    * per-source medians and the merged global median are FULL value
    * oracle columns, not just bound verdicts. */
  def kllShardRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("source"), col("n_chars").cast("double").as("x"))
    // persisted: two consumers (per-source rows + the shard merge)
    val shards = docs.groupBy(col("source"))
      .agg(kll_sketch(col("x"), k = 65536).as("sk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val perSource = shards.select(col("source"),
      kll_quantile(col("sk"), lit(0.5)).cast("long").as("p50_nchars"))
    val global = shards.agg(kll_merge(col("sk")).as("sk"))
      .select(lit("<all>").as("source"),
        kll_quantile(col("sk"), lit(0.5)).cast("long").as("p50_nchars"))
    perSource.unionAll(global).orderBy(col("source"))
  }

  // ---- q115: sliding-window distinct from tumbling shards ----

  /** q115's shard width (6 h in µs); a window = 4 shards = 24 h. */
  private val SlideShardUs = 21600000000L

  /** q115: the time-windowed cardinality service — distinct users per
    * SLIDING 24 h window (every 6 h), served by merging tumbling 6 h HLL
    * shards (`hll_merge`): each event updates exactly ONE shard; the 4×
    * sliding fan-out happens on KB-sized finished sketches, never on
    * rows. Register-max idempotence is what makes overlapping windows
    * correct by construction (no double-count), and the same shards serve
    * ANY window multiple of the shard width — the dashboard pattern at
    * 100 TB, where re-scanning a day of rows per refresh is not an
    * option. Edge windows with missing shards are excluded so the
    * contract is total over full windows only.
    *
    * Gate contract = the q05/q104 audit twin: per-window exact distincts
    * (the expanded exact census — gate-side audit, not the production
    * path) with the 3σ verdict per window. */
  def slidingDistinctUsers(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).select(
      col("user_id").cast("string").as("u"),
      expr(s"unix_micros(cast(ts AS timestamp)) div $SlideShardUs").as("b"))
    val bounds = ev.agg(min(col("b")).as("mnb"), max(col("b")).as("mxb"))
    val shards = ev.groupBy(col("b")).agg(hll_sketch(col("u")).as("sk"))
    def toWindows(df: DataFrame) = df
      .select(df.columns.map(col) :+
        explode(sequence(col("b") - 3, col("b"))).as("w"): _*)
      .crossJoin(broadcast(bounds))
      .filter(col("w") >= col("mnb") && col("w") + lit(3) <= col("mxb"))
    val est = toWindows(shards)
      .groupBy(col("w")).agg(hll_merge(col("sk")).as("sk"))
    val exact = toWindows(ev)
      .groupBy(col("w")).agg(countDistinct(col("u")).as("exact_users"))
    est.join(exact, "w")
      .select(col("w").as("window_id"), col("exact_users"),
        (abs(hll_count(col("sk")).cast("double")
          - col("exact_users").cast("double")) <=
          greatest(lit(2.0), lit(3.0 * HllP14Sigma)
            * col("exact_users").cast("double"))).as("within_bound"))
      .orderBy(col("window_id"))
  }

  /** The q106 core over any (k, us) frame — split out for the spec's
    * decay-semantics fixtures (a fresh burst must outrank an old drip). */
  private[graft] def decayedTopKOn(ev: DataFrame): DataFrame = {
    val bounds = ev.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
    val weighted = ev.crossJoin(broadcast(bounds))
      .withColumn("quarter", expr("((us - mn) * 4) div (mx - mn + 1)"))
      .withColumn("w", expr("shiftleft(1L, cast(quarter AS int))"))
    val sk = weighted
      .agg(cm_topk(col("k"), col("w"), capacity = 4096, eps = 1e-4).as("sk"))
    sk.select(explode(topk_entries(col("sk"), 20)).as("e"))
      .select(col("e.key").as("user_id"), col("e.est").as("est_decayed"))
      .orderBy(desc("est_decayed"), asc("user_id"))
  }
}
