package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.agg.SketchFunctions.{bloom_contains, bloom_sketch, hll_sketch, hll_count}

/**
 * Classic OLAP aggregates over the TPC-H-shaped tables — the "plain
 * analytics" face of the engine next to the sketch/curation stacks.
 */
object OlapQueries {

  /** TPC-H Q1's delta-90 cutoff (1998-09-02 UTC), as epoch µs so the
    * filter is timezone-parse-free in BOTH engines (Spark `unix_micros`
    * vs DuckDB `epoch_us` — the established q52/q85 discipline). */
  private val ShipCutoffUs = 904694400000000L

  /** q100: the TPC-H Q1 pricing summary, extended with ROLLUP — one pass
    * over lineitem producing the per-(returnflag, linestatus) groups PLUS
    * the per-flag subtotals and the grand total (grouping-sets support,
    * exercised through Spark's `rollup` and DuckDB's `GROUP BY ROLLUP`).
    *
    * Cross-engine exactness: every money term is floored to a micro
    * BIGINT at the ROW — ⌊price·(1−disc)·(1+tax)·10⁶⌋ is the same IEEE
    * double product in both engines — and all sums/averages downstream
    * are bigint adds and truncating integral division (the q65/q81
    * discipline). Rollup NULL keys are mapped to '<all>' AFTER grouping
    * (the flag domains are non-null single chars, so the mapping is
    * unambiguous).
    *
    * Scale shape: ONE scan with the filter and all row terms codegen'd,
    * one partial-aggregating rollup (map-side combine over ≤ G·3 groups),
    * no joins, no windows — the canonical 100 TB reporting aggregate. */
  def pricingRollup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(unix_micros(col("l_shipdate").cast("timestamp")) <= lit(ShipCutoffUs))
      .select(col("l_returnflag").as("rf0"), col("l_linestatus").as("ls0"),
        floor(col("l_quantity") * lit(1000000L)).cast("long").as("qty_micro"),
        floor(col("l_extendedprice") * lit(1000000L)).cast("long")
          .as("base_micro"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * lit(1000000L)).cast("long").as("disc_micro"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * (lit(1.0) + col("l_tax")) * lit(1000000L)).cast("long")
          .as("charge_micro"),
        floor(col("l_discount") * lit(1000000L)).cast("long")
          .as("discount_micro"))
      .rollup(col("rf0"), col("ls0"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("qty_micro")).as("sum_qty_micro"),
        sum(col("base_micro")).as("sum_base_micro"),
        sum(col("disc_micro")).as("sum_disc_micro"),
        sum(col("charge_micro")).as("sum_charge_micro"),
        sum(col("discount_micro")).as("sum_discount_micro"))
      .select(coalesce(col("rf0"), lit("<all>")).as("rf"),
        coalesce(col("ls0"), lit("<all>")).as("ls"),
        col("n_rows"), col("sum_qty_micro"), col("sum_base_micro"),
        col("sum_disc_micro"), col("sum_charge_micro"),
        expr("sum_qty_micro div n_rows").as("avg_qty_micro"),
        expr("sum_base_micro div n_rows").as("avg_price_micro"),
        expr("sum_discount_micro div n_rows").as("avg_disc_micro"))
      .orderBy(col("rf"), col("ls"))

  // ---- q102: Bloom runtime-filter join (semi-join reduction) ----

  /** q102: revenue per returnflag over the lineitems of URGENT orders,
    * accelerated by a RUNTIME FILTER — the Bloom filter of the filtered
    * dimension's join keys is broadcast into the fact scan, so non-joining
    * fact rows (~80% here) die BEFORE the join's shuffle. The exact join
    * then removes the fpp-bounded false positives, so the output is
    * provably the plain join's — the Bloom is pure plan acceleration (the
    * q59/q80 two-phase shape in its relational role, and the mechanism
    * behind Spark's own `spark.sql.optimizer.runtime.bloomFilter`).
    *
    * Scale shape: at 100 TB the dimension (TBs) may not broadcast, but its
    * Bloom (MBs, one whole-table aggregate) always does — the fact-side
    * shuffle shrinks by the join selectivity, which is THE dominant cost
    * of a fact-dim join. fpp 1e-3 makes the residual verify ~free. The
    * probe reads the filter as a scalar subquery, so every row of a task
    * hands `bloom_contains` the same array and the memo decodes it once
    * per task.
    * Output = full value oracle (plain SQL join); OlapSpec pins the
    * no-false-negative property and the measured row reduction. */
  def bloomJoinRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val urgent = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === lit("1-URGENT"))
      .select(col("o_orderkey"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // size the filter from the ACTUAL dimension cardinality (ADVICE r6:
    // the fixed 1<<16 saturates at ~300K urgent keys on the decade corpus,
    // passing nearly everything — a non-functional prefilter measured as if
    // it worked; one count() at plan build is the accepted scalar-action
    // pattern, and the dim frame is persisted for its three consumers:
    // count, filter build, exact join)
    val expected = math.max(1L << 16, urgent.count())
    val bloom = urgent.agg(bloom_sketch(col("o_orderkey").cast("string"),
      expectedItems = expected, fpp = 1e-3)).scalar()
    val li = Tables.lineitem(spark, sfDir).select(
      col("l_orderkey"), col("l_returnflag").as("rf"),
      floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        * lit(1000000L)).cast("long").as("rev_micro"))
    val prefiltered = li.filter(bloom_contains(bloom, col("l_orderkey").cast("string")))
    prefiltered
      .join(urgent, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("rf"))
      .agg(count(lit(1)).as("n_lines"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        sum(col("rev_micro")).as("revenue_micro"))
      .orderBy(col("rf"))
  }

  // ---- q103: TPC-H Q3 (shipping-priority top-10) ----

  /** q102/q103's date pivot (1998-06-01 UTC), epoch µs. */
  private val Q3CutoffUs = 896659200000000L

  /** q103: TPC-H Q3 — the canonical three-table star join: BUILDING-segment
    * customers × their pre-cutoff orders × post-cutoff lineitems, top-10
    * open orders by revenue. The segment filter prunes the dimension before
    * its join; revenue is micro-floored at the row (the q100 discipline) so
    * every sum is bigint-exact; the order date ships as epoch µs so no
    * engine parses a timezone; top-10 funnels through TakeOrdered with the
    * (revenue DESC, orderkey ASC) total tie-break.
    *
    * Scale shape: filters reach both scans; the customer dimension
    * broadcasts (it is the smallest leg even at 100 TB after the segment
    * cut, and if not, its Bloom does — q102); the orders×lineitem join
    * shuffles on the join key with AQE free to pick the strategy; the
    * top-10 is a per-partition heap funnel, never a global sort. */
  def shippingPriority(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
      .filter(col("c_mktsegment") === lit("BUILDING"))
      .select(col("c_custkey"))
    val ord = Tables.orders(spark, sfDir)
      .filter(unix_micros(col("o_orderdate").cast("timestamp")) < lit(Q3CutoffUs))
      .select(col("o_orderkey"), col("o_custkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("odate_us"),
        col("o_orderpriority"))
    val li = Tables.lineitem(spark, sfDir)
      .filter(unix_micros(col("l_shipdate").cast("timestamp")) > lit(Q3CutoffUs))
      .select(col("l_orderkey"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * lit(1000000L)).cast("long").as("rev_micro"))
    ord.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(li, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("odate_us"), col("o_orderpriority"))
      .agg(sum(col("rev_micro")).as("revenue_micro"),
        count(lit(1)).as("n_lines"))
      .orderBy(desc("revenue_micro"), asc("l_orderkey"))
      .limit(10)
  }

  // ---- q104: CUBE with a per-cell HLL distinct audit ----

  /** HLL p=14 relative standard error (1.04/√2¹⁴). */
  private val HllSigma = 1.04 / math.sqrt(16384.0)

  /** q104: the dashboard aggregate — events CUBE(event_type, hour-of-day)
    * with counts AND per-cell distinct users, where the distinct count is
    * served by a PER-GROUP HLL sketch riding the same grouping-sets pass.
    * This is the composition that matters at 100 TB: grouping sets
    * multiply the aggregation fan-out (every row lands in 4 cube cells
    * here), and exact per-cell distinct aggregation pays an expand+shuffle
    * of the full key stream per cell — the KB-sized HLL buffer per cell
    * costs the same one pass regardless of cell cardinality, and merged
    * cells (register max) can be rolled up WITHOUT rescanning.
    *
    * Gate contract = the q05/q101 audit twin: exact per-cell distincts
    * (DuckDB-derivable) plus the 3σ verdict the Spark side can only emit
    * as true when every cell's estimate genuinely lands inside the bound.
    * The hour bucket derives from epoch µs with integral div/mod (both
    * operands non-negative — the domain where Spark `div` == DuckDB `//`). */
  def cubeDistinctUsers(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).select(
      col("event_type").as("et0"),
      expr("(unix_micros(cast(ts as timestamp)) div 3600000000) % 24").as("hr0"),
      col("user_id").cast("string").as("u"))
    ev.cube(col("et0"), col("hr0"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("u")).as("exact_users"),
        hll_sketch(col("u")).as("sk"))
      .select(
        coalesce(col("et0"), lit("<all>")).as("et"),
        coalesce(col("hr0").cast("string"), lit("<all>")).as("hr"),
        col("n_events"), col("exact_users"),
        (abs(hll_count(col("sk")).cast("double")
          - col("exact_users").cast("double")) <=
          greatest(lit(2.0), lit(3.0 * HllSigma)
            * col("exact_users").cast("double"))).as("hll_within_bound"))
      .orderBy(col("et"), col("hr"))
  }

  // ---- q114: Z-order layout + zone-map pruning census ----

  /** The 16-bit Morton interleave of two 8-bit codes, as pure integral
    * div/mod arithmetic (identical in both engines — no bit-op dialect). */
  private[graft] val ZInterleaveSql: String = (0 until 8).map { i =>
    s"(((px div ${1 << i}) % 2) * ${math.pow(4, i).toLong})" +
      s" + (((sy div ${1 << i}) % 2) * ${2 * math.pow(4, i).toLong})"
  }.mkString(" + ")

  /** q114's probe boxes (32×32 in the 256×256 quantized space). */
  private[graft] val ZProbeBoxes = Seq((16, 16), (96, 32), (160, 64), (208, 120))

  /** q114: MULTI-DIMENSIONAL data layout — Z-order (Morton) clustering of
    * lineitem on (partkey, suppkey) with a zone-map pruning census: the
    * mechanism behind Delta/Iceberg `OPTIMIZE ZORDER BY`, gate-checked.
    * Each dimension quantizes to its own 8-bit domain (⌊v·256/n⌋ —
    * without this the narrow dimension collapses the cells and the
    * advantage disappears, measured), the 16-bit interleave is pure
    * integral arithmetic (no engine-specific bit ops), and 64 z-buckets
    * stand in for files. For each probe box the census sums the rows a
    * min/max zone map would actually scan under the z-layout vs a 1-D
    * range layout of the same bucket count — z-order scans 2–8× fewer
    * rows on every probe at every sf (prune_ok asserted per box).
    *
    * Scale shape: one bounds aggregate (broadcast), one codegen quantize+
    * interleave pass, two 64-group zone-map censuses off one persisted
    * frame, and a 4×64 broadcast range-intersection join. At 100 TB the
    * same z-value is the `repartitionByRange`/sort key at write time and
    * the zone maps are the parquet footers — this census is the measured
    * justification for paying that layout. */
  def zOrderLayout(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), col("l_suppkey"))
    val bounds = li.agg((max(col("l_partkey")) + 1).as("npart"),
      (max(col("l_suppkey")) + 1).as("nsupp"))
    val z = li.crossJoin(broadcast(bounds))
      .select(expr("(l_partkey * 256) div npart").as("px"),
        expr("(l_suppkey * 256) div nsupp").as("sy"))
      .select(col("px"), col("sy"),
        expr(s"($ZInterleaveSql) div 1024").as("zb"),
        expr("px div 4").as("rb"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def zoneMap(bucket: org.apache.spark.sql.Column) = z.groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n"), min(col("px")).as("mnx"), max(col("px")).as("mxx"),
        min(col("sy")).as("mny"), max(col("sy")).as("mxy"))
    import spark.implicits._
    val probes = ZProbeBoxes.zipWithIndex
      .map { case ((x, y), i) => (i.toLong, x.toLong, y.toLong) }
      .toDF("qid", "x0", "y0")
    def scanned(zm: DataFrame, out: String) = probes
      .join(broadcast(zm),
        col("mxx") >= col("x0") && col("mnx") <= col("x0") + 31 &&
          col("mxy") >= col("y0") && col("mny") <= col("y0") + 31)
      .groupBy(col("qid")).agg(sum(col("n")).as(out))
    scanned(zoneMap(col("zb")), "z_scanned")
      .join(scanned(zoneMap(col("rb")), "row_scanned"), "qid")
      .select(col("qid"), col("z_scanned"), col("row_scanned"),
        (col("z_scanned") <= col("row_scanned")).as("prune_ok"))
      .orderBy(col("qid"))
  }

  // ---- q116: TPC-H Q5 (local-supplier volume) ----

  /** 1996-01-01 / 1997-01-01 UTC as epoch µs — Q5's one-year window. */
  private val Q5FromUs = 820454400000000L
  private val Q5ToUs = 852076800000000L

  /** q116: TPC-H Q5 — the canon's deepest join tree (six tables): revenue
    * per ASIA nation from lineitems whose SUPPLIER sits in the customer's
    * own nation, over one order year. The snowflake dimensions
    * (region→nation, nation-filtered supplier) broadcast after their
    * filters; orders carries the pushed date range; the only shuffles
    * left are the two fact-side equi-joins (orders⋈lineitem on orderkey,
    * customers on custkey) — the plan a 100 TB star schema actually
    * wants, with AQE free to re-plan the fact joins. The local-supplier
    * predicate (c_nation = s_nation) lands as a filter on the joined
    * frame, revenue micro-floors at the row (the q100 discipline). */
  def localSupplierVolume(spark: SparkSession, sfDir: String): DataFrame = {
    val nat = Tables(spark, sfDir, "nation")
      .join(broadcast(Tables(spark, sfDir, "region")
          .filter(col("r_name") === lit("ASIA"))),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val cust = Tables.customer(spark, sfDir)
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_nationkey").as("c_nation"),
        col("n_name"))
    val supp = Tables(spark, sfDir, "supplier")
      .join(broadcast(nat.select(col("n_nationkey").as("sn"))),
        col("s_nationkey") === col("sn"))
      .select(col("s_suppkey"), col("s_nationkey"))
    val ord = Tables.orders(spark, sfDir)
      .filter(unix_micros(col("o_orderdate").cast("timestamp")) >= lit(Q5FromUs) &&
        unix_micros(col("o_orderdate").cast("timestamp")) < lit(Q5ToUs))
      .select(col("o_orderkey"), col("o_custkey"))
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * lit(1000000L)).cast("long").as("rev_micro"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .filter(col("c_nation") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("rev_micro")).as("revenue_micro"),
        count(lit(1)).as("n_lines"))
      .orderBy(desc("revenue_micro"), asc("n_name"))
  }

  // ---- q117: bucketed co-located join (the layout-amortized join) ----

  /** Drop `name` and delete any stale warehouse location left by a
    * previous JVM whose metastore entry is gone — `saveAsTable` errors on
    * an orphaned directory (the SparkTestBase round-1 flake, handled at
    * the source here). */
  private def resetTable(spark: SparkSession, name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val w = spark.conf.get("spark.sql.warehouse.dir")
    val path = if (w.startsWith("file:")) new java.net.URI(w).getPath else w
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(path, name.toLowerCase))
  }

  /** q117: the BUCKETED co-located join — pay the layout once, join
    * forever without a shuffle: lineitem and orders both bucketed 8 ways
    * on the join key (`bucketBy` + in-bucket sort), then the revenue
    * rollup joins them with NO Exchange below the join (BucketingSpec
    * pins the exchange-free plan; this gate pins the VALUES through the
    * bucketed path against the plain-join oracle). At 100 TB this is the
    * difference between re-shuffling the fact table on every join and
    * reading co-located buckets: the write-side cost is amortized across
    * every downstream join on that key, which is why warehouses bucket
    * their fact tables. The gate pays the write each run (the honest
    * end-to-end cost, visible in its bench time). */
  def bucketedJoinRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    resetTable(spark, "graft_li_bkt")
    resetTable(spark, "graft_ord_bkt")
    // repartition onto the BUCKET hash before the write (round 7): bucketBy
    // otherwise fans every upstream task into all 8 bucket files (T·8 small
    // files, and at gate scale ONE scan task sorts and writes everything
    // serially); pre-partitioned, the write runs 8 parallel tasks, each
    // bucket lands as exactly one sorted file — which is also the layout
    // the read side wants (single file per bucket preserves the sortBy
    // order, so the join can skip its per-bucket re-sort)
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"),
        floor(col("l_quantity") * lit(1000000L)).cast("long").as("qty_micro"))
      .repartition(8, col("l_orderkey"))
      .write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("graft_li_bkt")
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderstatus"))
      .repartition(8, col("o_orderkey"))
      .write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("graft_ord_bkt")
    spark.table("graft_li_bkt")
      .join(spark.table("graft_ord_bkt"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_lines"), sum(col("qty_micro")).as("qty_micro"))
      .orderBy(col("o_orderstatus"))
  }
}
