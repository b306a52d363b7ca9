package graft

import graft.multimodal.Multimodal

/** Every driver-contract query runs without error at sf0.001 (the driver's
  * smoke scale) and the flagship returns rows. */
class QueriesSmokeSpec extends SparkTestBase {

  test("entry returns >0 rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every queries entry executes at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf("sf0.001")).count()
      assert(n >= 0, name)
    }
  }

  test("oracleSql keys are a subset of queries keys") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("parity/audit gate verdicts hold at sf0.001") {
    // the smoke `n >= 0` check would let a 0-verdict row slide; the
    // audits' whole point is the flag, so pin it at test time too
    val checks = Seq(
      ("q17_dedup_simhash", "parity_ok"),
      ("q23_fingerprints", "guarantee_ok"),
      ("q26_lsh_buckets", "locality_ok"),
      ("q56_fingerprint_join", "parity_ok"),
      ("q56_fingerprint_join", "sound_ok"),
      ("q60_cm_colliding", "pass_ok"))
    for ((q, c) <- checks) {
      val v = SparkEntry.queries(q)(spark, sf("sf0.001"))
        .select(c).head().getLong(0)
      assert(v === 1L, s"$q.$c")
      spark.catalog.clearCache()
    }
    val rec = SparkEntry.queries("q39_ann_ivf")(spark, sf("sf0.001"))
      .select("recall_ok").collect().map(_.getLong(0))
    assert(rec.length === 5 && rec.forall(_ == 1L), rec.mkString(","))
    spark.catalog.clearCache()
  }

  test("q32 audit-twin verdicts hold at sf0.001") {
    // est_le_exact is algorithm-guaranteed (one-sided underestimate) for
    // any stream order; candidate_hit (heavy hitters resident via
    // GetAllKeys) is the reversibility contract — pin both on real data
    val rows = SparkEntry.queries("q32_countmax_parity")(spark, sf("sf0.001"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("est_le_exact"), r.toString)
      assert(r.getAs[Boolean]("candidate_hit"), r.toString)
      assert(r.getAs[Long]("exact_count") > 0L, r.toString)
    }
    spark.catalog.clearCache()
  }

  test("q64 verdicts hold and its KLL genuinely compacts at the verify scale") {
    import org.apache.spark.sql.functions._
    import graft.agg.SketchFunctions._
    val rows = SparkEntry.queries("q64_kll_colliding")(spark, sf("sf0.01"))
      .collect()
    assert(rows.length === 5 && rows.forall(_.getAs[Long]("rank_ok") === 1L))
    spark.catalog.clearCache()
    // the gate's point is the COMPACTING regime: 60k values into 64 slots
    // must have spilled levels, or the bound verdict is vacuous
    val sk = graft.sketch.KllSketch.deserialize(
      graft.queries.Tables.lineitem(spark, sf("sf0.01"))
        .agg(kll_sketch(col("l_extendedprice").cast("double"), k = 64).as("sk"))
        .head().getAs[Array[Byte]]("sk"))
    assert(sk.numLevels > 1, s"k=64 over 60k rows should compact")
    spark.catalog.clearCache()
  }

  test("q60 runs its CM genuinely colliding at the verify scale") {
    import org.apache.spark.sql.functions._
    import graft.agg.SketchFunctions._
    // the q60 gate's whole point is the approximate regime: at sf0.01 the
    // width-32 sketch must actually overestimate some keys (every counter
    // shared by ~5 of the 150 keys), or the pass-rate verdict is vacuous
    val keyed = graft.queries.Tables.events(spark, sf("sf0.01"))
      .select(col("user_id").cast("string").as("k"), lit(1L).as("w"))
    val sk = keyed.agg(cm_sketch(col("k"), col("w"), eps = 0.1, delta = 0.01).as("sk"))
    val over = keyed.groupBy(col("k")).agg(count(lit(1)).as("t"))
      .select((cm_query(sk.scalar(), col("k")) > col("t")).cast("long").as("o"))
      .agg(sum(col("o"))).head().getLong(0)
    assert(over > 0, "width-32 CM over 150 keys should collide")
    spark.catalog.clearCache()
  }

  test("stratified sample equals the naive full-stratum rank (q47)") {
    import org.apache.spark.sql.functions._
    val dir = sf("sf0.001")
    val got = graft.queries.TextQueries.stratifiedSample(spark, dir).collect()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string").cast("binary")).asc, col("doc_id").asc)
    val want = graft.queries.Tables.documents(spark, dir)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 20)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sampled"), sum(col("n_chars")).as("sample_chars"))
      .orderBy(col("lang")).collect()
    assert(got.toSeq === want.toSeq)
  }

  test("pack windows equals a driver-side sequential pack (q48)") {
    import org.apache.spark.sql.functions._
    val dir = sf("sf0.001")
    val got = graft.queries.TextQueries.packWindows(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val C = 8192L
    val rows = graft.queries.Tables.documents(spark, dir)
      .select(col("lang"), floor(col("doc_id") / 100).cast("long").as("chunk"),
        col("doc_id"), col("n_chars"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val perLang = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (lang, rs) =>
      var docs = 0L; var wins = 0L; var chars = 0L
      rs.groupBy(_._2).foreach { case (_, chunkRows) =>
        var fill = 0L; var w = 0L
        chunkRows.sortBy(_._3).foreach { case (_, _, _, n) =>
          docs += 1; chars += n
          if (w == 0L || fill + n > C) { w += 1; fill = n } else fill += n
        }
        wins += w
      }
      (lang, docs, wins,
        math.floor(chars.toDouble / (wins.toDouble * C) * 1000000.0).toLong)
    }
    assert(got === perLang)
  }

  test("multimodal feature extraction is deterministic and schema-stable") {
    val a = Multimodal.featureCensusWithChecksum(spark, sf("sf0.001")).collect()
    val b = Multimodal.featureCensusWithChecksum(spark, sf("sf0.001")).collect()
    assert(a.toSeq === b.toSeq)
    assert(a.map(_.getAs[String]("modality")).toSet === Set("image", "audio", "video"))
    // frame sampling: videos contribute >1 frame on average
    val video = a.find(_.getAs[String]("modality") == "video").get
    assert(video.getAs[Long]("total_frames") > video.getAs[Long]("n_media"))
  }
}
