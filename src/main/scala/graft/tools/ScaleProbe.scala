package graft.tools

import org.apache.spark.sql.functions._

/** Dev harness: replicate the sf0.1 tables 10x (ids offset per copy,
  * document texts lightly perturbed so copies are near- but not exact
  * duplicates) and run the heaviest operators — evidence that the LSH /
  * join / window designs scale ~linearly, not quadratically, on the way
  * to 100 TB. Writes only under /tmp.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    // SPARK_GRAFT_SCALE_OUT + SPARK_GRAFT_SCALE_COPIES generalize the
    // harness past 10x (round 11: /tmp/scale100 at 100 copies for the
    // 100x probe; the SCALE10 output tag is kept for log-diff stability)
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "/tmp/scale10")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    val spark = graft.GraftSession.builder(
        s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]", Some(64))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sf = "/root/testdata/sf0.1"

    def replicate(name: String, idCols: Seq[String], perturbText: Boolean): Unit = {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val baseDf = spark.read.parquet(s"$sf/$name.parquet")
      val copiesDf = (0 until copies).map { k =>
        val shifted = idCols.foldLeft(baseDf) { (d, c) =>
          d.withColumn(c, col(c) + lit(k.toLong * 100000000L)) }
        if (perturbText && k > 0)
          shifted.withColumn("text", concat(col("text"), lit(s" copytag$k")))
        else shifted
      }
      copiesDf.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
    }

    // facts replicate with shifted ids; DIMENSIONS copy once — key
    // duplication would turn every dim join into a 10-way multi-match
    // (and make q70's recursion a multigraph whose frontier multiplies
    // 100x per round: 38s -> explosion when nation was duplicated)
    def copyOnce(name: String): Unit = {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark.read.parquet(s"$sf/$name.parquet")
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
    }
    // SPARK_GRAFT_SCALE_REUSE=1 skips re-replication when a prior run's
    // tables are already on disk (the replication is deterministic)
    val reuse = sys.env.get("SPARK_GRAFT_SCALE_REUSE").contains("1") &&
      new java.io.File(s"$out/supplier.parquet/_SUCCESS").exists()
    if (!reuse) {
    replicate("documents", Seq("doc_id"), perturbText = true)
    replicate("embeddings", Seq("vec_id"), perturbText = false)
    replicate("lineitem", Seq("l_orderkey"), perturbText = false)
    replicate("orders", Seq("o_orderkey"), perturbText = false)
    replicate("customer", Seq("c_custkey"), perturbText = false)
    copyOnce("nation")
    replicate("events", Seq("event_id", "user_id"), perturbText = false)
    replicate("part", Seq("p_partkey"), perturbText = false)
    copyOnce("region")
    copyOnce("supplier")
    }

    val heavy = Seq("dedup_minhash", "dedup_ngram", "dedup_simhash",
      "dedup_embedding", "dedup_exact", "dedup_clusters", "ann_lsh", "knn_join",
      "q2_join_agg", "q21_skew_join", "q19_time_window", "q20_sessionize",
      "q15_asof_join", "q16_range_join", "q42_explode",
      "text_repetition", "text_pii",
      "sketch_freq_topk", "sketch_kll_quantiles", "sketch_theta_setops",
      "q52_bloom_join",
      "q58_mad", "q63_triangles", "q64_variant", "q65_entity_match",
      "q66_incremental_agg", "mm_audio", "corpus_contamination",
      "corpus_tfidf", "corpus_pack",
      "q67_sql", "q68_group_quantiles", "q69_ts_similarity",
      "ann_pq", "mm_phash", "text_bigram_rarity",
      "q70_recursive_cte", "q74_ewma", "q76_array_setops", "q77_pareto",
      "ann_range", "knn_classify", "corpus_span_dedup", "feat_robust_scale",
      "q79_transition_matrix", "q81_interval_point_join", "q82_hopping_window",
      "q83_weighted_median", "q84_drawdown", "corpus_vocab_overlap",
      "text_search_and", "ann_maxsim", "ann_centroids", "corpus_funnel",
      "ann_bq", "dedup_keep_best", "corpus_chunk", "ann_rrf",
      "corpus_dupngrams", "corpus_bm25", "ann_negatives", "dedup_semantic",
      "q90_pagerank",
      "corpus_bpe", "corpus_winnowing", "q93_label_prop", "q94_scd2",
      "ann_recall", "mm_shot_detect", "text_readability", "dedup_normalized",
      "q95_scd2_lookup", "corpus_pmi", "ann_ivfpq", "ann_diversify",
      "q96_window_funnel", "q97_merge", "ann_filtered", "corpus_profile",
      "dedup_embedding_cells", "corpus_bpe_merges", "mm_search",
      "dedup_eval", "q98_seq_pattern", "corpus_bpe_tokenize",
      "corpus_prepare", "q99_seasonal", "text_rake",
      "corpus_prepare_fuzzy",
      "q100_attribution", "layout_zorder", "dq_referential",
      "feat_random_proj", "dedup_ppjoin",
      // round-8 wave 2+
      "text_gopher", "corpus_temperature_sample", "q101_cusum",
      "q102_bitmap_distinct", "q103_paths", "dq_freshness", "mm_dedup",
      "q104_basket_rules", "dedup_containment", "ann_nprobe_curve",
      "ann_knn_graph", "dq_anomaly", "q105_ab_test", "q106_ks_test",
      "corpus_shuffle_shards",
      "text_langid_eval", "q107_random_walks", "q108_sliding_distinct",
      "q109_bitmap_retention", "ann_quant_ablation", "ann_prepare",
      "dq_overlap_matrix",
      "dq_quality_dup", "mm_dedup_clusters", "feat_target_encode_cv",
      "q110_decile_gain", "dq_benford",
      "q111_emd", "q112_autocorr", "q113_reach_funnel",
      "q114_new_vs_returning", "corpus_dsir", "dq_skew_report",
      // round-9 (dedup_eval / ann_knn_graph already listed above)
      "text_quality_clf",
      "ann_graph_search", "ann_auc", "dedup_cluster_stats",
      "corpus_token_budget", "text_zipf_audit", "corpus_ccnet",
      "q115_time_to_convert", "q116_rfm", "corpus_ngram_novelty",
      "q117_ltv_triangle",
      // round-10/11
      "text_quality_train", "corpus_ppl_buckets", "ann_ivfpq_trained",
      "q110_decile_gain")
    // optional arg: regex over query names — probe a targeted subset
    // without re-timing the whole heavy list (tables still replicate)
    val selected = args.headOption
      .map(re => heavy.filter(_.matches(re))).getOrElse(heavy)
    selected.foreach { name =>
      val t0 = System.nanoTime()
      val n = try graft.SparkEntry.queries(name)(spark, out).count()
        catch { case e: Throwable => System.err.println(s"$name: $e"); -1L }
      println(f"SCALE10 $name: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
    }
    spark.stop()
  }
}
