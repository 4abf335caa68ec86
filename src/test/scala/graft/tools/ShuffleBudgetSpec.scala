package graft.tools

import graft.{SparkEntry, SparkTestBase}

/** Per-query exchange-byte ceilings (r8 verdict item 4) — the r7
  * shingle-array regression detector, generalized: that round a refactor
  * let the wide shingle arrays ride through an exchange and q22a
  * inflated 6.5× on the driver before any local timing moved. Bytes
  * crossing exchanges is the metric that catches that class of defect
  * at ANY scale factor (a payload that shouldn't shuffle multiplies the
  * sum identically at sf0.01 and at 100 TB), so the full registry is
  * swept at sf0.01 and the exchange-heaviest pipelines are anchored at
  * the bench scale. Ceilings are ~2× the measured values (refreshed
  * per-round as part of the seal — r9 verdict item 7; last recorded in
  * BASELINE §C11) — loose enough for partition-count/compression
  * jitter, tight enough that a payload-through-exchange regression
  * (integer multiples) fails.
  *
  * Maintenance: a query with no ceiling FAILS the sweep — add a
  * measured entry when registering an operator. Re-derive the table
  * with GRAFT_SHUFFLE_RECORD=1 sbt "testOnly graft.tools.ShuffleBudgetSpec"
  * (prints the measured map instead of asserting).
  */
class ShuffleBudgetSpec extends SparkTestBase {

  private val record = sys.env.contains("GRAFT_SHUFFLE_RECORD")

  /** The ceilings are MEASUREMENTS UNDER A DECLARED CONFIG (r9 ADVICE):
    * exchange bytes scale with partition count (per-partition framing,
    * compression-block resets) and with the shuffle compression codec,
    * so a drive-by change to either would shift the whole 149-entry
    * table at once and fail the sweep en masse for a non-regression
    * reason. Pin the partition count HERE (not inherited from
    * SparkTestBase's builder) and assert the codec, so the config the
    * ceilings were recorded under is the config they are asserted
    * under — re-derive with GRAFT_SHUFFLE_RECORD=1 if either must
    * change.
    */
  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    val codec = spark.sparkContext.getConf.get("spark.io.compression.codec", "lz4")
    assert(codec == "lz4",
      s"ceilings were measured under lz4 shuffle compression, session uses $codec — " +
        "re-record the table (GRAFT_SHUFFLE_RECORD=1) before changing the codec")
  }

  /** One-time dataset-keyed fixtures (bucketed/partitioned/z-ordered
    * layouts, source-format copies, the media asset store) build inside
    * the first run that touches them and are adopted from /dev/shm
    * afterwards — ensure them BEFORE measuring so the sweep prices the
    * steady-state query, not the one-time build.
    */
  private val fixtureQueries = Seq(
    "q35_bucketed_join", "q36_partition_pruning", "q43_zorder_scan",
    "q46_json_source", "q47_csv_source", "q51_orc_source", "q88_binary_source",
    // q113's 90%-slice append base is a one-time dataset-keyed fixture
    // too: on a cold /dev/shm (or after a FormatLevel bump) its build
    // would otherwise ride into the append's measured bytes (~10x the
    // steady-state ceiling).
    "q113_ann_index_append",
    // q111 builds the encrypted composed index when none is published
    // yet: ensure it so the sweep prices the steady-state encrypted
    // SERVE, not that build's Lloyd/codebook training and partitioned
    // write.
    "q111_ann_ivf_probe",
    // q130 is the FIRST query in sorted sweep order whose serve adopts
    // the full-corpus composed build (q133's forced build sorts after
    // it): on a cold artifact root (fresh boot, or a FormatLevel bump
    // orphaning the previous format's dirs — exactly what the r15
    // f4->f5 residual bump did) the one-time Lloyd/codebook build's
    // ~1 MB of exchanges rode into q130's measured serve bytes (15x its
    // steady-state ceiling). Ensure it like every other dataset-keyed
    // fixture so the sweep prices the serve, not the build.
    "q130_ann_filtered_probe")

  private def measure(sfDir: String, names: Seq[String]): Map[String, Long] = {
    val qs = SparkEntry.queries
    ScaleDiag.shuffleBytes(spark, sfDir,
      names.map(n => n -> qs(n))).toMap
  }

  private def check(measured: Map[String, Long], ceilings: Map[String, Long],
      label: String): Unit = {
    if (record) {
      val lines = measured.toSeq.sortBy(_._1)
        .map { case (n, b) => f""""$n" -> ${math.max(1L << 16, b * 2)}%dL""" }
      info(s"[$label] measured -> suggested ceilings:")
      lines.foreach(l => info(s"  $l,"))
    } else {
      val missing = measured.keySet -- ceilings.keySet
      assert(missing.isEmpty,
        s"[$label] queries with no exchange-byte ceiling (add measured entries): " +
          missing.toSeq.sorted.mkString(", "))
      val over = measured.collect { case (n, b) if b > ceilings(n) =>
        f"$n: $b%d > ceiling ${ceilings(n)}%d (${b.toDouble / ceilings(n)}%.1fx)"
      }
      assert(over.isEmpty,
        s"[$label] exchange volume regressed past ceiling:\n  ${over.mkString("\n  ")}")
      val failed = measured.collect { case (n, b) if b < 0 => n }
      assert(failed.isEmpty, s"[$label] queries failed during sweep: ${failed.mkString(", ")}")
    }
  }

  test("sf0.01 exchange-byte ceilings hold for every registered query") {
    val qs = SparkEntry.queries
    fixtureQueries.foreach { n =>
      try qs(n)(spark, "/root/testdata/sf0.01")
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    check(measure("/root/testdata/sf0.01", qs.keys.toSeq.sorted),
      ShuffleBudgetSpec.CeilingsSf001, "sf0.01")
  }

  /** One representative per heavy shuffle family: shingle equi-join,
    * banded minhash, CC clustering, semantic CC, token prefix-sum,
    * curation three-exchange, basket incidence.
    */
  private val heavyAnchors = Seq(
    "q22a_jaccard_pairs", "q22b_minhash_pairs", "q38_dup_clusters",
    "q41_corpus_curation", "q58_semantic_dedup", "q64_token_packing",
    "q99_assoc_rules")

  test("sf0.1 exchange-byte anchors hold for the exchange-heavy pipelines") {
    check(measure("/root/testdata/sf0.1", heavyAnchors),
      ShuffleBudgetSpec.CeilingsSf01, "sf0.1")
  }

  test("distributed composed serve: exchange bytes stay probe-proportional (own-measured)") {
    // Not a registry query (priced by ScaleDiag.annDistIvfPq), but its
    // exchange SHAPE is the regression class this spec exists for: the
    // per-probe 512-double ADC LUT crosses exactly one probe-proportional
    // exchange (the repartition(cid) under the scoring join — see the
    // IvfPqSpec plan pin), and the candidate-sized exchanges carry only
    // (ordinal, ids, qcos). A projection regression that pushes the LUT
    // or the probe vector onto candidate rows multiplies these bytes
    // ~10x at this sf's inverted probe:corpus ratio, far past the 2x
    // ceiling. Measured 20.7 MB at sf0.01 (2500 probes x nprobe 6 LUTs
    // dominate — at production corpus >> probe ratios the same bytes are
    // noise next to the candidate scan).
    // Build OUTSIDE the measured window (the fixtureQueries discipline):
    // a solo run would otherwise count the one-time Lloyd/codebook
    // training shuffles toward the serve's ceiling.
    val dir = graft.ops.IvfPq.build(spark, "/root/testdata/sf0.01")
    val fn = (s: org.apache.spark.sql.SparkSession, d: String) =>
      graft.ops.IvfPq.probeUnbounded(s, Seq(dir),
        ScaleDiag.reindexProbes(s, d, 5))
    val measured = ScaleDiag.shuffleBytes(spark, "/root/testdata/sf0.01",
      Seq("dist_ivfpq_serve" -> fn)).toMap
    check(measured, ShuffleBudgetSpec.CeilingsDistServe, "dist-serve")
  }
}

object ShuffleBudgetSpec {
  /** Measured at sf0.01 (local[4], shuffle.partitions=4), ceiling ≈ 2×
    * measured with a 64 KiB floor for noise on near-zero queries. The
    * session is SparkTestBase's, not the bench's local session: the
    * ceilings are recorded under the spec base's confs.
    *
    * The ANN family prices the one composed index format (residual PQ
    * codes stored inside the inverted lists, `ivfpq_lists`). The build
    * and lifecycle lines (q110 encrypted build, q113 append, q127
    * compact, q128 stream ingest, q129 delete-compact, q133 build) move
    * the list table through their fold/partition exchanges; the serves
    * on the bounded branch (q111, q112, q130, q134) route on the driver
    * and prune the list scan to the probed lists. The unbounded branch
    * (q131, q132) is the exception BY DESIGN: its
    * deliberate repartition(cid) materializes each routed probe's M×K
    * LUT exactly once (r13 — without it codegen recomputes the LUT per
    * candidate, measured 3× the serve wall), so their exchange is
    * PROBE-proportional (≈ nprobe × 4 KiB of LUT per probe row, lz4),
    * never corpus-proportional: q132 20.7 MB at 5×-corpus probes, q131
    * 11.0 MB at 1×-corpus filtered (FilteredNprobe doubles the routed
    * rows). Those ceilings price the documented trade, not a leak —
    * the same exchange a shuffle join on cid would need at scale.
    */
  val CeilingsSf001: Map[String, Long] = Map(
    "q01_filter_project" -> 65536L,
    "q02_agg_hash" -> 2394302L,
    "q03_join_inner" -> 65536L,
    "q04_join_broadcast" -> 65536L,
    "q05_join_outer" -> 99806L,
    "q06a_join_semi" -> 65536L,
    "q06b_join_anti" -> 65536L,
    "q07_range_join" -> 293764L,
    "q08_asof_join" -> 233498L,
    "q09a_rollup" -> 566002L,
    "q09b_cube" -> 384830L,
    "q100_fk_audit" -> 65536L,
    "q101_weighted_sample" -> 65536L,
    "q102_rfm_segments" -> 1049786L,
    "q103_twap" -> 858262L,
    "q104_revenue_concentration" -> 718408L,
    "q105_key_skew_profile" -> 619674L,
    "q106_column_profile" -> 1273594L,
    "q107_time_rollup" -> 512364L,
    "q108_survivorship" -> 2817494L,
    "q109_lead_time" -> 866650L,
    "q10_distinct_agg" -> 149410L,
    "q10b_approx_distinct" -> 1274954L,
    "q110_ann_index_build" -> 1880240L,
    "q111_ann_ivf_probe" -> 131072L,
    "q112_ann_pq_probe" -> 706282L,
    "q113_ann_index_append" -> 87654L,
    "q114_ohlc_bars" -> 1493118L,
    "q115_pmi_cooccur" -> 443426L,
    "q116_zipf_fit" -> 177638L,
    "q117_purchase_gaps" -> 949480L,
    "q118_entropy_profile" -> 65536L,
    "q119_gini_spend" -> 732878L,
    "q11_window_rank" -> 290618L,
    "q120_benford_digits" -> 1443262L,
    "q121_chi2_independence" -> 65536L,
    "q122_autocorr_daily" -> 842044L,
    "q123_cusum_changepoint" -> 842044L,
    "q124_psi_priority_drift" -> 895610L,
    "q125_calendar_gaps" -> 427102L,
    "q126_weekday_seasonality" -> 867926L,
    "q127_ann_index_compact" -> 470406L,
    "q128_ann_stream_ingest" -> 121794L,
    "q129_ann_index_delete" -> 496912L,
    "q130_ann_filtered_probe" -> 65536L,
    "q131_ann_pq_filtered_probe" -> 22066686L,
    "q132_ann_distributed_probe" -> 41473160L,
    // r13 composed IVF+PQ: the build's exchanges are the cid cluster
    // write + the assignment⋈codes join (measured 1.92 MB at sf0.01);
    // the probe moves only the pool + window partials (80 KB).
    "q133_ann_ivfpq_build" -> 1923222L,
    "q134_ann_ivfpq_probe" -> 79812L,
    "q12_window_frame" -> 1705488L,
    "q13_topk" -> 65536L,
    "q14_setops" -> 65536L,
    "q15_strings" -> 140130L,
    "q16_dates" -> 875408L,
    "q17_math" -> 65536L,
    "q18_arrays" -> 65536L,
    "q19_json" -> 207724L,
    "q20_subquery" -> 301116L,
    "q21_dedup_exact" -> 184828L,
    "q22a_jaccard_pairs" -> 2733498L,
    "q22b_minhash_pairs" -> 1164542L,
    "q22c_simhash_pairs" -> 338784L,
    "q22d_text_stats" -> 185446L,
    "q23_cosine_topk" -> 414648L,
    "q23b_embed_neardup" -> 399796L,
    "q23c_cosine_lsh" -> 414768L,
    "q23d_neardup_lsh" -> 856096L,
    "q23e_cosine_ivf" -> 957918L,
    "q23f_cosine_pq" -> 1225598L,
    "q24_encrypted_roundtrip" -> 65536L,
    "q24b_encrypted_projection" -> 65536L,
    "q24c_encrypted_plaintext_col" -> 65536L,
    "q24d_encrypted_scale_scan" -> 65536L,
    "q24e_encrypted_dedup" -> 184828L,
    "q24f_encrypted_stream" -> 65536L,
    "q25_tumbling_window" -> 527660L,
    "q26_sliding_window" -> 655216L,
    "q27_session_window" -> 224990L,
    "q28_percentiles" -> 3382346L,
    "q28b_approx_percentiles" -> 2599948L,
    "q29_pivot" -> 65536L,
    "q30_text_quality" -> 199248L,
    "q31_token_count" -> 186580L,
    "q32_langid" -> 180558L,
    "q33_fingerprint" -> 202408L,
    "q34a_sample_hash" -> 108448L,
    "q34b_sample_stratified" -> 65536L,
    "q35_bucketed_join" -> 65536L,
    "q36_partition_pruning" -> 65536L,
    "q37_skew_salted_join" -> 2284642L,
    "q38_dup_clusters" -> 2814738L,
    "q39_incremental_dedup" -> 65536L,
    "q40_multimodal_features" -> 65536L,
    "q41_corpus_curation" -> 498134L,
    "q42_tfidf_topterms" -> 191964L,
    "q43_zorder_scan" -> 65536L,
    "q44_embedding_stats" -> 405158L,
    "q45_repetition_filter" -> 189978L,
    "q46_json_source" -> 65536L,
    "q47_csv_source" -> 65536L,
    "q48_grouping_sets" -> 1503578L,
    "q49_edit_distance" -> 269472L,
    "q50_resample_gapfill" -> 154526L,
    "q51_orc_source" -> 65536L,
    "q52_merge_upsert" -> 364096L,
    "q53_histogram" -> 867524L,
    "q54_moment_stats" -> 2017250L,
    "q55_interval_join" -> 337780L,
    "q56_pii_scrub" -> 65536L,
    "q57_leakage_safe_split" -> 2821984L,
    "q58_semantic_dedup" -> 650220L,
    "q58b_semantic_dedup_lsh" -> 1049062L,
    "q59_contamination" -> 273298L,
    "q60_filtered_topk" -> 65536L,
    "q61_heavy_hitters" -> 177638L,
    "q62_stream_static_join" -> 938722L,
    "q63_doc_chunks" -> 364784L,
    "q64_token_packing" -> 183602L,
    "q65_bloom_decontam" -> 227892L,
    "q66_bpe_merges" -> 301810L,
    "q67_mixture_sample" -> 65536L,
    "q68_quality_mixture" -> 198884L,
    "q69_sessionize" -> 1032446L,
    "q70_quantize_embed" -> 406078L,
    "q71_snapshot_diff" -> 344984L,
    "q72_bm25" -> 348050L,
    "q73_hybrid_rrf" -> 763928L,
    "q74_schema_evolution" -> 65536L,
    "q75_latest_compaction" -> 548924L,
    "q76_lm_familiarity" -> 243018L,
    "q77_train_shards" -> 65536L,
    "q78_scd2_history" -> 1376854L,
    "q79_dataset_card" -> 415822L,
    "q80_chunk_dedup" -> 379530L,
    "q81_source_overlap" -> 280724L,
    "q82_value_outliers" -> 301542L,
    "q83_group_exemplars" -> 65536L,
    "q84_embedding_drift" -> 473694L,
    "q85_funnel" -> 275926L,
    "q86_retention_cohorts" -> 220986L,
    "q87_event_transitions" -> 369494L,
    "q88_binary_source" -> 65536L,
    "q89_quantile_drift" -> 854304L,
    "q90_rolling_peak" -> 341766L,
    "q91_trend_slope" -> 667640L,
    "q92_window_dedup" -> 635560L,
    "q93_table_checksum" -> 909938L,
    "q94_snm_candidates" -> 400672L,
    "q95_last_touch" -> 503000L,
    "q96_decile_stats" -> 778830L,
    "q97_star_join" -> 2129590L,
    "q98_filter_waterfall" -> 182424L,
    "q99_assoc_rules" -> 763444L)

  /** The exchange-heaviest pipelines at the bench scale factor: one
    * representative per shuffle family (shingle equi-join, banded
    * minhash, CC clustering, semantic CC, token prefix-sum, curation
    * three-exchange, basket incidence).
    */
  val CeilingsSf01: Map[String, Long] = Map(
    "q22a_jaccard_pairs" -> 22588232L,
    "q22b_minhash_pairs" -> 8450604L,
    "q38_dup_clusters" -> 22991642L,
    "q41_corpus_curation" -> 4828986L,
    "q58_semantic_dedup" -> 4117194L,
    "q64_token_packing" -> 1894936L,
    "q99_assoc_rules" -> 7724472L)

  /** The distributed composed serve at sf0.01 (2500 probes, 5× re-keyed
    * corpus): the probe-proportional LUT exchange dominates at this
    * inverted probe:corpus ratio. Measured 20.7 MB; ceiling 2× (r13).
    */
  val CeilingsDistServe: Map[String, Long] = Map(
    "dist_ivfpq_serve" -> 41473160L)
}
