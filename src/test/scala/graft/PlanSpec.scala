package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Plan-quality assertions (SURVEY.md §4): the optimizations the engine
  * relies on at 100 TB must be visible in the physical plan, not assumed —
  * filter pushdown, column pruning, broadcast joins, top-k via
  * TakeOrderedAndProject.
  */
class PlanSpec extends SparkTestBase {

  private def planString(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.executedPlan.toString
  }

  /** Count InMemoryTableScanExec NODES in the tree (descending into the
    * AQE wrapper, whose input plan is not a child). Counting the literal
    * string instead is brittle: plan rendering embeds cached-plan text
    * inside InMemoryRelation, so a Spark upgrade could change the
    * substring count without any real plan change. (r5 advisor.)
    */
  private def inMemoryScanCount(plan: SparkPlan): Int = {
    val self = plan match {
      case _: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => 1
      case _ => 0
    }
    val kids = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.inputPlan)
      case p => p.children
    }
    self + kids.map(inMemoryScanCount).sum
  }

  test("q01: filters and projection reach the parquet scan") {
    val p = planString("q01_filter_project")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate") || p.contains("IsNotNull(l_shipdate"),
      s"shipdate filter not pushed:\n$p")
    // Column pruning: scan must read only the needed columns, not all 11.
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(read.split(",").length <= 6, s"scan reads too many columns: $read")
    assert(!read.contains("l_tax"), s"unprojected column read: $read")
  }

  test("q04: dimension side is a broadcast hash join") {
    val p = planString("q04_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q13: global top-k plans as TakeOrderedAndProject (no full sort)") {
    val p = planString("q13_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q02: aggregation is two-phase (partial before shuffle)") {
    val p = planString("q02_agg_hash")
    // partial_ prefix on map-side aggregate functions
    assert(p.contains("partial_"), s"no map-side partial aggregation:\n$p")
  }

  test("q23d: LSH threshold-pairs plans with no nested-loop join") {
    val p = planString("q23d_neardup_lsh")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"q23d must stay on bucketed equi-joins:\n$p")
    assert(p.contains("ShuffledHashJoin"), s"pinned shuffle-hash join missing:\n$p")
  }

  test("q34a: hash-sample filter is applied at/before the scan stage, no pre-agg shuffle") {
    val df = SparkEntry.queries("q34a_sample_hash")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    // the hash filter must sit directly on the scan (DataFilters), so no
    // corpus rows cross an exchange unsampled; both scans (orders AND the
    // raw-lineitem join side) must carry it as a DataFilter
    assert("DataFilters: \\[\\(pmod\\(xxhash64".r.findAllIn(p).length >= 2,
      s"hash filter not at the scans:\n$p")
    // the post-filter aggregate is allowed its distinct-expansion +
    // final-sort shuffles (3); the sampled-orders broadcast doesn't count
    // (it moves only the 10% sample, never the corpus). SinglePartition
    // exchanges DO count — a collapsed-to-one-task aggregate or sort is
    // exactly the pathology this suite exists to catch.
    assert(
      "Exchange (hashpartitioning|rangepartitioning|SinglePartition)".r
        .findAllIn(p).length <= 3,
      s"unexpected extra shuffle:\n$p")
  }

  test("q67: mixture thresholds broadcast; the corpus never shuffles pre-filter") {
    val df = SparkEntry.queries("q67_mixture_sample")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"threshold join must broadcast:\n$p")
    // The join's STREAMED side (the text between the join node and its
    // BroadcastExchange build side) must be the bare corpus scan — no
    // exchange, so membership stays a scan-stage predicate. The K-row
    // count aggregates inside the build side shuffle their own tiny
    // partials; that's allowed and not part of this slice. Guarded
    // string surgery: if the build side ever prints before the streamed
    // side (a BuildLeft flip), fail with a readable message rather than
    // an index error.
    val joinAt = p.indexOf("BroadcastHashJoin")
    val buildAt = p.indexOf("BroadcastExchange", joinAt)
    assert(buildAt > joinAt,
      s"expected the broadcast build side to print under the join (BuildRight):\n$p")
    val streamed = p.substring(joinAt, buildAt)
    assert(streamed.contains("FileScan") && !streamed.contains("Exchange"),
      s"corpus side not a bare scan:\n$streamed")
  }

  test("q28/q28b: percentile partials parallelize (>1 input partition)") {
    val df = SparkEntry.queries("q28_percentiles")(spark, sfDir)
    val parts = df.queryExecution.toRdd.getNumPartitions
    assert(parts >= 1) // result side; the important bit is the spread below
    val spread = Tables.spread(Tables.lineitem(spark, sfDir), org.apache.spark.sql.functions.col("l_orderkey"))
    assert(spread.rdd.getNumPartitions == spark.sparkContext.defaultParallelism,
      "spread must pin the partition count against AQE coalescing")
  }

  test("q35: bucketed fact-fact join has no exchange and no sort below the join") {
    val df = SparkEntry.queries("q35_bucketed_join")(spark, sfDir)
    df.collect() // materialize AQE final plan
    val p = (df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }).toString
    assert(p.contains("SortMergeJoin"), s"bucketed join should sort-merge:\n$p")
    // The ONLY allowed exchange is the final 5-row aggregate's; the join
    // subtree (everything after the join line) must be exchange-free and
    // sort-free — that IS the bucketing contract.
    val joinSubtree = p.substring(p.indexOf("SortMergeJoin"))
    assert(!joinSubtree.contains("Exchange"),
      s"bucketed join must not shuffle either side:\n$p")
    assert(!joinSubtree.contains("+- Sort") && !joinSubtree.contains("+- *Sort"),
      s"bucket-sorted input must not re-sort:\n$p")
    assert(p.contains("SelectedBucketsCount"), s"scan not bucket-aware:\n$p")
  }

  test("q36: dated query prunes to 5 of 30 event-date partitions") {
    val df = SparkEntry.queries("q36_partition_pruning")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: ["), s"no partition filters:\n$p")
    assert(p.contains("event_date"), s"pruning key absent from scan:\n$p")
    // Count actual files scanned: 5 day-directories, one file each.
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val scanned = plan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.totalNumberOfFiles
    }
    assert(scanned.exists(n => n >= 1L && n <= 10L),
      s"expected ~5 pruned partition files, got $scanned:\n$p")
  }

  test("q37: salted join stays a shuffled join on (key, salt)") {
    val p = planString("q37_skew_salted_join")
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
      s"salting demo must exercise the shuffle-join path:\n$p")
    assert(p.contains("__salt"), s"salt key absent from join:\n$p")
    assert(!p.contains("BroadcastHashJoin"), s"broadcast defeats the salting demo:\n$p")
  }

  test("q22a/q22b: candidate joins stay on pinned shuffle-hash strategy") {
    // Round-1 driver regression: AQE flipped q22a's exploded self-join
    // onto a broadcast of the exploded side (230 s vs 24 s). The hints
    // must keep every candidate join on SHJ at any size estimate.
    Seq("q22a_jaccard_pairs", "q22b_minhash_pairs").foreach { name =>
      val p = planString(name)
      assert(p.contains("ShuffledHashJoin"), s"$name lost its pinned SHJ:\n$p")
      // (BroadcastNestedLoopJoin DOES legitimately appear inside the
      // cached capped-shingle pipeline: 1-row broadcasts of the hot-set
      // and corpus-count scalars. The suite-wide CartesianProduct guard
      // covers the genuinely dangerous case.)
      assert(!p.contains("CartesianProduct"), s"$name must stay on equi-joins:\n$p")
    }
  }

  test("no registered query plans a CartesianProduct (big-by-big cross join)") {
    // Suite-wide 100 TB invariant: broadcast nested-loop joins against
    // tiny/scalar sides are acceptable (q23b's exact baseline, 1-row
    // broadcast factors), but a non-broadcast cartesian product means
    // two unbounded sides got crossed — always a scale bug.
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = try fn(spark, sfDir).queryExecution.executedPlan.toString
        catch { case e: Throwable => fail(s"$name failed to plan: ${e.getMessage}") }
      if (plan.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("q48: grouping sets plan as one Expand pass with partial aggregation") {
    val p = planString("q48_grouping_sets")
    assert(p.contains("Expand"), s"grouping sets must use Expand, not rescans:\n$p")
    assert(p.contains("partial_"), s"no map-side partial aggregation:\n$p")
  }

  test("q49: edit-distance join is the pinned shuffle-hash on the brand key") {
    val p = planString("q49_edit_distance")
    assert(p.contains("ShuffledHashJoin"), s"brand blocking join not SHJ:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"levenshtein must run inside the equi-join, never on a cross product:\n$p")
  }

  test("q49: the levenshtein DP is the LAST conjunct of the join condition") {
    // r15's speedup rests on cheap → expensive conjunct order (length
    // test, then l1_diff, then the banded DP last); nothing else pins
    // it, and a future refactor reintroducing a pushable post-filter
    // would silently regress the DP back to LEADING the chain via
    // PushPredicateThroughJoin's prepend (r15 ADVICE). Assert on the
    // join condition line of the executed plan: levenshtein appears
    // after both prefilters.
    val p = planString("q49_edit_distance")
    val cond = p.linesIterator
      .find(l => l.contains("ShuffledHashJoin") || l.contains("Join condition"))
      .getOrElse(fail(s"no join line found in:\n$p"))
    val lev = cond.indexOf("levenshtein")
    val len = cond.indexOf("length")
    val l1 = cond.indexOf("l1_diff")
    assert(lev >= 0 && len >= 0 && l1 >= 0,
      s"expected length/l1_diff/levenshtein in the join condition:\n$cond")
    assert(len < lev && l1 < lev,
      s"levenshtein must be the LAST conjunct (after length and l1_diff):\n$cond")
  }

  test("q50: grid cross join broadcasts the tiny types side") {
    val p = planString("q50_resample_gapfill")
    // hour-grid x 5 event types: the cross join must be a broadcast
    // nested loop over the 5-row side, never a partitioned cartesian.
    assert(p.contains("BroadcastNestedLoopJoin"), s"types side not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q46/q47/q51: non-parquet sources scan with pruned explicit schemas") {
    val pj = planString("q46_json_source")
    assert(pj.contains("FileScan json"), s"q46 must scan JSON:\n$pj")
    val pc = planString("q47_csv_source")
    assert(pc.contains("FileScan csv"), s"q47 must scan CSV:\n$pc")
    val po = planString("q51_orc_source")
    assert(po.contains("FileScan orc"), s"q51 must scan ORC:\n$po")
    // explicit schema ⇒ only the projected columns appear in ReadSchema
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(pc).map(_.group(1)).getOrElse("")
    assert(read.split(",").length <= 3, s"CSV scan reads too many columns: $read")
  }

  test("q42: the corpus-wide df table streams; the probe side broadcasts") {
    val p = planString("q42_tfidf_topterms")
    assert(p.contains("BroadcastHashJoin"),
      s"probe term frequencies must broadcast against the df table:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q23f: PQ assignment joins broadcast codebooks, no nested-loop or literal blowup") {
    val p = planString("q23f_cosine_pq")
    assert(p.contains("BroadcastHashJoin"), s"codebook join must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q52: merge anti join carries no user broadcast hint (AQE decides)") {
    // Round-4 verdict: the update batch is derived as a fixed FRACTION of
    // the base table, so a hard broadcast() of its key set scales with
    // the base — ~100 GB at 100 TB, a guaranteed OOM. The join must stay
    // unhinted; whether it broadcasts is AQE's size-measured decision.
    val df = SparkEntry.queries("q52_merge_upsert")(spark, sfDir)
    val analyzed = df.queryExecution.analyzed.toString
    assert(!analyzed.toLowerCase.contains("hint"),
      s"base-derived update keys must not be hint-broadcast:\n$analyzed")
    assert(analyzed.contains("LeftAnti"), s"merge must keep the anti-join shape:\n$analyzed")
  }

  test("q60: label predicate is pushed into the corpus parquet scan") {
    // Filtered ANN's whole scale story is that the metadata predicate
    // prunes the corpus BEFORE any distance math; a refactor that lifts
    // the filter above the probe join silently re-scores the full corpus.
    val p = planString("q60_filtered_topk")
    assert(p.contains("EqualTo(label,1)"), s"label filter not pushed to scan:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"probe side must broadcast:\n$p")
  }

  test("q59: eval-gram join is unhinted (AQE decides the strategy)") {
    // Same q52 lesson: the eval side here derives from the corpus table,
    // so a hard broadcast() would scale with the input. In production the
    // eval side is a small fixed benchmark and AQE broadcasts it from
    // measured size.
    val analyzed = SparkEntry.queries("q59_contamination")(spark, sfDir)
      .queryExecution.analyzed.toString
    assert(!analyzed.toLowerCase.contains("hint"),
      s"corpus-derived eval grams must not be hint-broadcast:\n$analyzed")
  }

  test("q61: global top-20 terms plans as TakeOrderedAndProject with partial counts") {
    // The heavy-hitter shape at scale: map-side partial counts, one term
    // shuffle, then top-k WITHOUT sorting the whole term dictionary.
    val p = planString("q61_heavy_hitters")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not full-sort the dictionary:\n$p")
    assert(p.contains("partial_"), s"no map-side partial counts:\n$p")
  }

  test("q62: enrichment join is unhinted; aggregate keeps map-side partials") {
    // customer scales with the corpus (q52 lesson): AQE must choose the
    // join strategy from measured size, not a hand broadcast.
    val df = SparkEntry.queries("q62_stream_static_join")(spark, sfDir)
    assert(!df.queryExecution.analyzed.toString.toLowerCase.contains("hint"),
      s"corpus-scaling dim must not be hint-broadcast:\n${df.queryExecution.analyzed}")
    assert(df.queryExecution.executedPlan.toString.contains("partial_"),
      s"windowed agg lost map-side partials:\n${df.queryExecution.executedPlan}")
  }

  test("q64: corpus window is range-partitioned; offsets side reuses the shuffle at runtime") {
    // Two-level global prefix sum: the only global (single-partition)
    // window may run over the tiny per-range totals, never the corpus —
    // the corpus-side window must be partitioned by rng. And because the
    // offsets branch derives from the same windowed pass, AQE must reuse
    // the corpus shuffle instead of scanning+tokenizing twice.
    val df = SparkEntry.queries("q64_token_packing")(spark, sfDir)
    val static = df.queryExecution.executedPlan.toString
    assert(static.contains("windowspecdefinition(rng"),
      s"corpus cumsum window must be partitioned by rng:\n$static")
    // Both join branches read the persisted token table (the parquet
    // scan + tokenize runs once, at cache fill).
    assert(inMemoryScanCount(df.queryExecution.executedPlan) == 2,
      s"both levels must read the persisted token table, not rescan the corpus:\n$static")
  }

  test("q65: bloom probe is a scalar subquery; only the maybe-branch anti-joins") {
    // The explicit runtime-filter shape: the bloom builds as a subquery
    // (one-row scalar shipped to probe tasks — never a plan literal),
    // the probe expression sits over the persisted corpus table read by
    // BOTH routing branches, and the exact verification is a LEFT ANTI
    // join fed only by the bloom-positive sliver.
    val df = SparkEntry.queries("q65_bloom_decontam")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("bloom_might_contain") || p.contains("might_contain"),
      s"bloom probe expression missing:\n$p")
    assert(p.contains("Subquery") || p.contains("subquery"),
      s"bloom must build as a scalar subquery, not a literal:\n$p")
    assert(p.contains("LeftAnti"), s"exact verification anti join missing:\n$p")
    assert(inMemoryScanCount(df.queryExecution.executedPlan) >= 2,
      s"both routing branches must read the persisted probed table:\n$p")
  }

  test("q66: bigram top-30 plans as TakeOrderedAndProject with partial counts") {
    // Same heavy-hitter discipline as q61, over the (much larger) pair
    // dictionary: map-side partials, one exchange, per-partition heaps.
    val p = planString("q66_bpe_merges")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must not full-sort the pair dictionary:\n$p")
    assert(p.contains("partial_"), s"no map-side partial counts:\n$p")
  }

  test("q11: rank filter plans a WindowGroupLimit below the Window") {
    // Spark's InferWindowGroupLimit turns `filter(rn <= 3)` into a
    // per-partition top-k limit that runs BEFORE the full window — at
    // scale the sort buffers k rows per key instead of every order of
    // every customer. If this silently stops firing (a non-rank-like
    // window expr added to q11 would do it), per-key data explodes again.
    val p = planString("q11_window_rank")
    assert(p.contains("WindowGroupLimit"),
      s"rank filter no longer pushes as WindowGroupLimit:\n$p")
  }

  test("q75: latest-record compaction plans a WindowGroupLimit (O(1) per-key state)") {
    val p = planString("q75_latest_compaction")
    assert(p.contains("WindowGroupLimit"),
      s"rank-1 compaction must push a per-key group limit:\n$p")
  }

  test("q73: each retriever cuts its candidates with TakeOrderedAndProject") {
    // Both modality sides must bound themselves BEFORE fusion: two
    // top-k operators, no global sort of a corpus-scale relation.
    val p = planString("q73_hybrid_rrf")
    val cuts = p.split("\n").count(_.contains("TakeOrderedAndProject"))
    assert(cuts >= 2, s"expected two candidate cuts, got $cuts:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q69: both window passes share one event sort and one user exchange") {
    // lag and the running break-sum use the same (partition, order): the
    // break-sum's Window node stacks directly on lag's (it consumes brk,
    // so they can't fuse into one node) with NO second sort and NO second
    // exchange of the event stream — the expensive movement happens once.
    val p = planString("q69_sessionize")
    val eventSorts = p.split("\n").count(l => l.contains("Sort [") && l.contains("ts#"))
    assert(eventSorts == 1, s"expected one per-partition event sort, got $eventSorts:\n$p")
    // exchanges: the deliberate source spread, the window partitioning
    // (AQE may reuse the spread's), the post-combine session aggregate,
    // and the final presentation range sort — never a second event-stream
    // hash exchange between the Window nodes.
    val between = p.split("\n").dropWhile(!_.contains("Window ["))
      .takeWhile(l => !l.contains("lag("))
    assert(!between.exists(_.contains("Exchange")),
      s"exchange between the two window passes:\n${between.mkString("\n")}")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q71: snapshot diff is one full-outer sort-merge join, no broadcast of a snapshot") {
    // Both sides are corpus-scale snapshots: a broadcast would OOM at
    // 100 TB; full-outer equi-join must plan as SortMergeJoin.
    val p = planString("q71_snapshot_diff")
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"),
      s"expected full-outer sort-merge join:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"a snapshot side must not broadcast:\n$p")
  }

  test("q72: BM25 statistics broadcast; top-20 is TakeOrderedAndProject") {
    val p = planString("q72_bm25")
    // df-table and global-scalar joins: broadcast (both are tiny);
    // the ranked cut must not globally sort the scored corpus.
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"corpus statistics must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must not full-sort the scored corpus:\n$p")
    assert(p.contains("partial_"), s"no map-side partial aggregation:\n$p")
  }

  test("q70: quantization census is scan → project → one aggregate exchange") {
    // Per-row array math must not shuffle: the only exchanges are the
    // deliberate source spread and the 10-group aggregate.
    val p = planString("q70_quantize_embed")
    val exchanges = p.split("\n").count(_.contains("Exchange "))
    assert(exchanges <= 3, s"unexpected shuffles ($exchanges):\n$p")
    assert(p.contains("partial_"), s"census must map-side combine:\n$p")
    assert(!p.contains("Join"), s"no join belongs in this plan:\n$p")
  }

  test("q76: reference slice filter pushes to the scan; count join is unhinted") {
    val p = planString("q76_lm_familiarity")
    // The reference bigram table must build from a predicate-pushed slice
    // of the documents scan, not a post-explode filter of the full corpus.
    assert(p.contains("EqualTo(source,src0)"),
      s"reference-source filter not pushed into the parquet scan:\n$p")
    assert(p.contains("partial_"), s"no map-side partial counts:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q77: shard census is scan → hash-project → one tiny aggregate exchange") {
    // The manifest must never shuffle the corpus: only the deliberate
    // source spread, the <=64-row aggregate exchange, and the
    // presentation sort are allowed — and no join anywhere.
    val p = planString("q77_train_shards")
    val exchanges = p.split("\n").count(_.contains("Exchange "))
    assert(exchanges <= 3, s"unexpected shuffles ($exchanges):\n$p")
    assert(p.contains("partial_"), s"census must map-side combine:\n$p")
    assert(!p.contains("Join"), s"no join belongs in this plan:\n$p")
  }

  test("q78: SCD2 intervals plan ONE window over one key exchange, no self-join") {
    val p = planString("q78_scd2_history")
    val windows = p.split("\n").count(_.contains("Window ["))
    assert(windows == 1, s"expected exactly one Window node, got $windows:\n$p")
    assert(!p.contains("Join"),
      s"lead-window formulation must not plan a self-join:\n$p")
    // one key exchange for the window; spread + final presentation sort
    // are the only other movement
    val exchanges = p.split("\n").count(_.contains("Exchange "))
    assert(exchanges <= 3, s"unexpected shuffles ($exchanges):\n$p")
  }

  test("q79: dataset-card scalar block is one pass; every aggregate map-side combines") {
    val p = planString("q79_dataset_card")
    assert(p.contains("partial_"), s"no map-side partial aggregation:\n$p")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"card is unions of aggregates, no join:\n$p")
    // six scalar metrics must come from a single aggregate (Expand for
    // the distinct-count), not six separate jobs: count the union's
    // input aggregates — 1 scalar block + 2 breakdowns = 3 final aggs.
    val finals = p.split("\n").count(l =>
      l.contains("HashAggregate") && !l.contains("partial_"))
    assert(finals <= 4, s"scalar metrics split into too many aggregates ($finals):\n$p")
  }

  test("q83: k-per-group exemplars plan a WindowGroupLimit (O(k) per-group state)") {
    val p = planString("q83_group_exemplars")
    assert(p.contains("WindowGroupLimit"),
      s"rank<=3 filter not pushed into a WindowGroupLimit:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("q86: cohort assignment is a window min — one log shuffle, no self-join") {
    val p = planString("q86_retention_cohorts")
    assert(p.split("\n").count(_.contains("Window [")) == 1, p)
    assert(!p.contains("Join"),
      s"first-seen join-back would scan and shuffle the log twice:\n$p")
  }

  test("q84: both delta-join sides read the persisted centroid table, not the corpus") {
    val df = SparkEntry.queries("q84_embedding_drift")(spark, sfDir)
    val scans = inMemoryScanCount(df.queryExecution.executedPlan)
    assert(scans >= 2,
      s"expected both self-join sides on the cached centroids, got $scans cache scans:\n" +
        df.queryExecution.executedPlan)
  }

  test("q85/q87: single user-key pass — no self-join of the event log") {
    Seq("q85_funnel", "q87_event_transitions").foreach { q =>
      val p = planString(q)
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        s"$q shuffles the log through a join:\n$p")
    }
  }

  test("q90/q95: one window over one user-key exchange, no self-join") {
    Seq("q90_rolling_peak", "q95_last_touch").foreach { q =>
      val p = planString(q)
      assert(p.split("\n").count(_.contains("Window [")) == 1,
        s"$q: expected exactly one Window node:\n$p")
      assert(!p.contains("Join"), s"$q must not self-join the log:\n$p")
    }
  }

  test("q91: moment aggregate map-side combines; bounds side broadcasts") {
    val p = planString("q91_trend_slope")
    assert(p.contains("partial_"), s"no map-side partial aggregation:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"1-row bounds aggregate must broadcast, not shuffle:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("q92: windowed-dedup census is window-function-free (distinct aggregate)") {
    val p = planString("q92_window_dedup")
    assert(!p.contains("Window ["),
      s"census must use count(DISTINCT), not a row_number sort:\n$p")
    assert(p.contains("partial_"), s"no map-side partials:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("q93: checksum is scan → project → one aggregate exchange, no sort") {
    val p = planString("q93_table_checksum")
    assert(!p.contains("Join"), p)
    assert(p.contains("partial_"), s"checksum aggregates must map-side combine:\n$p")
    // order-insensitivity means no Sort below the aggregate (the final
    // 3-row presentation sort is the only one allowed)
    val sorts = p.split("\n").count(_.contains("Sort ["))
    assert(sorts <= 1, s"checksum must not sort the table ($sorts sorts):\n$p")
  }

  test("q94: SNM neighbor compare is a per-block window, not a join") {
    val p = planString("q94_snm_candidates")
    assert(p.split("\n").count(_.contains("Window [")) == 1, p)
    assert(!p.contains("Join"),
      s"sorted-neighborhood must compare via lead(), not a self-join:\n$p")
  }

  test("q96: decile window partitions by stratum (no single-partition global sort)") {
    val p = planString("q96_decile_stats")
    val winLines = p.split("\n").filter(_.contains("Window ["))
    assert(winLines.length == 1, p)
    // partition spec present ⇒ not a global (empty-partition) window
    assert(winLines.head.contains("o_orderstatus"),
      s"ntile window must partition by the stratum key:\n${winLines.head}")
  }

  test("q97: star join broadcasts the dimension chain and pushes both filters") {
    val p = planString("q97_star_join")
    val bhj = p.split("\n").count(_.contains("BroadcastHashJoin"))
    assert(bhj >= 2, s"nation/region (and ideally supplier) must broadcast, got $bhj BHJ:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate)")
      || p.contains("GreaterThanOrEqual(o_orderdate"),
      s"order-date filter not pushed to the orders scan:\n$p")
    assert(p.contains("EqualTo(r_name,ASIA)"), s"region filter not pushed:\n$p")
  }

  test("q98: waterfall is one scan — no join, map-side-combined aggregate") {
    val p = planString("q98_filter_waterfall")
    assert(!p.contains("Join"), s"waterfall must be a single-pass census:\n$p")
    assert(p.contains("partial_"), s"no map-side partials:\n$p")
  }

  test("q99: pair join keys on the basket; totals/type counts broadcast") {
    val p = planString("q99_assoc_rules")
    assert(!p.contains("CartesianProduct"), p)
    // the 1-row totals frame joins via broadcast, never a shuffle
    assert(p.contains("BroadcastExchange"), s"K-row sides must broadcast:\n$p")
  }

  test("q100: every FK edge audits via a left-anti join (no inner/outer rewrite)") {
    val p = planString("q100_fk_audit")
    val anti = p.split("\n").count(_.contains("LeftAnti"))
    assert(anti == 5, s"expected 5 anti joins (one per FK edge), got $anti:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q101: weighted top-k plans as TakeOrderedAndProject (no global sort)") {
    val p = planString("q101_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Join"), p)
  }

  test("q102: all three quintile windows partition by the segment key") {
    val p = planString("q102_rfm_segments")
    val wins = p.split("\n").filter(_.contains("Window ["))
    assert(wins.length == 3, s"expected 3 Window nodes (r/f/m):\n$p")
    wins.foreach(w => assert(w.contains("c_mktsegment"),
      s"quintile window must partition by segment (no global ntile):\n$w"))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q103: TWAP is one lead-window on the type key, no self-join") {
    val p = planString("q103_twap")
    assert(p.split("\n").count(_.contains("Window [")) == 1, p)
    assert(!p.contains("Join"), s"interval weighting must use lead(), not a self-join:\n$p")
  }

  test("q104: concentration windows all partition by segment; dim join broadcasts") {
    val p = planString("q104_revenue_concentration")
    val wins = p.split("\n").filter(_.contains("Window ["))
    assert(wins.nonEmpty && wins.forall(_.contains("c_mktsegment")),
      s"cumulative windows must be segment-partitioned, never global:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q105: skew census map-side combines; no join, no window") {
    val p = planString("q105_key_skew_profile")
    assert(p.contains("partial_"), s"key census must map-side combine:\n$p")
    assert(!p.contains("Join") && !p.contains("Window ["), p)
  }

  test("q106: multi-distinct profile is ONE scan (Expand), not five") {
    val df = SparkEntry.queries("q106_column_profile")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Expand"), s"multi-count-distinct should plan via Expand:\n$p")
    val scans = p.split("\n").count(l =>
      l.contains("FileScan") || l.contains("Scan parquet"))
    assert(scans == 1, s"profile must read the table once, got $scans scans:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("q107: multi-grain rollup is one scan expanded AFTER map-side partials") {
    val p = planString("q107_time_rollup")
    assert(p.contains("Expand"), s"grouping sets should plan via Expand:\n$p")
    assert(p.contains("partial_"), s"no map-side partials:\n$p")
    assert(!p.contains("Join"), p)
    val scans = p.split("\n").count(l =>
      l.contains("FileScan") || l.contains("Scan parquet"))
    assert(scans == 1, s"rollup must read the table once, got $scans scans:\n$p")
  }

  test("q114: OHLC is a map-side-combined struct-argmin aggregate, no window") {
    val p = planString("q114_ohlc_bars")
    // Partial aggregation must run before the key exchange: the shuffle
    // carries partial bars, not events (the whole 100 TB story).
    assert(p.contains("partial_min(struct(tus"), s"no map-side struct argmin:\n$p")
    assert(p.contains("partial_max(struct(tus"), s"no map-side struct argmax:\n$p")
    assert(!p.contains("Window ["), s"OHLC must not use a window:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(ts)]"), s"ts filter not pushed:\n$p")
  }

  test("q115: PMI bounds the pair join by a broadcast top-k vocabulary") {
    val p = planString("q115_pmi_cooccur")
    // Vocabulary selection is a distributed top-k, not a global sort...
    assert(p.contains("TakeOrderedAndProject(limit=100"), s"vocab not TakeOrdered:\n$p")
    // ...and it reaches the token table as a broadcast, so the pair
    // explosion meets <=100 terms per doc before any shuffle.
    assert(p.contains("BroadcastHashJoin [term"), s"vocab join not broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject(limit=50"), s"final top-k not TakeOrdered:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
  }

  test("q116: Zipf ranks via distributed top-k; the window sees 100 rows") {
    val p = planString("q116_zipf_fit")
    assert(p.contains("TakeOrderedAndProject(limit=100"), s"top terms not TakeOrdered:\n$p")
    // The only window in the plan runs AFTER the limit (100-row rank,
    // not a corpus-wide sort): no rangepartitioning exchange feeds it.
    assert(!p.contains("Exchange rangepartitioning"), s"global sort leaked in:\n$p")
  }

  test("q117: purchase gaps = one customer-keyed window + broadcast dim join") {
    val p = planString("q117_purchase_gaps")
    assert(p.split("Window \\[").length - 1 == 1, s"expected exactly one window:\n$p")
    assert(p.contains("windowspecdefinition(o_custkey"), s"window not customer-keyed:\n$p")
    assert(p.contains("BroadcastHashJoin [o_custkey"), s"dim join not broadcast:\n$p")
  }

  test("q118: both entropy censuses come from ONE scan via grouping sets") {
    val p = planString("q118_entropy_profile")
    val scans = p.split("\n").count(l =>
      l.contains("FileScan") || l.contains("Scan parquet"))
    assert(scans == 1, s"entropy profile must read documents once, got $scans:\n$p")
    assert(p.contains("Expand"), s"expected a grouping-sets Expand:\n$p")
    assert(p.contains("partial_count(1)"), s"census not map-side combined:\n$p")
  }

  test("q119: Gini = one segment window over pre-aggregated spends + broadcast dim") {
    val p = planString("q119_gini_spend")
    assert(p.contains("BroadcastHashJoin [o_custkey"), s"dim join not broadcast:\n$p")
    assert(p.split("Window \\[").length - 1 == 1, s"expected exactly one window:\n$p")
    // The window ranks customers (one row per custkey), not orders: the
    // per-customer aggregate must sit under the join.
    assert(p.contains("partial_sum(cast(o_totalprice"), s"spend not pre-aggregated:\n$p")
  }

  test("q120: Benford census map-side combines; scan reads two columns") {
    val p = planString("q120_benford_digits")
    assert(p.contains("partial_count(1)"), s"digit census not map-side combined:\n$p")
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(read.split(",").length <= 2, s"scan reads too many columns: $read")
  }

  test("q121: chi-square margins are windows over the cells, not extra scans") {
    val p = planString("q121_chi2_independence")
    val scans = p.split("\n").count(l =>
      l.contains("FileScan") || l.contains("Scan parquet"))
    assert(scans == 1, s"contingency census must read documents once, got $scans:\n$p")
    assert(p.split("Window \\[").length - 1 == 3,
      s"expected three margin windows over the cells:\n$p")
  }

  test("q122: autocorrelation windows run over the daily table, not orders") {
    val p = planString("q122_autocorr_daily")
    // The daily census must map-side combine before any window: the lead
    // window's input is the aggregate, so its volume is calendar-bounded.
    assert(p.contains("partial_sum(cast(o_totalprice"), s"daily sum not partial:\n$p")
    val scans = p.split("\n").count(l =>
      l.contains("FileScan") || l.contains("Scan parquet"))
    assert(scans == 1, s"expected one orders scan, got $scans:\n$p")
  }

  test("q123: CUSUM argmax is a TakeOrdered over the daily table") {
    val p = planString("q123_cusum_changepoint")
    assert(p.contains("TakeOrderedAndProject(limit=1"), s"argmax not TakeOrdered:\n$p")
    assert(p.contains("partial_sum(cast(o_totalprice"), s"daily sum not partial:\n$p")
  }

  test("q124: PSI pivots halves by conditional aggregation, no self-join") {
    val p = planString("q124_psi_priority_drift")
    val scans = p.split("\n").count(l =>
      l.contains("FileScan") || l.contains("Scan parquet"))
    assert(scans == 1, s"PSI must read orders once, got $scans:\n$p")
    assert(!p.contains("Join"), s"halves must pivot without a join:\n$p")
    assert(p.contains("partial_count(1)"), s"census not map-side combined:\n$p")
  }

  test("q125: the gap audit windows over the distinct-day census") {
    val p = planString("q125_calendar_gaps")
    // distinct() must reduce to a day-keyed aggregate (map-side combined
    // before its exchange): the lead window's input is the calendar, not
    // order rows.
    assert(p.contains("HashAggregate(keys=[day"), s"no distinct-day census:\n$p")
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(read.split(",").length <= 2, s"scan reads too many columns: $read")
  }

  test("q126: the seasonality window runs over the daily census, one scan") {
    val p = planString("q126_weekday_seasonality")
    assert(p.contains("partial_sum(cast(o_totalprice"), s"daily sum not partial:\n$p")
    val scans = p.split("\n").count(l =>
      l.contains("FileScan") || l.contains("Scan parquet"))
    assert(scans == 1, s"expected one orders scan, got $scans:\n$p")
  }

  test("column pruning survives encryption (encrypted scan reads 1 column)") {
    import graft.crypto.{CryptoParity, EncryptionPolicy, PrivilegeLevel}
    import graft.io.EncryptedParquet
    import graft.kms.TestKmsServer
    val kms = new TestKmsServer().start()
    try {
      val dir = tempDir("graft-prune-")
      val policy = EncryptionPolicy(columnKeys = Map(
        PrivilegeLevel.Confidential -> Seq("n_name")))
      EncryptedParquet.write(Tables.nation(spark, sfDir), dir, policy, kms.url,
        mode = "overwrite")
      val df = EncryptedParquet.read(spark, dir, kms.url, Some("RESTRICTED"))
        .select("n_nationkey")
      val p = df.queryExecution.executedPlan.toString
      val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p)
        .map(_.group(1)).getOrElse("")
      assert(read == "n_nationkey:int", s"encrypted scan not pruned: $read")
      // and the projection actually executes without touching n_name's KEK
      assert(df.count() == 25)
    } finally kms.stop()
  }
}
