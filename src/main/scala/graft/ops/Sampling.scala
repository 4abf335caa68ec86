package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sampling operators — the training-data-pipeline primitives for corpus
  * downsizing and class rebalancing.
  *
  * Two variants, because they answer different production needs:
  *  - hash-based (q34a): membership is a pure function of the row KEY, so
  *    the sample is reproducible across runs, partitionings, clusters and
  *    even joins (sampling orders and lineitem by the same key hash keeps
  *    referential integrity) — the only sampling discipline that survives
  *    a 100 TB pipeline being re-run incrementally.
  *  - Bernoulli stratified (q34b): `sampleBy` with per-stratum fractions,
  *    the class-rebalance primitive. Membership depends on seed +
  *    partition layout, so it is repeatable on a fixed layout but not
  *    content-stable under repartitioning.
  *
  * Neither is ANSI-portable (hash functions / RNG streams differ across
  * engines) → rows-only driver checks; SamplingSpec pins determinism,
  * proportions, and the join-consistency property.
  */
object Sampling {

  /** The 10% key-hash membership predicate: a pure function of the key,
    * so identical on any table keyed by the same domain.
    */
  def hashSampled(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(xxhash64(c), lit(100)) < 10

  /** Where [[dumpQ34aOracleFixture]] puts the Verify run's sampled keys. */
  private def q34aFixture(outDir: String): String = s"${outDir}_fixtures/q34a_keys"

  /** q34a's oracle entry for the Verify run writing to `outDir`, once
    * [[dumpQ34aOracleFixture]] has dumped its fixture there: DuckDB has
    * no xxhash64, so the membership set itself is shipped as a parquet
    * fixture and the SQL verifies everything DOWNSTREAM of membership —
    * the per-status aggregate AND the join-consistency property (joining
    * unsampled lineitem against the key fixture must equal Spark's
    * both-sides-sampled join, which holds iff same-hash sampling keeps
    * referential integrity). Membership determinism itself is
    * SamplingSpec's job.
    */
  def q34aOracleSql(outDir: String): Map[String, String] =
    Map("q34a_sample_hash" ->
      s"""SELECT o.o_orderstatus,
         |  count(DISTINCT o.o_orderkey) AS n_orders,
         |  count(DISTINCT o.o_custkey) AS n_customers,
         |  count(*) AS n_lineitems,
         |  round(CAST(sum(CAST(l.l_quantity AS DECIMAL(38,6))) AS DOUBLE), 4) AS sum_qty
         |FROM read_parquet('${q34aFixture(outDir)}/*.parquet') k
         |JOIN orders o ON o.o_orderkey = k.o_orderkey
         |JOIN lineitem l ON l.l_orderkey = k.o_orderkey
         |GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Materialize q34a's sampled-key set for the DuckDB oracle — called by
    * the VERIFY harness (not by the query function: the Q contract is a
    * pure plan builder everywhere else, and an in-query write ran a real
    * Spark job on every plan-only inspection and inside every timed bench
    * iteration — r7 advisor finding). The fixture lands in a SIBLING of
    * the Verify outDir (`<outDir>_fixtures`), so it travels with the run
    * — an sbt clean or a differently-rooted driver between the dump and
    * the DuckDB pass can no longer orphan the oracle's read path — while
    * staying invisible to harnesses that enumerate outDir subdirectories
    * as query results. Returns the [[q34aOracleSql]] entry it serves.
    */
  def dumpQ34aOracleFixture(s: SparkSession, d: String, outDir: String): Map[String, String] = {
    Tables.orders(s, d).filter(hashSampled(col("o_orderkey")))
      .select("o_orderkey").coalesce(1)
      .write.mode("overwrite").parquet(q34aFixture(outDir))
    q34aOracleSql(outDir)
  }

  /** Deterministic 10% key-hash sample, now exercised across BOTH fact
    * tables: sampled orders inner-joined to same-hash-sampled lineitem,
    * aggregated per status. Membership = pmod(xxhash64(key), 100) < 10 —
    * a pure function of the key, so the sample is reproducible across
    * runs, layouts and clusters, and the two sides select matching keys
    * (the join loses nothing vs joining the key set against raw
    * lineitem — exactly what the oracle checks). The key set (~10% of
    * orders' keys, tiny) is also written out as the oracle's fixture.
    */
  val q34a: Q = Q(
    "q34a_sample_hash",
    (s, d) => {
      val so = Tables.orders(s, d).filter(hashSampled(col("o_orderkey")))
      val sl = Tables.lineitem(s, d).filter(hashSampled(col("l_orderkey")))
        .select(col("l_orderkey"), col("l_quantity"))
      so.join(sl, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderstatus")
        .agg(countDistinct(col("o_orderkey")).as("n_orders"),
          countDistinct(col("o_custkey")).as("n_customers"),
          count(lit(1)).as("n_lineitems"),
          round(sum(col("l_quantity").cast("decimal(38,6)")).cast("double"), 4)
            .as("sum_qty"))
        .orderBy("o_orderstatus")
    },
    None)

  /** Seeded stratified sample: rebalance order priorities to fixed
    * per-stratum keep-fractions, reported as per-stratum sampled counts.
    */
  val q34b: Q = Q(
    "q34b_sample_stratified",
    (s, d) => {
      val fractions = Map(
        "1-URGENT" -> 0.5, "2-HIGH" -> 0.4, "3-MEDIUM" -> 0.3,
        "4-NOT SPECIFIED" -> 0.2, "5-LOW" -> 0.1)
      Tables.orders(s, d)
        .stat.sampleBy("o_orderpriority", fractions, seed = 42L)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_sampled"))
        .orderBy("o_orderpriority")
    },
    None)

  /** Q67 — data-mixture re-weighting (the Pile/DoReMi mixture step): hit
    * a UNIFORM target mixture over `documents.source` under a global
    * budget of half the corpus, by downsampling each source with a
    * per-source acceptance rate derived from its share.
    *
    * Everything is integer arithmetic so the oracle is exact:
    *  - per-source threshold `thr_s = min(100000, (100000 * (N DIV 2))
    *    DIV (K * n_s))` — a source holding more than its uniform share
    *    of the budget is cut down to it, a smaller source is taken whole
    *    (acceptance caps at 1: mixture sampling can't up-sample without
    *    replacement);
    *  - membership: `(doc_id * 48271) % 100000 < thr_s` — a pure integer
    *    function of the key (MINSTD multiplier as the spreader), so the
    *    sample is reproducible across runs, layouts and engines, and
    *    ANSI-portable (unlike xxhash64, both engines compute it
    *    bit-identically). 48271 · doc_id stays far inside int64 for any
    *    realistic id space (< 1.9e14 ids).
    *
    * Scale shape: one tiny aggregate (K source rows) broadcast back onto
    * the corpus scan; membership itself is a scan-stage predicate — no
    * corpus shuffle, composable with every other curation filter in one
    * pass (q41's shape).
    */
  val q67: Q = Q(
    "q67_mixture_sample",
    (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val counts = docs.groupBy("source").agg(count(lit(1)).as("n_s"))
      val totals = counts.agg(sum(col("n_s")).as("n"), count(lit(1)).as("k"))
      val rates = counts.crossJoin(totals)
        .withColumn("thr",
          least(lit(100000L), expr("(100000 * (n DIV 2)) DIV (k * n_s)")))
        .select(col("source"), col("thr"))
      docs.join(broadcast(rates), Seq("source"))
        .filter(pmod(col("doc_id") * lit(48271L), lit(100000L)) < col("thr"))
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    },
    Some("""WITH c AS (SELECT source, count(*) AS n_s FROM documents GROUP BY source),
            |t AS (SELECT CAST(sum(n_s) AS BIGINT) AS n, count(*) AS k FROM c),
            |r AS (
            |  SELECT c.source,
            |         least(100000, (100000 * (t.n // 2)) // (t.k * c.n_s)) AS thr
            |  FROM c, t)
            |SELECT d.doc_id, d.source
            |FROM documents d JOIN r ON d.source = r.source
            |WHERE (d.doc_id * 48271) % 100000 < r.thr
            |ORDER BY d.doc_id""".stripMargin))

  /** Q68 — quality-prioritized mixture fill (CCNet/DataComp-style
    * quality-bucketed reweighting composed onto q67's mixture): each
    * source's uniform budget is filled from its HIGH-quality band first,
    * and only the unfilled remainder spills to the LOW band.
    *
    * The quality band reuses q30's stopword-ratio signal but as PURE
    * INTEGER arithmetic (`stop_cnt * 100 >= n_tok * 15` ⟺ ratio ≥ 0.15)
    * so band assignment is bit-identical cross-engine — no float
    * comparison anywhere. Budget math is q67's integer-threshold scheme
    * applied per (source, band): `thr_hi` targets the full share against
    * the hi-band population; the spill `share - min(n_hi, share)` is
    * then spread over the lo band. Membership stays the ANSI-portable
    * `(doc_id * 48271) % 100000 < thr` spreader → fully DuckDB-oracled.
    *
    * Scale shape: band assignment is a scan-stage expression (the
    * tokenizer kernel), the (source, band) aggregate is 2K rows
    * broadcast back, and membership is a scan-stage predicate — the
    * whole op adds zero corpus shuffles to a curation pass.
    */
  /** q68's banded projection (doc_id, source, band) — the single source
    * of truth the spec also measures against (extracted so the band
    * formula cannot drift between query and test). The hi/lo band is an
    * INTEGER cross-multiplication (`stop_cnt*100 >= n_tok*15` ⟺
    * stopword ratio ≥ 0.15): bit-identical cross-engine, no float
    * comparison.
    */
  def qualityBanded(s: SparkSession, d: String): DataFrame = {
    val t = Dedup.tokens(col("text"))
    Tables.spread(Tables.documents(s, d), col("doc_id"))
      .select(col("doc_id"), col("source"),
        when(graft.functions.GraftFunctions.countInSet(t, typedLit(TextOps.enStopwords))
               * lit(100L) >= size(t).cast("long") * lit(15L), lit("hi"))
          .otherwise(lit("lo")).as("band"))
  }

  val q68: Q = Q(
    "q68_quality_mixture",
    (s, d) => {
      // Persisted (q64's pattern): the banded projection is referenced by
      // the budget aggregate AND the membership join, and without a
      // materialization barrier Catalyst re-instantiates the tokenizer
      // into every reference — measured 15.4 s of task time for a 1.6 s
      // query at sf0.1, 3x the single-pass cost. The persisted table is
      // NARROW (id, source, 2-char band — bytes per doc, not the text),
      // so the cache stays trivial at any corpus scale. Lifecycle: like
      // q64/q23e/q23f there is no post-action hook in the Q contract, so
      // the entry lives until the harness's between-query
      // `catalog.clearCache()` (Bench and Verify both do this) — one
      // bounded entry per run, not a monotonic leak.
      val banded = qualityBanded(s, d)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val perSource = banded.groupBy("source").agg(
        sum(when(col("band") === "hi", lit(1L)).otherwise(lit(0L))).as("n_hi"),
        sum(when(col("band") === "lo", lit(1L)).otherwise(lit(0L))).as("n_lo"))
      val totals = perSource.agg(
        sum(col("n_hi") + col("n_lo")).as("n"), count(lit(1)).as("k"))
      val thr = perSource.crossJoin(totals)
        .withColumn("b_s", expr("(n DIV 2) DIV k"))
        .withColumn("thr_hi", when(col("n_hi") === 0, lit(0L))
          .otherwise(least(lit(100000L), expr("(100000 * b_s) DIV n_hi"))))
        .withColumn("spill", expr("b_s - least(n_hi, b_s)"))
        .withColumn("thr_lo", when(col("n_lo") === 0, lit(0L))
          .otherwise(least(lit(100000L), expr("(100000 * spill) DIV n_lo"))))
        .select(col("source"), col("thr_hi"), col("thr_lo"))
      banded.join(broadcast(thr), Seq("source"))
        .filter(pmod(col("doc_id") * lit(48271L), lit(100000L)) <
          when(col("band") === "hi", col("thr_hi")).otherwise(col("thr_lo")))
        .select(col("doc_id"), col("source"), col("band"))
        .orderBy("doc_id")
    },
    Some("""WITH t AS (
            |  SELECT doc_id, source,
            |    CASE WHEN CAST(len(list_filter(
            |           string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '),
            |           x -> list_contains(['the','a','of','to','and','in','is','for','on','with'], x))) AS BIGINT) * 100
            |         >= CAST(len(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')) AS BIGINT) * 15
            |         THEN 'hi' ELSE 'lo' END AS band
            |  FROM documents),
            |c AS (
            |  SELECT source,
            |    CAST(sum(CASE WHEN band = 'hi' THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
            |    CAST(sum(CASE WHEN band = 'lo' THEN 1 ELSE 0 END) AS BIGINT) AS n_lo
            |  FROM t GROUP BY source),
            |tot AS (SELECT CAST(sum(n_hi + n_lo) AS BIGINT) AS n, count(*) AS k FROM c),
            |r AS (
            |  SELECT c.source,
            |    CASE WHEN c.n_hi = 0 THEN 0
            |         ELSE least(100000, (100000 * ((tot.n // 2) // tot.k)) // c.n_hi) END AS thr_hi,
            |    CASE WHEN c.n_lo = 0 THEN 0
            |         ELSE least(100000, (100000 * (((tot.n // 2) // tot.k)
            |                                       - least(c.n_hi, (tot.n // 2) // tot.k))) // c.n_lo) END AS thr_lo
            |  FROM c, tot)
            |SELECT t.doc_id, t.source, t.band
            |FROM t JOIN r ON t.source = r.source
            |WHERE (t.doc_id * 48271) % 100000 <
            |      CASE WHEN t.band = 'hi' THEN r.thr_hi ELSE r.thr_lo END
            |ORDER BY t.doc_id""".stripMargin))

  /** Q83 — deterministic k-per-group exemplars: exactly 3 documents per
    * source, chosen by ranking each group on a seeded key hash
    * (md5("pick:"‖doc_id)) — a uniform-without-replacement draw that is
    * a pure function of the key, so the exemplar set is stable across
    * runs, layouts and cluster sizes (the fixed-k counterpart to q34a's
    * fixed-FRACTION hash sample; the per-group quota q34b's Bernoulli
    * draw cannot guarantee). The production uses: human-eval panels,
    * few-shot prompt pools, per-source debugging samples.
    *
    * Scale: rank-≤k over a per-key hash order plans as a
    * WindowGroupLimit (PlanSpec) — each task keeps a k-row heap per
    * group ahead of the sort, so the shuffle moves O(groups·k) rows
    * per partition, not the corpus; same mechanism as q75's rank-1.
    */
  val q83: Q = Q(
    "q83_group_exemplars",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("source")
        .orderBy(md5(concat(lit("pick:"), col("doc_id").cast("string"))),
          col("doc_id"))
      Tables.spread(Tables.documents(s, d), col("doc_id"))
        .select(col("source"), col("doc_id"), col("n_chars"),
          row_number().over(w).cast("long").as("rnk"))
        .filter(col("rnk") <= 3)
        .select(col("source"), col("rnk"), col("doc_id"), col("n_chars"))
        .orderBy("source", "rnk")
    },
    Some("""SELECT source, rnk, doc_id, n_chars
            |FROM (
            |  SELECT source, doc_id, n_chars,
            |    row_number() OVER (PARTITION BY source
            |      ORDER BY md5('pick:' || CAST(doc_id AS VARCHAR)), doc_id) AS rnk
            |  FROM documents)
            |WHERE rnk <= 3 ORDER BY source, rnk""".stripMargin))

  /** Q101 — deterministic weighted sample (priority sampling, Duffield/
    * Lund/Thorup): k=50 documents drawn with inclusion probability
    * rising with weight (n_chars), via priority = pseudo-uniform / w
    * taken k-smallest. The pseudo-uniform is q67's ANSI-portable MINSTD
    * spreader ((doc_id·48271) mod 1e5, +1 to stay positive), scaled to
    * integer fixed-point before the divide — ALL integer arithmetic, so
    * the drawn set is bit-identical across engines, runs, layouts and
    * cluster sizes (the weighted counterpart to q34a's uniform hash
    * sample and q83's fixed-k exemplars; a seeded-RNG reservoir can't
    * survive a re-run incrementally). Top-k by (priority, doc_id) plans
    * as TakeOrderedAndProject — per-partition 50-row heaps, no global
    * sort.
    */
  val q101: Q = Q(
    "q101_weighted_sample",
    (s, d) => {
      Tables.spread(Tables.documents(s, d), col("doc_id"))
        .select(col("doc_id"), col("source"), col("n_chars"),
          expr("((pmod(doc_id * 48271, 100000) + 1) * 1000000) DIV n_chars")
            .as("priority"))
        .orderBy(col("priority"), col("doc_id"))
        .limit(50)
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, source, n_chars, priority FROM (
            |  SELECT doc_id, source, n_chars,
            |    (((doc_id * 48271) % 100000 + 1) * 1000000) // n_chars AS priority
            |  FROM documents
            |  ORDER BY priority, doc_id LIMIT 50)
            |ORDER BY doc_id""".stripMargin))

  val queries: Seq[Q] = Seq(q34a, q34b, q67, q68, q83, q101)
}
