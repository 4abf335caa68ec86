package graft.ops

import graft.{Q, Tables}
import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Sessions

/** Deduplication operators over the documents table — the training-data-
  * pipeline surface: exact dedup, exact n-gram Jaccard, MinHash+LSH
  * near-dup, and SimHash fingerprints.
  *
  * Scale posture: exact dedup and MinHash/SimHash are one-or-two-shuffle
  * pipelines (explode → groupBy → band-join) whose intermediate volume is
  * O(docs × shingles); the exact-Jaccard join is bounded by a
  * document-frequency cap on hot shingles. Every per-row fingerprint
  * (shingling, MinHash, SimHash, intersection counting) is a codegen'd
  * custom expression (graft.functions.HashKernels) — round 1 measured the
  * equivalent higher-order-function formulations degrading 10-40×
  * run-dependently on Catalyst's interpreted eval path, and all candidate
  * joins carry explicit SHUFFLE_HASH hints so AQE cannot flip them onto a
  * broadcast/nested-loop strategy when size estimates are off.
  */
object Dedup {

  /** Canonical text form shared by all dedup ops: lowercase, trimmed,
    * whitespace-collapsed.
    */
  def normText(c: Column): Column =
    regexp_replace(trim(lower(c)), "\\s+", " ")

  def tokens(c: Column): Column = split(normText(c), " ")

  /** Token 3-gram shingles, distinct — reference HOF formulation, kept as
    * the spec ground truth for the codegen'd `ngram_shingles` kernel.
    * Documents shorter than 3 tokens produce an empty set.
    */
  def shinglesFromTokens(tk: Column): Column =
    array_distinct(
      when(size(tk) < 3, array().cast("array<string>"))
        .otherwise(transform(
          sequence(lit(0), size(tk) - 3),
          i => array_join(slice(tk, i + 1, lit(3)), " "))))

  /** One-expression convenience (HOF path) for small/test inputs. */
  def shingles(c: Column): Column = shinglesFromTokens(tokens(c))

  /** Docs with their shingle sets AS 64-BIT HASHES: one codegen'd kernel
    * per row, spread across partitions (the single-row-group parquet file
    * otherwise scans as ONE partition). The pipeline keys everything on
    * xxhash64(shingle) longs, not shingle strings — the standard at-scale
    * design (Broder): an 8-byte fixed-width key makes the df-cap groupBy,
    * the persist, the candidate equi-joins and the verification
    * intersections allocation-free and ~3x smaller on the wire (the
    * string formulation measured 16-20 s of task GC per dedup query at
    * sf0.1). Set membership, set sizes and intersection counts are
    * hash-collision-exact with probability 1 - D²/2^65 over D distinct
    * shingles — negligible below ~10^8 distinct shingles — so Jaccard
    * numbers (and the DuckDB string-side oracle) are unaffected.
    *
    * Not persisted: the subtree appears in several places inside
    * `cappedShingleDocs`' defining plan, but that plan is itself
    * materialized exactly once behind the capped table's persist —
    * re-running the shingling kernel per subtree is cheaper than a second
    * cache barrier (at 100 TB the same tradeoff holds: checkpoint the
    * CAPPED table, the one every downstream op reads).
    */
  def shingleDocs(s: SparkSession, d: String): DataFrame = {
    Tables.spread(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        col("doc_id"))
      .select(col("doc_id"),
        GraftFunctions.ngramShingleHashes(tokens(col("text")), 3).as("sh"))
      .filter(size(col("sh")) > 0)
  }

  /** MinHash signature, HOF formulation — spec ground truth for the
    * codegen'd `minhash_signature` kernel: element h is the min of
    * xxhash64(shingle, h) over the doc's shingle set.
    */
  def minhashSignature(shingleCol: Column, numHashes: Int): Column =
    transform(
      sequence(lit(0), lit(numHashes - 1)),
      h => array_min(transform(shingleCol, s => xxhash64(s, h))))

  /** 64-bit SimHash over materialized token hashes, HOF formulation —
    * spec ground truth for the codegen'd `simhash64` kernel.
    */
  def simhashFromHashes(hashCol: Column): Column = {
    val n = size(hashCol)
    (0 until 64).map { b =>
      val ones = size(filter(hashCol,
        h => shiftrightunsigned(h, b).bitwiseAND(lit(1L)) === lit(1L)))
      when(ones * 2 > n, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
  }

  /** HOF-path simhash from a token column (spec use). */
  def simhash64Hof(tokenCol: Column): Column =
    simhashFromHashes(transform(tokenCol, t => xxhash64(t)))

  /** Q21 — exact dedup by normalized text: deterministic keeper = min
    * doc_id per text group. Single hash-shuffle on the normalized text.
    */
  val q21: Q = Q(
    "q21_dedup_exact",
    (s, d) => {
      Tables.documents(s, d)
        .groupBy(normText(col("text")).as("norm"))
        .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
        .select("keeper_id", "n_copies")
        .orderBy("keeper_id")
    },
    Some("""SELECT min(doc_id) AS keeper_id, count(*) AS n_copies
            |FROM documents
            |GROUP BY regexp_replace(trim(lower(text)), '\s+', ' ', 'g')
            |ORDER BY keeper_id""".stripMargin))

  /** Hot-shingle document-frequency cap: shingles occurring in more than
    * max(1000, floor(0.5% of shingled docs)) documents ("the the the"-style
    * stopword n-grams) are dropped before candidate generation. Without
    * the cap one hot shingle contributes O(df²) join rows — the scale
    * killer at 100 TB. At bench scale the cap never binds (max df: 7 at
    * sf0.01, 25 at sf0.1), so capped and exact Jaccard coincide.
    */
  val DfCapMin = 1000L
  val DfCapFraction = 0.005

  /** Per-doc df-CAPPED shingle sets — THE canonical shingle table: q22a's
    * exact join, q22b's MinHash signatures AND its candidate verification
    * all read it, so every dedup op implements the same capped-Jaccard
    * semantic even when the cap binds (an advisor-flagged round-2 bug:
    * q22b used to verify against UNCAPPED sets, silently diverging from
    * q22a exactly in the hot-shingle scenario the cap exists for).
    *
    * Hot shingles are few by construction (each appears in > max(1000,
    * 0.5% of docs) docs, so their count is bounded by corpus/cap), so the
    * hot set broadcasts as a single collected array; `array_except` (a
    * codegen'd set op) strips them from each doc. Docs left with no
    * shingles leave the pipeline entirely, as in the exact formulation.
    * floor() on the cap matches the oracle's CAST(floor(...) AS BIGINT) —
    * double-truncation direction must agree on both sides or boundary
    * shingles flip at scale.
    *
    * The persist is the pipeline's one materialization and doubles as the
    * optimizer wall: InferFiltersFromGenerate synthesizes `size(sh) > 0`
    * under every downstream explode(sh) and would otherwise re-substitute
    * the whole shingle/cap pipeline through the exchanges into both sides
    * of the candidate self-joins (round 2 measured 95 s vs 17 s on q22a
    * without such a barrier).
    */
  def cappedShingleDocs(s: SparkSession, d: String): DataFrame = {
    val docs = shingleDocs(s, d)
    val nDocs = docs.select(count(lit(1)).as("nd"))
    val hot = docs.select(explode(col("sh")).as("s"))
      .groupBy("s").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") > greatest(lit(DfCapMin), floor(col("nd") * DfCapFraction)))
      .agg(collect_list(col("s")).as("hot"))
    docs.crossJoin(broadcast(hot))
      .select(col("doc_id"), array_except(col("sh"), col("hot")).as("sh"))
      .filter(size(col("sh")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Size-adaptive build side for the verification (and df-ordering)
    * joins: when the materialized capped table is small, BROADCAST it so
    * the candidate pairs never cross an exchange with full shingle
    * arrays attached; when it is big, keep the pinned SHUFFLE_HASH.
    *
    * Why this exists (round-8 lead item): the r7 prefix-filter design
    * verified candidates by shuffle-hash-joining the (da, db) pairs
    * against the capped table TWICE — and the second join shuffles the
    * intermediate WITH the first side's array attached, ~100× the bytes
    * of the capped table itself (sf0.1: ~310k pairs × two ~50-element
    * long arrays vs a 2 MB corpus table). On a warm exclusive host that
    * volume rides the page cache and measures 3.8 s; on the contended
    * driver box it spilled and measured 24.5 s (BENCH_r07). Broadcasting
    * the 2 MB table removes those array-bearing shuffles entirely.
    *
    * The decision is EXPLICIT and measured, not an AQE guess (round 1
    * caught AQE flipping a candidate join onto broadcasting the exploded
    * side): the threshold is read off the persisted table's exact cached
    * size after materialization. At 100 TB the capped table is TBs —
    * far over any broadcast budget — so the pinned shuffle-hash path
    * engages, exactly the plan the r7 design argued for at scale.
    */
  private[graft] val VerifyBroadcastMaxBytes: Long = 64L << 20

  /** Materialize `docs`' persist (one count over work every caller runs
    * anyway) and return the exact cached size in bytes. Mirrors the
    * codebook collects in q23e/q23f: a bounded, corpus-size-independent
    * driver action that picks a physical strategy — not a data-
    * proportional collect.
    */
  private[graft] def materializedBytes(docs: DataFrame): Long = {
    docs.count(): Unit
    try docs.queryExecution.optimizedPlan.stats.sizeInBytes.longValue
    catch { case scala.util.control.NonFatal(_) => Long.MaxValue }
  }

  /** Q22a — exact n-gram Jaccard near-dup pairs (threshold 0.5): the
    * count-based exact set-similarity join. Explode the cached capped
    * shingle table, equi-join on shingle with a size-ratio pruning
    * predicate (Jaccard ≥ 0.5 ⇒ max(|A|,|B|) ≤ 2·min — drops
    * mismatched-size pairs before the aggregate), count intersections per
    * pair, Jaccard from exact integer counts. Set sizes come straight off
    * the capped arrays (`size(sh)`) — no per-doc counting aggregate.
    *
    * Everything in the hot path is codegen'd (hash joins + hash
    * aggregates over longs/strings). Intersections are COUNTED, never
    * materialized. The self-join is pinned SHUFFLE_HASH: round 1's driver
    * bench caught AQE flipping this plan onto a broadcast of the exploded
    * side (230 s vs 24 s for the same query). Both join inputs explode
    * out of the same InMemoryRelation, so Catalyst cannot duplicate the
    * shingle/cap pipeline into the two sides (round 2 measured 95 s vs
    * 17 s without such a barrier).
    */
  /** The exact set-similarity join behind q22a (and the edge list behind
    * q38's cluster resolution): near-dup pairs (da < db) with
    * capped-Jaccard ≥ `t`, unordered and unrounded.
    *
    * PREFIX-FILTERED (AllPairs/PPJoin family — Bayardo et al., WWW'07;
    * Xiao et al., WWW'08): order every doc's shingles by global rarity
    * (ascending document frequency, hash tiebreak) and explode only the
    * first |A| − ⌈t·|A|⌉ + 1 of them into the candidate join. Theorem:
    * J(A,B) ≥ t implies |A∩B| ≥ ⌈t·max(|A|,|B|)⌉, and two sets whose
    * overlap is that large MUST share an element inside both rarity
    * prefixes — so pruning the suffixes drops no qualifying pair, while
    * removing the most common (highest-fanout) shingles from candidate
    * generation entirely. Candidates are then verified exactly with the
    * codegen'd intersect kernel over the full capped sets. Measured at
    * sf0.1: candidate join rows 965k → 329k, distinct pairs to verify
    * 850k → 310k; wall comparable at this benign scale (verification
    * joins replace the pair-count aggregate) — the payoff is the
    * quadratic term: candidate fanout per shingle is df², and the prefix
    * excludes exactly the high-df shingles, so the gap WIDENS with
    * corpus size and skew. One extra linear aggregate + join buys that —
    * the trade every at-scale exact-similarity system makes.
    */
  def jaccardPairs(s: SparkSession, d: String, t: Double = 0.5): DataFrame = {
    val docs = cappedShingleDocs(s, d)
    val small = materializedBytes(docs) <= VerifyBroadcastMaxBytes
    jaccardVerify(jaccardCandidates(docs, t, small), docs, t, small)
  }

  /** Candidate (da, db) pairs out of the prefix filter, BEFORE exact
    * verification — the quantity whose growth rate decides 100 TB
    * viability (exposed for the bench's scale diagnostics).
    */
  private[graft] def jaccardCandidates(docs: DataFrame, t: Double,
      smallSets: Boolean = false): DataFrame = {
    val ex = docs.select(col("doc_id"), explode(col("sh")).as("s"))
    val dfTab = ex.groupBy("s").agg(count(lit(1)).as("df"))
    // The df table is bounded by the distinct-shingle count — within a
    // small constant of the capped table's own size — so the same
    // size-adaptive decision applies: broadcast it when the corpus is
    // small, shuffle-hash when it isn't.
    val dfSide = if (smallSets) broadcast(dfTab) else dfTab.hint("shuffle_hash")
    // Shingles of each doc in ascending-df order; rarest lead the array.
    val ordered = ex.join(dfSide, Seq("s"))
      .groupBy("doc_id")
      .agg(transform(
        array_sort(collect_list(struct(col("df"), col("s")))),
        x => x.getField("s")).as("osh"))
    val n = size(col("osh")).cast("long")
    // ε-guard on ⌈t·n⌉: when t·n is a mathematical integer whose double
    // product rounds UP (e.g. 0.07×100 → 7.000000000000001), a bare ceil
    // shortens the prefix below what the theorem requires and can drop a
    // qualifying pair. Nudging down before ceil errs (at worst) toward a
    // one-longer prefix — always safe, never lossy.
    val prefix = ordered.select(col("doc_id"), n.as("n"),
      explode(slice(col("osh"), lit(1),
        (n - ceil(lit(t) * n - lit(1e-9)) + lit(1)).cast("int"))).as("s"))
    val a = prefix.as("a")
    val b = prefix.as("b")
    // Size-ratio prune: J ≥ t ⇒ max(|A|,|B|) ≤ min(|A|,|B|)/t. Same
    // ε-guard: t·max must not round above an integer min.
    a.join(b.hint("shuffle_hash"),
        col("a.s") === col("b.s") &&
        col("a.doc_id") < col("b.doc_id") &&
        greatest(col("a.n"), col("b.n")) * lit(t) - lit(1e-9) <= least(col("a.n"), col("b.n")))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
  }

  /** Exact verification of candidate pairs against the full capped sets.
    * With `smallSets` the capped table broadcasts into both joins, so the
    * array-bearing intermediate never crosses an exchange (see
    * VerifyBroadcastMaxBytes); otherwise both joins stay pinned
    * shuffle-hash.
    */
  private def jaccardVerify(cands: DataFrame, docs: DataFrame, t: Double,
      smallSets: Boolean = false): DataFrame = {
    def side(df: DataFrame): DataFrame =
      if (smallSets) broadcast(df) else df.hint("shuffle_hash")
    cands
      .join(side(docs.select(col("doc_id"), col("sh").as("sa"))),
        col("da") === col("doc_id")).drop("doc_id")
      .join(side(docs.select(col("doc_id"), col("sh").as("sb"))),
        col("db") === col("doc_id")).drop("doc_id")
      .withColumn("i", GraftFunctions.intersectCount(col("sa"), col("sb")))
      .withColumn("jaccard", col("i") / (size(col("sa")) + size(col("sb")) - col("i")))
      .filter(col("jaccard") >= t)
      .select(col("da"), col("db"), col("jaccard"))
  }

  /** Reference formulation (count-based, no prefix filter) — the spec
    * ground truth `jaccardPairs` is asserted equal to.
    */
  private[graft] def jaccardPairsByCount(s: SparkSession, d: String,
      t: Double = 0.5): DataFrame = {
    val ex = cappedShingleDocs(s, d)
      .select(col("doc_id"), size(col("sh")).cast("long").as("n"),
        explode(col("sh")).as("s"))
    val a = ex.as("a")
    val b = ex.as("b")
    val inter = a.join(b.hint("shuffle_hash"),
        col("a.s") === col("b.s") &&
        col("a.doc_id") < col("b.doc_id") &&
        // threshold-parameterized size-ratio prune (ε-guard as in
        // jaccardPairs) — a hardcoded factor 2 would silently assume
        // t = 0.5 and drop qualifying pairs for smaller thresholds
        greatest(col("a.n"), col("b.n")) * lit(t) - lit(1e-9) <= least(col("a.n"), col("b.n")))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("i"))
    inter
      .withColumn("jaccard", col("i") / (col("na") + col("nb") - col("i")))
      .filter(col("jaccard") >= t)
      .select(col("da"), col("db"), col("jaccard"))
  }

  val q22a: Q = Q(
    "q22a_jaccard_pairs",
    (s, d) => jaccardPairs(s, d)
      .select(col("da"), col("db"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy("da", "db"),
    Some("""WITH toks AS (
            |  SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS t
            |  FROM documents),
            |sh AS (
            |  SELECT DISTINCT doc_id, t[i.i] || ' ' || t[i.i+1] || ' ' || t[i.i+2] AS s
            |  FROM toks, LATERAL (SELECT unnest(range(1, len(t)-1)) AS i) i
            |  WHERE len(t) >= 3),
            |nd AS (SELECT count(DISTINCT doc_id) AS nd FROM sh),
            |keep AS (
            |  SELECT s FROM sh GROUP BY s
            |  HAVING count(*) <= greatest(1000, CAST(floor(0.005 * (SELECT nd FROM nd)) AS BIGINT))),
            |shc AS (SELECT sh.doc_id, sh.s FROM sh JOIN keep USING (s)),
            |cnt AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY 1),
            |inter AS (
            |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
            |  FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
            |  GROUP BY 1, 2)
            |SELECT da, db, round(i * 1.0 / (ca.n + cb.n - i), 4) AS jaccard
            |FROM inter JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id
            |WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.5
            |ORDER BY da, db""".stripMargin))

  /** Q22b — MinHash + LSH near-dup pairs: the 100 TB path. 32 hashes in
    * 8 bands × 4 rows; candidate pairs from band-bucket equality joins;
    * candidates verified with exact Jaccard via the codegen'd
    * intersect-count kernel (cheap — only on candidates). Same 0.5
    * threshold as q22a, and both signatures and verification read the
    * SAME df-capped shingle table q22a joins on, so the "subset of q22a /
    * full recall over q22a" contracts hold even when the cap binds.
    * ScalaTest asserts candidate recall over q22a's ground truth.
    * DuckDB-oracled (r10): `DuckXxh.q22bOracleSql` rebuilds signatures
    * and banding in SQL, with band equality expressed on the signature
    * 4-tuples instead of the chained band hash (equality-preserving up
    * to xxh64 collisions).
    */
  /** Candidate (da, db) pairs from the band-bucket equality joins, BEFORE
    * exact verification (exposed for the bench's scale diagnostics).
    * Signature AND band hashes fused into one kernel call per row
    * (minhash_bands) — a single producing expression, so projection
    * collapse cannot re-run the signature once per band, and the banded
    * table needs no repartition barrier: the band equi-join's own
    * exchange provides the parallelism.
    */
  private[graft] def minhashCandidates(docs: DataFrame,
      numHashes: Int, bands: Int): DataFrame = {
    val banded = docs.select(col("doc_id"),
      posexplode(GraftFunctions.minhashBands(col("sh"), numHashes, bands))
        .as(Seq("band_idx", "band_hash")))
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b.hint("shuffle_hash"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
  }

  val q22b: Q = Q(
    "q22b_minhash_pairs",
    (s, d) => {
      val docs = cappedShingleDocs(s, d)
      // Same size-adaptive verification side as q22a (see
      // VerifyBroadcastMaxBytes).
      val small = materializedBytes(docs) <= VerifyBroadcastMaxBytes
      jaccardVerify(minhashCandidates(docs, numHashes = 32, bands = 8), docs, 0.5, small)
        .select(col("da"), col("db"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("da", "db")
    },
    Some(DuckXxh.q22bOracleSql))

  /** Q22c — SimHash fingerprints + near-dup pairs at Hamming distance ≤ 3,
    * banded on 4×16-bit chunks so at least one band matches any pair
    * within distance 3 (pigeonhole). The fingerprint is one codegen'd
    * kernel pass per row. DuckDB-oracled (r9 verdict item 4): the oracle
    * recomputes Spark's xxhash64 bit-for-bit in SQL (`DuckXxh`), folds
    * the same majority rule into fingerprints, and — because banding is
    * EXACT at radius 3 — emits all pairs at Hamming ≤ 3 directly.
    * ScalaTest additionally covers fingerprint determinism and known-dup
    * recall.
    */
  val q22c: Q = Q(
    "q22c_simhash_pairs",
    (s, d) => {
      val docs = Tables.spread(
          Tables.documents(s, d).select(col("doc_id"), col("text")),
          col("doc_id"))
        .select(col("doc_id"),
          GraftFunctions.simhash64(tokens(col("text"))).as("fp"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // shiftrightunsigned needs a literal shift; build 4 bands explicitly.
      val bandCols = (0 until 4).map(b =>
        struct(lit(b).as("band_idx"),
          shiftrightunsigned(col("fp"), b * 16).bitwiseAND(lit(0xFFFFL)).as("band_val")))
      val withBands = docs.select(col("doc_id"), col("fp"),
        explode(array(bandCols: _*)).as("band"))
        .select(col("doc_id"), col("fp"), col("band.band_idx"), col("band.band_val"))
      val a = withBands.as("a")
      val b = withBands.as("b")
      a.join(b.hint("shuffle_hash"),
          col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
          bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).as("hamming"))
        .distinct()
        .filter(col("hamming") <= 3)
        .orderBy("da", "db")
    },
    Some(DuckXxh.q22cOracleSql))

  /** Q38 — dup-cluster resolution: connected components over the
    * near-dup pair graph (q22a's edges), labeling every document with the
    * min doc_id of its transitive cluster — the pipeline stage that turns
    * pairwise similarity into "keep one doc per cluster" (A~B and B~C
    * must collapse to ONE survivor even when A~C was never emitted).
    *
    * Algorithm: iterative min-label propagation — each round every vertex
    * takes the min label among itself and its neighbors; a driver loop
    * over DataFrame actions runs until fixpoint (rounds ≤ graph diameter,
    * and near-dup components are shallow by construction; the loop is the
    * standard Spark shape for iterative graph algorithms — GraphX/
    * GraphFrames iterate exactly like this). Edges are tiny relative to
    * the corpus (only near-dup pairs), so each round is one small
    * shuffle-hash join + aggregate; the corpus itself is never rescanned.
    * Oracle: DuckDB recursive CTE over the same edge SQL.
    */
  /** Rounds the last `connectedComponents` call took — exposed so the
    * O(log) convergence contract is spec-assertable.
    */
  private[graft] val lastRounds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Connected components of an undirected edge list (`src`, `dst`):
    * returns (id, lbl) where lbl = min vertex id of the component.
    *
    * Algorithm: alternating LARGE-STAR / SMALL-STAR contraction (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC'14) —
    * each round every vertex hooks its larger (resp. smaller) neighbors
    * directly onto the minimum of its neighborhood, so component trees
    * halve in height every round and the fixpoint arrives in O(log d)
    * rounds instead of min-label propagation's O(d) (the round-3 verdict's
    * scale-killer watch: a pathological chain component burned one round
    * per hop). Each round is two small join+agg passes over the edge list
    * only — the corpus is never rescanned, and the edge list is orders of
    * magnitude smaller than the corpus (only near-dup pairs).
    */
  def connectedComponents(edges: DataFrame): DataFrame =
    withLoopConfs(edges)(starContractionLoop)

  /** Min-label propagation (rounds ≤ diameter) — retained as the simple
    * ground truth the star-contraction path is spec-asserted against.
    */
  private[graft] def connectedComponentsMinLabel(edges: DataFrame): DataFrame =
    withLoopConfs(edges)(minLabelLoop)

  private def withLoopConfs(edges: DataFrame)(
      loop: (DataFrame, org.apache.spark.storage.StorageLevel) => DataFrame): DataFrame = {
    val disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val s = edges.sparkSession
    // Materialize the bidirectional edge list (and with it the caller's
    // whole upstream pipeline — for q38 the candidate/verification joins
    // of jaccardPairs) on the CALLER's session: Spark confs bind at
    // action time, not plan-build time, so running it under the loop's
    // confs would run the heaviest upstream plan without AQE on 8
    // shuffle partitions.
    val bi = edges.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist(disk)
    bi.count(): Unit
    // The loop runs on a scoped clone that sees `bi`'s persist; the
    // caller's conf never changes, so its concurrent queries keep theirs.
    val loopSession = Sessions.scoped(s, Map(
      // The edge list is orders of magnitude smaller than the corpus
      // (only near-dup pairs), but each fixpoint round is a
      // join+agg+count whose exchanges inherit the session's corpus-sized
      // shuffle parallelism — mostly-empty tasks that make the rounds
      // latency-bound. Run the loop's own shuffles narrower. (At true
      // edge scale one would size this to the edge volume — it is a
      // per-stage tuning knob, not a semantic.)
      "spark.sql.shuffle.partitions" -> "8",
      // AQE off for the loop only: every fixpoint round is a join+agg
      // over an edge list orders of magnitude smaller than the corpus,
      // and AQE re-plans each of its exchanges as separate query-stage
      // jobs — pure scheduling latency (~half the loop's wall at bench
      // scale) for shuffles whose 8-partition shape is already fixed.
      // The caller's plans (and everything outside the loop, including
      // the upstream pipeline materialized above) keep AQE.
      "spark.sql.adaptive.enabled" -> "false"))
    // The labels come back on the caller's session, planned under its conf.
    Sessions.rebind(loop(Sessions.rebind(bi, loopSession), disk), s)
  }

  /** Alternating large-star / small-star contraction over an
    * ALREADY-MATERIALIZED persisted bidirectional edge list. Edges are
    * kept oriented src > dst; each round hooks every vertex's larger
    * neighbors onto its neighborhood minimum (large-star), then its
    * smaller neighbors onto theirs (small-star). Tree heights halve per
    * round ⇒ fixpoint (a star per component) in O(log d) rounds, detected
    * by a stable (count, hash-sum) signature of the edge set.
    */
  private def starContractionLoop(
      bi: DataFrame,
      disk: org.apache.spark.storage.StorageLevel): DataFrame = {
    // localCheckpoint (NOT persist) every round: each round's plan refers
    // to the previous round's subtree several times, and the analyzer's
    // self-join deduplication re-instantiates those shared subtrees — so
    // with persist alone the LOGICAL plan (and analysis time) grows
    // exponentially in rounds, burning driver CPU while the cluster
    // idles (measured: minutes of DeduplicateRelations on a 300-edge
    // graph). Checkpointing truncates the lineage to a LogicalRDD, the
    // standard Spark idiom for iterative graph algorithms.
    //
    // LAZY checkpoints inside the loop (r15 optimization): the loop is
    // edge-sized but LATENCY-bound — its wall is rounds × (stages +
    // jobs), not bytes — and an eager checkpoint is one full job whose
    // only purpose is materialization. Marking the checkpoint lazy and
    // letting the signature action materialize it halves the loop's job
    // count with identical results (the signature aggregate reads every
    // partition, so the checkpoint is always fully materialized before
    // the superseded rounds' blocks are released). Safe against the r14
    // eager-checkpoint deadlock rationale because this loop is strictly
    // serial with shuffle-hash-pinned joins and AQE off: there is no
    // concurrent action, so no concurrent doCheckpoint can exist.
    //
    // The two INIT checkpoints below are also lazy, and (with the
    // default spark.checkpoint.checkpointAllMarkedAncestors=false)
    // doCheckpoint stops at the first marked RDD above each action, so
    // they end up CACHED BUT NEVER LINEAGE-TRUNCATED (r15 ADVICE). That
    // is safe here because neither is ever re-read after release(e) /
    // release(verts): `e` has exactly one reader per round (the next
    // contraction, materialized by the signature action before the
    // release), and `verts` is read once by the final labels checkpoint
    // — which is EAGER, so verts' blocks are dead the moment it returns.
    var e = bi.filter(col("src") > col("dst")).distinct().localCheckpoint(false)
    val verts = bi.select(col("src").as("id")).distinct().localCheckpoint(false)

    // ONE alternating large-star/small-star contraction round over an
    // oriented (src > dst) edge set, returned as a LAZY local checkpoint
    // (plan truncation now, materialization by the next action).
    def contract(cur: DataFrame): DataFrame = {
      // LARGE-STAR: per vertex u (over the bidirectional view), m =
      // min(Γ(u) ∪ {u}); every neighbor v > u hooks directly to m.
      val b = cur.union(cur.select(col("dst").as("src"), col("src").as("dst")))
      val mins = b.groupBy("src").agg(min("dst").as("mn"))
        .select(col("src").as("u"), least(col("src"), col("mn")).as("m"))
      val ls = b.join(mins.hint("shuffle_hash"), col("src") === col("u"))
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
      // No distinct here (r15): the raw large-star output has exactly
      // one row per oriented edge (|ls_raw| = |e|, no explosion), its
      // duplicates ((dst, m) reached via several neighbors) are
      // harmless to mins2's min aggregate, and the small-star output
      // below ends in the distinct that convergence detection needs —
      // the ls-side exchange+dedup stage bought nothing per round.
      // SMALL-STAR: over the now-oriented edges (src > dst), each vertex
      // u re-hooks its smaller neighbors (and itself) onto their minimum.
      val mins2 = ls.groupBy("src").agg(min("dst").as("mn"))
      ls.join(mins2.hint("shuffle_hash"), Seq("src"))
        .filter(col("dst") =!= col("mn"))
        .select(col("dst").as("src"), col("mn").as("dst"))
        .union(mins2.select(col("src"), col("mn").as("dst")))
        .filter(col("src") =!= col("dst"))
        .distinct()
        .localCheckpoint(false)
    }

    var prevSig: Option[(Long, Long)] = None
    var converged = false
    var rounds = 0
    while (!converged && rounds < 40) {
      // TWO contraction rounds per signature action (r16): the signature
      // is only a STOP TEST, not a result, so probing it every other
      // round halves the loop's remaining driver round-trips (one job +
      // one collect per two rounds instead of per round) with the same
      // certificate: contraction is monotone (every vertex's minimum
      // known neighbor never increases, so the edge-set sequence has no
      // cycles — Kiveris et al. SoCC'14), hence a stable signature
      // across the double-round still implies e reached the fixpoint.
      // Worst case it runs one extra (idempotent) round past
      // convergence; results are unchanged (spec-pinned against the
      // min-label ground truth, hash-exact vs the DuckDB recursive-CTE
      // oracles).
      val mid = contract(e)
      val ss = contract(mid)
      // bit_xor, not sum: order-independent like sum, but cannot overflow
      // under ANSI arithmetic. This action doubles as the double-round's
      // checkpoint materialization (see the lazy-checkpoint note above).
      val sigRow = ss.agg(count(lit(1)), bit_xor(xxhash64(col("src"), col("dst")))).collect()(0)
      val sig = (sigRow.getLong(0),
        if (sigRow.isNullAt(1)) 0L else sigRow.getLong(1))
      // ss is materialized (LAZY checkpoint realized by the signature
      // action, which reads every partition), so the superseded
      // checkpoints' blocks — the previous round's `e` and this
      // double-round's intermediate — are dead weight: release now
      // instead of waiting for a driver GC (see CheckpointRelease).
      org.apache.spark.graft.CheckpointRelease.release(e)
      org.apache.spark.graft.CheckpointRelease.release(mid)
      e = ss
      rounds += 2
      converged = prevSig.contains(sig)
      prevSig = Some(sig)
    }
    // Unconverged labels are WRONG labels (vertices still pointing at
    // non-root intermediates ⇒ one true component reported as several ⇒
    // the wrong keeper survives dedup downstream) — silent corruption,
    // so fail loudly. 40 rounds covers diameter ~2^40 under the
    // per-round halving; hitting the cap means the loop is broken, not
    // the graph big. (Round-4 advisor finding.)
    if (!converged)
      throw new IllegalStateException(
        s"star-contraction hit the $rounds-round cap without a stable edge " +
          "signature; refusing to return unconverged component labels")
    lastRounds.set(rounds)
    // Diag only: convergence depth is the loop's whole cost model (wall
    // = probes × driver latency), so make it observable next to the
    // bench's other [bench-*] stderr lines.
    System.err.println(s"[cc-rounds] star contraction converged in $rounds rounds")
    // Fixpoint edge set is a star per component: children point at the
    // component min; roots are the vertices never appearing as a child.
    // Materialized (checkpoint) BEFORE bi is released so the caller's
    // final aggregates read a self-contained plan.
    val labels = e.select(col("src").as("id"), col("dst").as("lbl"))
      .union(verts.join(e.select(col("src")), verts("id") === col("src"), "left_anti")
        .select(col("id"), col("id").as("lbl")))
      .localCheckpoint(true)
    // labels is self-contained now; the fixpoint edge set and vertex
    // list checkpoints have no remaining reader.
    org.apache.spark.graft.CheckpointRelease.release(e)
    org.apache.spark.graft.CheckpointRelease.release(verts)
    bi.unpersist()
    labels
  }

  /** Min-label propagation fixpoint loop (the spec ground truth). */
  private def minLabelLoop(
      bi: DataFrame,
      disk: org.apache.spark.storage.StorageLevel): DataFrame = {
    // localCheckpoint per round for the same lineage-truncation reason as
    // starContractionLoop (each round references `labels` twice).
    var labels = bi.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id"))
      .localCheckpoint(true)
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < 25) {
      val prop = bi.join(labels.hint("shuffle_hash"), bi("dst") === labels("id"))
        .select(bi("src").as("id"), col("lbl"), lit(null).cast("long").as("own"))
      // The vertex's previous label rides along as `own`, so convergence
      // is read off the SAME aggregate (no extra per-round join).
      val next = labels.select(col("id"), col("lbl"), col("lbl").as("own")).union(prop)
        .groupBy("id").agg(min("lbl").as("lbl"), max("own").as("own"))
        .localCheckpoint(true)
      changed = next.filter(col("lbl") =!= col("own")).count()
      // next is materialized; the previous round's checkpoint (the only
      // LogicalRDD in labels' plan) has no remaining reader.
      org.apache.spark.graft.CheckpointRelease.release(labels)
      labels = next.select(col("id"), col("lbl"))
      rounds += 1
    }
    // Same contract as starContractionLoop: partial labels are corrupt
    // labels. Propagation converges in ≤ diameter rounds; a 25-round cap
    // exhaustion means a pathological graph for this ground-truth path.
    if (changed > 0)
      throw new IllegalStateException(
        s"min-label propagation hit the $rounds-round cap with $changed " +
          "labels still changing; refusing to return unconverged labels")
    bi.unpersist()
    labels
  }

  val q38: Q = Q(
    "q38_dup_clusters",
    (s, d) => {
      val edges = jaccardPairs(s, d)
        .select(col("da").as("src"), col("db").as("dst"))
      connectedComponents(edges)
        .groupBy(col("lbl").as("cluster_id"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("cluster_id")
    },
    Some("""WITH RECURSIVE toks AS (
            |  SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS t
            |  FROM documents),
            |sh AS (
            |  SELECT DISTINCT doc_id, t[i.i] || ' ' || t[i.i+1] || ' ' || t[i.i+2] AS s
            |  FROM toks, LATERAL (SELECT unnest(range(1, len(t)-1)) AS i) i
            |  WHERE len(t) >= 3),
            |nd AS (SELECT count(DISTINCT doc_id) AS nd FROM sh),
            |keep AS (
            |  SELECT s FROM sh GROUP BY s
            |  HAVING count(*) <= greatest(1000, CAST(floor(0.005 * (SELECT nd FROM nd)) AS BIGINT))),
            |shc AS (SELECT sh.doc_id, sh.s FROM sh JOIN keep USING (s)),
            |cnt AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY 1),
            |inter AS (
            |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
            |  FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
            |  GROUP BY 1, 2),
            |pairs AS (
            |  SELECT da, db
            |  FROM inter JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id
            |  WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.5),
            |bi AS (SELECT da AS src, db AS dst FROM pairs UNION ALL SELECT db AS src, da AS dst FROM pairs),
            |reach AS (
            |  SELECT DISTINCT src AS id, src AS r FROM bi
            |  UNION
            |  SELECT b.src AS id, rr.r AS r FROM bi b JOIN reach rr ON rr.id = b.dst),
            |comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
            |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_docs
            |FROM comp GROUP BY cluster_id ORDER BY cluster_id""".stripMargin))

  /** Q39 — incremental dedup: an incoming batch (doc_id mod 10 ∈ {8,9},
    * a portable stand-in for "today's crawl") is admitted only if its
    * normalized text doesn't already exist in the corpus (the other 80%).
    * LEFT ANTI join on the normalized-text key — one hash shuffle of the
    * (small) incoming side against the corpus, the standard shape for
    * append-only ingestion at 100 TB (the corpus side would be a
    * bucketed/partitioned table so repeated daily runs shuffle only the
    * new batch).
    */
  val q39: Q = Q(
    "q39_incremental_dedup",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val existing = docs.filter(pmod(col("doc_id"), lit(10)) < 8)
        .select(normText(col("text")).as("norm"))
      val incoming = docs.filter(pmod(col("doc_id"), lit(10)) >= 8)
        .select(col("doc_id"), normText(col("text")).as("norm"))
      incoming.join(existing, Seq("norm"), "left_anti")
        .select(col("doc_id"))
        .orderBy("doc_id")
    },
    Some("""SELECT i.doc_id
            |FROM documents i
            |WHERE i.doc_id % 10 >= 8
            |  AND NOT EXISTS (
            |    SELECT 1 FROM documents e
            |    WHERE e.doc_id % 10 < 8
            |      AND regexp_replace(trim(lower(e.text)), '\s+', ' ', 'g')
            |        = regexp_replace(trim(lower(i.text)), '\s+', ' ', 'g'))
            |ORDER BY i.doc_id""".stripMargin))

  /** Q57 — leakage-safe train/eval split (decontamination): assign every
    * document to a split BY NEAR-DUP CLUSTER, never individually, so a
    * near-duplicate of a training document can never land in eval — the
    * train/test-contamination rule every LLM data pipeline enforces.
    * Composes the verified pieces: q22a's near-dup edges → q38's
    * connected components → a deterministic arithmetic split on the
    * cluster label (min doc_id), with singleton docs their own cluster.
    * The split key is the LABEL, so membership in a cluster — not the
    * doc's own id — decides the side; `% 10 < 8` gives the 80/20 split
    * both engines compute identically. Scale shape: edges only through
    * the CC loop (corpus never rescanned), one broadcast-sized label
    * join back to the corpus (labels ≪ corpus: only docs in clusters).
    */
  val q57: Q = Q(
    "q57_leakage_safe_split",
    (s, d) => {
      val edges = jaccardPairs(s, d)
        .select(col("da").as("src"), col("db").as("dst"))
      val labels = connectedComponents(edges)
      Tables.documents(s, d).select(col("doc_id"))
        .join(labels, col("doc_id") === col("id"), "left")
        .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("cluster_id"))
        .withColumn("split",
          when(pmod(col("cluster_id"), lit(10)) < 8, lit("train")).otherwise(lit("eval")))
        .orderBy("doc_id")
    },
    Some("""WITH RECURSIVE toks AS (
            |  SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS t
            |  FROM documents),
            |sh AS (
            |  SELECT DISTINCT doc_id, t[i.i] || ' ' || t[i.i+1] || ' ' || t[i.i+2] AS s
            |  FROM toks, LATERAL (SELECT unnest(range(1, len(t)-1)) AS i) i
            |  WHERE len(t) >= 3),
            |nd AS (SELECT count(DISTINCT doc_id) AS nd FROM sh),
            |keep AS (
            |  SELECT s FROM sh GROUP BY s
            |  HAVING count(*) <= greatest(1000, CAST(floor(0.005 * (SELECT nd FROM nd)) AS BIGINT))),
            |shc AS (SELECT sh.doc_id, sh.s FROM sh JOIN keep USING (s)),
            |cnt AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY 1),
            |inter AS (
            |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
            |  FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
            |  GROUP BY 1, 2),
            |pairs AS (
            |  SELECT da, db
            |  FROM inter JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id
            |  WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.5),
            |bi AS (SELECT da AS src, db AS dst FROM pairs UNION ALL SELECT db AS src, da AS dst FROM pairs),
            |reach AS (
            |  SELECT DISTINCT src AS id, src AS r FROM bi
            |  UNION
            |  SELECT b.src AS id, rr.r AS r FROM bi b JOIN reach rr ON rr.id = b.dst),
            |comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
            |SELECT d.doc_id, coalesce(comp.cluster_id, d.doc_id) AS cluster_id,
            |  CASE WHEN coalesce(comp.cluster_id, d.doc_id) % 10 < 8
            |       THEN 'train' ELSE 'eval' END AS split
            |FROM documents d LEFT JOIN comp ON comp.id = d.doc_id
            |ORDER BY d.doc_id""".stripMargin))

  /** Q59 — benchmark decontamination by n-gram overlap: flag every train
    * doc sharing at least one token 5-gram with the eval set (the
    * GPT-3-style 13-gram decontamination check, with n scaled to this
    * corpus's document length). Reports, per contaminated train doc, the
    * count of distinct shared 5-grams and the contaminated fraction of
    * its own 5-gram set — the two signals a pipeline thresholds on when
    * deciding drop-vs-keep.
    *
    * Scale shape: the eval side of the join is a BENCHMARK — at 100 TB
    * it's a few thousand documents' worth of n-grams while the train side
    * is the corpus, so the join wants a broadcast of the eval gram set.
    * Here the eval set is carved from the same table (20% of it), so the
    * sides' ratio is an artifact of the fixture; the join is left
    * unhinted and AQE picks the strategy from measured sizes (the q52
    * lesson: never hand-broadcast a side derived from the big input).
    * Gram identity is the same 64-bit shingle hash the dedup family uses;
    * the oracle compares on string 5-grams (identical sets modulo
    * xxhash64 collisions, the standing assumption of q22a's oracle).
    */
  val q59: Q = Q(
    "q59_contamination",
    (s, d) => {
      val grams = Tables.spread(
          Tables.documents(s, d).select(col("doc_id"), col("text")),
          col("doc_id"))
        .select(col("doc_id"),
          GraftFunctions.ngramShingleHashes(tokens(col("text")), 5).as("gs"))
        .filter(size(col("gs")) > 0)
        .select(col("doc_id"), size(col("gs")).as("ng"),
          explode(col("gs")).as("g"))
      val evalGrams = grams.filter(pmod(col("doc_id"), lit(10)) >= 8)
        .select(col("g")).distinct()
      grams.filter(pmod(col("doc_id"), lit(10)) < 8)
        .join(evalGrams, "g")
        .groupBy("doc_id", "ng")
        .agg(count(lit(1)).as("hits"))
        .select(col("doc_id"), col("hits"),
          round(col("hits") / col("ng"), 4).as("frac"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (
            |  SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS t
            |  FROM documents),
            |sh AS (
            |  SELECT DISTINCT doc_id,
            |         t[i.i] || ' ' || t[i.i+1] || ' ' || t[i.i+2] || ' ' || t[i.i+3] || ' ' || t[i.i+4] AS s
            |  FROM toks, LATERAL (SELECT unnest(range(1, len(t)-3)) AS i) i
            |  WHERE len(t) >= 5),
            |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 10 >= 8),
            |cnt AS (SELECT doc_id, count(*) AS ng FROM sh WHERE doc_id % 10 < 8 GROUP BY 1),
            |hits AS (
            |  SELECT sh.doc_id, count(*) AS hits
            |  FROM sh JOIN ev USING (s) WHERE sh.doc_id % 10 < 8 GROUP BY 1)
            |SELECT h.doc_id, h.hits, round(h.hits * 1.0 / c.ng, 4) AS frac
            |FROM hits h JOIN cnt c USING (doc_id)
            |ORDER BY h.doc_id""".stripMargin))

  /** Q65 — bloom-pruned blocklist removal: drop every train-split doc
    * whose normalized text appears in the eval-split blocklist, with a
    * bloom filter routing the bulk of the corpus AROUND the anti-join
    * shuffle. This is Spark's runtime-filter machinery
    * (`BloomFilterAggregate` / `BloomFilterMightContain`, the exact
    * expressions `InjectRuntimeFilter` plants under shuffle joins) used
    * explicitly, because the optimizer never plants them for ANTI joins:
    * there a bloom-negative probe is a guaranteed KEEP, so the rewrite
    * is a row-routing decision — `¬maybe` rows are emitted straight from
    * the scan stage (zero shuffle, no false negatives by bloom
    * construction), and only the `maybe` sliver pays the exact
    * LEFT ANTI join that removes false positives. The result is
    * bit-identical to the plain anti join (the oracle checks exactly
    * that), while the shuffled volume drops from |corpus| to
    * |matches| + fpp·|corpus|.
    *
    * Scale shape: the bloom builds distributed (per-partition partial
    * blooms OR-merged by the aggregate) over the blocklist — at 100 TB
    * that's a benchmark/eval set orders of magnitude smaller than the
    * corpus — and ships to probe tasks once as a scalar-subquery result,
    * not as a plan literal. The probed corpus table is persisted behind
    * the bloom filter evaluation so both routing branches read the same
    * materialization (the cappedShingleDocs/q64 barrier tradeoff) instead
    * of re-scanning + re-hashing the corpus per branch.
    */
  /** Q65's core over any documents-shaped input (doc_id, source, text) —
    * parameterized so the spec can drive it with a SYNTHESIZED cross-split
    * duplicate (the corpus isn't guaranteed to contain one at small SF;
    * round 6's fixture-degenerate guard tripped on exactly that). `tag`
    * namespaces the temp views the scalar-subquery build reads.
    */
  def bloomDecontam(s: SparkSession, docs: DataFrame, tag: String): DataFrame = {
    val keyed = Tables.spread(docs, col("doc_id"))
      .select(col("doc_id"), col("source"), xxhash64(normText(col("text"))).as("k"))
    keyed.filter(pmod(col("doc_id"), lit(10)) < 8)
      .createOrReplaceTempView(s"g65_train_$tag")
    val block = keyed.filter(pmod(col("doc_id"), lit(10)) >= 8).select("k")
    block.createOrReplaceTempView(s"g65_block_$tag")
    // Size the bloom from the data, not a constant: the blocklist is
    // 20% of the corpus by construction, and the doc count comes from
    // a metadata-cheap count over the source table. A hardcoded
    // estimate silently degrades the false-positive rate once the
    // blocklist outgrows it — results stay correct (the anti join
    // verifies) but the routing win erodes unmeasured. (r5 advisor.)
    val estItems = math.max(1024L, (docs.count() + 4) / 5)
    // Scalar subquery: the analyzer plans the bloom build as its own
    // subquery stage whose one-row result feeds the probe expression —
    // the same wiring InjectRuntimeFilter emits.
    val probed = s.sql(
      s"""SELECT doc_id, source, k,
         |  bloom_might_contain(
         |    (SELECT bloom_agg(k, $estItems) FROM g65_block_$tag), k) AS maybe
         |FROM g65_train_$tag""".stripMargin)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val definiteKeep = probed.filter(!col("maybe")).select("doc_id", "source")
    val verified = probed.filter(col("maybe"))
      .join(block, Seq("k"), "left_anti").select("doc_id", "source")
    definiteKeep.union(verified).orderBy("doc_id")
  }

  val q65: Q = Q(
    "q65_bloom_decontam",
    (s, d) => bloomDecontam(s, Tables.documents(s, d), Tables.datasetTag(d)),
    Some("""WITH n AS (
            |  SELECT doc_id, source,
            |         regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS t
            |  FROM documents)
            |SELECT a.doc_id, a.source FROM n a
            |WHERE a.doc_id % 10 < 8
            |  AND NOT EXISTS (
            |    SELECT 1 FROM n b WHERE b.doc_id % 10 >= 8 AND b.t = a.t)
            |ORDER BY a.doc_id""".stripMargin))

  /** Q80 — cross-document chunk-level dedup (the RefinedWeb/CCNet
    * "line-level" repetition pass adapted to unpunctuated text): split
    * each document into consecutive 16-token chunks, find chunks that
    * occur in MORE THAN ONE distinct document, and report per document
    * the duplicated-chunk fraction plus an integer-decided keep flag
    * (2·n_dup ≤ n_chunks). Complements the family: q21 drops whole-doc
    * exact dups, q22 near-dups, q45 WITHIN-doc repetition — q80 catches
    * boilerplate shared ACROSS documents (headers, license blocks,
    * navigation chrome) that whole-doc identity misses. Within-doc
    * repeats alone do not mark a chunk duplicated (distinct-doc count,
    * not occurrence count).
    *
    * Plan at scale: chunking is scan-stage `transform`/`slice` codegen
    * (zero shuffle); the chunk→distinct-doc-count table and the
    * score-back join shuffle on the chunk key with map-side partials —
    * the q22-family volume, sub-quadratic by construction. At 100 TB
    * the chunk key travels as a 64-bit hash (the q59 convention:
    * string-keyed oracle, hash-keyed production — the kernel is
    * available in functions/TextHashes); here the string key keeps the
    * whole query portably oracle-checkable.
    */
  /** The q80 body as a library entry: per-doc duplicated-chunk census of
    * `docsDf` (doc_id, text) at `W`-token chunk width.
    */
  def chunkDedup(docsDf: DataFrame, W: Int = 16): DataFrame = {
      val tk = tokens(col("text"))
      val ch = docsDf
        .select(col("doc_id"), tk.as("tk"))
        .filter(size(col("tk")) >= 1)
        .select(col("doc_id"), explode(transform(
          sequence(lit(0), ceil(size(col("tk")) / W.toDouble).cast("int") - 1),
          i => concat_ws(" ", slice(col("tk"), i * W + lit(1), lit(W))))).as("chunk"))
      val dup = ch.groupBy("chunk")
        .agg(countDistinct(col("doc_id")).as("nd"))
      ch.join(dup, Seq("chunk"))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_chunks"),
          sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_dup_chunks"),
          round(sum(when(col("nd") > 1, 1L).otherwise(0L)).cast("double") /
            count(lit(1)), 4).as("dup_frac"))
        .withColumn("keep", lit(2) * col("n_dup_chunks") <= col("n_chunks"))
        .orderBy("doc_id")
  }

  val q80: Q = Q(
    "q80_chunk_dedup",
    (s, d) => chunkDedup(Tables.spread(Tables.documents(s, d), col("doc_id"))),
    Some("""WITH toks AS (
            |  SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS t
            |  FROM documents),
            |ch AS (
            |  SELECT doc_id, array_to_string(t[CAST(c.c*16+1 AS BIGINT):CAST(c.c*16+16 AS BIGINT)], ' ') AS chunk
            |  FROM toks, LATERAL (SELECT unnest(range(0, CAST(ceil(len(t)/16.0) AS BIGINT))) AS c) c
            |  WHERE len(t) >= 1),
            |d AS (SELECT chunk, count(DISTINCT doc_id) AS nd FROM ch GROUP BY 1)
            |SELECT ch.doc_id, count(*) AS n_chunks,
            |  CAST(sum(CASE WHEN d.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
            |  round(CAST(sum(CASE WHEN d.nd > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS dup_frac,
            |  (2 * sum(CASE WHEN d.nd > 1 THEN 1 ELSE 0 END) <= count(*)) AS keep
            |FROM ch JOIN d USING (chunk) GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Q94 — sorted-neighborhood near-dup candidates: the third blocking
    * discipline beside q22a's shingle-prefix filter and q22b's banded
    * LSH. Documents sharing a 16-char normalized-prefix block are
    * ordered by (n_chars, doc_id) within the block and each is compared
    * ONLY to its immediate neighbor — the classic sorted-neighborhood
    * method (w=2), which catches the truncation/append dup family
    * (same opening, grown tail) at O(n) comparisons instead of
    * O(block²). Verification is exact distinct-token Jaccard ≥ 0.5 —
    * set sizes only, so the whole op is portably oracle-checkable (no
    * hashing).
    *
    * Plan at scale: blocking key + token set are scan-stage
    * expressions; the window shuffles once on the block key and sorts
    * per block (blocks are prefix-sharded — no global sort); the
    * neighbor compare is a `lead`, not a join. Skewed blocks (a viral
    * boilerplate prefix) bound the per-task sort at the hottest
    * block's size — the documented mitigation is lengthening the
    * prefix, which re-shards hot blocks.
    */
  /** The q94 body over any (doc_id, text, n_chars) frame. */
  def snmCandidates(docsDf: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docsDf.select(col("doc_id"), col("n_chars"),
      substring(normText(col("text")), 1, 16).as("blk"),
      array_distinct(tokens(col("text"))).as("tok"))
    val w = Window.partitionBy("blk").orderBy(col("n_chars"), col("doc_id"))
    base
      .select(col("blk"), col("doc_id"), col("tok"),
        lead(col("doc_id"), 1).over(w).as("b_id"),
        lead(col("tok"), 1).over(w).as("b_tok"))
      .filter(col("b_id").isNotNull)
      .select(col("doc_id").as("a_id"), col("b_id"),
        // the codegen'd set-intersection kernel — same counter the q22
        // Jaccard paths use (inputs are already distinct)
        GraftFunctions.intersectCount(col("tok"), col("b_tok")).as("inter"),
        size(col("tok")).as("na"), size(col("b_tok")).as("nb"))
      // Threshold the UNROUNDED ratio (ADVICE r8): filtering the 4-dp
      // rounded value admitted pairs with true Jaccard in
      // [0.49995, 0.5) — q22a/q22b threshold the exact value, and the
      // docstring promises the same. Rounding applies only to the
      // REPORTED column; the oracle mirrors both steps.
      .withColumn("jacx", col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")))
      .filter(col("jacx") >= 0.5)
      .select(col("a_id"), col("b_id"), round(col("jacx"), 4).as("jac"))
      .orderBy("a_id", "b_id")
  }

  val q94: Q = Q(
    "q94_snm_candidates",
    (s, d) => snmCandidates(Tables.spread(Tables.documents(s, d), col("doc_id"))),
    Some("""WITH base AS (
            |  SELECT doc_id, n_chars,
            |    substr(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), 1, 16) AS blk,
            |    list_distinct(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')) AS tok
            |  FROM documents),
            |p AS (
            |  SELECT doc_id, tok,
            |    lead(doc_id) OVER w AS b_id, lead(tok) OVER w AS b_tok
            |  FROM base WINDOW w AS (PARTITION BY blk ORDER BY n_chars, doc_id)),
            |j AS (
            |  SELECT doc_id AS a_id, b_id,
            |    CAST(len(list_intersect(tok, b_tok)) AS DOUBLE) /
            |      (len(tok) + len(b_tok) - len(list_intersect(tok, b_tok))) AS jacx
            |  FROM p WHERE b_id IS NOT NULL)
            |SELECT a_id, b_id, round(jacx, 4) AS jac FROM j
            |WHERE jacx >= 0.5 ORDER BY a_id, b_id""".stripMargin))

  /** Q108 — dedup survivorship (golden-record build): after q38's
    * clustering decides WHICH documents are duplicates, survivorship
    * decides WHAT survives — per cluster the keeper (min id, the
    * engine's deterministic convention), the argmax-length member
    * (struct-max, q32's idiom), the source spread and the char mass:
    * the MDM reconciliation step between "cluster" and "merged row".
    * Same candidate/CC pipeline as q38 (edges → components), plus one
    * doc-key join and an O(clusters) aggregate — the added cost over
    * q38 is a broadcast-or-shuffle join of the label table against the
    * docs it labels.
    */
  val q108: Q = Q(
    "q108_survivorship",
    (s, d) => {
      val edges = jaccardPairs(s, d)
        .select(col("da").as("src"), col("db").as("dst"))
      val labels = connectedComponents(edges)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
      labels.join(docs, labels("id") === docs("doc_id"))
        .groupBy(col("lbl").as("cluster_id"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("keeper_id"),
          max(struct(col("n_chars"), col("doc_id"))).getField("doc_id")
            .as("longest_id"),
          countDistinct(col("source")).as("n_sources"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy("cluster_id")
    },
    Some("""WITH RECURSIVE toks AS (
            |  SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS t
            |  FROM documents),
            |sh AS (
            |  SELECT DISTINCT doc_id, t[i.i] || ' ' || t[i.i+1] || ' ' || t[i.i+2] AS s
            |  FROM toks, LATERAL (SELECT unnest(range(1, len(t)-1)) AS i) i
            |  WHERE len(t) >= 3),
            |nd AS (SELECT count(DISTINCT doc_id) AS nd FROM sh),
            |keep AS (
            |  SELECT s FROM sh GROUP BY s
            |  HAVING count(*) <= greatest(1000, CAST(floor(0.005 * (SELECT nd FROM nd)) AS BIGINT))),
            |shc AS (SELECT sh.doc_id, sh.s FROM sh JOIN keep USING (s)),
            |cnt AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY 1),
            |inter AS (
            |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
            |  FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
            |  GROUP BY 1, 2),
            |pairs AS (
            |  SELECT da, db
            |  FROM inter JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id
            |  WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.5),
            |bi AS (SELECT da AS src, db AS dst FROM pairs UNION ALL SELECT db AS src, da AS dst FROM pairs),
            |reach AS (
            |  SELECT DISTINCT src AS id, src AS r FROM bi
            |  UNION
            |  SELECT b.src AS id, rr.r AS r FROM bi b JOIN reach rr ON rr.id = b.dst),
            |comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
            |SELECT comp.cluster_id, count(*) AS n_docs,
            |  min(d.doc_id) AS keeper_id,
            |  (max(struct_pack(n_chars := d.n_chars, doc_id := d.doc_id))).doc_id AS longest_id,
            |  count(DISTINCT d.source) AS n_sources,
            |  CAST(sum(d.n_chars) AS BIGINT) AS total_chars
            |FROM comp JOIN documents d ON comp.id = d.doc_id
            |GROUP BY comp.cluster_id ORDER BY comp.cluster_id""".stripMargin))

  val queries: Seq[Q] = Seq(q21, q22a, q22b, q22c, q38, q39, q57, q59, q65, q80,
    q94, q108)
}
