package graft.ops

import graft.Tables
import graft.crypto.{EncryptionPolicy, PrivilegeLevel}
import graft.functions.GraftFunctions
import graft.io.{Afs, Parquet, Scratch}
import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The shared core of the ANN index. The index itself — one on-disk
  * format, the composed IVF+PQ lists — lives in [[IvfPq]]; this module
  * holds what its build, serve, lifecycle and stream paths share:
  *
  *   - '''sizing''' — list count, nprobe, Lloyd steps, PQ subspaces,
  *     codes and refine pool (q23e/q23f's measured rationale);
  *   - '''trainers''' — the seeded k-means routing table
  *     ([[trainIvf]]), the per-subspace PQ codebook
  *     ([[trainPqCodebook]]), k-thresholded list assignment
  *     ([[assignCids]]), PQ code assignment ([[pqAssign]], shared with
  *     q23f) and the residual IVFADC encoding ([[pqEncodeResidual]]);
  *   - '''versioned publication''' — immutable version dirs behind a
  *     CURRENT pointer, claim-by-exclusive-create, retirement grace
  *     ([[publishVersion]], [[resolveVersion]]);
  *   - '''crypto''' — [[IndexCrypto]], the one carrier of crypto state,
  *     and the artifact reader/writer it configures;
  *   - '''serve plumbing''' — probe collection, driver-side and
  *     distributed routing, the masked segment union, the cached
  *     trained tables;
  *   - '''lifecycle plumbing''' — the LSM fold core, tombstones, the
  *     checkpointed ingest loop and the drift-triggered retrain monitor.
  *
  * Staleness: artifacts are keyed by `Tables.datasetTag` (file
  * size/mtime hash), the Layout/Sources fixture rule — a regenerated
  * corpus invalidates the index — and by [[FormatLevel]], which keys
  * them on the code.
  */
object AnnIndex {

  // IVF sizing: q23e's measured rationale (16 lists, 4 Lloyd steps —
  // BASELINE §C7). At 100 TB, k grows ∝ sqrt(n), nprobe stays the
  // recall/cost knob. Nprobe moved 6 → 8 in r15 WITH the IVFADC
  // residual encoding (BASELINE.md §C16, sf0.1): residual codes
  // saturate the routing ceiling exactly (serve 0.740 = ceiling(6)
  // 0.740, where raw codes lost ~0.02 to quantization), so past r15 the
  // recall knob is routing, not encoding — ceiling(8) measured 0.840,
  // and the composed serve lands on it. The price is the knob's honest
  // one: candidate volume 8/16 of the routed codes instead of 6/16.
  private[ops] val K = 16
  private[ops] val Nprobe = 8
  private[ops] val LloydSteps = 4
  private[ops] val TopK = 5

  // PQ sizing: q23f's measured rationale (M=8 subspaces × 8 dims, K=64
  // codes, refine pool 256).
  private[ops] val Mpq = 8
  private[ops] val Kpq = 64
  private[ops] val Sub = 8
  private[ops] val Pool = 256

  private def dbl(c: Column): Column = c.cast("array<double>")

  /** The embeddings corpus in index form: (vec_id, e: array<double>,
    * label). The label rides into the inverted lists as an inline
    * FILTERABLE ATTRIBUTE (the [[IvfPq.probeSegments]] `attrFilter`
    * rule): a predicate on it
    * evaluates during the pruned list scan itself — pre-filtering — so
    * a filtered probe never joins back to the corpus.
    */
  private[graft] def corpus(s: SparkSession, d: String): DataFrame =
    Tables.spread(Tables.embeddings(s, d)
      .select(col("vec_id"), dbl(col("embedding")).as("e"), col("label")),
      col("vec_id"))

  // ---- shared IVF trainer (extracted from q23e; q23e delegates here) --

  /** (−cos, cid) entries vs every centroid literal: struct ordering gives
    * highest similarity first, ties to the smallest cid — the same
    * tie-break as a (sim DESC, cid ASC) window rank.
    */
  private[ops] def centroidEntries(vec: Column, cents: Seq[(Int, Seq[Double])]): Seq[Column] =
    cents.map { case (cid, ce) =>
      struct((-GraftFunctions.cosineSim(vec, typedLit(ce))).as("negsim"), lit(cid).as("cid"))
    }

  private[ops] def nearestCentroid(vec: Column, cents: Seq[(Int, Seq[Double])]): Column =
    least(centroidEntries(vec, cents): _*).getField("cid")

  /** k-threshold for the assignment strategy (r10 verdict item 2). At or
    * below, assignment is ONE literal argmin expression ([[nearestCentroid]]
    * — no join, no exchange, inlined into the scan stage: the cheapest
    * possible plan at the bench's K=16). Beyond it the routing table
    * becomes a broadcast DataFrame and assignment is a broadcast-join +
    * partial-agg argmin ([[joinAssignCids]], the pqAssign shape): a
    * literal `least(...)` over tens of thousands of array literals blows
    * codegen/constant-pool limits long before data does, while the join
    * broadcasts the O(k·dim) routing table once per job — which is what
    * makes SURVEY §9's k=sqrt(n)≈32k "routing table broadcast, loaded
    * once per serve job" posture true in code.
    */
  private[ops] val LiteralAssignMaxK = 128

  /** Append a `cid` column — each row's nearest centroid by cosine, ties
    * to the smallest cid — preserving every existing column, choosing the
    * strategy by k (see [[LiteralAssignMaxK]]). Both paths compute the
    * identical (−cos, cid) ordering with the same codegen'd kernel, so
    * assignment is bit-identical between them (pinned by AnnAssignSpec).
    * Rows must carry a unique `vec_id` and the vector in `e` (the
    * segment-write schema). The single assignment entry point for every
    * site that labels vectors with lists: build, delta append, streamed
    * micro-batches, tombstone cid resolution, Lloyd iterations.
    */
  private[ops] def assignCids(df: DataFrame, cents: Seq[(Int, Seq[Double])]): DataFrame =
    if (cents.size <= LiteralAssignMaxK)
      df.withColumn("cid", nearestCentroid(col("e"), cents))
    else joinAssignCids(df, cents)

  /** High-k assignment: broadcast-nested-loop against the O(k·dim)
    * routing-table frame, argmin via map-side-partial `min_by`. The
    * k-fold row expansion is consumed by the partial aggregate inside
    * the same stage — only n rows cross the exchange, each carrying its
    * vector once (the `first` partials fold map-side too), so shuffle
    * bytes match a plain repartition of the input regardless of k.
    */
  private[ops] def joinAssignCids(df: DataFrame, cents: Seq[(Int, Seq[Double])]): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val centDf = cents.toDF("cent_cid", "ce")
    // The argmin groups by a per-ROW ordinal, not vec_id: the literal
    // path is a pure projection and so preserves duplicate vec_ids —
    // this path must behave identically on ANY input (r11 ADVICE: a
    // vec_id-keyed groupBy silently collapsed duplicates only above the
    // k threshold). The ordinal is assigned below the broadcast join in
    // the same stage, so each input row expands to k copies sharing one
    // ordinal; shuffle bytes are unchanged (same row count, one long
    // added per row).
    //
    // EXECUTOR-LOSS CAVEAT (r12 ADVICE): monotonically_increasing_id is
    // nondeterministic across recomputation — if a shuffle-fetch failure
    // forces this map stage to PARTIALLY recompute and `df`'s own lineage
    // contains a shuffle whose row order is not stable, recomputed
    // partitions can hand out different ordinals than the surviving map
    // outputs did, duplicating/dropping rows in the aggregate (the known
    // Spark non-deterministic-expression caveat; deterministic inputs —
    // file scans, as every production caller here supplies — recompute
    // identically and are safe). Callers feeding a shuffle-bearing frame
    // at genuine cluster scale should localCheckpoint() it first; keying
    // by a content hash instead is NOT equivalent (it would merge
    // genuinely duplicate rows, the r11 bug this ordinal exists to fix).
    val cols = df.columns.toSeq
    df.withColumn("__ord", monotonically_increasing_id())
      .crossJoin(broadcast(centDf))
      .groupBy(col("__ord"))
      .agg(
        min_by(col("cent_cid"),
          struct((-GraftFunctions.cosineSim(col("e"), col("ce"))).as("negsim"),
            col("cent_cid").as("cid"))).as("cid"),
        cols.map(c => first(col(c)).as(c)): _*)
      .select(cols.map(col) :+ col("cid"): _*)
  }

  /** Seeded k-means over a persisted corpus frame: seeds are the k
    * corpus vectors with the smallest vec_id hash (stable across runs
    * and executors), refined by `steps` Lloyd iterations — element-wise
    * mean per cluster (posexplode → per-dimension avg → re-assemble),
    * each step one corpus pass + an O(k·dim) driver collect, the MLlib
    * k-means iteration shape. Empty clusters keep their previous
    * centroid, so the result always has exactly k rows.
    */
  private[ops] def trainIvf(emb: DataFrame, k: Int, steps: Int): Seq[(Int, Seq[Double])] = {
    val seeds: Seq[(Int, Seq[Double])] = emb
      .withColumn("h", xxhash64(col("vec_id")))
      .orderBy("h").limit(k)
      .select(col("e"))
      .collect().toIndexedSeq.zipWithIndex
      .map { case (r, i) => (i + 1, r.getSeq[Double](0)) }
    require(seeds.nonEmpty, "cannot train an IVF index over an empty corpus")
    (1 to steps).foldLeft(seeds) { (cents, _) =>
      // ONE corpus pass, ONE exchange, ONE job per Lloyd step (r16): the
      // per-(cid,pos) avg is unchanged from r15 — same explode, same
      // Average, bit-identical means, so the trained index cannot drift
      // (adopted fixtures stay exact) — but the O(k·dim)-row RE-ASSEMBLY
      // (groupBy(cid) + array_sort(collect_list)) moves to the driver:
      // it was a second exchange and an extra AQE stage-job per step for
      // a bounded 1024-row pivot. (A fully fused one-groupBy form with
      // 64 per-dimension sum columns was measured and REJECTED: the
      // generated aggregate update method exceeds the JIT's huge-method
      // limit and runs interpreted — q23e cpu 2.5 s → 6.8 s.)
      val means = assignCids(emb.select(col("vec_id"), col("e")), cents)
        .select(col("cid"), posexplode(col("e")).as(Seq("pos", "v")))
        .groupBy("cid", "pos").agg(avg(col("v")).as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cid, rows) =>
          cid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toIndexedSeq
        }
      cents.map { case (cid, ce) => (cid, means.getOrElse(cid, ce)) }
    }
  }

  // ---- shared PQ trainer (extracted from q23f; q23f delegates here) ---

  /** The corpus exploded into (vec_id, m, sv) subvector slices. */
  private[ops] def pqSliced(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("e"),
      explode(array((0 until Mpq).map(m =>
        struct(lit(m).as("m"), slice(col("e"), m * Sub + 1, Sub).as("sv"))): _*)).as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.sv").as("sv"))

  /** Broadcast-equi-join code assignment (q23f's shape — the only shape
    * that survives realistic K): argmin_k ||x − c_k||² =
    * argmin_k (||c_k||² − 2·x·c_k), ties to the smallest code.
    */
  private[ops] def pqAssign(sliced: DataFrame, cb: DataFrame): DataFrame =
    sliced.join(broadcast(cb), Seq("m"))
      .withColumn("d2", col("c2") - lit(2.0) * GraftFunctions.dotProduct(col("sv"), col("ce")))
      .groupBy("vec_id", "m")
      .agg(min_by(col("code"), struct(col("d2"), col("code"))).as("code"))

  /** Seeded per-subspace codebooks with one Lloyd refinement across all
    * subspaces in one pass (q23f's trainer, verbatim): K seed vectors by
    * smallest vec_id hash, per-(m, code, dim) means, empty codes keep
    * their seed centroid. Returns (m, code, ce, c2).
    */
  private[ops] def trainPqCodebook(s: SparkSession, emb: DataFrame,
      sliced: DataFrame): DataFrame = {
    val seedRows: IndexedSeq[Seq[Double]] = emb
      .withColumn("h", xxhash64(col("vec_id")))
      .orderBy("h").limit(Kpq)
      .select(col("e")).collect().toIndexedSeq.map(_.getSeq[Double](0))
    require(seedRows.nonEmpty, "cannot train a PQ codebook over an empty corpus")
    def cbDf(cents: Seq[(Int, Int, Seq[Double])]): DataFrame = {
      import s.implicits._
      cents.toDF("m", "code", "ce")
        .withColumn("c2", GraftFunctions.dotProduct(col("ce"), col("ce")))
    }
    val seedCb = cbDf(for {
      m <- 0 until Mpq; (v, k) <- seedRows.zipWithIndex
    } yield (m, k, v.slice(m * Sub, m * Sub + Sub)))
    val refined: Map[(Int, Int), Seq[Double]] = pqAssign(sliced, seedCb)
      .join(sliced, Seq("vec_id", "m"))
      .select(col("m"), col("code"), posexplode(col("sv")).as(Seq("pos", "v")))
      .groupBy("m", "code", "pos").agg(avg(col("v")).as("mu"))
      .groupBy("m", "code")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("mu")))),
        x => x.getField("mu")).as("c"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
    // The codebook always carries all Kpq codes (the ADC LUT indexes
    // every one); on a corpus smaller than Kpq the seed rows wrap, so
    // rebuilding a shrunken index (post-delete maintain/retrain) still
    // produces a complete codebook instead of indexing out of bounds.
    cbDf(for {
      m <- 0 until Mpq; k <- 0 until Kpq
    } yield (m, k, refined.getOrElse((m, k),
      seedRows(k % seedRows.size).slice(m * Sub, m * Sub + Sub))))
  }

  // ---- persisted index ------------------------------------------------

  /** Index FORMAT level: part of the on-disk root, so a code change to
    * the artifact schema (f2: inverted lists carry the inline `label`
    * attribute; f3: the PQ codes carry it too; f5: composed `ivfpq_lists`
    * encode RESIDUALS — [[pqEncodeResidual]] — so pre-residual fixtures,
    * whose codes/codebook/qnorm live in the raw-vector space, must never
    * be adopted; f6: the composed residual lists are the ONLY format —
    * the separate f3 artifacts, the raw-space encoding and its marker
    * file are gone, so no pre-f6 root, marked or not, may be adopted
    * and scored as residual; "f4" is skipped as a level name because
    * it already names the composed ARTIFACT format throughout the docs)
    * can never adopt a fixture written by the previous format —
    * `Tables.datasetTag` keys on the DATA, not the code.
    * Bumping the level orphans the old root; [[shmDir]] sweeps stale
    * format dirs so /dev/shm never accumulates across bumps.
    */
  val FormatLevel = "f6"

  /** Root for persisted index artifacts. Overridable for cluster
    * deployments (`-Dgraft.ann.root=hdfs://…/ann` or an `s3a://` URI —
    * the whole artifact layer speaks [[graft.io.Afs]], the Hadoop
    * FileSystem seam); the default is the sandbox-local tmpfs root the
    * bench uses, the "annindex" area of [[graft.io.Scratch]].
    */
  private def annRootBase: String =
    sys.props.get("graft.ann.root").getOrElse(Scratch.root("annindex"))

  /** Stale-format sweep: runs ONCE per JVM (a format can only change
    * with the code, so re-sweeping per call buys nothing), and only
    * under this repo's serial-JVM discipline — a sweep is a delete of
    * dirs a DIFFERENT FormatLevel build owns, so two concurrently
    * running builds at different levels must never share the root
    * (the same rule Bench.sweepLocalDirs already imposes).
    */
  private lazy val sweptStaleFormats: String = {
    val base = annRootBase
    Afs.listStatus(base)
      .filter(st => st.isDirectory && st.getPath.getName != FormatLevel)
      .foreach(st => Afs.delete(st.getPath.toString))
    s"$base/$FormatLevel"
  }

  private[ops] def shmDir(suffix: String): String = s"$sweptStaleFormats/$suffix"

  // ---- versioned publication (r9 ADVICE, medium) ----------------------
  //
  // A rebuild used to overwrite the live serving directory in place:
  // a forced rebuild deleted the _SUCCESS marker and rewrote the
  // corpus-sized artifacts under the SAME path a concurrent probe
  // (another thread, or another JVM sharing the dataset-tagged dir)
  // might be mid-scan on — the marker only guarded adoption decisions,
  // not in-flight readers. Indexes are now immutable VERSION dirs under
  // the dataset-tagged root, with a CURRENT pointer file flipped by an
  // atomic rename: a reader resolves CURRENT once and scans an
  // immutable dir; a builder writes v{N+1} beside it and flips the
  // pointer only after the version's own _SUCCESS lands. Versions older
  // than the previous one are retired (the previous survives one more
  // publish so an in-flight reader that resolved just before the flip
  // finishes against intact files). This is the pointer-flip discipline
  // every serving system with atomic index swaps uses (and the same
  // move Layout.compact makes for table fixtures).

  private def vname(n: Int): String = f"v$n%06d"

  /** The last component of an artifact path (a version, segment or
    * tombstone name).
    */
  private[ops] def nameOf(p: String): String = new org.apache.hadoop.fs.Path(p).getName

  private def isComplete(root: String, v: Int): Boolean =
    Afs.exists(s"$root/${vname(v)}/_SUCCESS")

  /** Retirement age floor: a version older than the predecessor is
    * deleted only once its `_SUCCESS` is at least this old (r11 verdict
    * item 4 — two quick flips, e.g. [[IvfPq.maintain]]'s
    * fold-then-retrain,
    * used to retire the version a reader resolved just before the FIRST
    * flip; the grace bounds every reader whose scan finishes inside it,
    * the Iceberg snapshot-expiration discipline). The price is
    * transient storage — up to one grace window of retirable versions
    * per root (at the bench's sf0.1 a version is a few MB of tmpfs; at
    * 100 TB the roots live on cluster storage where a few extra index
    * copies are noise next to the corpus). Specs pinning the
    * deterministic retire-after-two lifecycle set it to 0.
    */
  private[ops] var RetireGraceMs: Long =
    sys.props.get("graft.ann.retire.grace.ms").map(_.toLong).getOrElse(10 * 60 * 1000L)

  /** Abandoned-claim GC floor — effectively the maximum supported build
    * duration: the "signs of life" measured below are the claim
    * marker's mtime (fixed at claim time) and the version dir's
    * top-level mtime (updated only when a DIRECT child lands, i.e.
    * early), so a build running longer than this is treated as
    * abandoned and swept. 7 days is far beyond any plausible build; the
    * cost of carrying a truly dead claim that long is one skipped
    * version number and a few stray files — numbering and publication
    * around it work fine — so the floor errs heavily toward never
    * deleting a live writer's work (r11 ADVICE, medium: the old
    * below-predecessor sweep could delete another writer's in-flight
    * claim, whose later writes then recreated the dir as a corrupt
    * published version).
    */
  private[ops] var ClaimGcMs: Long =
    sys.props.get("graft.ann.claim.gc.ms").map(_.toLong).getOrElse(7L * 24 * 60 * 60 * 1000L)

  /** Resolve the root to a complete version dir: the CURRENT pointer
    * when it names one, else the newest `_SUCCESS`-marked version in a
    * listing. The fallback is what makes the pointer safe on backends
    * without atomic replace-rename (HDFS delete+rename hole, object
    * stores — [[graft.io.Afs]]): mid-flip or stale pointers degrade to
    * one extra listing, never to a missing or incomplete index. Reads
    * from disk exactly as a foreign JVM would — also the race specs'
    * hook (maintain/publish vs a live reader loop).
    */
  private[ops] def resolveVersion(root: String): Option[String] =
    try {
      val cur = s"$root/CURRENT"
      // The pointer read gets its OWN failure scope: a corrupt or
      // partially-visible pointer (mid-flip on a backend without atomic
      // replace-rename, checksum mismatch on a torn local write) must
      // degrade to the listing fallback below, not abort resolution.
      val fromPointer =
        try {
          if (!Afs.exists(cur)) None
          else {
            val name = Afs.readString(cur).trim
            if (name.matches("v\\d+") && Afs.exists(s"$root/$name/_SUCCESS"))
              Some(s"$root/$name")
            else None
          }
        } catch { case _: java.io.IOException => None }
      fromPointer.orElse(
        versionsOf(root).filter(isComplete(root, _)).maxOption
          .map(v => s"$root/${vname(v)}"))
    } catch { case _: java.io.IOException => None }

  /** Every version number present under `root` — complete dirs,
    * in-flight dirs, and bare claims ([[graft.io.Afs.claimedNumbers]]).
    */
  private def versionsOf(root: String): Seq[Int] = Afs.claimedNumbers(root, "v")

  /** Write a fresh immutable version via `write(versionDir)`, mark it
    * complete, flip CURRENT to it, retire complete versions older than
    * the predecessor once past the retirement grace. Returns the
    * published version dir.
    *
    * Version ALLOCATION is atomic: the number is claimed through
    * [[graft.io.Afs.claim]] (create-exclusive of a `v{N}._CLAIM`
    * marker), so two concurrent writers racing the same root can never
    * build into the same version dir: the loser claims the next number,
    * and the CURRENT flip stays last-writer-wins. RETIREMENT only ever
    * touches versions that carry `_SUCCESS` (a claimed-but-unfinished
    * build is invisible to it, however old the publish racing past it
    * is); abandoned claims are garbage-collected separately behind
    * [[ClaimGcMs]].
    */
  private[ops] def publishVersion(root: String)(write: String => Unit): String = {
    Afs.mkdirs(root)
    // Snapshot BEFORE claiming: the retirement below must reason about
    // the pre-publish state (re-listing after this publish's own
    // _SUCCESS lands would make the new version its own "predecessor"
    // and retire the real one under in-flight readers).
    val before: Seq[Int] = versionsOf(root)
    val vdir = Afs.claim(root, "v", width = 6)
    val name = nameOf(vdir)
    Afs.mkdirs(vdir)
    write(vdir)
    Afs.touch(s"$vdir/_SUCCESS")
    val tmp = s"$root/.CURRENT.$name.tmp"
    Afs.writeString(tmp, name)
    Afs.renameOver(tmp, s"$root/CURRENT")
    val now = System.currentTimeMillis()
    // Retire below the true predecessor — the highest COMPLETE version
    // before this publish (under concurrent writers the number right
    // below `next` can be another writer's unfinished claim, and
    // `next - 1` would retire the version in-flight readers still
    // hold) — and only versions whose _SUCCESS has aged past the grace,
    // so back-to-back flips cannot delete a dir a reader resolved
    // moments ago.
    val completeBefore = before.filter(isComplete(root, _))
    completeBefore.sorted.lastOption.foreach { prev =>
      completeBefore.filter(_ < prev)
        .filter(v => Afs.mtime(s"$root/${vname(v)}/_SUCCESS")
          .forall(t => now - t >= RetireGraceMs))
        .foreach { v =>
          Afs.delete(s"$root/${vname(v)}")
          Afs.delete(s"$root/${vname(v)}._CLAIM")
        }
    }
    // GC abandoned claims: no _SUCCESS and neither the claim marker nor
    // the dir's top-level mtime younger than the claim-GC floor (=== the
    // max supported build duration — see ClaimGcMs). Never this
    // publish's own: `before` predates the claim, which numbers above it.
    before.filterNot(isComplete(root, _)).foreach { v =>
      val life = Seq(Afs.mtime(s"$root/${vname(v)}._CLAIM"),
        Afs.mtime(s"$root/${vname(v)}")).flatten
      if (life.nonEmpty && life.forall(t => now - t >= ClaimGcMs)) {
        Afs.delete(s"$root/${vname(v)}")
        Afs.delete(s"$root/${vname(v)}._CLAIM")
      }
    }
    vdir
  }

  /** The per-row residual frame an IVFADC build trains on: (vec_id,
    * e := e − centroid(cid)) for an assigned (vec_id, e, cid, …) frame.
    * The broadcast side is the O(k·dim) routing table — the same table
    * every assignment join already broadcasts.
    */
  private[ops] def residualFrame(assigned: DataFrame,
      cents: Seq[(Int, Seq[Double])]): DataFrame = {
    val s = assigned.sparkSession
    import s.implicits._
    assigned.join(broadcast(cents.toDF("cid", "cv")), Seq("cid"))
      .select(col("vec_id"),
        zip_with(col("e"), col("cv"), (a, b) => a - b).as("e"))
  }

  /** RESIDUAL ADC encoding — the IVFADC discipline (the public IVF+PQ
    * design: Jégou/Douze/Schmid, "Product Quantization for Nearest
    * Neighbor Search", §IV): quantize `e − centroid(cid)` instead of the
    * raw vector, which concentrates the codebook's entire budget on
    * within-list variance (the between-list variance is already carried
    * by the cid itself). Input is an assigned (vec_id, e, cid) frame;
    * `cb` must have been trained on [[residualFrame]] output. Returns
    * (vec_id, codes, qnorm) where `qnorm` is the norm of the FULL
    * reconstruction `centroid(cid) + decode(codes)` — the value the ADC
    * cosine divides by. Serve-side, the quantized dot product
    * decomposes as dot(p, centroid(cid)) + Σ_m lut[m][code_m]: the first
    * term is the per-(probe, routed-list) bias [[IvfPq]]'s serve paths
    * add, the second is the unchanged LUT scan over the residual
    * codebook.
    */
  private[ops] def pqEncodeResidual(src: DataFrame,
      cents: Seq[(Int, Seq[Double])], cb: DataFrame): DataFrame = {
    val s = src.sparkSession
    import s.implicits._
    // Slice residual AND centroid per subspace in one pass: `sv` is the
    // residual slice the argmin quantizes, `cs` the centroid slice the
    // reconstruction adds back for qnorm.
    val sliced = src.join(broadcast(cents.toDF("cid", "cv")), Seq("cid"))
      .select(col("vec_id"),
        explode(array((0 until Mpq).map { m =>
          struct(lit(m).as("m"),
            zip_with(slice(col("e"), m * Sub + 1, Sub),
              slice(col("cv"), m * Sub + 1, Sub), (a, b) => a - b).as("sv"),
            slice(col("cv"), m * Sub + 1, Sub).as("cs"))
        }: _*)).as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.sv").as("sv"),
        col("s.cs").as("cs"))
    // pqAssign's argmin + tie-break, carrying the winning code's centroid
    // and the row's centroid slice through to the reconstruction.
    sliced.join(broadcast(cb), Seq("m"))
      .withColumn("d2",
        col("c2") - lit(2.0) * GraftFunctions.dotProduct(col("sv"), col("ce")))
      .groupBy("vec_id", "m")
      .agg(
        min_by(struct(col("code"), col("ce")),
          struct(col("d2"), col("code"))).as("best"),
        first(col("cs")).as("cs"))
      .withColumn("rv", zip_with(col("cs"), col("best.ce"), (a, b) => a + b))
      .groupBy("vec_id")
      .agg(
        transform(array_sort(collect_list(
            struct(col("m"), col("best.code").as("code")))),
          x => x.getField("code")).as("codes"),
        sqrt(sum(GraftFunctions.dotProduct(col("rv"), col("rv")))).as("qnorm"))
  }

  // ---- crypto context and artifact IO ---------------------------------

  /** The one carrier of crypto state through the index: every build,
    * serve, lifecycle, census and rotation entry point takes `crypto:
    * Option[IndexCrypto]` (`None` = plaintext), and only the context
    * turns itself into reader/writer options. Reads need a token
    * privileged for every column they decrypt; writes carry none.
    */
  final case class IndexCrypto(kmsUrl: String, token: Option[String],
      externalMaterial: Boolean = false) {

    /** The corpus column policy PER ARTIFACT (the PME factory requires
      * each file's column list to name only columns that file holds, by
      * parquet leaf path): embeddings and labels — and everything the
      * index derives from them (routing centroids, codebook entries and
      * their norms, codes, reconstructed norms) — at INTERNAL. A vector
      * is exactly as sensitive as the text it embeds; an index that
      * stored its derived forms in plaintext would leak what the
      * encrypted corpus protects. Ids (vec_id, cid, m/code ordinals)
      * stay plaintext, like the reference's `id` column. Key material is
      * internal (the reference's default) or, with `externalMaterial`,
      * sidecars — what [[IvfPq.rotateIndexKeysInPlace]] rotates.
      */
    def policies: Map[String, EncryptionPolicy] = {
      def internal(cols: String*): EncryptionPolicy = EncryptionPolicy(
        columnKeys = Map(PrivilegeLevel.Internal -> cols),
        internalKeyMaterial = !externalMaterial)
      Map(
        "ivf_centroids" -> internal("ce.list.element"),
        "pq_codebook" -> internal("ce.list.element", "c2"),
        "ivfpq_lists" ->
          internal("label", "codes.list.element", "qnorm", "e.list.element"),
        // Tombstone segments carry each victim's stored embedding (for
        // cid re-resolution after a retrain — see
        // [[IvfPq.enqueueTombstones]]), which is exactly as sensitive as
        // the lists' `e`; ids/cids stay plaintext like everywhere else.
        "ivfpq_tombstones" -> internal("e.list.element"))
    }

    private[ops] def readerOptions: Map[String, String] =
      EncryptionPolicy.readConfMap(kmsUrl, token)

    private[ops] def writerOptions(artifact: String): Map[String, String] =
      EncryptionPolicy.writeConfMap(policies(artifact), kmsUrl, accessToken = None)
  }

  /** Read one index artifact; under a context, authorization is enforced
    * per column AT THE SCAN (denial fails the job at action time).
    */
  private[graft] def readArtifact(s: SparkSession, path: String,
      crypto: Option[IndexCrypto]): DataFrame =
    Parquet.read(s, path, crypto.fold(Map.empty[String, String])(_.readerOptions))

  /** Write (overwrite) one index artifact, under a context encrypted by
    * its `artifact` policy. Version markers/pointers stay plaintext.
    */
  private[ops] def writeArtifact(w: DataFrameWriter[Row], path: String,
      artifact: String, crypto: Option[IndexCrypto]): Unit =
    w.mode("overwrite")
      .options(crypto.fold(Map.empty[String, String])(_.writerOptions(artifact)))
      .parquet(path)

  /** Per-JVM cache of collected TRAINED-TABLE artifacts, keyed by
    * (artifact kind, dir, KMS endpoint and token) — r16, q113/q128
    * per-batch overhead and one fewer collect job on every serve path.
    * Safe because a published version dir is IMMUTABLE by the
    * publishVersion discipline (a rebuild/fold/retrain always lands a NEW
    * vN dir, and the in-place key rotation re-encrypts the same values),
    * and keying on the token keeps crypto denial intact: a caller without
    * the token never hits an entry a privileged caller populated — its
    * own read fails exactly as before. O(k·dim + M·K·sub) doubles per
    * entry; NOT result caching — these are the bounded routing/codebook
    * tables every serve loads, not query outputs.
    */
  private val trainedTableCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String, Option[(String, Option[String])]), AnyRef]()

  private def cachedCollect[T <: AnyRef](kind: String, dir: String,
      crypto: Option[IndexCrypto])(read: => T): T =
    trainedTableCache.computeIfAbsent(
      (kind, dir, crypto.map(c => (c.kmsUrl, c.token))), _ => read)
      .asInstanceOf[T]

  private[ops] def readCentroids(s: SparkSession, dir: String,
      crypto: Option[IndexCrypto] = None): Seq[(Int, Seq[Double])] =
    cachedCollect("cents", dir, crypto) {
      readArtifact(s, s"$dir/ivf_centroids", crypto)
        .collect().toIndexedSeq
        .map(r => (r.getInt(r.fieldIndex("cid")),
          r.getSeq[Double](r.fieldIndex("ce"))))
    }

  private def cosineScala(a: Seq[Double], b: Seq[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** The serve's branch point on the probe count: a probe frame of at
    * most this many rows is served by the bounded branch
    * ([[IvfPq.probeBounded]] — collected, routed cids known on the
    * driver, statically pruned list scans, broadcast probe side and
    * pool); a larger one by the unbounded branch
    * ([[IvfPq.probeUnbounded]] — never collected). Either way every row
    * is served.
    */
  val MaxProbes = 1024

  /** The registered queries' probe set — the q23e/q23f convention
    * (vec_id < 10, from the corpus itself). The serve queries
    * instantiate the parameterized serve paths with this frame.
    */
  def defaultProbes(s: SparkSession, d: String): DataFrame =
    corpus(s, d).filter(col("vec_id") < 10).select("vec_id", "e")

  /** Normalize any (id, vector, …) frame to (pid: long, pe:
    * array<double>) — the single owner of the probe-frame contract,
    * shared by the collect and the ordinal-dealing unbounded input.
    */
  private def normalizeProbes(probes: DataFrame): DataFrame = {
    val cols = probes.columns
    require(cols.length >= 2,
      s"probe frame needs (id, vector) columns, got ${cols.mkString(",")}")
    probes.select(col(cols(0)).cast("long").as("pid"), dbl(col(cols(1))).as("pe"))
  }

  /** Collect an external (id, vector) probe frame driver-side, sorted by
    * id: the first column must cast to long, the second to
    * array<double> — any (id, embedding) frame serves, not just corpus
    * slices (r9 verdict item 2). Collects at most MaxProbes + 1 rows
    * (the limit rides into the plan — an oversized probe frame can
    * never flood the driver); more than MaxProbes rows back means the
    * frame belongs to the unbounded serve branch.
    */
  private[ops] def collectProbes(probes: DataFrame): Seq[(Long, Seq[Double])] =
    normalizeProbes(probes)
      .limit(MaxProbes + 1)
      .collect().toIndexedSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)

  /** Driver-side probe→list routing over collected probe vectors: each
    * row's nprobe (ordinal, cid) pairs by (−cos, cid) — highest cosine,
    * ties to the smallest cid, the [[routeDistributed]] ranking. The
    * bounded serve routes here with no Spark job; AnnAssignSpec pins it
    * equal to [[routeDistributed]] at K=16 and k=1024 and on duplicate
    * probe ids.
    */
  private[ops] def routeDriver(probes: Seq[Seq[Double]],
      cents: Seq[(Int, Seq[Double])], nprobe: Int): Seq[(Int, Int)] =
    probes.zipWithIndex.flatMap { case (pe, ord) =>
      cents.map { case (cid, ce) => (-cosineScala(pe, ce), cid) }
        .sorted.take(nprobe)
        .map { case (_, cid) => (ord, cid) }
    }

  /** Union one artifact kind across segment roots (base first, oldest
    * to newest) under the LSM boundary rule: a tombstone masks exactly
    * the segments at index < its boundary (left-anti on vec_id),
    * followed by the canonical re-select — a using-column join reorders
    * the key FIRST and the roots union POSITIONALLY, so without it
    * masked and unmasked segments would swap columns against each other
    * (the r10 composition bug). `prep` runs per segment BEFORE the mask
    * and the select, so cid pruning / attribute pre-filters reach each
    * segment's parquet scan. The read side of the serve paths; the mask
    * itself is [[lsmAnti]], the one the write-side fold
    * ([[foldPartitionedArtifact]]) applies too.
    */
  private[ops] def maskedUnion(s: SparkSession, roots: Seq[String], sub: String,
      sel: Seq[Column], tss: Seq[(DataFrame, Int)],
      prep: DataFrame => DataFrame = identity,
      crypto: Option[IndexCrypto] = None): DataFrame =
    roots.zipWithIndex.map { case (p, i) =>
      lsmAnti(tss)(prep(readArtifact(s, s"$p/$sub", crypto)).select(sel: _*), i, sel)
    }.reduce(_ unionAll _)

  /** Normalized probe frame with the per-ROW serve ordinal appended —
    * the unbounded serve branch's input shape. The ordinal is
    * [[monotonically_increasing_id]]: nondeterministic, so downstream
    * code must keep it in ONE linear pipeline (never recompute it on
    * two sides of a join) unless the frame is localCheckpoint'ed first.
    */
  private[ops] def probesWithOrdinal(probeDf: DataFrame): DataFrame =
    normalizeProbes(probeDf)
      .withColumn("__pord", monotonically_increasing_id())

  /** The unbounded serve branch's routing: `probes` (pid, pe, __pord —
    * [[probesWithOrdinal]]'s shape) becomes one routed row per (probe
    * row × probed list), k-thresholded like every other assignment
    * site: at ≤ [[LiteralAssignMaxK]] one literal array expression,
    * beyond it the broadcast routing table and a per-ordinal aggregate,
    * so the O(probes·k·dim) scan scales out with k.
    */
  private[ops] def routeDistributed(s: SparkSession, probes: DataFrame,
      cents: Seq[(Int, Seq[Double])], nprobe: Int): DataFrame =
    if (cents.size <= LiteralAssignMaxK) {
      val entries = array(centroidEntries(col("pe"), cents): _*)
      probes.withColumn("cid",
        explode(transform(slice(array_sort(entries), 1, nprobe),
          e => e.getField("cid"))))
    } else {
      // ONE linear pipeline — no self-join: the ordinal is
      // nondeterministic (monotonically_increasing_id), so it must
      // never be recomputed on two sides of a join (a shuffle-bearing
      // probe source re-evaluates with different per-partition order
      // and a probe's vector would join ANOTHER probe's routed list).
      // The joinAssignCids executor-loss caveat applies here too: a
      // partial stage recompute after shuffle-fetch failure can
      // re-deal ordinals when the probe frame's own lineage holds an
      // order-unstable shuffle — localCheckpoint such frames on a
      // real cluster; deterministic (file-scan) probe sources are safe.
      // scan → expand vs the broadcast routing table → per-ordinal
      // aggregate: collect the k (negsim, cid) entries, sort, slice
      // nprobe (the routeDriver ordering and tie-break), explode. The
      // map-side partial collect_list means the exchange carries each
      // probe's k narrow structs plus its vector once — vectors never
      // ride the k-fold expansion.
      val centDf = { import s.implicits._; cents.toDF("rcid", "ce") }
      probes
        .crossJoin(broadcast(centDf))
        .withColumn("negsim", -GraftFunctions.cosineSim(col("pe"), col("ce")))
        .groupBy(col("__pord"))
        .agg(first(col("pid")).as("pid"), first(col("pe")).as("pe"),
          slice(array_sort(collect_list(struct(col("negsim"), col("rcid")))),
            1, nprobe).as("routed"))
        .withColumn("cid",
          explode(transform(col("routed"), e => e.getField("rcid"))))
        .select("__pord", "pid", "pe", "cid")
    }

  /** Filtered probes WIDEN the probe set (2×, capped at K): a selective
    * predicate thins every probed list, so holding nprobe constant
    * starves the candidate pool at exactly the selectivities filtering
    * targets — the standard IVF filtered-search compensation. Scan cost
    * stays BELOW an unfiltered probe's: 2× the partitions, each
    * row-group-skipped to the matching ~10%.
    */
  private[ops] val FilteredNprobe: Int = math.min(K, Nprobe * 2)

  /** The full collected codebook as (m, code, ce, c2) rows in stored
    * order — its one cached read: the serve paths' map ([[readCodebook]])
    * and the per-batch encoders' frame ([[codebookFrame]]) derive from
    * it, so a micro-batch's broadcast build is a driver-local
    * LocalRelation, not a parquet-scan job (r15 verdict items 2/5).
    */
  private[ops] def readCodebookRows(s: SparkSession, cbDir: String,
      crypto: Option[IndexCrypto] = None): Seq[(Int, Int, Seq[Double], Double)] =
    cachedCollect("cbrows", cbDir, crypto) {
      readArtifact(s, s"$cbDir/pq_codebook", crypto)
        .select(col("m"), col("code"), col("ce"), col("c2"))
        .collect().toIndexedSeq
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2), r.getDouble(3)))
    }

  /** The collected O(M·K·sub) ADC codebook keyed by (m, code) — bounded
    * by construction, loaded ONCE per serve call site (the batched
    * driver reuses it across every batch instead of re-collecting per
    * batch).
    */
  private[ops] def readCodebook(s: SparkSession, cbDir: String,
      crypto: Option[IndexCrypto] = None): Map[(Int, Int), Seq[Double]] =
    readCodebookRows(s, cbDir, crypto)
      .map { case (m, code, ce, _) => (m, code) -> ce }.toMap

  /** [[readCodebookRows]] re-framed for a session (a LocalRelation —
    * broadcasts build driver-side with no scan job).
    */
  private[ops] def codebookFrame(s: SparkSession, cbDir: String,
      crypto: Option[IndexCrypto] = None): DataFrame = {
    import s.implicits._
    readCodebookRows(s, cbDir, crypto).toDF("m", "code", "ce", "c2")
  }

  // ---- lifecycle slices (shared by the lifecycle queries) -------------

  /** The 90/10 ingest split the append lifecycle exercises: the base
    * index is trained on vec_id % 10 != 0; the "newly arrived" batch is
    * the other 10%.
    */
  private[ops] def baseSlice(df: DataFrame): DataFrame = df.filter(pmod(col("vec_id"), lit(10)) =!= 0)
  private[ops] def batchSlice(df: DataFrame): DataFrame = df.filter(pmod(col("vec_id"), lit(10)) === 0)

  // ---- LSM fold core ---------------------------------------------------

  /** Masks applying to a segment's recency position, anti-joined out
    * with the canonical column order RE-SELECTED after the using-column
    * join (it reorders the key first, and segment frames union
    * positionally — the r10 composition bug). Shared by the read-side
    * [[maskedUnion]] and the write-side fold.
    */
  private[ops] def lsmAnti(tss: Seq[(DataFrame, Int)])(
      df: DataFrame, segIdx: Int, sel: Seq[Column]): DataFrame =
    tss.filter(_._2 > segIdx).map(_._1.select(col("vec_id")))
      .reduceOption(_ unionAll _)
      .fold(df)(m => df.join(m, Seq("vec_id"), "left_anti").select(sel: _*))

  /** Fold ONE cid-partitioned artifact across base + segments under the
    * LSM recency-boundary rule — the shared core behind
    * [[IvfPq.compactSegments]] and every fold, so a fix to the fold
    * discipline lands once (review
    * r13): touched lists = segments' cids ∪ tombstones' recorded cids
    * (bounded ≤K collects); touched merge base+segments with masks
    * anti-joined out through ONE exchange on cid; untouched base lists
    * carry over file-level (object-store copy, never a scan) — correct
    * because a tombstoned vector's list is touched by construction.
    * Returns the touched set.
    */
  private[ops] def foldPartitionedArtifact(s: SparkSession, baseDir: String,
      segDirs: Seq[String], tss: Seq[(DataFrame, Int)], sub: String,
      colNames: Seq[String], sortInPartitions: Boolean, vdir: String,
      crypto: Option[IndexCrypto] = None): Set[Int] = {
    val cols = colNames.map(col)
    val anti = lsmAnti(tss) _
    val segLists = segDirs.zipWithIndex
      .map { case (p, i) =>
        anti(readArtifact(s, s"$p/$sub", crypto).select(cols: _*), i + 1, cols)
      }
      .reduceOption(_ unionAll _)
    val touched: Set[Int] =
      (segLists.toSeq.flatMap(_.select("cid").distinct().collect().map(_.getInt(0))) ++
        tss.flatMap(_._1.select("cid").distinct().collect().map(_.getInt(0)))).toSet
    val baseLists = anti(
      readArtifact(s, s"$baseDir/$sub", crypto)
        .filter(col("cid").isin(touched.toSeq.sorted: _*))
        .select(cols: _*), 0, cols)
    val merged = segLists.fold(baseLists)(baseLists.unionAll)
      .repartition(col("cid"))
    writeArtifact(
      (if (sortInPartitions) merged.sortWithinPartitions("vec_id") else merged)
        .write.partitionBy("cid"),
      s"$vdir/$sub", sub, crypto)
    // Untouched lists: file-level carry-over into the merged layout (on
    // an object store a server-side copy; never a scan).
    Afs.listStatus(s"$baseDir/$sub")
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cid="))
      .filter(st => !touched.contains(st.getPath.getName.stripPrefix("cid=").toInt))
      .foreach(st => Afs.copyTree(st.getPath.toString,
        s"$vdir/$sub/${st.getPath.getName}"))
    touched
  }

  // ---- tombstone segments (the delete queries' write side) -------------

  /** The deterministic delete set the lifecycle queries exercise: 10%
    * of the corpus, split across BOTH segments — vec_id % 20 == 3 lives
    * in the base (odd), vec_id % 20 == 10 lives in the append delta
    * (multiple of 10) — so deletion is exercised against every segment
    * kind, not just the base.
    */
  private[ops] def deleteSlice(df: DataFrame): DataFrame =
    df.filter(pmod(col("vec_id"), lit(20)).isin(3, 10))

  /** Publish a tombstone segment for `victims` (vec_id, e, …) under
    * `outRoot`: each victim's cid is resolved from its STORED embedding
    * against `baseDir`'s centroids — assignment is deterministic, so
    * this lands the tombstone on exactly the list holding the copy it
    * masks, without scanning any list.
    */
  private[ops] def tombstonesFor(s: SparkSession, baseDir: String,
      victims: DataFrame, outRoot: String): String = {
    val cents = readCentroids(s, baseDir)
    publishVersion(outRoot) { vdir =>
      assignCids(victims.select(col("vec_id"), col("e")), cents)
        .select(col("vec_id"), col("cid"))
        .coalesce(1).write.mode("overwrite").parquet(s"$vdir/tombstones")
    }
  }

  // ---- retrain trigger (r10 verdict item 5) ---------------------------

  /** List-size-weighted mean RELATIVE centroid drift above which a
    * rebuild is recommended. Calibration (AnnRetrainSpec): a live
    * corpus equal to the training corpus measures ~0.03 (one Lloyd
    * step of residual motion); a structurally drifted corpus (clusters
    * re-centered between the trained centroids) measures >0.5.
    */
  private[ops] val RetrainDriftThreshold = 0.25

  /** The retrain decision and its evidence: per-cid (live count,
    * relative drift), the weighted mean, and the recommendation.
    */
  private[ops] final case class RetrainReport(
      perCid: Seq[(Int, Long, Double)],
      meanRelDrift: Double,
      recommend: Boolean)

  /** Retrain signal: compaction deliberately never retrains, so after
    * heavy upsert churn the live corpus drifts away from the centroids
    * the index was trained on and recall decays with no signal. This
    * check runs the q84 drift monitor ([[Similarity.embeddingDrift]])
    * between the INDEX'S routing table (side A: the stored per-cid
    * centroids) and the CURRENT live corpus's per-cid means under the
    * same frozen assignment (side B) — per-cid L2 drift, normalized by
    * the stored centroid's norm and weighted by live list size. Cost:
    * one assignment pass over the live frame + an O(k·dim) aggregate;
    * corpus bytes cross no exchange (q84's plan). Run it between index
    * versions (e.g. after each compaction); when it fires, rebuild via
    * [[IvfPq.build]]`(force = true)` / [[IvfPq.buildFrom]] —
    * AnnRetrainSpec pins degraded-recall-then-recovery around this trigger, and BASELINE.md
    * §C12 prices rebuild vs degraded serving.
    */
  private[ops] def retrainCheck(s: SparkSession, indexDir: String, live: DataFrame): RetrainReport =
    retrainCheckAssigned(s, indexDir,
      assignCids(live.select(col("vec_id"), col("e")),
        readCentroids(s, indexDir)))

  /** The check over a frame that ALREADY carries its `cid` — the stored
    * inverted lists are exactly such a frame, so a caller holding them
    * ([[IvfPq.maintain]]) skips the re-assignment pass entirely: the monitor
    * reduces to one O(k·dim) aggregate over data it just wrote.
    */
  private[ops] def retrainCheckAssigned(s: SparkSession, indexDir: String,
      preAssigned: DataFrame,
      crypto: Option[IndexCrypto] = None): RetrainReport = {
    val cents = readCentroids(s, indexDir, crypto)
    val norms = cents.map { case (cid, ce) =>
      cid -> math.sqrt(ce.map(x => x * x).sum)
    }.toMap
    val centDf = {
      import s.implicits._
      cents.toDF("label", "embedding")
        .select(col("label"), lit(true).as("old_snap"), col("embedding"))
    }
    val assigned = preAssigned.select(col("cid"), col("e"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val counts = assigned.groupBy("cid").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val drift = Similarity.embeddingDrift(centDf.unionAll(
          assigned.select(col("cid").as("label"), lit(false).as("old_snap"),
            col("e").as("embedding"))))
        .collect().map(r => r.getInt(0) -> r.getDouble(2)).toMap
      // cids with no live vectors have no side-B centroid and carry no
      // weight; every populated cid contributes its relative drift.
      val per = drift.toSeq.sortBy(_._1).map { case (cid, d) =>
        (cid, counts.getOrElse(cid, 0L), d / math.max(norms(cid), 1e-12))
      }
      val w = per.map(_._2).sum.toDouble
      val mean = if (w == 0) 0.0
                 else per.map { case (_, n, rd) => n * rd }.sum / w
      RetrainReport(per, mean, mean > RetrainDriftThreshold)
    } finally assigned.unpersist(): Unit
  }

  /** An [[IvfPq.maintain]] outcome: the published CURRENT dir, the drift
    * evidence the decision used, and whether a retrain actually ran.
    */
  private[ops] final case class MaintainResult(
      dir: String, report: RetrainReport, retrained: Boolean)

  // ---- continuous ingest core (Structured Streaming micro-batches) ----

  /** Source files the ingest stream is split into — with
    * `maxFilesPerTrigger = 1` each file is one micro-batch, so the
    * lifecycle test exercises SEVERAL checkpointed batches, not a
    * single degenerate one.
    */
  private[ops] val StreamFiles = 3

  /** The checkpointed ingest loop behind
    * [[IvfPq.streamIngestWithMaintain]] — extracted in r13 so the
    * streaming discipline (checkpoint-replay
    * idempotence, `_COMPLETE` markers, no-data-batch suppression,
    * serial-thread auto-maintain, manifest-composed reader views) lands
    * once (review r13).
    * `writeSegment(session, batch, artifactBase, segDir)` writes one
    * delta segment encoded against `artifactBase`'s
    * trained tables; `maintainStep(session, state)` folds the
    * [[servingStateOf]] view of `root` when the threshold fires.
    * `afterBatch(session, batchId)` runs LAST for each committed
    * non-empty batch, on the stream thread (so it can never race a
    * segment writer or a fold) — the hook mid-stream operations like
    * tombstone enqueues ([[IvfPq.enqueueTombstones]]) use to compose
    * deterministically with the ingest loop.
    */
  private[ops] def streamIngestCore(s: SparkSession, baseDir: String,
      src: DataFrame, root: String, nFiles: Int, autoMaintainEvery: Int,
      writeSegment: (SparkSession, DataFrame, String, String) => Unit,
      maintainStep: (SparkSession, ServingState) => Unit,
      afterBatch: (SparkSession, Long) => Unit = (_, _) => (),
      srcDirOverride: Option[String] = None)
      : Seq[String] = {
    // The n-file source staging is test-harness input prep, not part of
    // the priced ingest, so a caller whose source frame is stable across
    // runs may point several runs at one shared staged dir (r16 — the
    // q46/q47 source-fixture discipline); checkpoint and segments stay
    // strictly per-run. Default stays per-run for explicit-frame callers
    // (the lifecycle soak streams a different frame each time).
    val srcDir = srcDirOverride.getOrElse(s"$root/src")
    val segRoot = s"$root/segments"
    if (!Afs.exists(s"$srcDir/_SUCCESS")) {
      src.repartition(nFiles)
        .write.mode("overwrite").parquet(srcDir)
    }
    val schema = Parquet.read(s, srcDir).schema
    // Built on the caller's session: the stream execution already runs
    // the query on its own clone of it.
    s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          id: Long) =>
        val seg = s"$segRoot/b$id"
        // Checkpoint-replay atomicity: a crash AFTER this batch's
        // _COMPLETE landed but BEFORE the checkpoint committed its
        // offset replays the batch — the rewrite must first re-mark
        // the segment incomplete, or a concurrent reader honoring the
        // only-complete-segments rule would scan it mid-overwrite.
        Afs.delete(s"$seg/_COMPLETE")
        val b = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // A no-data micro-batch (the source can emit one around
          // stream start/restart) must produce NO segment: an empty
          // partitionBy write emits zero files, and a marked-complete
          // fileless segment would fail every later reader (found by
          // the lifecycle soak — AnnLifecycleSoakSpec).
          if (!b.isEmpty) {
            // Under auto-maintain the trained artifacts to assign/encode
            // against are the CURRENT SERVING BASE's, re-resolved per
            // batch — a fold's retrain publishes NEW centroids and a NEW
            // codebook, and a later batch encoded against the original
            // base would silently mix two centroid/codebook spaces in
            // the served state (review r13). The invariant: a retrain
            // happens only inside a fold, a fold consumes every unfolded
            // segment, so every unfolded segment is always encoded in
            // the current fold-base's space. Without auto-maintain the
            // base is frozen and the once-read artifacts stand.
            val artifactBase =
              if (autoMaintainEvery > 0)
                servingStateOf(baseDir, root).base
              else baseDir
            writeSegment(batch.sparkSession, b.toDF(), artifactBase, seg)
            Afs.touch(s"$seg/_COMPLETE")
            if (autoMaintainEvery > 0) {
              // Fold threshold check AFTER the batch commits: the fold
              // runs on this same stream thread (AvailableNow is
              // serial), so it never races a segment writer.
              val st = servingStateOf(baseDir, root)
              if (st.unfolded.size >= autoMaintainEvery)
                maintainStep(batch.sparkSession, st)
            }
            afterBatch(batch.sparkSession, id)
          }
        } finally b.unpersist(): Unit
      }
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    completeDirs(segRoot, "b")
  }

  /** The `_COMPLETE`-marked `<prefix><n>` dirs under `dir` — an ingest
    * root's segments (`b<n>`) or tombstones (`t<n>`) — in NUMERIC order,
    * not lexicographic ("b10" < "b2" as strings): that order is LSM
    * recency order, which tombstone boundaries depend on for any caller
    * composing these roots.
    */
  private[ops] def completeDirs(dir: String, prefix: String): Seq[String] =
    Afs.listStatus(dir)
      .filter(st => st.isDirectory && Afs.exists(s"${st.getPath}/_COMPLETE"))
      .sortBy(_.getPath.getName.stripPrefix(prefix).toLong)
      .map(_.getPath.toString).toIndexedSeq

  /** A fold's `_SEGMENTS` manifest: one absorbed segment name per line,
    * each consumed tombstone as a `ts:<name>` line. Cumulative — every
    * fold restates what the fold it replaces had absorbed.
    */
  private[ops] def writeManifest(vdir: String, segs: Seq[String],
      tombstones: Iterable[String]): Unit =
    Afs.writeString(s"$vdir/_SEGMENTS",
      (segs ++ tombstones.map("ts:" + _)).mkString("\n"))

  /** (segment names, tombstone names) a version's manifest records — the
    * one decoder of the `ts:` encoding ([[writeManifest]]). Throws when
    * the manifest is absent or unreadable.
    */
  private[ops] def readManifest(dir: String): (Seq[String], Set[String]) = {
    val (ts, segs) = Afs.readString(s"$dir/_SEGMENTS").split("\n").toSeq
      .filter(_.nonEmpty).partition(_.startsWith("ts:"))
    (segs, ts.map(_.stripPrefix("ts:")).toSet)
  }

  /** The reader view of an ingest root ([[servingStateOf]]): the serving
    * base, the complete segments it does not contain, and what the
    * serving fold's manifest records it absorbed — segment names and
    * consumed tombstone names (both empty for the frozen build base).
    */
  private[ops] final case class ServingState(base: String, unfolded: Seq[String],
      foldedSegs: Seq[String], foldedTs: Set[String])

  /** The reader view of an auto-maintained ingest root (segments under
    * `root/segments`, folds under `root/maint`). The base is the
    * CURRENT fold under `root/maint` when one exists (its `_SEGMENTS`
    * manifest — written before the fold's `_SUCCESS`, so atomic with the
    * version — says which segments and tombstones it already contains),
    * else the frozen build base. Consistent under any fold/ingest
    * interleaving: the fold is immutable once resolved, its manifest is
    * part of it, and segments only ever get ADDED to the listing.
    */
  private[ops] def servingStateOf(baseDir: String, root: String): ServingState = {
    val segs = completeDirs(s"$root/segments", "b")
    resolveVersion(s"$root/maint") match {
      case Some(fold) =>
        // The manifest read FAILS LOUD: defaulting a transient IO error
        // to "fold contains nothing" would make the reader union the
        // fold with segments it already contains — silent duplicate
        // serving (review r13). The manifest is written before the
        // fold's _SUCCESS, so a resolvable fold always has one.
        val (foldedSegs, foldedTs) = readManifest(fold)
        ServingState(fold, segs.filterNot(p => foldedSegs.contains(nameOf(p))),
          foldedSegs, foldedTs)
      case None => ServingState(baseDir, segs, Nil, Set.empty)
    }
  }

  /** Evaluate several independent census counts as CONCURRENT jobs
    * (r16, guide §2.6 — actions are only sequential because the driver
    * calls them sequentially): each artifact count is a one-file scan
    * whose wall is scheduling latency, so overlapping them collapses a
    * census from N serial job round-trips to ~1. Values are identical
    * to the serial loop; a failure in any count propagates.
    */
  private[ops] def parCounts[A](items: Seq[A])(f: A => Long): Seq[Long] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.sequence(items.map(a => Future(f(a)))), Duration.Inf)
  }
}
