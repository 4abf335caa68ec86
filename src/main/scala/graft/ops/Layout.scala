package graft.ops

import graft.{Canon, Q, Tables}
import graft.io.{Afs, Parquet, Scratch}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout operators — the two techniques that erase the
  * dominant costs of a 100 TB pipeline BEFORE any query runs:
  *
  *  - **Bucketing** (q35): both fact tables are written bucketed+sorted
  *    on the join key, so the recurring join plans as a sort-merge join
  *    with NO exchange and NO sort on either side. At 100 TB this turns
  *    every repeated key-join of two fact tables from a full-cluster
  *    shuffle into a local merge ("shuffle once at write time, never
  *    again") — the standard warehouse layout for fact-fact joins.
  *  - **Partitioned layout + partition pruning** (q36): the event log is
  *    written `partitionBy(event_date)`; a dated query reads only the
  *    matching directories (PartitionFilters in the scan, asserted in
  *    PlanSpec), so a 5-day query over a 10-year log touches 0.1% of
  *    the files. Pruning happens at planning time from directory names —
  *    zero data IO for excluded partitions.
  *
  * Both layouts are produced once per dataset (write-side cost amortized
  * over every subsequent query) and registered as ordinary queries: the
  * writes are fixtures in the "layout" scratch area ([[graft.io.Scratch]]),
  * keyed by `Tables.datasetTag` — a regenerated source table gets fresh
  * layouts (q43's box bounds are computed from the LIVE table and would
  * silently diverge from a stale clustered copy) — built at most once
  * per JVM and adopted across JVMs; the catalog entries are registered
  * once per session.
  */
object Layout {

  /** Buckets for the fact-fact join. At 100 TB this would be O(1000);
    * sized here so every bucket holds real data at bench scale.
    */
  val NumBuckets = 8

  /** Create (once per session) the bucketed+sorted orders/lineitem
    * tables. The pre-write `repartition(NumBuckets, key)` uses the same
    * murmur3 hash as the bucket spec, so each task holds exactly one
    * bucket's rows and each bucket is ONE file — the layout Spark
    * requires to report per-bucket sortedness (multi-file buckets force
    * a sort back into the join).
    */
  private def bucketedTables(s: SparkSession, d: String): (String, String) = {
    val tag = Tables.datasetTag(d)
    val (lName, oName) = (s"graft_bkt_lineitem_$tag", s"graft_bkt_orders_$tag")
    // HARD invariant of every graft bucketed table: exactly ONE file per
    // bucket. `Graft.tune` turns on legacy.bucketedTableScan.outputOrdering
    // session-wide, which reports per-bucket sort order from the scan —
    // sound ONLY in this regime (multi-file buckets interleave,
    // SPARK-28595, and elided sorts would silently mis-merge). The writer
    // below guarantees it via repartition(NumBuckets, key) with the same
    // murmur3 hash as the bucket spec; this check makes the guarantee
    // load-bearing instead of assumed, for fresh writes AND for dirs
    // adopted from a previous JVM. (Round-4 advisor finding.)
    def assertOneFilePerBucket(name: String, dir: String): Unit = {
      // The invariant is per bucket ID, not a total count: two files for
      // one bucket and none for another has the right total yet still
      // interleaves on scan. Spark encodes the bucket id in the part-file
      // name (part-<task>-<uuid>_<bucketId>.c000...); parse it and assert
      // each id appears at most once. A missing id is a legitimately
      // empty bucket (no row hashed there), not a violation.
      val BucketId = """.*_(\d{5})(?:\.c\d+)?\..*""".r
      val ids = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .map(f => f.getName match {
          case BucketId(b) => b.toInt
          case other => throw new IllegalStateException(
            s"bucketed table $name at $dir has file '$other' with no " +
              "parseable bucket id; cannot verify the one-file-per-bucket " +
              "invariant that makes tune()'s bucketed-scan ordering sound")
        })
      val dup = ids.groupBy(identity).collect { case (b, fs) if fs.length > 1 => b }
      if (dup.nonEmpty || ids.exists(b => b < 0 || b >= NumBuckets))
        throw new IllegalStateException(
          s"bucketed table $name at $dir violates one-file-per-bucket: " +
            s"duplicate bucket ids ${dup.toSeq.sorted.mkString(",")}; ids seen " +
            s"${ids.sorted.mkString(",")} for $NumBuckets buckets — " +
            "tune()'s bucketed-scan ordering would silently mis-merge")
    }
    def ensure(name: String, df: DataFrame, key: String): Unit =
      if (!s.catalog.tableExists(name)) {
        val dir = Scratch.fixture("layout", d, name) { dir =>
          df.repartition(NumBuckets, col(key))
            .write.mode("overwrite")
            .option("path", dir)
            .bucketBy(NumBuckets, key).sortBy(key)
            .saveAsTable(name)
        }
        assertOneFilePerBucket(name, dir)
        // Files survive session restarts; only the catalog entry is
        // session-scoped. Re-registering is metadata-only — the write
        // happens once per dataset, as it would in a real warehouse.
        if (!s.catalog.tableExists(name))
          s.sql(s"CREATE TABLE $name (${df.schema.toDDL}) USING PARQUET " +
            s"CLUSTERED BY ($key) SORTED BY ($key) INTO $NumBuckets BUCKETS " +
            s"LOCATION '$dir'"): Unit
      }
    ensure(lName, Tables.lineitem(s, d), "l_orderkey")
    ensure(oName, Tables.orders(s, d), "o_orderkey")
    (lName, oName)
  }

  /** Q35 — co-located fact-fact join: lineitem ⋈ orders on orderkey over
    * bucketed+sorted tables. The join itself is exchange-free and
    * sort-free (asserted in PlanSpec); the only shuffle in the plan is
    * the final 5-row aggregate.
    */
  val q35: Q = Q(
    "q35_bucketed_join",
    (s, d) => {
      // Per-bucket sort-order reporting is session conf, applied once by
      // Graft.tune (sound here because the writer below guarantees ONE
      // file per bucket; see tune's doc). It cannot be scoped around this
      // builder: Spark reads the flag at ACTION time (physical planning),
      // after this function has returned its lazy DataFrame — a
      // set/restore here would silently re-insert the sorts the layout
      // exists to avoid.
      val (lName, oName) = bucketedTables(s, d)
      val l = s.table(lName)
      // merge hint: a fact-fact join must never broadcast (at 100 TB
      // neither side fits), and only the sort-merge path consumes the
      // bucket-sorted layout exchange-free. Without it, tiny bench inputs
      // fall under autoBroadcastJoinThreshold and the plan stops
      // demonstrating the layout contract.
      val o = s.table(oName).hint("merge")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          Canon.rsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority,
            |  round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE), 4) AS revenue,
            |  count(*) AS n_items
            |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            |GROUP BY o_orderpriority
            |ORDER BY o_orderpriority""".stripMargin))

  /** The event log partitioned by day (directory layout survives
    * session restarts).
    */
  private def partitionedEvents(s: SparkSession, d: String): String =
    Scratch.fixture("layout", d, "events_by_date") { dir =>
      Tables.events(s, d)
        .withColumn("event_date", to_date(col("ts")))
        .write.mode("overwrite").partitionBy("event_date").parquet(dir)
    }

  /** Q36 — partition-pruned dated scan: 5 days out of the 30-day event
    * log. The scan's PartitionFilters prune 25 of 30 directories at
    * planning time (asserted in PlanSpec); file IO scales with days
    * queried, not log size.
    */
  val q36: Q = Q(
    "q36_partition_pruning",
    (s, d) => {
      val dir = partitionedEvents(s, d)
      Parquet.read(s, dir)
        .filter(col("event_date").between(lit("2024-01-05"), lit("2024-01-09")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), Canon.rsum(col("value")).as("total_value"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, count(*) AS n_events,
            |  round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 4) AS total_value
            |FROM events
            |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-09'
            |GROUP BY event_type
            |ORDER BY event_type""".stripMargin))

  /** Morton (Z-order) value: bit-interleave of two columns normalized to
    * `bits`-bit ranks. Pure built-in shift/mask expressions — codegen'd,
    * no UDF. Sorting a table by this value clusters it along BOTH
    * dimensions at once, so a 2-D box predicate touches only the row
    * groups whose min/max straddle the box — the standard lakehouse
    * multi-dimensional clustering (Z-ordering) that single-column sorting
    * cannot provide.
    */
  def zvalue(x: Column, y: Column, bits: Int = 16): Column =
    (0 until bits).map { i =>
      val xb = shiftleft(shiftrightunsigned(x, i).bitwiseAND(lit(1L)), 2 * i)
      val yb = shiftleft(shiftrightunsigned(y, i).bitwiseAND(lit(1L)), 2 * i + 1)
      xb.bitwiseOR(yb)
    }.reduce(_ bitwiseOR _)

  /** Scale `c` (long-ish, in [lo, hi]) to a `bits`-bit rank. */
  private def rank(c: Column, lo: Long, hi: Long, bits: Int): Column = {
    val span = math.max(1L, hi - lo)
    ((c - lit(lo)).cast("double") / lit(span.toDouble) * lit((1L << bits) - 1))
      .cast("long")
  }

  /** Small row groups so min/max skipping operates WITHIN the bench-scale
    * file; at 100 TB row groups are the default 128 MB and the same
    * mechanism skips terabytes.
    */
  private val ZRowGroupBytes = 64 * 1024

  /** lineitem written twice, as two fixtures: Z-ordered on
    * (l_partkey, l_suppkey), and linearly sorted on l_orderkey as the
    * clustering-free baseline the spec compares skipping against. The
    * range-partition + local sort (`orderBy`) is the distributed
    * clustering write: each task writes one contiguous z-range.
    */
  private[ops] def zorderedLineitem(s: SparkSession, d: String): (String, String) = {
    lazy val l = Tables.lineitem(s, d).select(Seq("l_orderkey", "l_partkey", "l_suppkey",
      "l_quantity", "l_extendedprice", "l_discount").map(col): _*)
    val zDir = Scratch.fixture("layout", d, "lineitem_zorder") { zDir =>
      val Row2 = l.agg(min("l_partkey"), max("l_partkey"),
        min("l_suppkey"), max("l_suppkey")).collect()(0)
      val z = zvalue(
        rank(col("l_partkey"), Row2.getLong(0), Row2.getLong(1), 16),
        rank(col("l_suppkey"), Row2.getLong(0 + 2), Row2.getLong(1 + 2), 16))
      l.withColumn("zv", z)
        .orderBy("zv")
        .drop("zv")
        .write.mode("overwrite")
        .option("parquet.block.size", ZRowGroupBytes.toString)
        .parquet(zDir)
    }
    val linDir = Scratch.fixture("layout", d, "lineitem_linear") { linDir =>
      l.orderBy("l_orderkey")
        .write.mode("overwrite")
        .option("parquet.block.size", ZRowGroupBytes.toString)
        .parquet(linDir)
    }
    (zDir, linDir)
  }

  /** The 2-D box q43 (and its spec) queries: ~14% of each key span,
    * derived from the data so the query is meaningful at every scale
    * factor. Both sides (Spark literals here, scalar subqueries in the
    * oracle) compute `lo + floor(f · span)` in IEEE doubles, so the
    * bounds agree exactly.
    */
  private[ops] def zBoxBounds(s: SparkSession, d: String): (Long, Long, Long, Long) = {
    val r = Tables.lineitem(s, d)
      .agg(min("l_partkey"), max("l_partkey"), min("l_suppkey"), max("l_suppkey"))
      .collect()(0)
    def at(lo: Long, hi: Long, f: Double): Long =
      lo + math.floor(f * (hi - lo)).toLong
    (at(r.getLong(0), r.getLong(1), 0.05), at(r.getLong(0), r.getLong(1), 0.19),
      at(r.getLong(2), r.getLong(3), 0.10), at(r.getLong(2), r.getLong(3), 0.24))
  }

  private[ops] def zBox(df: DataFrame, b: (Long, Long, Long, Long)): DataFrame =
    df.filter(
      col("l_partkey").between(b._1, b._2) &&
      col("l_suppkey").between(b._3, b._4))

  /** Q43 — Z-order-clustered 2-D box scan: revenue over a part×supplier
    * box against the Z-ordered lineitem copy. Identical semantics to the
    * same predicate over the unclustered table (the oracle runs on the
    * plain parquet), but the scan reads only the row groups whose
    * (l_partkey, l_suppkey) min/max intersect the box — ZorderSpec
    * measures the skipping against the linear layout.
    */
  val q43: Q = Q(
    "q43_zorder_scan",
    (s, d) => {
      val (zDir, _) = zorderedLineitem(s, d)
      zBox(Parquet.read(s, zDir), zBoxBounds(s, d))
        .groupBy("l_suppkey")
        .agg(count(lit(1)).as("n_items"),
          Canon.rsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"))
        .orderBy("l_suppkey")
    },
    Some("""WITH bounds AS (
            |  SELECT min(l_partkey) + CAST(floor(0.05 * (max(l_partkey) - min(l_partkey))) AS BIGINT) AS pl,
            |         min(l_partkey) + CAST(floor(0.19 * (max(l_partkey) - min(l_partkey))) AS BIGINT) AS ph,
            |         min(l_suppkey) + CAST(floor(0.10 * (max(l_suppkey) - min(l_suppkey))) AS BIGINT) AS sl,
            |         min(l_suppkey) + CAST(floor(0.24 * (max(l_suppkey) - min(l_suppkey))) AS BIGINT) AS sh
            |  FROM lineitem)
            |SELECT l_suppkey, count(*) AS n_items,
            |  round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE), 4) AS revenue
            |FROM lineitem, bounds
            |WHERE l_partkey BETWEEN pl AND ph AND l_suppkey BETWEEN sl AND sh
            |GROUP BY l_suppkey
            |ORDER BY l_suppkey""".stripMargin))

  /** Every `.parquet` file under `dir` on any Hadoop filesystem,
    * recursively: partitioned datasets keep their data under `key=value/`
    * subdirectories, so a top-level listing would size them at 0 bytes
    * and silently collapse the rewrite to one file.
    */
  private def parquetFiles(dir: String): Seq[org.apache.hadoop.fs.FileStatus] =
    Afs.filesUnder(dir).filter(_.getPath.getName.endsWith(".parquet"))

  /** Small-file compaction — the operational fix for the 100 TB
    * pipeline's dominant metadata pathology: incremental/streaming
    * ingestion leaves thousands of KB-scale files per partition, and
    * every downstream scan pays file-open + footer-read + scheduling
    * per file (a 1M-file table can spend longer listing than reading).
    *
    * Rewrites a parquet dataset into `ceil(totalBytes / targetBytes)`
    * files via `repartition(n)` — a round-robin shuffle of ONLY the
    * compacted dataset, giving uniformly sized outputs (coalesce would
    * be shuffle-free but inherits input skew and can collapse
    * parallelism upstream of it; for a maintenance job that runs off
    * the query path, uniform output wins). Returns the output file
    * count. Content-preserving by construction (same rows, layout-only)
    * — CompactionSpec asserts row-set equality and the file-count
    * bound. At cluster scale this is the nightly table-maintenance job
    * every lakehouse runs (OPTIMIZE / rewrite_data_files).
    */
  def compact(s: SparkSession, inDir: String, outDir: String,
      targetBytes: Long = 128L << 20): Int = {
    val totalBytes = parquetFiles(inDir).map(_.getLen).sum
    require(totalBytes > 0, s"no parquet data found under $inDir — refusing a blind rewrite")
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    Parquet.read(s, inDir).repartition(nOut)
      .write.mode("overwrite").parquet(outDir)
    parquetFiles(outDir).size
  }

  /** Shard expression shared by the q77 census and the shard writer:
    * `md5("shard:" || doc_id)` → first two hex nibbles → 0..255 → mod
    * nShards. A pure function of the key (seeded by the literal prefix),
    * so the assignment is reproducible across runs, layouts, engines and
    * cluster sizes — re-running the export after an upstream refresh
    * moves only the documents that actually changed, and any consumer
    * can recompute a doc's shard without a lookup table. 256 buckets mod
    * 64 is exactly uniform over the hash nibbles.
    */
  def shardOf(key: Column, nShards: Int = 64): Column =
    (conv(substring(md5(concat(lit("shard:"), key.cast("string"))), 1, 2),
      16, 10).cast("long") % nShards).as("shard")

  /** Q77 — deterministic training-shard census: the final step of every
    * pretraining-data pipeline is writing the curated corpus as N
    * stable shards, and this query IS the shard manifest — per shard:
    * document count, total chars (token proxy), an order-independent
    * id checksum, and the id range. Feeds the balance check (shard
    * skew = straggler data-loader workers) and makes an export
    * verifiable: re-running the census after a write proves the shards
    * landed complete (checksums match) without re-reading payloads.
    *
    * Plan at scale: the hash is scan-stage codegen; the census is one
    * map-side-combined aggregate exchanging ≤ nShards rows per task —
    * no corpus shuffle at any size. The companion writer
    * (`writeTrainShards`) does pay the one shuffle that co-locates each
    * shard, exactly once, at write time.
    */
  val q77: Q = Q(
    "q77_train_shards",
    (s, d) => {
      Tables.spread(Tables.documents(s, d), col("doc_id"))
        .select(col("doc_id"), col("n_chars"), shardOf(col("doc_id")))
        .groupBy("shard")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(col("doc_id")).as("id_checksum"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .orderBy("shard")
    },
    Some("""WITH s AS (
            |  SELECT doc_id, n_chars,
            |    ((strpos('0123456789abcdef', substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16 +
            |     (strpos('0123456789abcdef', substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1)) % 64 AS shard
            |  FROM documents)
            |SELECT shard, count(*) AS n_docs,
            |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
            |  CAST(sum(doc_id) AS BIGINT) AS id_checksum,
            |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
            |FROM s GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Write `df` as nShards deterministic hash shards: one directory per
    * shard (`shard=K/`), rows within each shard sorted by the shard key
    * for reproducible byte-identical re-exports. One shuffle total
    * (`repartition(nShards, shard)` — each output task owns whole
    * shards), then a partitioned write; training loaders address shards
    * by directory and stream them in key order.
    */
  def writeTrainShards(df: DataFrame, keyCol: String, outDir: String,
      nShards: Int = 64): Unit =
    df.withColumn("shard", shardOf(col(keyCol), nShards))
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col(keyCol))
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)

  val queries: Seq[Q] = Seq(q35, q36, q43, q77)
}
