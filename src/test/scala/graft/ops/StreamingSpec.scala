package graft.ops

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming batch-equivalence (SURVEY.md §5): replay the
  * events table as a file stream with Trigger.AvailableNow and assert each
  * streaming windowed aggregation equals its batch counterpart.
  */
class StreamingSpec extends SparkTestBase {

  /** events.parquet copied into its own directory (a file-stream source
    * reads whole directories), re-encoded to µs timestamps first so the
    * stream source needs no nanos handling.
    */
  private lazy val eventsDir: String = {
    val dir = tempDir("graft-stream-")
    Tables.events(spark, sfDir).write.mode("overwrite").parquet(dir)
    dir
  }

  private def streamEvents(): DataFrame =
    spark.readStream
      .schema(Tables.events(spark, sfDir).schema)
      .parquet(eventsDir)

  private def runToBatch(stream: DataFrame, name: String): DataFrame = {
    val q = stream.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
  }

  private def canon(df: DataFrame): Set[Seq[Any]] =
    df.collect().toIndexedSeq.map(_.toSeq).toSet

  test("tumbling window: streaming equals batch") {
    val streaming = runToBatch(
      StreamingOps.tumblingCounts(streamEvents().withWatermark("ts", "2 hours")),
      "t_tumbling")
    val batch = StreamingOps.tumblingCounts(Tables.events(spark, sfDir))
    assert(canon(streaming) == canon(batch))
  }

  test("session window: streaming equals batch") {
    // Streaming runs the one legal stateful agg (session counts); the
    // per-user rollup is the batch finisher over the sink table.
    val sessions = runToBatch(
      StreamingOps.sessionCounts(streamEvents().withWatermark("ts", "2 hours")),
      "t_session")
    val streaming = StreamingOps.sessionStats(sessions)
    val batch = StreamingOps.sessionStats(
      StreamingOps.sessionCounts(Tables.events(spark, sfDir)))
    assert(canon(streaming) == canon(batch))
  }

  test("stream-stream interval join: streaming equals batch (q07 semantics)") {
    // Two watermarked streams over the same event log, joined on user
    // with a bounded time range — the streaming form of q07's interval
    // join. Inner join + append mode; the time bound is what lets the
    // engine age out join state at the watermark.
    // Shared definition with the registered q55 (whose batch values the
    // driver oracle-checks): this test proves the SAME join definition is
    // batch≡streaming under watermarks.
    val (sa, sb) = StreamingOps.intervalSides(streamEvents())
    val q = StreamingOps.intervalJoin(
        sa.withWatermark("tsa", "2 hours"),
        sb.withWatermark("tsb", "2 hours"))
      .writeStream.format("memory").queryName("t_ssjoin")
      .outputMode("append").trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val (ba, bb) = StreamingOps.intervalSides(Tables.events(spark, sfDir))
    val want = StreamingOps.intervalJoin(ba, bb).count()
    assert(want > 0, "interval join should produce pairs")
    assert(spark.table("t_ssjoin").count() == want)
  }

  test("stream-static enrichment join: streaming equals batch (q62 semantics)") {
    // The event stream LEFT-joined to the static customer dim, then the
    // hourly per-segment aggregate — same definition the registered q62
    // runs in batch (driver oracle-checks its values); this proves the
    // definition is batch≡streaming under a watermark. Stream-static
    // joins keep no join state: the static side is re-read per
    // microbatch, so only the windowed agg needs the watermark.
    val dim = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val streaming = runToBatch(
      StreamingOps.enrichedSegmentCounts(
        streamEvents().withWatermark("ts", "2 hours"), dim),
      "t_enrich")
    val batch = StreamingOps.enrichedSegmentCounts(
      Tables.events(spark, sfDir), dim)
    assert(batch.count() > 0, "enrichment should produce windows")
    assert(canon(streaming) == canon(batch))
  }

  test("checkpointed file sink is exactly-once across a restart") {
    // The production contract behind every streaming pipeline here: a
    // parquet sink + checkpoint resumes after a stop with no loss and no
    // duplicates. Run half the input, stop, add the rest, restart from
    // the same checkpoint, and compare the sink against the batch result.
    val srcDir = tempDir("graft-ckpt-src-")
    val sinkDir = tempDir("graft-ckpt-sink-")
    val ckptDir = tempDir("graft-ckpt-state-")
    val ev = Tables.events(spark, sfDir)
    val half1 = ev.filter(pmod(col("event_id"), lit(2)) === 0)
    val half2 = ev.filter(pmod(col("event_id"), lit(2)) === 1)
    half1.write.parquet(s"$srcDir/p1")

    def runOnce(): Unit = {
      val q = spark.readStream
        .schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$srcDir/*")
        .select(col("event_id"), col("user_id"), col("event_type"))
        .writeStream
        .format("parquet")
        .option("path", sinkDir)
        .option("checkpointLocation", ckptDir)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce()                      // processes half1, commits offsets
    val afterFirst = spark.read.parquet(sinkDir).count()
    assert(afterFirst == half1.count(), "first run must sink exactly half1")
    half2.write.parquet(s"$srcDir/p2")
    runOnce()                      // resumes from checkpoint, adds half2 only
    val sunk = spark.read.parquet(sinkDir)
    assert(sunk.count() == ev.count(), "restart must add half2 exactly once")
    assert(sunk.select("event_id").distinct().count() == ev.count(),
      "no duplicated event_ids across the restart")
  }

  test("encrypted streaming sink: checkpointed parquet is PME-encrypted and privilege-gated") {
    import graft.crypto.{EncryptionPolicy, PrivilegeLevel}
    import graft.io.EncryptedParquet
    import graft.kms.TestKmsServer
    val kms = new TestKmsServer().start()
    try {
      val base = tempDir("graft-enc-stream-")
      val sinkDir = s"$base/sink"
      val ckptDir = s"$base/ckpt"
      val ev = Tables.events(spark, sfDir)
        .select(col("event_id"), col("user_id"), col("event_type"))
      val policy = EncryptionPolicy(columnKeys = Map(
        PrivilegeLevel.Confidential -> Seq("event_type")))
      // The stream is built on the shared session itself: the file
      // stream sink reads its write-job Hadoop conf from SESSION state,
      // and withEncryptedStream binds the policy on a scoped clone, so
      // the caller's conf is the same before, during and after the run.
      val before = spark.conf.getAll
      val stream = spark.readStream
        .schema(Tables.events(spark, sfDir).schema)
        .parquet(eventsDir)
        .select(col("event_id"), col("user_id"), col("event_type"))
      EncryptedParquet.withEncryptedStream(stream, sinkDir, ckptDir,
          policy, kms.url, zstdLevel = 3) { w =>
        assert(spark.conf.getAll == before, "the binding reached the caller's session")
        w.trigger(Trigger.AvailableNow()).start().awaitTermination()
        assert(spark.conf.getAll == before, "the stream changed the caller's session")
      }
      assert(spark.conf.getAll == before, "the caller's session changed after the stream")
      // Privileged read returns exactly the batch content (exactly-once
      // through the checkpointed sink, decrypted through the KMS).
      val got = EncryptedParquet.read(spark, sinkDir, kms.url, Some("CONFIDENTIAL"))
      assert(got.collect().map(_.toSeq).toSet == ev.collect().map(_.toSeq).toSet,
        "encrypted streaming sink must reproduce the batch rows")
      // The files are genuinely encrypted: the protected column is
      // unreadable without a sufficient token...
      intercept[Throwable] {
        EncryptedParquet.read(spark, sinkDir, kms.url, None)
          .select("event_type").collect()
      }
      // ...while plaintext columns stay readable under the plaintext
      // footer, preserving normal query behavior.
      assert(EncryptedParquet.read(spark, sinkDir, kms.url, None)
        .select("event_id").count() == ev.count())
    } finally kms.stop()
  }

  test("watermarked dedup drops exact duplicate events") {
    val dupDir = tempDir("graft-stream-dup-")
    val ev = Tables.events(spark, sfDir)
    ev.union(ev.limit(50)).write.mode("overwrite").parquet(dupDir)
    val stream = spark.readStream.schema(ev.schema).parquet(dupDir)
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy()
      .agg(count(lit(1)).as("n"))
    val got = runToBatch(stream, "t_dedup").collect()(0).getLong(0)
    assert(got == ev.count(), "duplicates must be dropped within watermark")
  }
}
