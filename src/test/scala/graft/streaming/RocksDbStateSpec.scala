package graft.streaming

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The 100 TB streaming-state claim, tested instead of asserted (r7
  * verdict item 5): SURVEY §9 sizes sessionization state at 10^8 active
  * users — RocksDB-provider territory, where per-key state lives off-heap
  * / on-disk instead of in the HDFS-backed in-memory map. This suite
  * replays the flatMapGroupsWithState sessionizer under
  * `RocksDBStateStoreProvider` on an isolated session and asserts the
  * streaming result still converges to the batch reference — i.e. the
  * state backend is a swappable deployment knob, not a semantics change.
  */
class RocksDbStateSpec extends SparkTestBase {
  import StatefulOps._

  test("sessionization under RocksDBStateStoreProvider == batch reference") {
    // Dedicated session: the provider class is a session conf read at
    // query start; isolating it keeps the rest of the suite on the
    // default provider (same pattern as the encrypted streaming sink).
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s.implicits._

    def eventsDs(ss: org.apache.spark.sql.SparkSession): Dataset[Event] = {
      import ss.implicits._
      Tables.events(ss, sfDir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .as[Event]
    }

    val dir = tempDir("graft-rocksdb-src-")
    eventsDs(s).toDF().write.mode("overwrite").parquet(dir)
    val stream = s.readStream
      .schema(eventsDs(s).schema)
      .parquet(dir)
      .withWatermark("ts", "0 seconds")
      .as[Event]
    val q = closedSessions(stream).writeStream
      .format("memory").queryName("t_rocks_closed")
      .outputMode("append")
      .option("checkpointLocation",
        tempDir("graft-rocksdb-ckpt-"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    // The state store provider actually engaged must be RocksDB — assert
    // via the query's lastProgress state operator custom metrics (the
    // RocksDB provider reports rocksdb* metrics; the default provider
    // reports none of them).
    val progress = q.lastProgress
    val metrics = progress.stateOperators.flatMap(so =>
      scala.jdk.CollectionConverters.MapHasAsScala(so.customMetrics).asScala.keys)
    assert(metrics.exists(_.toLowerCase.contains("rocksdb")),
      s"RocksDB provider not engaged; state metrics: ${metrics.mkString(", ")}")

    val streaming = s.table("t_rocks_closed").as[ClosedSession].collect()
      .map(c => (c.user_id, c.session_start.getTime, c.session_end.getTime,
        c.n_events, math.rint(c.total_value * 1e6)))
      .toSet

    val batchAll = allSessionsBatch(s, eventsDs(s)).collect()
    val lastPerUser = batchAll.groupBy(_.user_id)
      .view.mapValues(_.maxBy(_.session_start.getTime)).toMap
    val batchClosed = batchAll
      .filterNot(c => lastPerUser(c.user_id) == c)
      .map(c => (c.user_id, c.session_start.getTime, c.session_end.getTime,
        c.n_events, math.rint(c.total_value * 1e6)))
      .toSet

    assert(batchClosed.subsetOf(streaming),
      s"missing sessions under RocksDB: ${(batchClosed -- streaming).take(3)}")
    val extras = streaming -- batchClosed
    val lastSet = lastPerUser.values
      .map(c => (c.user_id, c.session_start.getTime, c.session_end.getTime,
        c.n_events, math.rint(c.total_value * 1e6))).toSet
    assert(extras.subsetOf(lastSet),
      s"invented sessions under RocksDB: ${extras.take(3)}")
  }

  /** r8 verdict item 5: the failure mode a 10^8-user sessionizer
    * actually meets — the job dies mid-stream and is resubmitted from
    * the checkpoint with DIFFERENT cluster sizing
    * (spark.sql.shuffle.partitions changed). Spark pins the stateful
    * operator's partition count in the offset log at first start and
    * ignores the new conf for state layout — the restart must (a)
    * recover every open session from RocksDB state, (b) converge to the
    * batch reference, and (c) keep the ORIGINAL state partitioning (a
    * silently re-laid-out state store would orphan keys). This spec
    * pins all three.
    */
  test("sessionizer recovers across kill/restart with shuffle.partitions changed") {
    import org.apache.spark.sql.SparkSession
    val origParts = "4"
    val rescaleParts = "7"
    val srcDir = tempDir("graft-rocks-restart-src-")
    val sinkDir = tempDir("graft-rocks-restart-sink-")
    val ckptDir = tempDir("graft-rocks-restart-ckpt-")

    def eventsDs(ss: SparkSession): Dataset[Event] = {
      import ss.implicits._
      Tables.events(ss, sfDir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .as[Event]
    }
    // Time-based split (NOT key parity): the restart resumes with run
    // 1's persisted watermark, so the second half must be event-time
    // later or its rows would be dropped as late. Sessions straddling
    // the cut are exactly the state the restart must recover. NULL-ts
    // rows ride in half 1 (they can't be late).
    val ev = eventsDs(spark)
    val cut = ev.selectExpr("percentile_approx(unix_micros(ts), 0.5)")
      .collect()(0).getLong(0)
    ev.filter(col("ts").isNull || unix_micros(col("ts")) <= cut)
      .toDF().write.parquet(s"$srcDir/p1")

    def runOnce(parts: String): Unit = {
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", parts)
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      import s.implicits._
      val stream = s.readStream
        .schema(eventsDs(s).schema)
        .parquet(s"$srcDir/*")
        .withWatermark("ts", "0 seconds")
        .as[Event]
      val q = closedSessions(stream).writeStream
        .format("parquet")
        .option("path", sinkDir)
        .option("checkpointLocation", ckptDir)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val metrics = Option(q.lastProgress).toSeq.flatMap(_.stateOperators).flatMap(so =>
        scala.jdk.CollectionConverters.MapHasAsScala(so.customMetrics).asScala.keys)
      assert(metrics.exists(_.toLowerCase.contains("rocksdb")),
        s"RocksDB provider not engaged (parts=$parts); metrics: ${metrics.mkString(", ")}")
    }

    runOnce(origParts) // "crash": the query object dies; state survives in ckpt
    ev.filter(col("ts").isNotNull && unix_micros(col("ts")) > cut)
      .toDF().write.parquet(s"$srcDir/p2")
    runOnce(rescaleParts) // resubmit, differently sized

    // (c) the state layout kept run 1's partition count: the physical
    // state store directories under state/0/ are the ground truth.
    val statePartDirs = Option(new java.io.File(s"$ckptDir/state/0").listFiles())
      .getOrElse(Array.empty).filter(_.isDirectory)
      .map(_.getName).filter(_.forall(_.isDigit)).map(_.toInt).sorted
    assert(statePartDirs.toSeq == (0 until origParts.toInt),
      s"state store re-laid-out across restart: partition dirs ${statePartDirs.mkString(",")}")

    // (a)+(b): the recovered run converges to the batch reference under
    // the same closed-vs-final-session accounting as the single-run test.
    val s2 = spark.newSession()
    import s2.implicits._
    val streaming = s2.read.parquet(sinkDir).as[ClosedSession].collect()
      .map(c => (c.user_id, c.session_start.getTime, c.session_end.getTime,
        c.n_events, math.rint(c.total_value * 1e6)))
      .toSet
    val batchAll = allSessionsBatch(s2, eventsDs(s2)).collect()
    val lastPerUser = batchAll.groupBy(_.user_id)
      .view.mapValues(_.maxBy(_.session_start.getTime)).toMap
    val batchClosed = batchAll
      .filterNot(c => lastPerUser(c.user_id) == c)
      .map(c => (c.user_id, c.session_start.getTime, c.session_end.getTime,
        c.n_events, math.rint(c.total_value * 1e6)))
      .toSet
    assert(batchClosed.subsetOf(streaming),
      s"sessions lost across kill/restart: ${(batchClosed -- streaming).take(3)}")
    val lastSet = lastPerUser.values
      .map(c => (c.user_id, c.session_start.getTime, c.session_end.getTime,
        c.n_events, math.rint(c.total_value * 1e6))).toSet
    assert((streaming -- batchClosed).subsetOf(lastSet),
      s"invented sessions across kill/restart: ${(streaming -- batchClosed -- lastSet).take(3)}")
  }
}
