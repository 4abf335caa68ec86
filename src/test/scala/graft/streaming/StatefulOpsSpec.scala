package graft.streaming

import java.sql.Timestamp

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** flatMapGroupsWithState sessionization: streaming closed-sessions must
  * match the batch reference for every session the watermark has passed.
  */
class StatefulOpsSpec extends SparkTestBase {
  import StatefulOps._

  private def eventsDs(): Dataset[Event] = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[Event]
  }

  test("streaming closed sessions == batch sessions (except open tails)") {
    import spark.implicits._
    val dir = tempDir("graft-state-")
    eventsDs().toDF().write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(eventsDs().schema)
      .parquet(dir)
      .withWatermark("ts", "0 seconds")
      .as[Event]
    val q = closedSessions(stream).writeStream
      .format("memory").queryName("t_closed")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streaming = spark.table("t_closed").as[ClosedSession].collect()
      .map(c => (c.user_id, c.session_start.getTime, c.session_end.getTime,
        c.n_events, math.rint(c.total_value * 1e6)))
      .toSet

    val batchAll = allSessionsBatch(spark, eventsDs()).collect()
    // The final (open) session per user never times out inside the replay;
    // everything else must match exactly.
    val lastPerUser = batchAll.groupBy(_.user_id)
      .view.mapValues(_.maxBy(_.session_start.getTime)).toMap
    val batchClosed = batchAll
      .filterNot(c => lastPerUser(c.user_id) == c)
      .map(c => (c.user_id, c.session_start.getTime, c.session_end.getTime,
        c.n_events, math.rint(c.total_value * 1e6)))
      .toSet

    assert(batchClosed.subsetOf(streaming),
      s"missing sessions: ${(batchClosed -- streaming).take(3)}")
    // Streaming may additionally close a user's last session if the global
    // watermark passed it; it must never invent other sessions.
    val extras = streaming -- batchClosed
    val lastSet = lastPerUser.values
      .map(c => (c.user_id, c.session_start.getTime, c.session_end.getTime,
        c.n_events, math.rint(c.total_value * 1e6))).toSet
    assert(extras.subsetOf(lastSet), s"invented sessions: ${extras.take(3)}")
  }

  test("batch sessionizer agrees with SQL gaps-and-islands count") {
    val batch = allSessionsBatch(spark, eventsDs())
    val perUser = batch.groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val oracle = graft.ops.StreamingOps.sessionStats(
      graft.ops.StreamingOps.sessionCounts(Tables.events(spark, sfDir)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perUser == oracle)
  }
}
