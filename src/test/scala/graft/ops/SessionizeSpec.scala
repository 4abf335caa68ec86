package graft.ops

import graft.{Canon, SparkTestBase, Tables}
import graft.streaming.StatefulOps
import org.apache.spark.sql.functions._

/** q69's declarative (window-function) sessionization must produce exactly
  * the sessions of the imperative batch sessionizer (StatefulOps), which
  * is itself pinned to the streaming flatMapGroupsWithState definition by
  * StatefulOpsSpec — closing the triangle declarative ≡ batch ≡ streaming.
  */
class SessionizeSpec extends SparkTestBase {

  test("q69 declarative sessionization == imperative batch sessionizer") {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[StatefulOps.Event]
    val batch = StatefulOps.allSessionsBatch(spark, ev).toDF()
      .select(col("user_id"),
        Canon.fmtTs(col("session_start")).as("session_start"),
        Canon.fmtTs(col("session_end")).as("session_end"),
        col("n_events"), col("total_value"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getString(2), r.getLong(3), r.getDouble(4)))
      .toMap

    val decl = StreamingOps.q69.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(2)) ->
        (r.getString(3), r.getLong(4), r.getDouble(5)))
      .toMap

    assert(decl.size == batch.size,
      s"session counts differ: declarative ${decl.size} vs batch ${batch.size}")
    decl.foreach { case (k, (end, n, total)) =>
      val (bEnd, bN, bTotal) = batch.getOrElse(k, fail(s"session $k missing from batch"))
      assert(end == bEnd && n == bN, s"session $k differs: ($end,$n) vs ($bEnd,$bN)")
      // q69 sums decimal-exact then rounds; the imperative sessionizer
      // accumulates doubles in event order — equal to within rounding.
      assert(math.abs(total - bTotal) < 1e-3, s"session $k value: $total vs $bTotal")
    }
  }

  test("session gaps respect the 30-minute boundary exactly") {
    // Crafted: events at 0, 29:59.999999, then +30:00 exactly → the third
    // event starts a NEW session (gap >= 30 min, the half-open contract).
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(us: Long) = new java.sql.Timestamp(base.getTime + us / 1000) // ms precision is enough here
    val ev = Seq(
      (1L, at(0L), 7L, "e", 1.0),
      (2L, at(1799999000L), 7L, "e", 1.0), // 29:59.999 after the first
      (3L, at(1799999000L + 1800000000L), 7L, "e", 1.0) // exactly +30:00
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val dir = tempDir("graft-sess-")
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    // reuse the other tables' dir layout: q69 only reads events
    val out = StreamingOps.q69.fn(spark, dir).collect()
    assert(out.length == 2, s"expected 2 sessions, got ${out.toSeq}")
    assert(out.map(_.getLong(4)).toSeq == Seq(2L, 1L))
  }
}
