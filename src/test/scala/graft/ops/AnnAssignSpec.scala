package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The two IVF assignment strategies (r10 verdict item 2): the literal
  * argmin expression used at the bench's K=16 and the broadcast-join
  * argmin used beyond [[AnnIndex.LiteralAssignMaxK]] must agree
  * bit-for-bit, the switch must actually change the plan (no
  * thousand-literal `least(...)` ever reaches codegen), and a synthetic
  * high-k training run must complete on the join path.
  */
class AnnAssignSpec extends SparkTestBase {

  private def cents(k: Int, dim: Int): Seq[(Int, Seq[Double])] =
    (1 to k).map(c => c -> (0 until dim).map(j => math.sin(c * 31 + j * 7)))

  private def corpusDf(n: Int, dim: Int): DataFrame = {
    import spark.implicits._
    (0 until n)
      .map(i => (i.toLong, (0 until dim).map(j => math.cos(i * 13 + j * 3)), i % 5))
      .toDF("vec_id", "e", "label")
  }

  test("literal and join assignment agree bit-for-bit at K=16") {
    val cs = cents(16, 8)
    val df = corpusDf(500, 8)
    def cidMap(assigned: DataFrame): Map[Long, Int] =
      assigned.select("vec_id", "cid").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val lit = cidMap(df.withColumn("cid", AnnIndex.nearestCentroid(col("e"), cs)))
    val joined = cidMap(AnnIndex.joinAssignCids(df, cs))
    assert(lit.size == 500)
    assert(lit == joined)
  }

  test("assignCids picks the literal plan at K=16 and the join plan at k=1024") {
    // An exchange below the assignment keeps ConvertToLocalRelation from
    // folding the whole projection into a LocalTableScan — the plan pin
    // needs the assignment expressions visible, as they are over any
    // real (file-sourced) corpus.
    val df = corpusDf(64, 8).repartition(2)
    val smallPlan = AnnIndex.assignCids(df, cents(16, 8))
      .queryExecution.executedPlan.toString
    assert(smallPlan.contains("least("),
      s"expected the literal argmin at K=16:\n$smallPlan")
    assert(!smallPlan.contains("BroadcastNestedLoopJoin"))
    val big = AnnIndex.assignCids(df, cents(1024, 8))
    val bigPlan = big.queryExecution.executedPlan.toString
    assert(bigPlan.contains("BroadcastNestedLoopJoin"),
      s"expected the broadcast-join argmin at k=1024:\n$bigPlan")
    assert(!bigPlan.contains("least("),
      "a 1024-literal least(...) expression must never be planned")
    assert(big.count() == 64)
  }

  test("literal and join assignment agree on DUPLICATE vec_ids: every row survives") {
    // r11 ADVICE: the join path used to key its argmin on vec_id and
    // silently collapse duplicate ids above the k threshold, while the
    // literal path (a pure projection) preserved them. Both paths must
    // behave identically on ANY input — per-row, like routeDistributed.
    import spark.implicits._
    val dup = (0 until 12)
      .map(i => (7L, (0 until 8).map(j => math.cos(i * 13 + j * 3)), i % 5))
      .toDF("vec_id", "e", "label")
    val cs = cents(16, 8)
    def rows(df: DataFrame): Seq[(Seq[Double], Int)] =
      df.select("e", "cid").collect()
        .map(r => (r.getSeq[Double](0), r.getInt(1))).toSeq.sortBy(_._1.head)
    val lit = rows(dup.withColumn("cid", AnnIndex.nearestCentroid(col("e"), cs)))
    val joined = rows(AnnIndex.joinAssignCids(dup, cs))
    assert(joined.size == 12, s"join assignment collapsed duplicate ids: ${joined.size}")
    assert(lit == joined, "paths diverged on duplicate-vec_id input")
  }

  /** [[AnnIndex.routeDistributed]] over a collected batch, keyed by the
    * batch ordinal: (ordinal, pid, pe, cid) rows, sorted.
    */
  private def routeDistributed(probes: Seq[(Long, Seq[Double])],
      cs: Seq[(Int, Seq[Double])], np: Int): Seq[(Int, Long, Seq[Double], Int)] =
    routedPlan(probes, cs, np).select("__pord", "pid", "pe", "cid").collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1), r.getSeq[Double](2), r.getInt(3)))
      .toSeq.sortBy(t => (t._1, t._4))

  private def routedPlan(probes: Seq[(Long, Seq[Double])],
      cs: Seq[(Int, Seq[Double])], np: Int): DataFrame = {
    import spark.implicits._
    val batch = probes.zipWithIndex
      .map { case ((pid, pe), ord) => (pid, pe, ord.toLong) }
      .toDF("pid", "pe", "__pord")
    AnnIndex.routeDistributed(spark, batch, cs, np)
  }

  /** The driver reference ([[AnnIndex.routeDriver]]) as (ordinal, cid). */
  private def routeDriver(probes: Seq[(Long, Seq[Double])],
      cs: Seq[(Int, Seq[Double])], np: Int): Seq[(Int, Int)] =
    AnnIndex.routeDriver(probes.map(_._2), cs, np).sorted

  private def ordCids(r: Seq[(Int, Long, Seq[Double], Int)]): Seq[(Int, Int)] =
    r.map(t => (t._1, t._4)).sorted

  test("driver and distributed probe routing agree at K=16 and at k=1024") {
    val probes: Seq[(Long, Seq[Double])] = (0 until 40)
      .map(i => (i.toLong, (0 until 8).map(j => math.cos(i * 13 + j * 3)): Seq[Double]))
    for (k <- Seq(16, 1024); np <- Seq(1, 6)) {
      val cs = cents(k, 8)
      val drv = routeDriver(probes, cs, np)
      val jn = routeDistributed(probes, cs, np)
      assert(drv.size == probes.size * np && jn.size == probes.size * np,
        s"routing under-filled at k=$k nprobe=$np")
      assert(drv == ordCids(jn),
        s"driver and distributed routing diverged at k=$k nprobe=$np")
      // The distributed router must also carry the probe's own
      // embedding through, keyed to the right ordinal.
      assert(jn.forall { case (ord, pid, pe, _) =>
        probes(ord) == ((pid, pe)) })
    }
  }

  test("routeDistributed uses a literal plan at K=16 and an aggregate at k=1024") {
    val probes: Seq[(Long, Seq[Double])] = (0 until 5)
      .map(i => (i.toLong, (0 until 8).map(j => math.cos(i * 13 + j * 3)): Seq[Double]))
    // The threshold itself: same dispatch rule as assignment, so §9's
    // serve-routing posture holds at high k without a thousand-literal
    // routing expression — and both sides of it match the reference.
    val small = routedPlan(probes, cents(16, 8), 6).queryExecution.executedPlan.toString
    assert(!small.contains("BroadcastNestedLoopJoin") && !small.contains("Aggregate"),
      s"expected the literal routing expression at K=16:\n$small")
    val big = routedPlan(probes, cents(1024, 8), 6).queryExecution.executedPlan.toString
    assert(big.contains("BroadcastNestedLoopJoin") && big.contains("Aggregate"),
      s"expected the broadcast-table aggregate routing at k=1024:\n$big")
    for (k <- Seq(16, 1024))
      assert(ordCids(routeDistributed(probes, cents(k, 8), 6))
        == routeDriver(probes, cents(k, 8), 6), s"routing diverged at k=$k")
  }

  test("join routing handles duplicate probe ids per-row, like the driver path") {
    // Six rows ALL sharing pid 7, each with a different vector: routing
    // must emit nprobe lists for EVERY row (an id-keyed window would
    // merge their rankings and emit nprobe total for the group).
    val dups: Seq[(Long, Seq[Double])] = (0 until 6)
      .map(i => (7L, (0 until 8).map(j => math.cos(i * 13 + j * 3)): Seq[Double]))
    val cs = cents(300, 8)
    val drv = routeDriver(dups, cs, 6)
    val jn = routeDistributed(dups, cs, 6)
    assert(jn.size == dups.size * 6, s"join routing emitted ${jn.size} rows")
    def perOrdinal(r: Seq[(Int, Int)]): Map[Int, Set[Int]] =
      r.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(perOrdinal(drv) == perOrdinal(ordCids(jn)),
      "duplicate-pid rows routed differently between the paths")
  }

  test("synthetic k=1024 Lloyd training completes on the join path") {
    val emb = corpusDf(2048, 8)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val trained = AnnIndex.trainIvf(emb, 1024, 1)
      assert(trained.size == 1024)
      assert(trained.map(_._1).distinct.size == 1024)
      assert(trained.forall(_._2.length == 8))
    } finally emb.unpersist(): Unit
  }
}
