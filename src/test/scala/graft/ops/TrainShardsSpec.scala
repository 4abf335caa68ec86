package graft.ops

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.functions._

/** q77's shard assignment and the companion shard writer: determinism,
  * balance, census≡layout agreement, and in-shard ordering.
  */
class TrainShardsSpec extends SparkTestBase {

  test("shard assignment is a pure function of the key and spans all 64 shards") {
    val docs = Tables.documents(spark, sfDir)
    val a = docs.select(col("doc_id"), Layout.shardOf(col("doc_id")))
    val b = docs.select(col("doc_id"), Layout.shardOf(col("doc_id")))
    // determinism: two independent evaluations agree row-for-row
    assert(a.join(b, Seq("doc_id", "shard")).count() == docs.count())
    val shards = a.select("shard").distinct().collect().map(_.getLong(0)).sorted
    assert(shards.head >= 0 && shards.last <= 63)
    assert(shards.length > 32, s"only ${shards.length} of 64 shards hit at sf0.001")
  }

  test("no shard holds more than 4x the mean (loader-balance bound)") {
    val counts = Tables.documents(spark, sfDir)
      .select(Layout.shardOf(col("doc_id")))
      .groupBy("shard").count().collect().map(_.getLong(1))
    val mean = counts.sum.toDouble / 64
    assert(counts.max <= 4 * mean,
      s"max shard ${counts.max} vs mean $mean — hash badly skewed")
  }

  test("writeTrainShards layout matches the q77 census and sorts within shards") {
    val out = tempDir("graft-shards")
    val docs = Tables.documents(spark, sfDir)
    Layout.writeTrainShards(docs, "doc_id", out, nShards = 64)

    val back = spark.read.parquet(out)
    // row conservation + per-shard census identical to the q77 manifest
    val census = back.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_checksum"))
    val manifest = Layout.q77.fn(spark, sfDir)
      .select(col("shard"), col("n_docs"), col("id_checksum"))
    assert(census.join(manifest, Seq("shard", "n_docs", "id_checksum")).count() == 64)
    assert(back.count() == docs.count())

    // one data file per shard directory (repartition owns whole shards)
    val shardDirs = new java.io.File(out).listFiles().filter(_.getName.startsWith("shard="))
    assert(shardDirs.length == 64)
    shardDirs.foreach { dir =>
      val files = dir.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"${dir.getName} has ${files.length} files")
    }

    // rows inside each shard file arrive key-sorted (reproducible export)
    import spark.implicits._
    val unsorted = back.select(col("shard"), col("doc_id"))
      .as[(Long, Long)].mapPartitions { it =>
        val rows = it.toVector
        Iterator.single(rows.groupBy(_._1).valuesIterator
          .exists(g => g.map(_._2) != g.map(_._2).sorted))
      }.collect()
    assert(!unsorted.contains(true), "a shard file is not sorted by doc_id")
  }
}
