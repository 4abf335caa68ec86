package graft

import org.apache.spark.sql.functions._

class GraftFacadeSpec extends SparkTestBase {

  test("init registers views queryable via plain Spark SQL + custom functions") {
    Graft.init(spark, sfDir)
    val n = spark.sql(
      "SELECT count(*) AS n FROM lineitem JOIN orders ON l_orderkey = o_orderkey")
      .collect()(0).getLong(0)
    assert(n > 0)
    // custom function callable from SQL
    val c = spark.sql(
      """SELECT round(cosine_sim(CAST(embedding AS array<double>),
        |                        CAST(embedding AS array<double>)), 6) AS c
        |FROM embeddings LIMIT 1""".stripMargin)
      .collect()(0).getDouble(0)
    assert(c == 1.0)
  }

  test("every registered function is SQL-callable and injected by the extension") {
    // one smoke call per function through the SQL surface
    val sqls = Seq(
      "SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d))",
      "SELECT dot_product(array(2.0d, 3.0d), array(4.0d, 5.0d))",
      "SELECT simhash64(array('a', 'b'))",
      "SELECT minhash_signature(array('a', 'b'), 4)",
      "SELECT minhash_bands(array('a', 'b'), 32, 8)",
      "SELECT ngram_shingles(array('a', 'b', 'c', 'd'), 3)",
      "SELECT intersect_count(array('a', 'b'), array('b', 'c'))")
    sqls.foreach(q => assert(spark.sql(q).collect().length == 1, q))
  }

  test("driver contract: entry() returns segment revenue rows") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.length > 0, "driver smoke-checks rows > 0")
    assert(rows.forall(_.getDouble(1) > 0), "revenue must be positive")
    val cols = SparkEntry.entry(spark).columns.toSeq
    assert(cols == Seq("c_mktsegment", "revenue", "n_orders"))
  }

  test("query lookup: known name resolves, unknown name lists options") {
    assert(Graft.query("q01_filter_project")(spark, sfDir).count() > 0)
    val e = intercept[NoSuchElementException](Graft.query("nope"))
    assert(e.getMessage.contains("q01_filter_project"))
  }
}
