package graft.functions

import graft.SparkTestBase
import graft.ops.Similarity
import org.apache.spark.sql.functions._

/** The custom expression must be bit-identical to the built-in HOF
  * formulation (same IEEE accumulation order) and behave at the edges.
  */
class CosineSimilaritySpec extends SparkTestBase {

  test("cosine_sim equals HOF formulation bit-for-bit on the corpus") {
    val emb = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("e"))
    val a = emb.as("a")
    val b = emb.as("b")
    val both = a.join(b, col("a.vec_id") < col("b.vec_id"))
      .limit(2000)
      .select(
        GraftFunctions.cosineSim(col("a.e"), col("b.e")).as("expr_cos"),
        (Similarity.dot(col("a.e"), col("b.e")) /
          (Similarity.l2norm(col("a.e")) * Similarity.l2norm(col("b.e")))).as("hof_cos"))
    val mismatches = both.filter(col("expr_cos") =!= col("hof_cos")).count()
    assert(mismatches == 0, s"$mismatches rows differ between expr and HOF")
  }

  test("edge cases: zero vector, nulls, identical vectors") {
    import spark.implicits._
    val df = Seq(
      (Seq(1.0, 2.0), Seq(1.0, 2.0)),   // identical -> 1.0
      (Seq(0.0, 0.0), Seq(1.0, 2.0)),   // zero norm -> 0.0
      (Seq(1.0, 0.0), Seq(0.0, 1.0))    // orthogonal -> 0.0
    ).toDF("a", "b")
    val got = df.select(round(GraftFunctions.cosineSim(col("a"), col("b")), 10))
      .collect().map(_.getDouble(0)).toSeq
    assert(got == Seq(1.0, 0.0, 0.0))
    val withNull = df.limit(1)
      .select(GraftFunctions.cosineSim(lit(null).cast("array<double>"), col("b")))
      .collect()(0)
    assert(withNull.isNullAt(0), "null input must yield null")
  }

  test("expression participates in codegen (no fallback in plan)") {
    val emb = graft.Tables.embeddings(spark, sfDir)
      .select(transform(col("embedding"), _.cast("double")).as("e"))
    val plan = emb.select(GraftFunctions.cosineSim(col("e"), col("e")).as("c"))
      .queryExecution.executedPlan.toString
    // A `*(n)` prefix on the Project containing cosine_sim marks it as
    // inside a WholeStageCodegen stage (codegen fallback would print an
    // unstarred Project).
    assert("""\*\(\d+\) Project \[cosine_sim""".r.findFirstIn(plan).isDefined,
      s"cosine_sim project not codegen'd: $plan")
  }
}
