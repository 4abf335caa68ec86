package graft.tools

import org.scalatest.funsuite.AnyFunSuite

class PlanDumpSpec extends AnyFunSuite {

  test("mask hides run-dependent ids, paths and trained literals, and sorts grouping keys") {
    val base = graft.io.Scratch.base
    val codebook = Seq.tabulate(5000)(i => f"${i * 1e-3}%.6f").mkString("[", ",", "]")
    val raw = Seq(
      "(3) HashAggregate [codegen id : 12]",
      "Keys [3]: [b#7L, sum(a#3, c#4), a#3]",
      "Arguments: hashpartitioning(a#3, 8), ENSURE_REQUIREMENTS, [plan_id=4711]",
      "Arguments: [id#9L], MapPartitionsRDD[1345] at localCheckpoint at Dedup.scala:688",
      "Arguments: graft.ops.Multimodal$$$Lambda$8203/0x00007f5765b663d0@58636149",
      "Output [1]: [transform(x#1, lambdafunction(lambda x_8#2, lambda x_8#2, false))]",
      s"Location: InMemoryFileIndex [file:$base/graft-ann/abc/v000012/lists]",
      s"Output [1]: [pq_lut(pe#5, $codebook, 256, 8) AS lut#6]",
      "Keys [2]: [k#1, j#2]",
      "(18) ShuffleQueryStage",
      "Output [1]: [s#3L]",
      "Arguments: 3",
      "(19) CollectLimit",
      "Arguments: 20").mkString("\n")
    assert(PlanDump.mask(raw) === Seq(
      "(3) HashAggregate [codegen id : N]",
      "Keys [3]: [a#N, b#NL, sum(a#N, c#N)]",
      "Arguments: hashpartitioning(a#N, 8), ENSURE_REQUIREMENTS, [plan_id=N]",
      "Arguments: [id#NL], MapPartitionsRDD[N] at localCheckpoint at Dedup.scala:N",
      "Arguments: graft.ops.Multimodal$$$Lambda",
      "Output [1]: [transform(x#N, lambdafunction(lambda x_N#N, lambda x_N#N, false))]",
      "Location: InMemoryFileIndex [file:<scratch>/graft-ann/abc/vN/lists]",
      "Output [1]: [pq_lut(pe#N, [5000 doubles], 256, 8) AS lut#N]",
      "Keys [2]: [j#N, k#N]",
      "(18) ShuffleQueryStage",
      "Output [1]: [s#NL]",
      "Arguments: N",
      "(19) CollectLimit",
      "Arguments: 20").mkString("", "\n", "\n"))
  }

  test("a distinct aggregate's group order does not reach the dump") {
    def lines(x: String, y: String, gx: Int, gy: Int): String = Seq(
      s"Arguments: [[rf#1, null, null, 0], [rf#1, $x, null, 1], [rf#1, null, $y, 2]], [rf#1, $x, $y, gid#4]",
      s"Functions [2]: [partial_count(pk#2L) FILTER (WHERE (gid#4 = $gx)), " +
        s"partial_count(sk#3L) FILTER (WHERE (gid#4 = $gy))]",
      s"Results [4]: [rf#1, $x, $y, gid#4]",
      s"Arguments: hashpartitioning(rf#1, $x, $y, gid#4, 8), ENSURE_REQUIREMENTS, [plan_id=7]"
    ).mkString("\n")
    val masked = PlanDump.mask(lines("pk#2L", "sk#3L", 1, 2))
    assert(masked === PlanDump.mask(lines("sk#3L", "pk#2L", 2, 1)))
    assert(masked.linesIterator.next() ===
      "Arguments: [[G, null, rf#N, null], [G, null, rf#N, sk#NL], [G, pk#NL, rf#N, null]], " +
        "[gid#N, pk#NL, rf#N, sk#NL]")
  }
}
