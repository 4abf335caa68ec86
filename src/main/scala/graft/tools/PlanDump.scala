package graft.tools

import java.nio.file.{Files, Paths}
import java.util.regex.{Matcher, Pattern}

import org.apache.spark.sql.execution.FormattedMode

/** Plan dumper: `runMain graft.tools.PlanDump <outDir> <sfDir> <query>
  * [query ...]` writes `<outDir>/<query>.txt` with each query's
  * `.explain("formatted")` output in its [[mask]]ed form, one
  * JVM/session for the whole list, on the bench's local session (so the
  * dumped plans carry the bench's shuffle-partition count and AQE
  * floors). Two runs of one commit write byte-identical files, so
  * `diff -r` of two dumps shows plan changes only.
  *
  * NOTE: queries with imperative bodies (index builds, the CC fixpoint
  * loops) EXECUTE their driver loops while the plan is constructed —
  * the dump still only prints the final returned frame's plan; the
  * loop evidence for those lives in the bench's job-shape metrics.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val sfDir = args(1)
    val names = args.drop(2).toSeq
    val spark = graft.Graft.localSession("8")
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val plan = graft.SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(FormattedMode)
      Files.write(Paths.get(s"$outDir/$name.txt"), mask(plan).getBytes("UTF-8"))
      println(s"[plandump] wrote $outDir/$name.txt")
    }
    spark.stop()
  }

  /** (pattern, replacement) for what varies between runs: expression,
    * plan, RDD and codegen-stage ids, source lines, lambda names, the
    * scratch root and ANN version dirs.
    */
  private val Masks = Seq(
    """#\d+""" -> "#N",
    """(plan_id=|RDD\[|\.scala:|\[codegen id : |\*\(|lambda \w+?_)\d+""" -> "$1N",
    """Lambda(\$\d+)?/0x\p{XDigit}+@\p{XDigit}+""" -> "Lambda",
    (Pattern.quote(graft.io.Scratch.base) + "/") -> "<scratch>/",
    """/v\d+(?=[/\s,\]]|$)""" -> "/vN"
  ).map { case (p, r) => (p.r, r) }
  // A character class, not a repeated group: java.util.regex recurses
  // once per group repetition, and a codebook literal has thousands.
  private val NumArray = """\[[-0-9.E,]+\]""".r
  private val Num = """-?\d+\.\d+(E-?\d+)?""".r
  private val Node = """\(\d+\) (\w+).*""".r
  private val Gid = """(gid#N = )\d+""".r
  private val AttrList = """(\w[\w ]* \[\d+\]: )\[(.*)\]""".r
  private val Expand = """Arguments: \[(\[.*\])\], \[(.*)\]""".r
  private val Hash = """hashpartitioning\(([^()]*), (\d+)\)""".r

  /** `plan` with [[Masks]] applied, literal double arrays (trained
    * centroids and codebooks, whose last digits vary with summation
    * order) and AQE query-stage ids (independent stages finish in either
    * order) masked, and each `Keys` list sorted. A distinct aggregate's
    * rewrite numbers its groups (`gid`) and orders their columns by
    * expression-id hash: on its lines the group numbers are masked and
    * every list is sorted, an `Expand`'s projections along with its
    * output columns.
    */
  def mask(plan: String): String = {
    var node = ""
    plan.linesIterator.map { line =>
      node = line match { case Node(n) => n; case _ => node }
      val l0 = Masks.foldLeft(line) { case (l, (p, r)) => p.replaceAllIn(l, r) }
      val l = Gid.replaceAllIn(NumArray.replaceAllIn(l0, { m =>
        val xs = m.matched.drop(1).dropRight(1).split(',')
        Matcher.quoteReplacement(
          if (xs.length > 1 && xs.forall(Num.matches)) s"[${xs.length} doubles]" else m.matched)
      }), "$1G")
      val groups = l.contains("gid#N")
      l match {
        case _ if node.endsWith("QueryStage") && l.matches("Arguments: \\d+") => "Arguments: N"
        case Expand(projs, out) if out.contains("gid#N") =>
          val cols = split(out)
          val order = cols.indices.sortBy(cols)
          val gid = cols.indexWhere(_.startsWith("gid#"))
          val rows = split(projs).map(p =>
            order.map(split(p.drop(1).dropRight(1)).updated(gid, "G")).mkString("[", ", ", "]"))
          s"Arguments: ${rows.sorted.mkString("[", ", ", "]")}, ${sorted(out)}"
        case AttrList(head, xs) if groups || head.startsWith("Keys ") => head + sorted(xs)
        case _ if groups => Hash.replaceAllIn(l, m => Matcher.quoteReplacement(
          s"hashpartitioning(${split(m.group(1)).sorted.mkString(", ")}, ${m.group(2)})"))
        case _ => l
      }
    }.mkString("", "\n", "\n")
  }

  private def sorted(xs: String): String = split(xs).sorted.mkString("[", ", ", "]")

  /** `s` split at the commas outside any bracket or parenthesis. */
  private def split(s: String): Seq[String] = {
    var depth = 0
    val cuts = s.indices.filter { i =>
      if ("([".contains(s(i))) depth += 1 else if (")]".contains(s(i))) depth -= 1
      s(i) == ',' && depth == 0
    }
    (-1 +: cuts :+ s.length).sliding(2).map(c => s.substring(c(0) + 1, c(1)).trim).toSeq
  }
}
