package graft.tools

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkTestBase

/** The bench's diagnostic metric lines are machine-parsed from the driver
  * artifact — a malformed line silently costs the round its measurements.
  * These specs run both emitters for real and require the output to be
  * valid JSON with the expected keys.
  */
class DiagJsonSpec extends SparkTestBase {

  private val mapper = new ObjectMapper()

  test("CryptoMeasure emits parseable JSON with the §B cells") {
    val line = CryptoMeasure.run(spark, sfDir)
    val node = mapper.readTree(line)
    assert(node.get("metric").asText() == "crypto")
    for (k <- Seq("nation_size_ratio", "lineitem_size_ratio", "write_wrap_calls",
        "read_unwrap_calls_restricted", "read_unwrap_calls_tokenless_plaintext_col",
        "read_sec_gcm", "read_sec_ctr", "ctr_vs_gcm"))
      assert(node.has(k), s"missing key $k in: $line")
    // The GCM-vs-CTR cell must carry real timings, not zeros.
    assert(node.get("read_sec_gcm").asDouble() > 0.0, line)
    assert(node.get("read_sec_ctr").asDouble() > 0.0, line)
    // One KMS call per KEK, never per DEK (double wrapping).
    assert(node.get("write_wrap_calls").asInt() == 3, line)
    assert(node.get("read_unwrap_calls_restricted").asInt() == 3, line)
    assert(node.get("read_unwrap_calls_tokenless_plaintext_col").asInt() == 1, line)
    assert(node.get("lineitem_size_ratio").asDouble() < 1.2, line)
    // Rotation asymmetry cells (r13 ADVICE: the rewrite number includes
    // its decrypt-verify — the verify portion must be split out so the
    // in-place comparison is like-for-like).
    for (k <- Seq("rotate_inplace_sec", "rotate_rewrite_sec",
        "rotate_rewrite_verify_sec", "rewrite_vs_inplace",
        "rewrite_vs_inplace_ex_verify"))
      assert(node.has(k), s"missing key $k in: $line")
    assert(node.get("rotate_rewrite_verify_sec").asDouble() <
      node.get("rotate_rewrite_sec").asDouble(),
      s"verify portion exceeds the whole rewrite: $line")
    assert(node.get("rewrite_vs_inplace_ex_verify").asDouble() <=
      node.get("rewrite_vs_inplace").asDouble(), line)
  }

  test("annRecall emits parseable JSON with a measured recall per approximate path") {
    val line = ScaleDiag.annRecall(spark, sfDir)
    val node = mapper.readTree(line)
    assert(node.get("metric").asText() == "ann_recall")
    for (k <- Seq("q23c_lsh_topk", "q23d_lsh_pairs", "q23e_ivf_topk", "q23f_pq_topk")) {
      assert(node.has(k), s"missing cell $k in: $line")
      assert(node.get(k).has("recall"), s"cell $k degraded to error: $line")
      val r = node.get(k).get("recall").asDouble()
      assert(r >= 0.0 && r <= 1.0, s"$k recall out of range: $line")
      assert(node.get(k).get("exact_n").asLong() > 0, s"$k exact set empty: $line")
    }
  }

  test("ScaleDiag emits parseable JSON and survives a bad sibling sf dir") {
    // Isolated parent with one REAL sf (symlink) and one broken one: the
    // real entry must survive the broken sibling (per-entry guard).
    val parent = Paths.get(tempDir("graft-scalediag-"))
    val good = parent.resolve("sf0.001")
    Files.createSymbolicLink(good, Paths.get(sfDir))
    Files.createDirectory(parent.resolve("sf9")) // no documents.parquet
    val line = ScaleDiag.run(spark, good.toString)
    val node = mapper.readTree(line)
    assert(node.get("metric").asText() == "scale_candidates")
    val sfs = node.get("sfs")
    assert(sfs.has("sf0.001") && sfs.get("sf0.001").has("jaccard_cands"), line)
    assert(sfs.get("sf0.001").get("docs").asLong() == 500L, line)
    assert(sfs.has("sf9") && sfs.get("sf9").has("error"),
      s"broken sibling must degrade to an error entry, not kill the line: $line")
  }
}
