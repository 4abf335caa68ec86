package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Specs for the LLM-pipeline operators that have no SQL oracle:
  * MinHash/LSH recall against the exact ground truth, SimHash behavior on
  * crafted near-duplicates, LSH-ANN recall vs brute force, language-ID on
  * known sentences, fingerprint laws.
  */
class PipelineOpsSpec extends SparkTestBase {

  test("minhash candidates recover every exact-Jaccard>=0.5 pair (sf0.001)") {
    val exact = Dedup.q22a.fn(spark, sfDir).select("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.q22b.fn(spark, sfDir).select("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "corpus should contain near-dup pairs")
    // 8 bands × 4 rows at j>=0.5 : P[miss] = (1-j^4)^8 <= 2.7% per pair at
    // j=0.5 and ~0 at j>=0.8; the sf0.001 ground-truth pairs are all
    // high-jaccard, so full recall is expected deterministically.
    assert(exact.subsetOf(lsh), s"missed pairs: ${exact -- lsh}")
  }

  test("prefix-filtered jaccardPairs == count-based formulation, values included") {
    // The AllPairs prefix filter is a candidate-pruning optimization with
    // an exactness theorem behind it; this pins the implementation to the
    // theorem on the real corpus (pairs AND jaccard values identical).
    val pref = Dedup.jaccardPairs(spark, sfDir).collect().map(_.toSeq).toSet
    val ref = Dedup.jaccardPairsByCount(spark, sfDir).collect().map(_.toSeq).toSet
    assert(pref.nonEmpty)
    assert(pref === ref)
  }

  test("connected components: chain collapses transitively, disjoint pair stays apart") {
    import spark.implicits._
    // chain 10-11-12-13-14 (diameter 4, A~E never an edge) + pair 20-21
    val edges = Seq((11L, 10L), (11L, 12L), (13L, 12L), (13L, 14L), (21L, 20L))
      .toDF("src", "dst")
    val got = Dedup.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((10L to 14L).forall(got(_) == 10L), s"chain must share min label: $got")
    assert(got(20L) == 20L && got(21L) == 20L, s"disjoint pair mislabeled: $got")
    assert(got.size == 7)
  }

  test("star contraction matches min-label propagation on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(300)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .filter { case (a, b) => a != b }
      .distinct
      .toDF("src", "dst")
    val star = Dedup.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ml = Dedup.connectedComponentsMinLabel(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star == ml, "star contraction must produce the min-label labeling")
  }

  test("star contraction converges in O(log n) rounds on a 128-vertex chain") {
    import spark.implicits._
    // Worst case for min-label propagation: diameter 127 => 127 rounds.
    // Star contraction halves tree heights every round: <= log2(128)+c.
    val n = 128
    val edges = (1 until n).map(i => (i.toLong, i.toLong - 1)).toDF("src", "dst")
    val got = Dedup.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == n && got.values.forall(_ == 0L), "chain must collapse to 0")
    val rounds = Dedup.lastRounds.get
    // Detection granularity is 2 since the r16 double-round contraction
    // (the convergence signature is probed every OTHER round), so the
    // bound carries +2 rounds of slack over the single-round loop's 11.
    assert(rounds <= 13, s"expected O(log n) rounds on a chain, got $rounds")
  }

  test("CC loop storage is O(1) rounds: superseded checkpoints are released") {
    import spark.implicits._
    // A 128-vertex chain runs ~8 star-contraction rounds, each of which
    // localCheckpoints. Without explicit release the superseded rounds'
    // blocks sit in the block manager until a driver GC (never, with a
    // pinned heap) — the leak that stalled back-to-back CC queries in
    // the bench (BASELINE §C8). Pin: after a CC run completes, at most
    // a handful of persisted RDDs remain (final labels + the caller's
    // edge persist window), not one per round.
    val before = spark.sparkContext.getPersistentRDDs.size
    val edges = (1 until 128).map(i => (i.toLong, i.toLong - 1)).toDF("src", "dst")
    Dedup.connectedComponents(edges).count()
    val after = spark.sparkContext.getPersistentRDDs.size
    val rounds = Dedup.lastRounds.get
    assert(rounds >= 4, s"chain should need several rounds, got $rounds (test vacuous)")
    assert(after - before <= 3,
      s"CC leaked checkpoints: $before persistent RDDs before, $after after, $rounds rounds")
  }

  test("minhash output equals exact output on verified pairs") {
    val exact = Dedup.q22a.fn(spark, sfDir).collect().map(_.toSeq).toSet
    val lsh = Dedup.q22b.fn(spark, sfDir).collect().map(_.toSeq).toSet
    assert(lsh.subsetOf(exact), "LSH must not invent pairs beyond threshold")
  }

  test("simhash: identical docs share fingerprints, near-dups are close") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the quick brown fox jumps over the lazy cat again and again"),
      (4L, "completely different text about spark query engines at scale")
    ).toDF("doc_id", "text")
    val fps = df.select(col("doc_id"),
        graft.functions.GraftFunctions.simhash64(Dedup.tokens(col("text"))).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(2L), "identical text must hash identically")
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(fps(1L), fps(3L)) < hamming(fps(1L), fps(4L)),
      "one-token change must be closer than unrelated text")
  }

  test("cosine LSH top-k has usable recall against brute force (sf0.001)") {
    val exact = Similarity.q23.fn(spark, sfDir).select("probe_id", "nbr_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.q23c.fn(spark, sfDir).select("probe_id", "nbr_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // Single-probe 4-bit LSH on random 64-dim data: recall is modest by
    // design; the spec pins it above a floor so regressions surface.
    assert(recall >= 0.2, s"recall $recall too low ($approx vs $exact)")
    assert(approx.subsetOf(
      approx ++ exact), "sanity")
  }

  test("PQ top-k has usable recall against brute force (sf0.001)") {
    val exact = Similarity.q23.fn(spark, sfDir).select("probe_id", "nbr_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.q23f.fn(spark, sfDir).select("probe_id", "nbr_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & pq).size.toDouble / exact.size
    // 16-centroid/8-dim codebooks on near-random data quantize coarsely;
    // the exact-refine pool recovers most of it (0.72 measured at
    // sf0.01). Floor pins regressions, not the ceiling.
    assert(recall >= 0.5, s"recall $recall below floor")
    assert(pq.size == exact.size, "both return k per probe")
  }

  test("LSH threshold-pairs: subset of exact q23b, recall above floor (sf0.001)") {
    val exact = Similarity.q23b.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.q23d.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "corpus should contain near-dup embedding pairs")
    assert(lsh.subsetOf(exact), "candidates are exactly verified — no false positives")
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall $recall below floor (${lsh.size}/${exact.size})")
  }

  test("IVF top-k has usable recall against brute force (sf0.001)") {
    val exact = Similarity.q23.fn(spark, sfDir).select("probe_id", "nbr_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.q23e.fn(spark, sfDir).select("probe_id", "nbr_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    // nprobe/k = 4/16 of the corpus searched per probe; random 64-dim
    // data is a worst case for cluster locality, so the floor is modest.
    assert(recall >= 0.3, s"recall $recall too low (${ivf.size}/${exact.size})")
  }

  test("language-ID identifies stopword-bearing sentences") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat is on the mat and it is happy"),
      (2L, "el gato que esta en la casa por la noche"),
      (3L, "le chat est sur le tapis et les oiseaux du jardin"),
      (4L, "der hund ist von den bergen und das haus mit einem garten"),
      (5L, "qqq www eee rrr ttt")
    ).toDF("doc_id", "text")
    val got = df.select(col("doc_id"), TextOps.langId(Dedup.tokens(col("text"))).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "en")
    assert(got(2L) == "es")
    assert(got(3L) == "fr")
    assert(got(4L) == "de")
    assert(got(5L) == "und")
  }

  test("fingerprint: equality iff normalized token sequence equality") {
    import spark.implicits._
    val df = Seq(
      (1L, "Alpha  Beta   Gamma"),
      (2L, "alpha beta gamma"),   // same after normalization
      (3L, "gamma beta alpha"),   // same tokens, different order
      (4L, "alpha beta gamma delta")
    ).toDF("doc_id", "text")
    val fp = df.select(col("doc_id"),
        TextOps.fingerprint(Dedup.tokens(col("text"))).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L), "normalization-invariant")
    assert(fp(2L) != fp(3L), "order-sensitive")
    assert(fp(2L) != fp(4L))
  }

  test("fingerprint: collision-free on every test corpus (q33's oracle premise)") {
    // q33's DuckDB oracle groups by the normalized STRING while Spark
    // groups by the hashed fingerprint — equivalence holds only absent
    // collisions (r9 ADVICE). Pin that structurally per corpus: a
    // regenerated corpus that ever collides fails HERE as a collision,
    // not in the driver gate as a confusing count diff.
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
      .foreach { sf =>
        val d = graft.Tables.documents(spark, sf).select(
          TextOps.fingerprint(Dedup.tokens(col("text"))).as("fp"),
          Dedup.normText(col("text")).as("norm"))
        val r = d.agg(countDistinct(col("fp")).as("nfp"),
          countDistinct(col("norm")).as("nnorm")).collect()(0)
        assert(r.getLong(0) === r.getLong(1),
          s"$sf: fingerprint collision — ${r.getLong(0)} fps vs ${r.getLong(1)} normalized texts")
      }
  }

  test("approx_count_distinct within 5% of exact (q10b)") {
    val r = Relational.q10b.fn(spark, sfDir).collect()(0)
    val approx = r.getAs[Long]("approx_parts").toDouble
    val exact = r.getAs[Long]("exact_parts").toDouble
    assert(math.abs(approx - exact) / exact < 0.05,
      s"approx $approx vs exact $exact")
  }

  test("q57: leakage property — no near-dup edge crosses the train/eval boundary") {
    val split = Dedup.q57.fn(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    // The contamination rule itself: any two near-duplicate documents land
    // on the SAME side, so an eval doc can never be a near-copy of a
    // training doc. Stronger than edge-wise by construction (whole
    // clusters move together); edge-wise is what we can assert directly.
    val edges = Dedup.jaccardPairs(spark, sfDir).select("da", "db").collect()
    assert(edges.nonEmpty, "corpus should contain near-dup pairs")
    edges.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(split(a) == split(b), s"edge ($a,$b) crosses train/eval: ${split(a)} vs ${split(b)}")
    }
    // Every doc assigned exactly once; both sides populated; the
    // cluster-level % 10 < 8 rule should land near 80/20 on uniform ids.
    val n = split.size
    val train = split.values.count(_ == "train")
    assert(train > (n * 0.6).toInt && train < (n * 0.95).toInt,
      s"train fraction ${train.toDouble / n} implausible for an 80/20 rule")
  }

  test("q59: hash-gram contamination equals the string-gram formulation") {
    import graft.functions.GraftFunctions
    import graft.Tables
    // Independent ground truth: the same decontamination computed over
    // STRING 5-grams (no hashing) — pins the hash-gram path to the exact
    // semantic, including the distinctness of per-doc gram sets.
    val grams = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        GraftFunctions.ngramShingles(Dedup.tokens(col("text")), 5).as("gs"))
      .filter(size(col("gs")) > 0)
      .select(col("doc_id"), size(col("gs")).as("ng"), explode(col("gs")).as("g"))
    val ev = grams.filter(pmod(col("doc_id"), lit(10)) >= 8).select("g").distinct()
    val expected = grams.filter(pmod(col("doc_id"), lit(10)) < 8)
      .join(ev, "g").groupBy("doc_id", "ng").agg(count(lit(1)).as("hits"))
      .select(col("doc_id"), col("hits"), round(col("hits") / col("ng"), 4).as("frac"))
      .collect().map(_.toSeq).toSet
    val got = Dedup.q59.fn(spark, sfDir).collect().map(_.toSeq).toSet
    assert(expected.nonEmpty, "corpus should contain contaminated train docs")
    assert(got == expected, s"hash-gram vs string-gram diff: ${(got -- expected) ++ (expected -- got)}")
    // Every flagged doc is train-side with a sane contamination fraction.
    got.foreach {
      case Seq(id: Long, hits: Long, frac: Double) =>
        assert(id % 10 < 8 && hits >= 1 && frac > 0 && frac <= 1.0)
      case other => fail(s"unexpected row shape: $other")
    }
  }

  test("q63: chunks reassemble to the original token stream (overlap law)") {
    import graft.Tables
    val chunks = TextOps.q63.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .groupBy(_._1)
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), Dedup.normText(col("text")).as("t")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(chunks.nonEmpty)
    chunks.foreach { case (docId, cs) =>
      val sorted = cs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == sorted.indices.map(_.toLong),
        s"doc $docId chunk_idx not dense")
      val n = docs(docId).split(" ").length
      // stride 48, window 64: chunk i covers tokens [48i, min(48i+64, n)).
      sorted.foreach { case (_, idx, text, nTok) =>
        assert(nTok == math.min(64L, n - 48 * idx), s"doc $docId chunk $idx length")
        assert(text.split(" ").length == nTok)
      }
      // Reassembly: first 48 tokens of every chunk, then the last
      // chunk's tail beyond its 48th token, equals the full doc.
      val rebuilt = sorted.flatMap { case (_, idx, text, _) =>
        val tk = text.split(" ").toSeq
        if (idx == sorted.last._2) tk else tk.take(48)
      }
      assert(rebuilt.mkString(" ") == docs(docId), s"doc $docId reassembly mismatch")
    }
  }

  test("q64: two-level prefix-sum packing equals the naive global cumsum") {
    import graft.Tables
    val got = TextOps.q64.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // Independent ground truth: driver-side cumulative sum in doc order.
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(Dedup.tokens(col("text"))).cast("long").as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var cum = 0L
    val expected = toks.map { case (id, n) =>
      val bin = cum / 2048; cum += n; (id, n, bin)
    }
    assert(got.sortBy(_._1).toSeq == expected.toSeq)
    // Sanity of the shape: bins are contiguous from 0 and nondecreasing.
    val bins = got.sortBy(_._1).map(_._3)
    assert(bins.head == 0L && bins.zip(bins.tail).forall { case (a, b) => b >= a })
  }

  test("q65: bloom-routed result is bit-identical to the plain anti join") {
    import graft.Tables
    // Independent ground truth on normalized STRINGS (no xxhash64): the
    // bloom + hash-keyed routing must reproduce the exact set-difference
    // semantics — false positives verified away, no false negatives.
    val got = Dedup.q65.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val n = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), Dedup.normText(col("text")).as("t"))
    val expected = n.filter(pmod(col("doc_id"), lit(10)) < 8)
      .join(n.filter(pmod(col("doc_id"), lit(10)) >= 8).select("t"), Seq("t"), "left_anti")
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == expected)
    // Keep-fraction sanity only: the corpus isn't guaranteed to contain a
    // cross-split exact duplicate at this SF (round 6's regenerated corpus
    // had none), so "blocklist bites" is proven on a synthesized fixture
    // in the next test, not on corpus luck here.
    val train = n.filter(pmod(col("doc_id"), lit(10)) < 8).count()
    assert(got.size > train * 8 / 10, "kept fraction implausibly low")
  }

  test("q65 core: synthesized cross-split duplicate is removed, rest kept") {
    import spark.implicits._
    // 40 docs; doc 7 (train: 7%10<8) shares normalized text with doc 18
    // (eval: 18%10>=8) — the blocklist MUST bite on exactly that doc.
    // "  Shared   CONTAMINATED text " vs "shared contaminated text" also
    // exercises normText's trim/lower/whitespace collapse across splits.
    val fixture = (0L until 40L).map { i =>
      val text =
        if (i == 7L) "  Shared   CONTAMINATED text "
        else if (i == 18L) "shared contaminated text"
        else s"unique document text number $i"
      (i, s"src${i % 3}", text)
    }.toDF("doc_id", "source", "text")
    val kept = Dedup.bloomDecontam(spark, fixture, "specfixture")
      .collect().map(_.getLong(0)).toSet
    val train = (0L until 40L).filter(_ % 10 < 8).toSet
    assert(kept == train - 7L,
      s"expected train minus the contaminated doc 7, got $kept")
  }

  test("q66: distributed bigram top-30 equals the driver-side sliding-window count") {
    import graft.Tables
    val got = TextOps.q66.fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val counts = new scala.collection.mutable.HashMap[String, Long]()
    Tables.documents(spark, sfDir)
      .select(Dedup.normText(col("text"))).collect().foreach { r =>
        val tk = r.getString(0).split(" ")
        tk.sliding(2).filter(_.length == 2).foreach { p =>
          val k = p.mkString(" "); counts(k) = counts.getOrElse(k, 0L) + 1
        }
      }
    val expected = counts.toSeq.sortBy { case (p, c) => (-c, p) }.take(30)
    assert(got.toSeq == expected)
  }

  test("q58: one keeper per semantic cluster, keeper is the min member, edges intra-cluster") {
    val rows = Similarity.q58.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val byCluster = rows.groupBy(_._2)
    byCluster.foreach { case (cid, members) =>
      assert(members.map(_._1).min == cid,
        s"cluster label $cid must equal the min member id (${members.map(_._1).min})")
      val keepers = members.filter(_._3).map(_._1)
      assert(keepers.toSeq == Seq(cid), s"cluster $cid keepers: $keepers")
    }
    // Semantic-duplicate pairs never straddle clusters (CC soundness on
    // the exact cosine>=0.4 edge set).
    val cluster = rows.map(r => r._1 -> r._2).toMap
    val edges = Similarity.q23b.fn(spark, sfDir).select("va", "vb").collect()
    assert(edges.nonEmpty, "corpus should contain semantic-dup pairs")
    edges.foreach { r =>
      assert(cluster(r.getLong(0)) == cluster(r.getLong(1)),
        s"edge (${r.getLong(0)},${r.getLong(1)}) split across clusters")
    }
  }

  test("q58 LSH path: refines the exact clustering, recall-bounded, same downstream") {
    // The 100 TB swap (q23d banded-LSH candidates → same CC + keeper
    // selection) as CODE, pinned against the exact path on the corpus.
    val exact = Similarity.q58.fn(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lsh = Similarity.semanticDedupLsh(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lsh.keySet == exact.keySet, "both paths must label every vector")
    // Soundness (exact invariant, not statistical): LSH edges are a
    // subset of the exact cosine≥0.4 edges, so every LSH cluster must sit
    // INSIDE one exact cluster — a miss may split, never merge.
    lsh.groupBy(_._2).foreach { case (cid, members) =>
      val exactClusters = members.keys.map(exact).toSet
      assert(exactClusters.size == 1,
        s"LSH cluster $cid straddles exact clusters $exactClusters")
    }
    // Recall: among vectors the exact path groups (non-singleton
    // clusters), the fraction the LSH path assigns to the same cluster.
    // q23d's pair recall is ~0.78 and CC transitivity recovers some
    // misses through alternate paths; 0.7 is the floor that fails on a
    // genuine regression without flaking on plane-seed luck.
    val grouped = exact.filter { case (v, c) =>
      exact.values.count(_ == c) > 1 }
    assert(grouped.nonEmpty, "corpus should contain semantic-dup clusters")
    val agree = grouped.count { case (v, c) => lsh(v) == c }
    val recall = agree.toDouble / grouped.size
    info(f"q58 LSH cluster recall: $recall%.3f over ${grouped.size} grouped vectors")
    assert(recall >= 0.7, f"LSH cluster recall $recall%.3f below 0.7")
  }
}
