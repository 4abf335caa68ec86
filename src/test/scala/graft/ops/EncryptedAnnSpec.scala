package graft.ops

import graft.SparkTestBase
import graft.io.{EncryptedParquet, Scratch}
import graft.kms.TestKmsServer
import org.apache.parquet.crypto.KeyAccessDeniedException
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Encrypted index artifacts (r12 verdict item 3): the composed index's
  * three artifacts written through the PME crypto factory under the
  * corpus column policy ([[AnnIndex.IndexCrypto.policies]] — embeddings,
  * labels and every derived form at INTERNAL), with serving gated on
  * token privilege per scan. Every build, serve, lifecycle and rotation
  * call here carries its crypto state one way: an
  * [[AnnIndex.IndexCrypto]] context.
  */
class EncryptedAnnSpec extends SparkTestBase {

  private def ctx(token: Option[String], externalMaterial: Boolean = false) =
    AnnIndex.IndexCrypto(TestKmsServer.shared.url, token, externalMaterial)

  private lazy val internal = Some(ctx(Some("INTERNAL")))

  private def causedByAccessDenied(e: Throwable): Boolean = {
    var t: Throwable = e
    while (t != null) {
      if (t.isInstanceOf[KeyAccessDeniedException] ||
          Option(t.getMessage).exists(m => m.contains("denied") || m.contains("403")))
        return true
      t = t.getCause
    }
    false
  }

  private def rows(df: DataFrame): Seq[(Long, Long, Long, Double)] =
    df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq.sorted

  test("encrypted composed index: INTERNAL serves with plaintext parity, lower privilege is denied") {
    val root = Scratch.fresh("ann-encrypted")
    // The deterministic trainers (vec_id-hash seeds) make two builds of
    // the same frame produce identical artifacts, so the encrypted and
    // plaintext indexes are comparable row-for-row.
    val emb = AnnIndex.corpus(spark, sfDir)
    val plainDir = IvfPq.buildFrom(spark, emb, s"$root/plain")
    val encDir = IvfPq.buildFrom(spark, emb, s"$root/enc", internal)
    val probes = AnnIndex.defaultProbes(spark, sfDir)

    // 1. The artifacts are GENUINELY encrypted: a plain reader without
    //    the crypto factory cannot materialize the protected columns.
    val bare = intercept[Throwable] {
      spark.read.parquet(s"$encDir/ivfpq_lists").select("e", "codes").collect()
    }
    assert(bare != null)
    // 2. Result parity: the INTERNAL-token serve returns exactly the
    //    plaintext index's results.
    val plain = rows(IvfPq.probeSegments(spark, Seq(plainDir), probes))
    val enc = rows(IvfPq.probeSegments(spark, Seq(encDir), probes,
      crypto = internal))
    assert(enc == plain, "encrypted serve diverged from the plaintext index")
    // Higher privilege also serves (the lattice is monotone).
    val encHigh = rows(IvfPq.probeSegments(spark, Seq(encDir), probes,
      crypto = Some(ctx(Some("RESTRICTED")))))
    assert(encHigh == plain)
    // The serve's UNBOUNDED branch composes with encryption too: the
    // token-bearing reader conf threads through its scans (and denial
    // gates it like the bounded branch).
    val encDist = rows(IvfPq.probeUnbounded(spark, Seq(encDir),
      probes, crypto = internal))
    assert(encDist == plain,
      "encrypted distributed serve diverged from the plaintext index")
    val eDist = intercept[Throwable] {
      IvfPq.probeUnbounded(spark, Seq(encDir), probes,
        crypto = Some(ctx(Some("PUBLIC")))).collect()
    }
    assert(causedByAccessDenied(eDist),
      s"under-privileged distributed probe failed for the wrong reason: $eDist")
    // 3. Gating: an under-privileged probe FAILS with a key-access
    //    denial at action time — it must never serve.
    Seq(None, Some("PUBLIC")).foreach { token =>
      val e = intercept[Throwable] {
        IvfPq.probeSegments(spark, Seq(encDir), probes,
          crypto = Some(ctx(token))).collect()
      }
      assert(causedByAccessDenied(e),
        s"under-privileged probe (token=$token) failed for the wrong reason: $e")
    }
  }

  test("encrypted lifecycle: append, masked serve, delete-compact and maintain run under the token") {
    val root = Scratch.fresh("ann-encrypted-lifecycle")
    val crypto = internal
    import spark.implicits._
    def frame(ids: Seq[Long]) = ids
      .map(i => (i, (0 until 64).map(j => math.cos(i * 13 + j * 3)), (i % 10).toInt))
      .toDF("vec_id", "e", "label")
    val base = IvfPq.buildFrom(spark, frame(0L until 200L), s"$root/base", crypto)
    // Append encodes against the ENCRYPTED base artifacts and writes an
    // encrypted segment.
    val seg = IvfPq.appendSegment(spark, base, frame(200L until 220L), s"$root/seg", crypto)
    intercept[Throwable] {
      spark.read.parquet(s"$seg/ivfpq_lists").select("e").collect()
    }
    // Masked multi-segment serve under the token.
    val ts = frame(Seq(5L, 6L)).select(col("vec_id"), lit(1).as("cid"))
    val served = IvfPq.probeSegments(spark, Seq(base, seg),
      frame(Seq(210L)).select((col("vec_id") + 1000000L).as("pid"), col("e").as("pe")),
      tss = Seq(ts -> Int.MaxValue), crypto = crypto).collect()
    assert(served.length == AnnIndex.TopK)
    assert(!served.exists(r => Set(5L, 6L).contains(r.getLong(1))),
      "tombstoned id served from the encrypted state")
    // Delete-aware compaction re-encrypts the fold; census under the token.
    val folded = IvfPq.compactSegments(spark, base, Seq(seg),
      Seq(ts -> Int.MaxValue), s"$root/fold", crypto)
    val lists = AnnIndex.readArtifact(spark, s"$folded/ivfpq_lists", crypto)
    assert(lists.count() == 200 + 20 - 2)
    intercept[Throwable] {
      spark.read.parquet(s"$folded/ivfpq_lists").select("codes").collect()
    }
    // Maintain (fold + drift check) runs end-to-end under the token.
    val res = IvfPq.maintain(spark, base, Seq(seg), Nil, s"$root/maint", crypto)
    assert(!res.retrained)
    assert(AnnIndex.resolveVersion(s"$root/maint").contains(res.dir))
  }

  test("key rotation republishes under fresh KEKs behind the pointer flip: serve parity, gating intact, old version drains") {
    val kms = TestKmsServer.shared
    val root = Scratch.fresh("ann-rotate")
    val emb = AnnIndex.corpus(spark, sfDir)
    val encRoot = s"$root/enc"
    val v1 = IvfPq.buildFrom(spark, emb, encRoot, internal)
    val probes = AnnIndex.defaultProbes(spark, sfDir)
    val before = rows(IvfPq.probeSegments(spark, Seq(v1), probes,
      crypto = internal))
    val (w0, _) = kms.counts
    val v2 = IvfPq.rotateIndexKeys(spark, encRoot, internal.get, internal)
    // A NEW version is CURRENT; the files reference only KEKs minted by
    // the rotation (the cleared write cache forces fresh KMS wrap
    // traffic — a silent cache reuse would show zero new wraps).
    assert(v2 != v1)
    assert(AnnIndex.resolveVersion(encRoot).contains(v2))
    val (w1, _) = kms.counts
    assert(w1 > w0, "rotation minted no fresh KEKs — the wrap cache leaked through")
    // Serve parity on the rotated version, denial still enforced.
    assert(rows(IvfPq.probeSegments(spark, Seq(v2), probes,
      crypto = internal)) == before,
      "rotation changed serve results")
    val e = intercept[Throwable] {
      IvfPq.probeSegments(spark, Seq(v2), probes,
        crypto = Some(ctx(Some("PUBLIC")))).collect()
    }
    assert(causedByAccessDenied(e),
      s"post-rotation under-privileged probe failed for the wrong reason: $e")
    // The PREVIOUS version is untouched inside the retirement grace: an
    // in-flight reader that resolved before the flip drains normally.
    assert(rows(IvfPq.probeSegments(spark, Seq(v1), probes,
      crypto = internal)) == before,
      "rotation disturbed the previous version inside the retirement grace")
  }

  test("external-material index rotates in place: sidecars rewritten, data files byte-identical, parity and gating hold") {
    val kms = TestKmsServer.shared
    val root = Scratch.fresh("ann-rotate-inplace")
    import spark.implicits._
    val emb = (0L until 200L)
      .map(i => (i, (0 until 64).map(j => math.cos(i * 19 + j * 3)), (i % 10).toInt))
      .toDF("vec_id", "e", "label")
    val encRoot = s"$root/enc"
    val external = ctx(Some("INTERNAL"), externalMaterial = true)
    val v1 = IvfPq.buildFrom(spark, emb, encRoot, Some(external))
    val probes = emb.filter(col("vec_id") === 11L)
      .select((col("vec_id") + 1000000L).as("pid"), col("e").as("pe"))
    val before = rows(IvfPq.probeSegments(spark, Seq(v1), probes,
      crypto = internal))

    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    def crc(f: java.io.File): Long = {
      val c = new java.util.zip.CRC32()
      c.update(java.nio.file.Files.readAllBytes(f.toPath)); c.getValue
    }
    def snap(pred: String => Boolean): Map[String, Long] =
      walk(new java.io.File(v1.stripPrefix("file:")))
        .filter(f => pred(f.getName)).map(f => f.getPath -> crc(f)).toMap
    val dataBefore = snap(_.endsWith(".parquet"))
    val sidecarsBefore = snap(_.startsWith("_KEY_MATERIAL_FOR_"))
    assert(dataBefore.nonEmpty)
    assert(sidecarsBefore.nonEmpty,
      "external-material build must write _KEY_MATERIAL_FOR_* sidecars")
    val (w0, _) = kms.counts

    val v2 = IvfPq.rotateIndexKeysInPlace(spark, encRoot, external)

    // Metadata-only and in place: the version dir is unchanged, every
    // encrypted data file is byte-identical, every sidecar carries fresh
    // (rewrapped) key material, and the KMS saw fresh wrap traffic.
    assert(v2 == v1, "in-place rotation must not publish a new version")
    assert(snap(_.endsWith(".parquet")) == dataBefore,
      "in-place rotation rewrote data files — it must be metadata-only")
    val sidecarsAfter = snap(_.startsWith("_KEY_MATERIAL_FOR_"))
    assert(sidecarsAfter.keySet == sidecarsBefore.keySet,
      "rotation changed the sidecar file set")
    assert(sidecarsBefore.forall { case (p, c) => sidecarsAfter(p) != c },
      "rotation left a sidecar's key material unrotated")
    assert(kms.counts._1 > w0, "rotation minted no fresh KEKs at the KMS")
    // Serve parity on the SAME version, gating intact.
    assert(rows(IvfPq.probeSegments(spark, Seq(v1), probes,
      crypto = internal)) == before,
      "in-place rotation changed serve results")
    val e = intercept[Throwable] {
      IvfPq.probeSegments(spark, Seq(v1), probes,
        crypto = Some(ctx(Some("PUBLIC")))).collect()
    }
    assert(causedByAccessDenied(e),
      s"post-rotation under-privileged probe failed for the wrong reason: $e")
    // The REWRITE rotation preserves the external material mode (its
    // republished version still carries sidecars), so in-place rotation
    // keeps working after it — the two rotations compose indefinitely.
    val v3 = IvfPq.rotateIndexKeys(spark, encRoot, internal.get, internal)
    assert(v3 != v1)
    assert(walk(new java.io.File(v3.stripPrefix("file:")))
      .exists(_.getName.startsWith("_KEY_MATERIAL_FOR_")),
      "rewrite rotation stripped the external key-material mode")
    val v4 = IvfPq.rotateIndexKeysInPlace(spark, encRoot, external)
    assert(v4 == v3, "in-place rotation must work on the rewrite's output")
    assert(rows(IvfPq.probeSegments(spark, Seq(v3), probes,
      crypto = internal)) == before,
      "rotation composition changed serve results")
  }

  test("in-place rotation distributes over executors at wide k (1024+ partition dirs)") {
    val root = Scratch.fresh("ann-rotate-wide")
    import graft.io.Afs
    import spark.implicits._
    // A synthetic composed artifact with 1024 inverted lists — the
    // k=sqrt(n) posture the distributed rotation exists for (a serial
    // driver loop here is 1026 sequential KMS+FS round-trips; r13
    // verdict item 3). Every artifact is written external-material so
    // each dir carries _KEY_MATERIAL_FOR_* sidecars.
    val k = 1024
    val external = ctx(Some("INTERNAL"), externalMaterial = true)
    def wOpts(a: String) = external.writerOptions(a)
    val vdir = s"$root/enc/v000001"
    Seq(1, 2).map(i => (i, Seq(0.1 * i, 0.2 * i))).toDF("cid", "ce")
      .coalesce(1).write.options(wOpts("ivf_centroids"))
      .parquet(s"$vdir/ivf_centroids")
    Seq((0, 0, Seq(0.5, 0.5), 0.5)).toDF("m", "code", "ce", "c2")
      .coalesce(1).write.options(wOpts("pq_codebook"))
      .parquet(s"$vdir/pq_codebook")
    (0 until k).map(i =>
        (i, i.toLong, i % 10, Seq(i % 64, (i + 1) % 64), 1.0, Seq(0.01 * i, 0.02 * i)))
      .toDF("cid", "vec_id", "label", "codes", "qnorm", "e")
      .repartition(col("cid"))
      .write.partitionBy("cid").options(wOpts("ivfpq_lists"))
      .parquet(s"$vdir/ivfpq_lists")
    Afs.touch(s"$vdir/_SUCCESS")
    Afs.writeString(s"$root/enc/CURRENT", "v000001")

    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    def crc(f: java.io.File): Long = {
      val c = new java.util.zip.CRC32()
      c.update(java.nio.file.Files.readAllBytes(f.toPath)); c.getValue
    }
    def snap(pred: String => Boolean): Map[String, Long] =
      walk(new java.io.File(vdir)).filter(f => pred(f.getName))
        .map(f => f.getPath -> crc(f)).toMap
    val dataBefore = snap(_.endsWith(".parquet"))
    val sidecarsBefore = snap(_.startsWith("_KEY_MATERIAL_FOR_"))
    assert(sidecarsBefore.size >= k,
      s"expected >= $k sidecars, found ${sidecarsBefore.size}")

    val out = IvfPq.rotateIndexKeysInPlace(spark, s"$root/enc", external)
    assert(out == vdir)
    // Every sidecar rotated, every data file untouched, artifact still
    // readable under the token — i.e. the distributed tasks rotated
    // disjoint slices without losing or corrupting any dir.
    val sidecarsAfter = snap(_.startsWith("_KEY_MATERIAL_FOR_"))
    assert(sidecarsAfter.keySet == sidecarsBefore.keySet)
    assert(sidecarsBefore.forall { case (p, c) => sidecarsAfter(p) != c },
      "a partition dir's key material was left unrotated")
    assert(snap(_.endsWith(".parquet")) == dataBefore,
      "distributed in-place rotation must be metadata-only")
    val n = AnnIndex.readArtifact(spark, s"$vdir/ivfpq_lists", Some(external))
      .select("vec_id", "codes", "e").count()
    assert(n == k)
  }

  test("rewrite rotation carries the _SEGMENTS manifest so stream-ingested readers survive") {
    val root = Scratch.fresh("ann-rotate-manifest")
    val crypto = internal
    import spark.implicits._
    def frame(ids: Seq[Long]) = ids
      .map(i => (i, (0 until 64).map(j => math.sin(i * 11 + j * 5)), (i % 10).toInt))
      .toDF("vec_id", "e", "label")
    val base = IvfPq.buildFrom(spark, frame(0L until 150L),
      s"$root/base", crypto)
    // Segment laid out as the ingest loop writes them: a bN dir holding
    // the artifact directly, marked _COMPLETE (appendSegment publishes a
    // versioned root, so its output is renamed into the loop's shape).
    val segRoot = s"$root/segments"
    val segV = IvfPq.appendSegment(spark, base, frame(150L until 170L),
      s"$root/segtmp", crypto)
    graft.io.Afs.mkdirs(segRoot)
    assert(graft.io.Afs.rename(segV, s"$segRoot/b0"))
    val seg = s"$segRoot/b0"
    graft.io.Afs.touch(s"$seg/_COMPLETE")
    // A fold with a manifest — the serving root of an auto-maintained
    // stream-ingest loop (this is the only root such an index serves
    // from, so rotating it must preserve the reader view).
    val folded = IvfPq.maintainWithManifest(spark, base, Seq(seg),
      s"$root/maint", foldedSegs = Nil, crypto = crypto).dir
    val manifest = graft.io.Afs.readString(s"$folded/_SEGMENTS")
    assert(manifest.nonEmpty)
    val rotated = IvfPq.rotateIndexKeys(spark, s"$root/maint", crypto.get, crypto)
    assert(rotated != folded)
    // The manifest rode into the rotated version verbatim, so
    // servingStateOf keeps resolving (fail-loud read) and still excludes
    // the folded segment from the union set.
    assert(graft.io.Afs.readString(s"$rotated/_SEGMENTS") == manifest,
      "rotation dropped or altered the _SEGMENTS manifest")
    val st = AnnIndex.servingStateOf(base, root)
    val (servedBase, unfolded, already) = (st.base, st.unfolded, st.foldedSegs)
    assert(servedBase == rotated)
    assert(unfolded.isEmpty, s"folded segment resurfaced as unfolded: $unfolded")
    assert(already.nonEmpty)
  }

  test("the rotation verify fingerprint materializes every column, not just row counts") {
    val root = Scratch.fresh("ann-fingerprint")
    import spark.implicits._
    // Same row count, one value changed inside a nested array column:
    // count() cannot tell them apart (it is served from metadata and
    // unwraps no column keys — the r13 ADVICE hole); the fingerprint
    // must.
    Seq((1L, Seq(1.0, 2.0)), (2L, Seq(3.0, 4.0))).toDF("vec_id", "e")
      .coalesce(1).write.parquet(s"$root/a")
    Seq((1L, Seq(1.0, 2.0)), (2L, Seq(3.0, 4.5))).toDF("vec_id", "e")
      .coalesce(1).write.parquet(s"$root/b")
    def fp(p: String) = EncryptedParquet.fingerprint(spark.read.parquet(p))
    val (na, ha) = fp(s"$root/a")
    val (nb, hb) = fp(s"$root/b")
    assert(na == nb)
    assert(ha != hb, "fingerprint blind to a column-value change")
    // Column order must not matter (the rewrite re-selects canonically,
    // but the fingerprint sorts names so the check is layout-proof).
    Seq((Seq(1.0, 2.0), 1L), (Seq(3.0, 4.0), 2L)).toDF("e", "vec_id")
      .coalesce(1).write.parquet(s"$root/a2")
    val (_, ha2) = fp(s"$root/a2")
    assert(ha2 == ha, "fingerprint sensitive to column order")
  }

  test("a plaintext index upgrades to encrypted-at-rest through the same rotation path") {
    val root = Scratch.fresh("ann-encrypt-upgrade")
    import spark.implicits._
    val emb = (0L until 200L)
      .map(i => (i, (0 until 64).map(j => math.sin(i * 17 + j * 7)), (i % 10).toInt))
      .toDF("vec_id", "e", "label")
    val idxRoot = s"$root/idx"
    val v1 = IvfPq.buildFrom(spark, emb, idxRoot)
    val probes = emb.filter(col("vec_id") === 7L)
      .select((col("vec_id") + 1000000L).as("pid"), col("e").as("pe"))
    val before = rows(IvfPq.probeSegments(spark, Seq(v1), probes))
    val v2 = IvfPq.rotateIndexKeys(spark, idxRoot, internal.get, source = None)
    // The upgraded version is genuinely encrypted and serves with parity
    // under the token; lower privilege is denied.
    intercept[Throwable] {
      spark.read.parquet(s"$v2/ivfpq_lists").select("e").collect()
    }
    assert(rows(IvfPq.probeSegments(spark, Seq(v2), probes,
      crypto = internal)) == before,
      "encrypt-in-place upgrade changed serve results")
    val e = intercept[Throwable] {
      IvfPq.probeSegments(spark, Seq(v2), probes,
        crypto = Some(ctx(None))).collect()
    }
    assert(causedByAccessDenied(e))
  }

  test("the trained-table cache stays keyed on the token: an INTERNAL fill never serves a lesser context") {
    val root = Scratch.fresh("ann-cache-key")
    import spark.implicits._
    val emb = (0L until 120L)
      .map(i => (i, (0 until 64).map(j => math.cos(i * 23 + j * 5)), (i % 10).toInt))
      .toDF("vec_id", "e", "label")
    val dir = IvfPq.buildFrom(spark, emb, s"$root/idx", internal)
    // The INTERNAL context reads ivf_centroids and fills the cache.
    val cents = AnnIndex.readCentroids(spark, dir, internal)
    assert(cents.size == AnnIndex.K)
    // A tokenless and a PUBLIC context on the SAME dir must each do their
    // own read — and be denied at the KMS — never hit the INTERNAL entry.
    Seq(None, Some("PUBLIC")).foreach { token =>
      val e = intercept[Throwable] {
        AnnIndex.readCentroids(spark, dir, Some(ctx(token)))
      }
      assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[KeyAccessDeniedException]),
        s"token=$token was not denied with a KeyAccessDeniedException cause: $e")
    }
    // No context at all reads without the crypto factory: it cannot
    // decrypt `ce` and must fail too, not be served the cached table.
    intercept[Throwable](AnnIndex.readCentroids(spark, dir, None))
    // The privileged entry is still there, untouched by the denials.
    assert(AnnIndex.readCentroids(spark, dir, internal) eq cents)
  }

  test("encrypted filtered serve keeps predicate purity under the token channel") {
    val root = Scratch.fresh("ann-encrypted-filtered")
    val emb = AnnIndex.corpus(spark, sfDir)
    val encDir = IvfPq.buildFrom(spark, emb, s"$root/enc", internal)
    val out = IvfPq.probeSegments(spark, Seq(encDir),
      AnnIndex.defaultProbes(spark, sfDir),
      attrFilter = Some(col("label") === 7), crypto = internal).collect()
    assert(out.nonEmpty, "filtered encrypted serve returned nothing")
    val label7: Set[Long] = emb.filter(col("label") === 7)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(out.forall(r => label7.contains(r.getLong(r.fieldIndex("nbr_id")))),
      "a neighbor escaped the label predicate on the encrypted index")
  }
}
