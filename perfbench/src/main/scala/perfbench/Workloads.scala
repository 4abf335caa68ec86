package perfbench

import java.io.File

import graft.{SparkEntry, Tables}
import graft.Canon.rsum
import graft.crypto.{EncryptionPolicy, PrivilegeLevel}
import graft.io.EncryptedParquet
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Encryption policies in the reference's shape: plaintext key columns,
  * INTERNAL / CONFIDENTIAL / RESTRICTED data columns, and the library
  * defaults for everything else (PUBLIC plaintext footer, AES_GCM_V1,
  * double wrapping, internal key material).
  */
object Policies {
  import PrivilegeLevel._
  val byTable: Map[String, EncryptionPolicy] = Map(
    "lineitem" -> EncryptionPolicy(Map(
      Internal -> Seq("l_quantity", "l_returnflag", "l_linestatus"),
      Confidential -> Seq("l_extendedprice", "l_discount"),
      Restricted -> Seq("l_tax"))),
    "orders" -> EncryptionPolicy(Map(
      Internal -> Seq("o_orderstatus", "o_orderpriority"),
      Confidential -> Seq("o_totalprice"))),
    "customer" -> EncryptionPolicy(Map(
      Internal -> Seq("c_mktsegment"),
      Confidential -> Seq("c_name"),
      Restricted -> Seq("c_acctbal"))))

  /** Plaintext twins get the writer's physical layout without crypto. */
  def layout(zstdLevel: Int): Map[String, String] = Map(
    "compression" -> "zstd",
    "parquet.compression.codec.zstd.level" -> zstdLevel.toString,
    "parquet.writer.version" -> "v2")

  /** The writer's default level (19) costs ~25 s per sf0.1 lineitem copy on
    * four cores; the read fixtures use a fast level so set-up stays short.
    * Decompression speed barely depends on the level.
    */
  val readFixtureZstd = 3
  val rowGroup: Map[String, String] = Map("parquet.block.size" -> (1 << 20).toString)
  /** `EncryptedParquet.write`'s default level, for the write twins. */
  val writeZstd = 19

  def parquetBytes(dir: String): (Int, Long) = {
    val files = Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    (files.length, files.map(_.length).sum)
  }
}

/** pme_read: projected, filtered, aggregated and joined reads of
  * encrypted lineitem / orders / customer copies, with privilege tokens,
  * some of them too low for what the operation reads.
  */
final class PmeRead extends Workload {
  private val disc = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
  private val tables = Seq("lineitem", "orders", "customer")

  private def enc(ctx: Ctx, t: String) = s"${ctx.scratch}/enc/$t"
  private def plain(ctx: Ctx, t: String) = s"${ctx.scratch}/plain/$t"

  /** The corpus stores lineitem and orders in date order, so copying it
    * split by split gives files clustered on the date, and 1 MB row groups
    * give the date filters row groups to skip.
    */
  def setUp(ctx: Ctx): Unit = tables.foreach { t =>
    val src = Tables.load(ctx.spark, ctx.data, t)
    EncryptedParquet.write(src, enc(ctx, t), Policies.byTable(t), ctx.kmsUrl,
      zstdLevel = Policies.readFixtureZstd, extraOptions = Policies.rowGroup)
    // Plaintext twins only serve the traced run's crypto ratios.
    if (ctx.twins) src.write.options(Policies.layout(Policies.readFixtureZstd))
      .options(Policies.rowGroup).parquet(plain(ctx, t))
  }

  def run(ctx: Ctx, op: Op): Result = {
    val df = ctx.tracer.span("build")(frame(ctx, op, encrypted = true))
    val rows = ctx.tracer.span("action")(df.collect())
    Result(df.schema, rows)
  }

  /** Traced run: the crypto layer's read overhead, from the same operation
    * run again on the encrypted copy and on its plaintext twin. The timed
    * operation ran first and compiled the plan's generated code; one
    * untimed twin pass warms the twin's side too, and the two timed passes
    * alternate which copy goes first. Denied operations have no twin time.
    */
  override def traced(ctx: Ctx, op: Op): Map[String, Double] =
    if (op.p.get("deny").asBoolean) Map.empty
    else {
      val quiet = ctx.copy(tracer = Tracer.off)
      def time(encrypted: Boolean): Double = {
        val t0 = System.nanoTime()
        frame(quiet, op, encrypted).collect()
        (System.nanoTime() - t0) / 1e9
      }
      time(encrypted = false)
      val order = if (op.id % 2 == 0) Seq(true, false) else Seq(false, true)
      val walls = order.map(e => e -> time(e)).toMap
      Map("enc_wall_s" -> walls(true), "twin_wall_s" -> walls(false))
    }

  private def frame(ctx: Ctx, op: Op, encrypted: Boolean): DataFrame = {
    val p = op.p
    val token = Option(p.get("token")).filterNot(_.isNull).map(_.asText)
    def table(t: String): DataFrame =
      if (encrypted) ctx.tracer.span("io.read")(
        EncryptedParquet.read(ctx.spark, enc(ctx, t), ctx.kmsUrl, token))
      else ctx.spark.read.parquet(plain(ctx, t))
    def between(c: String): Column =
      col(c) >= to_timestamp(lit(p.get("d0").asText)) &&
        col(c) < to_timestamp(lit(p.get("d1").asText))
    op.kind match {
      case "scan_l" => table("lineitem").where(between("l_shipdate"))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      case "scan_o" => table("orders").where(between("o_orderdate"))
        .select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")
      case "filter_plain" => table("lineitem")
        .where(col("l_partkey") === p.get("partkey").asLong)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      case "filter_enc" => table("lineitem")
        .where(between("l_shipdate") && col("l_discount") === p.get("discount").asDouble &&
          col("l_quantity") > p.get("quantity").asDouble)
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_tax")
      case "agg_l" => table("lineitem").where(between("l_shipdate"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), rsum(disc).as("revenue"),
          rsum(col("l_quantity")).as("qty"))
      case "agg_o" => table("orders").where(between("o_orderdate"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), rsum(col("o_totalprice")).as("total"))
      case "join" =>
        val o = table("orders").where(between("o_orderdate"))
        o.join(table("lineitem"), col("o_orderkey") === col("l_orderkey"))
          .join(table("customer"), col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n"), rsum(disc).as("revenue"))
      case k => throw new IllegalArgumentException(s"unknown pme_read kind $k")
    }
  }
}

/** pme_write: seeded date-range slices of lineitem and orders, each read
  * from plaintext parquet and written encrypted with the library defaults
  * into a fresh directory.
  */
final class PmeWrite extends Workload {
  private var sources: Map[String, DataFrame] = Map.empty

  private def slice(op: Op): DataFrame = {
    val c = op.p.get("column").asText
    sources(op.p.get("table").asText)
      .where(col(c) >= to_timestamp(lit(op.p.get("d0").asText)) &&
        col(c) < to_timestamp(lit(op.p.get("d1").asText)))
  }

  /** The sources are the plaintext corpus files, stored in date order
    * with small row groups, so a slice's scan reads only the row groups
    * that hold it and the operation's time is the encrypted write.
    */
  def setUp(ctx: Ctx): Unit = {
    sources = Seq("lineitem", "orders").map(t => t -> Tables.load(ctx.spark, ctx.data, t)).toMap
  }

  private def outDir(ctx: Ctx, op: Op) =
    s"${ctx.scratch}/w/${op.p.get("table").asText}_op${op.id}"

  def run(ctx: Ctx, op: Op): Result = {
    val dir = outDir(ctx, op)
    val df = ctx.tracer.span("build")(slice(op))
    ctx.tracer.span("action")(ctx.tracer.span("io.write")(
      EncryptedParquet.write(df, dir, Policies.byTable(op.p.get("table").asText), ctx.kmsUrl)))
    Result(df.schema, Array.empty, dir)
  }

  /** After the clock: RESTRICTED read-back fingerprints of every written
    * slice, file counts and bytes, and in the traced run the crypto layer's
    * write overhead: each distinct slice written again encrypted and as a
    * plaintext twin at identical layout, after one untimed plaintext write
    * warms the twin's side, the two timed writes alternating which goes
    * first.
    */
  override def finish(ctx: Ctx, done: Seq[Done]): Map[String, Any] = {
    val ok = done.filter(_.status == "ok")
    val readback = ok.groupBy(_.op.p.get("table").asText).toSeq.flatMap { case (t, ds) =>
      ds.map { d =>
        EncryptedParquet.read(ctx.spark, outDir(ctx, d.op), ctx.kmsUrl, Some("RESTRICTED"))
          .withColumn("op", lit(d.op.id.toString))
      }.reduce(_ unionByName _)
        .groupBy("op").agg(count(lit(1)).as("n"), fingerprint(t): _*).collect().map { r =>
          r.getString(0) -> r.toSeq.drop(1).map(Cells.cell)
        }
    }.toMap
    val files = ok.map(d => d.op.id.toString -> Policies.parquetBytes(outDir(ctx, d.op)))
    // Twins only serve the traced run's per-layer ratios.
    val twins = if (!ctx.twins) Map.empty else ok.groupBy(_.op.spec).map { case (spec, ds) =>
      val op = ds.head.op
      val t = op.p.get("table").asText
      def write(encrypted: Boolean, dir: String): Double = {
        val t0 = System.nanoTime()
        if (encrypted) EncryptedParquet.write(slice(op), dir, Policies.byTable(t), ctx.kmsUrl)
        else slice(op).write.options(Policies.layout(Policies.writeZstd)).parquet(dir)
        (System.nanoTime() - t0) / 1e9
      }
      val base = s"${ctx.scratch}/twin/${t}_op${op.id}"
      write(encrypted = false, s"$base/warm")
      val order = if (op.id % 2 == 0) Seq(true, false) else Seq(false, true)
      val walls = order.map(e => e -> write(e, s"$base/${if (e) "enc" else "plain"}")).toMap
      spec -> Map("enc_wall_s" -> walls(true), "wall_s" -> walls(false),
        "bytes" -> Policies.parquetBytes(s"$base/plain")._2,
        "enc_bytes" -> Policies.parquetBytes(s"$base/enc")._2)
    }
    Map("readback" -> readback,
      "files" -> files.map { case (k, (n, b)) => k -> Map("files" -> n, "bytes" -> b) }.toMap,
      "twins" -> twins)
  }

  /** Content checksums the independent engine reproduces exactly. */
  private def fingerprint(t: String): Seq[Column] = {
    def dec(c: String) = sum(col(c).cast("decimal(38,2)")).cast("string")
    def days(c: String) = sum(datediff(to_date(col(c)), lit("1970-01-01")))
    def chars(c: String) = sum(ascii(col(c)))
    if (t == "lineitem") Seq(sum("l_orderkey"), sum("l_partkey"), sum("l_suppkey"),
      sum("l_linenumber"), dec("l_quantity"), dec("l_extendedprice"), dec("l_discount"),
      dec("l_tax"), chars("l_returnflag"), chars("l_linestatus"), days("l_shipdate"))
    else Seq(sum("o_orderkey"), sum("o_custkey"), chars("o_orderstatus"),
      dec("o_totalprice"), days("o_orderdate"), sum(length(col("o_orderpriority"))))
  }
}

/** registry: named engine queries over plaintext parquet, in a seeded
  * order each pass. Each operation's kind is the query name.
  */
final class RegistryRun extends Workload {
  private val queries = SparkEntry.queries

  def setUp(ctx: Ctx): Unit = ()

  /** Queries that persist intermediates leave them cached; drop them so
    * no query runs against another's leftovers (the engine's Bench and
    * Verify do the same between queries).
    */
  override def betweenOps(ctx: Ctx): Unit = ctx.spark.catalog.clearCache()

  def run(ctx: Ctx, op: Op): Result = {
    val fn = queries(op.kind)
    val df = ctx.tracer.span("build")(fn(ctx.spark, ctx.data))
    val rows = ctx.tracer.span("action")(df.collect())
    Result(df.schema, rows)
  }

  override def finish(ctx: Ctx, done: Seq[Done]): Map[String, Any] = {
    val names = done.map(_.op.kind).toSet
    Map("oracle_sql" -> SparkEntry.oracleSql.filter { case (k, _) => names(k) })
  }
}
