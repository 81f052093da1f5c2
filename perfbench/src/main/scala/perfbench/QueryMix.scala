package perfbench

import graft.queries.QueryDef
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import scala.util.Random

/** Seeded tables in the layout the registry queries read (one parquet
  * dataset per table, TPC-H-like star schema plus events, documents and
  * embeddings). Row counts follow the scale factor `sf`. */
object QueryTables {
  val Vocab: Array[String] = ("key agg row scan slow fast table value part hash " +
    "a the line sort window merge batch spark order data column join small " +
    "customer query big stream filter group vector").split(" ")

  def write(spark: SparkSession, dir: Path, seed: Long, sf: Double): Unit = {
    import spark.implicits._
    def n(base: Double): Long = math.max(1L, math.round(base * sf))
    // uniform [0,1) per (row, stream), a pure function of (seed, id, k)
    def u(k: Int) = pmod(xxhash64(lit(seed), col("id"), lit(k)), lit(1000000L)) / 1e6
    def pick(k: Int, xs: String*) = element_at(typedLit(xs), (floor(u(k) * xs.size) + 1).cast("int"))
    def int(k: Int, lo: Int, hi: Int) = (floor(u(k) * (hi - lo + 1)) + lo)
    val nO = n(1.5e6); val nC = n(1.5e5); val nS = n(1e4); val nP = n(2e5)
    val day = (base: String, k: Int, span: Int) =>
      date_add(lit(base).cast("date"), int(k, 0, span).cast("int")).cast("timestamp")
    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (r, i) => (i, r) }.toDF("r_regionkey", "r_name"),
      "nation" -> (0 until 25).map(i => (i, s"NATION_$i", i % 5))
        .toDF("n_nationkey", "n_name", "n_regionkey"),
      "customer" -> spark.range(nC).select(col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        int(1, 0, 24).cast("int").as("c_nationkey"),
        round(u(2) * 10999 - 999.99, 2).as("c_acctbal"),
        pick(3, "MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
          .as("c_mktsegment")),
      "supplier" -> spark.range(nS).select(col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"),
        int(1, 0, 24).cast("int").as("s_nationkey"),
        round(u(2) * 10999 - 999.99, 2).as("s_acctbal")),
      "part" -> spark.range(nP).select(col("id").as("p_partkey"),
        concat_ws(" ", pick(1, "blue", "hot", "small", "old", "new", "cold", "red", "large"),
          pick(2, "bolt", "gear", "anvil", "widget", "ring", "rod", "plate", "gizmo"))
          .as("p_name"),
        concat(lit("Brand#"), int(3, 1, 25).cast("string")).as("p_brand"),
        pick(4, "ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO").as("p_type"),
        int(5, 1, 50).cast("int").as("p_size"),
        round(lit(900.0) + pmod(col("id"), lit(1000L)) / 10.0, 1).as("p_retailprice")),
      "orders" -> spark.range(nO).select(col("id").as("o_orderkey"),
        int(1, 0, (nC - 1).toInt).cast("long").as("o_custkey"),
        pick(2, "P", "O", "F").as("o_orderstatus"),
        round(u(3) * 499000 + 1000, 2).as("o_totalprice"),
        day("1995-01-01", 4, 2404).as("o_orderdate"),
        pick(5, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
          .as("o_orderpriority")),
      "lineitem" -> spark.range(n(6e6)).select(
        int(1, 0, (nO - 1).toInt).cast("long").as("l_orderkey"),
        int(2, 0, (nP - 1).toInt).cast("long").as("l_partkey"),
        int(3, 0, (nS - 1).toInt).cast("long").as("l_suppkey"),
        int(4, 1, 7).cast("int").as("l_linenumber"),
        int(5, 1, 50).cast("double").as("l_quantity"),
        round(u(6) * 104100 + 900, 2).as("l_extendedprice"),
        (int(7, 0, 10) / 100.0).as("l_discount"),
        (int(8, 0, 8) / 100.0).as("l_tax"),
        pick(9, "A", "N", "R").as("l_returnflag"),
        pick(10, "O", "F").as("l_linestatus"),
        day("1995-01-02", 11, 2498).as("l_shipdate")),
      "events" -> {
        val ne = n(1e6)
        spark.range(ne).select(col("id").as("event_id"),
          timestamp_micros(lit(1704067200000000L) +
            (col("id") * (30L * 86400000000L / ne)) +
            (u(1) * 1e7).cast("long")).as("ts"),
          int(2, 0, (n(15000) - 1).toInt).cast("long").as("user_id"),
          pick(3, "click", "signup", "error", "view", "purchase").as("event_type"),
          round(u(4) * 490 + 0.01, 2).as("value"),
          format_string("{\"k\": %d}", int(5, 0, 99).cast("int")).as("props"))
      },
      "documents" -> documents(spark, seed, n(50000).toInt),
      "embeddings" -> embeddings(spark, seed, math.max(500, n(20000).toInt)))
    val prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try tables.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
  }

  /** Word-salad documents over a 30-word vocabulary; one in ten is a
    * near-copy of an earlier document with one word changed, so the
    * dedup queries have duplicates to find. */
  def documents(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    import spark.implicits._
    val rng = new Random(seed * 31 + 4)
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    for (i <- 0 until n) {
      val t =
        if (i > 10 && rng.nextInt(10) == 0) {
          val w = texts(i - 1 - rng.nextInt(10)).split(" ")
          w(rng.nextInt(w.length)) = Vocab(rng.nextInt(Vocab.length))
          w.mkString(" ")
        } else Seq.fill(20 + rng.nextInt(60))(Vocab(rng.nextInt(Vocab.length))).mkString(" ")
      texts += t
    }
    val langs = Seq("en", "en", "en", "zh", "de", "fr", "es")
    texts.toSeq.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, langs(rng.nextInt(langs.size)), s"src${rng.nextInt(20)}", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Random unit vectors in 64 dimensions with one of 10 labels. */
  def embeddings(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    import spark.implicits._
    val rng = new Random(seed * 31 + 5)
    (0 until n).map { i =>
      val label = rng.nextInt(10)
      val v = Array.fill(64)(rng.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
    }.toDF("vec_id", "embedding", "label")
  }
}

/** query_mix: registry queries over warm stores, one or two from each of
  * the seven query modules, each once per iteration in a seeded order,
  * split into construct (`fn`), plan (`executedPlan`) and execute (a
  * `noop` write that materializes every output column). */
final class QueryMix extends Workload {
  val Sf = 0.01
  val Mix = Seq(
    "q01_pricing_summary", "q99_bm25_indexed", "qci_hygiene_pipeline",
    "q42_minhash_lsh", "q59_semantic_dedup", "q6d_running_totals",
    "q8e_image_phash", "qc7_pii_redact")

  /** (module, query) for every member of the mix, in `Mix` order. */
  val defs: Seq[(String, QueryDef)] = {
    val all = graft.SparkEntry.registries.flatMap(r =>
      r.defs.map(d => d.name -> (r.getClass.getSimpleName.stripSuffix("$"), d))).toMap
    Mix.map(all)
  }

  private var tables: Path = _
  private var iter = 0
  private def scratch: Path =
    java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"), "graft_scratch")

  /** Store directories under the engine's scratch root, with the newest
    * modification time inside each. */
  private def stores(): Map[String, Long] = Util.list(scratch).map { d =>
    val s = Files.walk(d)
    try d.getFileName.toString -> s.iterator.asScala.map(
      Files.getLastModifiedTime(_).toMillis).max
    finally s.close()
  }.toMap

  private def builds(before: Map[String, Long], after: Map[String, Long]): Int =
    after.count { case (k, t) => before.get(k).forall(_ != t) }

  private def runQuery(ctx: Ctx, module: String, d: QueryDef): Unit = {
    val df = ctx.spans(s"queries.$module.construct")(d.fn(ctx.spark, tables.toString))
    ctx.spans(s"queries.$module.plan")(df.queryExecution.executedPlan)
    ctx.spans(s"queries.$module.execute")(
      df.write.format("noop").mode("overwrite").save())
  }

  def setup(ctx: Ctx, rep: Int): Unit = {
    tables = ctx.dir("tables")
    QueryTables.write(ctx.spark, tables, ctx.seed, Sf)
  }

  private var results: Path = _
  private var coldDigests = Map.empty[String, (Int, String)]
  private var primed = Map.empty[String, Long]

  /** Cold pass: builds every store the mix reads and writes each result
    * for the oracle compare; it also warms the JVM. */
  override def prime(ctx: Ctx): Unit = {
    results = ctx.dir("results")
    val before = stores()
    val t0 = System.nanoTime()
    for ((_, d) <- defs) {
      val p = results.resolve(d.name).toString
      val s = ctx.op(d.name) {
        d.fn(ctx.spark, tables.toString).coalesce(1).write.mode("overwrite").parquet(p)
        val rows = ctx.spark.read.parquet(p).collect()
        coldDigests += d.name -> (rows.length, digest(rows))
      }
      System.err.println(f"[perfbench] cold ${d.name} $s%.3f s")
    }
    ctx.put("store.build_s", (System.nanoTime() - t0) / 1e9, "s")
    primed = stores()
    ctx.put("store.builds", builds(before, primed).toDouble, "count")
  }

  def iteration(ctx: Ctx): Seq[(String, Double)] = {
    iter += 1
    new Random(ctx.seed * 1000 + iter).shuffle(defs).map { case (m, d) =>
      d.name -> ctx.op(d.name)(runQuery(ctx, m, d))
    }
  }

  /** Canonical digest of a result: rows rendered with floats to 6
    * significant digits, sorted. */
  private def digest(rows: Array[Row]): String = Util.md5Hex(rows.map(_.toSeq.map {
    case null => "NULL"
    case v: Double => f"$v%.6g"
    case v: Float => f"${v.toDouble}%.6g"
    case v => v.toString
  }.mkString("\u0001")).sorted.mkString("\n"))

  /** Once per run, outside the timed region: every result is non-empty
    * and no warm iteration rebuilt a store; a query without oracle SQL
    * (every query, in the traced run) must digest the same as in the
    * cold pass. The cold results and oracle SQL are left for the DuckDB
    * compare. */
  def verify(ctx: Ctx): Unit = {
    ctx.check("no store rebuilt by warm iterations", builds(primed, stores()) == 0)
    val oracles = scala.collection.mutable.LinkedHashMap.empty[String, String]
    for ((_, d) <- defs) {
      val (n, cold) = coldDigests.getOrElse(d.name, (0, ""))
      ctx.check(s"${d.name} rows > 0", n > 0)
      if (d.oracle.isEmpty || ctx.trace) {
        val again = digest(d.fn(ctx.spark, tables.toString).collect())
        ctx.check(s"${d.name} stable", again == cold)
      }
      d.oracle.foreach(oracles(d.name) = _)
    }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    Files.writeString(results.resolve("oracle_sql.json"), mapper.writeValueAsString(oracles.asJava))
    Files.writeString(results.resolve("tables_dir"), tables.toString)
  }

  def layers(ctx: Ctx): Unit = {
    val spans = ctx.spans.all
    val iterations = math.max(1, spans.count(_.name == "iteration"))
    for (m <- defs.map(_._1).distinct; part <- Seq("construct", "plan", "execute"))
      ctx.put(s"queries.$m.${part}_s", spans.filter(_.name == s"queries.$m.$part")
        .map(_.seconds).sum / iterations, "s")
    // jobs launched inside `fn`, before any action: one pass, counted
    val jobs0 = ctx.counters.jobs.get
    for ((_, d) <- defs) d.fn(ctx.spark, tables.toString)
    org.apache.spark.ListenerDrain(ctx.spark.sparkContext)
    ctx.put("queries.construct_jobs", (ctx.counters.jobs.get - jobs0).toDouble, "count")
    val before = stores()
    iteration(ctx)
    ctx.put("store.warm_builds", builds(before, stores()).toDouble, "count")
    ctx.put("store.bytes", Util.treeBytes(scratch).toDouble, "bytes")
  }
}
