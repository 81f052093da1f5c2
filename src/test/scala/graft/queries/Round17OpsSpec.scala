package graft.queries

import graft.SparkSuite
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Round-17 additions and hardening: the PII redaction family's
  * planted fixtures and near-miss negatives, the language-ID
  * classifier's hand-replayable round-1 update, the G.711 RIFF pad
  * byte (r16 advice #2), and walkShard's tolerance of stale stored
  * edges (r16 advice #1). */
class Round17OpsSpec extends AnyFunSuite with SparkSuite {

  // ---- qc7/qc8: PII fixtures -----------------------------------------

  test("qc7 planted branches: each pattern class exercised, clean and " +
    "negative branches untouched, length identity everywhere") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val out = SparkEntryAccess.run(spark, "qc7_pii_redact",
      "/root/testdata/sf0.001")
    val byBranch = out
      .groupBy((col("doc_id") % 7).as("b"))
      .agg(sum($"n_email").as("e"), sum($"n_id").as("i"),
        sum($"n_phone").as("p"), sum($"n_ipv4").as("ip"),
        sum(when($"len_identity", 0).otherwise(1)).as("bad"),
        sum(when($"orig_len" === $"red_len", 0).otherwise(1))
          .as("changed"),
        count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r).toMap
    // every branch holds the length identity
    byBranch.values.foreach(r => assert(r.getLong(5) == 0))
    // branch 0 (clean) and 6 (negatives only): zero matches, text
    // byte-identical (orig_len == red_len for every doc)
    for (b <- Seq(0L, 6L)) {
      val r = byBranch(b)
      assert(Seq(1, 2, 3, 4).map(r.getLong).sum == 0, s"branch $b matched")
      assert(r.getLong(6) == 0, s"branch $b text changed")
    }
    // single-class branches: exactly one match per doc of THAT class
    assert(byBranch(1L).getLong(1) == byBranch(1L).getLong(7))
    assert(byBranch(2L).getLong(3) == byBranch(2L).getLong(7))
    assert(byBranch(3L).getLong(4) == byBranch(3L).getLong(7))
    assert(byBranch(4L).getLong(2) == byBranch(4L).getLong(7))
    // the all-four branch: one of EACH class per doc
    val b5 = byBranch(5L)
    Seq(1, 2, 3, 4).foreach(i =>
      assert(b5.getLong(i) == b5.getLong(7), s"all-four col $i"))
  }

  test("qc7 adversarial bodies: boundary-adjacent ids, out-of-range " +
    "octets and trailing-dot emails through the exact shipped stages") {
    import spark.implicits._
    val rows = Seq(
      (1L, "x123-45-6789 and 123-45-6789x stay; 123-45-6789 goes"),
      (2L, "ip 1.2.3.4 ok but 1.2.3.256 and 999.999.999.999 stay"),
      (3L, "see a@b.co. end"),
      (4L, "two u1@x.io then u2@y.org emails"),
      (5L, "phone 555-123-4567 is not an id; id 123-45-6789 is not a phone"))
      .toDF("doc_id", "t0")
    val got = Privacy.redactStages(rows)
      .select($"doc_id", $"t4").as[(Long, String)].collect().toMap
    assert(got(1L) == "x123-45-6789 and 123-45-6789x stay; [ID] goes")
    assert(got(2L) == "ip [IPV4] ok but 1.2.3.256 and 999.999.999.999 stay")
    assert(got(3L) == "see [EMAIL]. end")
    assert(got(4L) == "two [EMAIL] then [EMAIL] emails")
    assert(got(5L) == "phone [PHONE] is not an id; id [ID] is not a phone")
  }

  test("qc7: documents scrubbed as a STREAM match the batch redaction") {
    // PII scrubbing is stateless per document, so the streaming form
    // is the trivially-correct one — this pins that the shipped stage
    // chain really is per-row (a stage that accidentally depended on
    // cross-document state would diverge under micro-batching)
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val streamDir = java.nio.file.Files.createTempDirectory("qc7-stream")
    docs.repartition(2).write.mode("overwrite").parquet(streamDir.toString)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val query = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir.toString)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = Privacy.redactStages(Privacy.plantedDocs(df))
          .select(col("doc_id"), md5(col("t4").cast("binary")))
          .collect().map(r => (r.getLong(0), r.getString(1)))
        out.synchronized { out ++= rows }
        ()
      }
      .start()
    try query.processAllAvailable() finally query.stop()
    val batch = SparkEntryAccess.run(spark, "qc7_pii_redact", dir)
      .select("doc_id", "red_md5").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out.toSet == batch && batch.size == 500,
      "streamed per-trigger redaction diverged from the batch pass")
  }

  test("qc8 inventory carries no doc from the clean or negative " +
    "branches and covers all four classes") {
    import org.apache.spark.sql.functions._
    val inv = SparkEntryAccess.run(spark, "qc8_pii_inventory",
      "/root/testdata/sf0.001")
    assert(inv.select("pii_class").distinct().count() == 4)
    assert(inv.filter(col("min_doc") % 7 === 0 ||
      col("min_doc") % 7 === 6).count() == 0)
  }

  // ---- qc9/qca: language-ID ------------------------------------------

  test("qc9 round-1 update replays by hand: zero weights predict the " +
    "first class, misclassified labels gain their counts") {
    import spark.implicits._
    // two docs, one per split-parity; trigram features of "aaaa" are
    // two copies of "aaa" → ONE bucket with cnt 2
    val docs = Seq(
      (0L, "aaaa", "en"), // train (doc_id even)
      (2L, "bbbb", "de"), // train
      (1L, "aaaa", "en")) // eval — must not influence training
      .toDF("doc_id", "text", "lang")
    val f = TextOps.langIdFeatures(docs)
    val (classes, rounds) = TextOps.langIdFit(f)
    assert(classes == Seq("de", "en"))
    def bucketOf(tri: String): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(tri.getBytes("UTF-8")).take(2)
        .map("%02x".format(_)).mkString
      (Integer.parseInt(hex, 16) % TextOps.LangIdBuckets +
        TextOps.LangIdBuckets) % TextOps.LangIdBuckets
    }
    val (nErr1, w1) = rounds.head
    // with w0 = 0 every score ties at 0 → pred = "de" for both train
    // docs → exactly the "en" doc is misclassified
    assert(nErr1 == 1L)
    val ba = bucketOf("aaa")
    // en (label) gains +2 at bucket("aaa"); de (pred) loses 2 there
    assert(w1(classes.indexOf("en"))(ba) == 2L)
    assert(w1(classes.indexOf("de"))(ba) == -2L)
    assert(w1.map(_.map(math.abs).sum).sum == 4L,
      "no other cell may move in round 1")
  }

  test("qca confusion matrix counts every document exactly once per " +
    "split and pins the weight checksum") {
    import org.apache.spark.sql.functions._
    val out = SparkEntryAccess.run(spark, "qca_langid_apply",
      "/root/testdata/sf0.001").cache()
    try {
      val bySplit = out.groupBy("split")
        .agg(sum("n_docs").as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(bySplit("train") + bySplit("eval") == 500L)
      assert(out.select("w_checksum").distinct().count() == 1)
    } finally { out.unpersist(); () }
  }

  test("qca: documents scored as a STREAM match the batch inference") {
    // the language-ID deployment shape (q9f's precedent): the model
    // trains once on the static corpus, then documents arrive as
    // micro-batches and each trigger scores its batch with the same
    // C×K broadcast frame — drained per-doc predictions must equal
    // the one-shot batch scoring
    val dir = "/root/testdata/sf0.001"
    val (classes, w) = TextOps.langIdTrainedModel(spark, dir)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text", "lang")
    val streamDir = java.nio.file.Files.createTempDirectory("qca-stream")
    docs.repartition(2).write.mode("overwrite").parquet(streamDir.toString)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String)]
    val nTriggers = new java.util.concurrent.atomic.AtomicInteger(0)
    val query = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir.toString)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = TextOps.langIdScore(df, classes, w).collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(3)))
        out.synchronized { out ++= rows }
        nTriggers.incrementAndGet(); ()
      }
      .start()
    try query.processAllAvailable() finally query.stop()
    assert(nTriggers.get() == 2, s"expected 2 triggers, got ${nTriggers.get()}")
    val batch = TextOps.langIdScore(docs, classes, w).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(3))).toSet
    assert(out.toSet == batch && batch.nonEmpty,
      "streamed per-trigger language-ID diverged from the batch apply")
  }

  test("qcc repetition metrics replay by hand and the thresholds " +
    "split the corpus non-trivially") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // "a a a b": top word a ×3 of 4 words → 750000 micro; sorted
    // 2-grams [a a, a a, a b] → 2 of 3 tokens duplicated → 666666;
    // 3-grams [a a a, a a b] → none duplicated → 0.
    // "x y z w": nothing repeats → 250000 / 0 / 0.
    val hand = TextOps.repetitionMetricsOf(
      Seq((1L, "a a a b"), (2L, "x y z w")).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(hand(1L) == ((750000L, 666666L, 0L)))
    assert(hand(2L) == ((250000L, 0L, 0L)))
    val split = TextOps.repetitionFilter(spark, "/root/testdata/sf0.001")
      .groupBy($"kept").count().collect()
      .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    assert(split.getOrElse(true, 0L) > 0 && split.getOrElse(false, 0L) > 0,
      s"thresholds must split the corpus non-trivially: $split")
  }

  test("qcb entry-warming beats cold starts at the same hop budget — " +
    "the measured claim the hierarchy ships on") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val c = Similarity.corpus(spark, dir)
    val parts = Similarity.nswPartsAt(spark, dir)
    val q = broadcast(Similarity.queriesOf(c))
    val p = Similarity.withPt(c, parts)
    val edges = Similarity.nswEdgesStored(spark, dir, parts)
    val entries = p.groupBy(col("pt"))
      .agg(min(col("vec_id")).as("vec_id"))
    val ex = Similarity.exactTopkStored(spark, dir)
      .select(col("q_id"), col("neighbor_id"))
    def meanRecall(vis: org.apache.spark.sql.DataFrame): Double = {
      val cand = vis.select(col("q_id"), col("vec_id"), col("cos"))
        .distinct().filter(col("vec_id") =!= col("q_id"))
      val ann = Similarity.topKPerQuery(cand.select(col("q_id"),
          col("vec_id").as("neighbor_id"), col("cos").as("cosine")))
        .select(col("q_id"), col("neighbor_id"))
      ex.groupBy(col("q_id")).agg(count(lit(1)).as("possible"))
        .join(ann.join(ex, Seq("q_id", "neighbor_id"), "left_semi")
            .groupBy(col("q_id")).agg(count(lit(1)).as("h")),
          Seq("q_id"), "left")
        .agg((sum(coalesce(col("h"), lit(0L))).cast("double") /
          sum(col("possible"))).as("m")).collect().head.getDouble(0)
    }
    val cold2 = meanRecall(Similarity.beamWalk(p, edges, q,
      q.select(col("q_id")).crossJoin(entries), Similarity.HnswBaseHops))
    val warm2 = SparkEntryAccess.run(spark, "qcb_graph_ann_hnsw", dir)
      .select("mean_recall").head().getDouble(0)
    assert(warm2 > cold2,
      s"warm entries must beat cold at H=${Similarity.HnswBaseHops}: " +
        s"warm=$warm2 cold=$cold2")
    assert(warm2 >= Similarity.HnswRecallPin)
  }

  test("qcd samples on DERIVED language with the same model qca " +
    "scored with, and strata partition the corpus") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val strat = SparkEntryAccess.run(spark, "qcd_langid_stratified", dir)
      .cache()
    try {
      val rows = strat.collect()
      assert(rows.map(_.getLong(1)).sum == 500L,
        "per-stratum totals must partition the corpus")
      rows.foreach { r =>
        assert(r.getLong(2) <= r.getLong(1),
          s"stratum ${r.getString(0)}: kept > total")
      }
      // the SAME model: qcd's weight checksum equals qca's
      val qcaChk = SparkEntryAccess.run(spark, "qca_langid_apply", dir)
        .select("w_checksum").head().getLong(0)
      assert(rows.map(_.getLong(4)).distinct.toSeq == Seq(qcaChk),
        "qcd must govern with the exact model qca scored with")
    } finally { strat.unpersist(); () }
  }

  // ---- r16 advice items ----------------------------------------------

  test("walkShard skips stale edges referencing nodes absent from the " +
    "shard and drops queries whose entry is absent — the declarative " +
    "twin's join tolerance") {
    val nodes = Seq(
      (1L, Seq(1.0, 0.0), 1.0),
      (2L, Seq(0.6, 0.8), 1.0))
    val edges = Seq((1L, 2L), (1L, 99L)) // 99 is stale
    val q = Seq((10L, 1L, Seq(1.0, 0.0), 1.0))
    val out = Similarity.walkShard(0L, nodes, edges, q).toList
    assert(out.map(_._3).toSet == Set(1L, 2L), "stale endpoint skipped")
    val none = Similarity.walkShard(0L, nodes, edges,
      Seq((11L, 77L, Seq(1.0, 0.0), 1.0))).toList
    assert(none.isEmpty, "absent entry yields no rows, not a crash")
  }
}

/** Test-side shim: run a registered query by name. */
private object SparkEntryAccess {
  def run(s: SparkSession, name: String, dir: String) =
    graft.SparkEntry.queries(name)(s, dir)
}
