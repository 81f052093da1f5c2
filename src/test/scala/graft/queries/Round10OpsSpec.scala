package graft.queries

import graft.SparkSuite
import org.apache.spark.sql.execution.FileSourceScanExec
import org.scalatest.funsuite.AnyFunSuite

/** Result-level contracts for the round-10 operators, each pinned
  * against an independent in-JVM recompute (never against the engine's
  * own expressions). */
class Round10OpsSpec extends AnyFunSuite with SparkSuite {
  private val sfDir = "/root/testdata/sf0.001"

  // ---------------------------------------------------------------
  // q9a: batch perceptron training loop
  // ---------------------------------------------------------------

  /** Pure-Scala replay of the q9a training loop over raw (text, lang)
    * rows — counts computed with string scans, no Spark expressions. */
  private def bruteForcePerceptron(docs: Seq[(String, String)],
      rounds: Int): Seq[(Int, Long, Seq[Long])] = {
    val feats = docs.map { case (text, lang) =>
      val y = if (lang == "en") 1L else -1L
      val toks = text.split(" ", -1).count(_.nonEmpty).toLong
      val vowels = text.count("aeiou".contains(_)).toLong
      val st = text.count(c => c == 's' || c == 't').toLong
      (y, Seq(1L, text.length.toLong, toks, vowels, st))
    }
    val w = Array.fill(5)(0L)
    (1 to rounds).map { r =>
      val mis = feats.filter { case (y, x) =>
        y * x.zip(w.toSeq).map { case (a, b) => a * b }.sum <= 0
      }
      val g = (0 until 5).map(i => mis.map { case (y, x) => y * x(i) }.sum)
      for (i <- 0 until 5) w(i) += g(i)
      (r, mis.size.toLong, w.toSeq)
    }
  }

  test("q9a: engine training trajectory equals the pure-Scala replay") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("text", "lang").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    val expected = bruteForcePerceptron(docs, TextOps.PerceptronRounds)
    val got = TextOps.perceptronTrain(spark, sfDir)
      .orderBy("round").collect()
      .map(r => (r.getInt(0), r.getLong(1),
        Seq(r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6))))
      .toSeq
    assert(got == expected,
      s"trajectory mismatch:\n engine: $got\n replay: $expected")
  }

  test("q9a: a zero-error round freezes the weights for all later rounds") {
    // single-class corpus: round 1 misclassifies everything (margin 0
    // under w=0), the update then classifies every row correctly, and
    // rounds 2..n must emit n_err=0 with UNCHANGED weights
    val dir = java.nio.file.Files.createTempDirectory("q9a_fix").toString
    import spark.implicits._
    Seq((1L, "spark table scan", "en"), (2L, "merge sort join", "en"),
      (3L, "hash agg window", "en"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextOps.perceptronTrain(spark, dir).orderBy("round").collect()
    assert(rows.head.getLong(1) == 3L, "round 1 must misclassify all rows")
    val w1 = (2 to 6).map(rows.head.getLong(_))
    for (r <- rows.tail) {
      assert(r.getLong(1) == 0L, s"round ${r.getInt(0)} should be error-free")
      assert((2 to 6).map(r.getLong(_)) == w1,
        "weights must freeze once the gradient is zero")
    }
  }

  // ---------------------------------------------------------------
  // q9b: incrementally maintained BM25 postings index
  // ---------------------------------------------------------------

  private def delTree(p: java.nio.file.Path): Unit = {
    def del(f: java.io.File): Unit = {
      Option(f.listFiles).toSeq.flatten.foreach(del)
      f.delete(); ()
    }
    del(p.toFile)
  }

  test("q9b: incremental merge ≡ full rebuild, reuse path reads zero corpus") {
    // clean slate: drop any index left by an earlier session/run
    val (_, _, _, indexDir) = TextOps.loadOrBuildIncPostings(spark, sfDir)
    delTree(java.nio.file.Paths.get(indexDir))

    val (post1, _, rebuilt1, _) = TextOps.loadOrBuildIncPostings(spark, sfDir)
    assert(rebuilt1, "fresh dir must trigger base build + delta apply")

    // merge ≡ rebuild: the maintained index answers exactly like the
    // scan-once BM25 over the FULL corpus (base ∪ delta)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val full = TextOps.bm25TopK(docs, TextOps.Bm25IncTerms, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val inc = TextOps.bm25Incremental(spark, sfDir, TextOps.Bm25IncTerms, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(inc == full, "incrementally maintained serve diverged from rebuild")

    // the appended layout holds every doc exactly once
    val corpusN = docs.count()
    assert(post1.select("doc_id").distinct().count() == corpusN,
      "merged postings must cover base + delta with no loss/duplication")

    // bucket layout preserved: the append created no new top level —
    // only term_bucket=N directories (pruning survives maintenance)
    val postRoot = java.nio.file.Paths.get(indexDir, "postings").toFile
    val subdirs = postRoot.listFiles().filter(_.isDirectory).map(_.getName)
    assert(subdirs.nonEmpty && subdirs.forall(_.startsWith("term_bucket=")),
      s"unexpected layout after append: ${subdirs.toSeq}")

    // reuse path: no rebuild, and the executed serve plan reads ONLY
    // the stored index — zero documents.parquet scans
    val (_, _, rebuilt2, dir2) = TextOps.loadOrBuildIncPostings(spark, sfDir)
    assert(!rebuilt2 && dir2 == indexDir, "unchanged corpus must reuse")
    val served = TextOps.bm25Incremental(spark, sfDir,
      TextOps.Bm25IncTerms, 10)
    assert(served.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq == full)
    // AQE nests executed stages as QueryStageExec leaves — descend
    def allScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[FileSourceScanExec] =
      p.collect {
        case sc: FileSourceScanExec => Seq(sc)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          allScans(q.plan)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          allScans(a.executedPlan)
      }.flatten
    val scans = allScans(served.queryExecution.executedPlan)
    val roots = scans.flatMap(_.relation.location.rootPaths.map(_.toString))
    assert(roots.nonEmpty && roots.forall(_.contains(indexDir)),
      s"reuse-path serve reads outside the index: $roots")
    val files = scans.flatMap(_.selectedPartitions.toPartitionArray
      .map(_.filePath.toString))
    assert(files.nonEmpty && !files.exists(_.contains("documents.parquet")),
      "reuse-path serve re-read the corpus")
  }

  // ---------------------------------------------------------------
  // q9c: incrementally maintained HLL sketch state
  // ---------------------------------------------------------------

  test("q9c: stored registers reuse across calls; merged state matches " +
    "a from-scratch sketch (exactly, while sparse)") {
    val (_, _, stateDir) = Relational.loadOrBuildHllState(spark, sfDir)
    delTree(java.nio.file.Paths.get(stateDir))

    val (_, rebuilt1, _) = Relational.loadOrBuildHllState(spark, sfDir)
    assert(rebuilt1, "fresh dir must trigger a base-state build")
    val (stored, rebuilt2, dir2) = Relational.loadOrBuildHllState(spark, sfDir)
    assert(!rebuilt2 && dir2 == stateDir, "unchanged base must reuse state")

    // the stored state is the register file, not the corpus: its scan
    // reads only the state dir
    val scans = stored.queryExecution.executedPlan.collect {
      case sc: FileSourceScanExec => sc
    }
    assert(scans.size == 1 &&
      scans.head.relation.location.rootPaths
        .forall(_.toString.contains(stateDir)),
      "stored-state scan reads outside the state dir")

    // merge ≡ rebuild engine-side: hll_union is a register-wise max.
    // At this cardinality the sketches are still in sparse mode, where
    // the union also preserves the HIP estimator, so estimates match
    // EXACTLY; once dense (sf0.1) the union falls back to the
    // composite estimator and q9c's registered contract pins the
    // divergence ≤1% instead (observed ≤0.05%)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val merged = Relational.hllMergedEstimate(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rebuilt = spark.read.parquet(s"$sfDir/orders.parquet")
      .groupBy($"o_orderpriority")
      .agg(hll_sketch_estimate(
        hll_sketch_agg($"o_custkey", lit(Relational.HllLgK))).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged == rebuilt,
      s"maintained state diverged from rebuild:\n $merged\n $rebuilt")
  }

  // ---------------------------------------------------------------
  // q5d: int8 scalar-quantized ANN serve
  // ---------------------------------------------------------------

  test("q5d: engine quantized top-k equals a pure-Scala int8 replay") {
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) v")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toIndexedSeq).toMap

    def quant(v: IndexedSeq[Double]): (IndexedSeq[Long], Double, Double) = {
      val nrm = math.sqrt(v.map(x => x * x).sum)
      val sc = v.map(math.abs).max
      (v.map(x => math.round(x * 127 / sc)), nrm, sc)
    }
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val qz = vecs.map { case (id, v) => id -> quant(v) }
    val qIds = vecs.keys.filter(id => id % 100 == 0 && id < 2000).toSeq.sorted
    val expected = qIds.flatMap { q =>
      val (qq, qn, qsc) = qz(q)
      vecs.keys.filter(_ != q).toSeq
        .map { nId =>
          val (nv, nn, nsc) = qz(nId)
          val idot = qq.zip(nv).map { case (a, b) => a * b }.sum.toDouble
          (nId, r4(idot * (nsc * qsc / 16129.0) / (nn * qn)))
        }
        .sortBy { case (nId, c) => (-c, nId) }.take(5)
        .map { case (nId, c) => (q, nId, c) }
    }
    val got = Similarity.defs.find(_.name == "q5d_int8_ann").get
      .fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == expected, "quantized ranking diverged from the replay")
  }

  test("q5d: queries served as a STREAM match the batch serve") {
    // the serving-pipeline composition: query vectors arrive as two
    // single-file micro-batches, each trigger quantizes its batch and
    // runs the same int8TopK against the static quantized corpus —
    // drained results must equal the one-shot batch serve
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val z = Similarity.int8CorpusOf(emb).persist()
    val queries = emb.filter(col("vec_id") % 100 === 0 &&
      col("vec_id") < 2000)

    val streamDir = java.nio.file.Files.createTempDirectory("q5d-stream")
    queries.repartition(2).write.mode("overwrite")
      .parquet(streamDir.toString)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Double)]
    val nTriggers = new java.util.concurrent.atomic.AtomicInteger(0)
    val query = spark.readStream
      .schema(queries.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir.toString)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val qz = Similarity.int8CorpusOf(df)
          .select(col("vec_id").as("q_id"), col("qv").as("qqv"),
            col("nrm").as("qn"), col("sc").as("qsc"))
        val rows = Similarity.int8TopK(z, qz).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        out.synchronized { out ++= rows }
        nTriggers.incrementAndGet(); ()
      }
      .start()
    try query.processAllAvailable() finally query.stop()
    assert(nTriggers.get() == 2, s"expected 2 triggers, got ${nTriggers.get()}")

    val qAll = z.filter(col("vec_id") % 100 === 0 && col("vec_id") < 2000)
      .select(col("vec_id").as("q_id"), col("qv").as("qqv"),
        col("nrm").as("qn"), col("sc").as("qsc"))
    val batch = Similarity.int8TopK(z, qAll).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    z.unpersist()
    assert(out.toSet == batch && batch.nonEmpty,
      "streamed per-trigger serve diverged from the batch serve")
  }

  // ---------------------------------------------------------------
  // q9e: incrementally maintained count-min sketch
  // ---------------------------------------------------------------

  test("q9e: stored grid reuse across calls; additive merge equals a " +
    "from-scratch grid bit-for-bit") {
    import org.apache.spark.sql.functions._
    val (_, _, stateDir) = Relational.loadOrBuildCmsState(spark, sfDir)
    delTree(java.nio.file.Paths.get(stateDir))

    val (_, rebuilt1, _) = Relational.loadOrBuildCmsState(spark, sfDir)
    assert(rebuilt1, "fresh dir must trigger a base-grid build")
    val (stored, rebuilt2, dir2) = Relational.loadOrBuildCmsState(spark, sfDir)
    assert(!rebuilt2 && dir2 == stateDir, "unchanged base must reuse state")

    // the stored state is the counter grid, not the corpus
    val scans = stored.queryExecution.executedPlan.collect {
      case sc: FileSourceScanExec => sc
    }
    assert(scans.size == 1 &&
      scans.head.relation.location.rootPaths
        .forall(_.toString.contains(stateDir)),
      "stored-state scan reads outside the state dir")

    // counter addition is lossless: merged grid ≡ rebuild exactly —
    // no q9c-style estimator tolerance
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val merged = Relational.cmsMergedCounters(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val rebuilt = Relational.cmsCounters(
        spark.read.parquet(s"$sfDir/events.parquet").select(col("user_id")))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(merged == rebuilt && rebuilt.nonEmpty,
      "maintained grid diverged from a from-scratch build")
    assert(rebuilt.size <= Relational.CmsDepth * Relational.CmsWidth,
      "grid exceeded its depth×width bound")
  }

  test("q9e: every estimate dominates the exact count and matches a " +
    "pure-Scala sketch replay") {
    // independent replay: hash with java MessageDigest directly (not
    // Spark's md5), build the grid in a Scala Map, probe with min-over-
    // rows — the engine's estimates must match exactly
    import org.apache.spark.sql.functions._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val users = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_id"), col("user_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    def pos(d: Int, key: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$d|$key".getBytes("UTF-8"))
      java.lang.Long.parseLong(
        md.take(4).map("%02x".format(_)).mkString, 16) % Relational.CmsWidth
    }
    val grid = scala.collection.mutable.Map
      .empty[(Int, Long), Long].withDefaultValue(0L)
    for ((_, u) <- users; d <- 0 until Relational.CmsDepth)
      grid((d, pos(d, u))) += 1L
    val exact = users.groupBy(_._2).map { case (u, xs) => u -> xs.size.toLong }
    val probes = users.filter(_._1 % 10 == 0).map(_._2).distinct
    val expected = probes.map { u =>
      u -> (0 until Relational.CmsDepth).map(d => grid((d, pos(d, u)))).min
    }.toMap

    val got = Relational.cmsIncremental(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3), r.getBoolean(4)))
    assert(got.map(_._1).toSet == probes.toSet, "probe set mismatch")
    got.foreach { case (u, est, ex, withinEps, mergeEq) =>
      assert(est == expected(u), s"user $u: engine est $est != replay")
      assert(ex == exact(u) && est >= ex, s"user $u: est $est < exact $ex")
      assert(withinEps && mergeEq, s"user $u: contract columns false")
    }
  }

  // ---------------------------------------------------------------
  // q9h: incrementally maintained bigram LM
  // ---------------------------------------------------------------

  test("q9h: stored LM reuse across calls; merged tables equal " +
    "pure-Scala full-corpus counts") {
    // clean slate: drop any state left by an earlier session/run
    val (_, _, _, stateDir) = TextOps.loadOrBuildLmState(spark, sfDir)
    delTree(java.nio.file.Paths.get(stateDir))
    val (_, _, rebuilt1, _) = TextOps.loadOrBuildLmState(spark, sfDir)
    assert(rebuilt1, "fresh dir must trigger a base build")
    val (_, _, rebuilt2, dir2) = TextOps.loadOrBuildLmState(spark, sfDir)
    assert(!rebuilt2 && dir2 == stateDir, "unchanged corpus must reuse")

    // merged tables vs an independent pure-Scala count of the FULL
    // corpus (split semantics mirror Spark's: keep empty tokens)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("text").collect().map(_.getString(0)).toSeq
    val expUni = scala.collection.mutable.Map
      .empty[String, Long].withDefaultValue(0L)
    val expBig = scala.collection.mutable.Map
      .empty[(String, String), Long].withDefaultValue(0L)
    for (t <- docs) {
      val ws = t.split(" ", -1)
      ws.foreach(w => expUni(w) += 1L)
      if (ws.length >= 2)
        ws.sliding(2).foreach(p => expBig((p(0), p(1))) += 1L)
    }
    val (bigM, uniM) = TextOps.lmMergedTables(spark, sfDir)
    val gotBig = bigM.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val gotUni = uniM.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotUni == expUni.toMap, "merged unigram table != replay")
    assert(gotBig == expBig.toMap, "merged bigram table != replay")

    // the reuse-path merge reads the STORED base tables (not a
    // re-tokenized base): the bigram-side scan set must include the
    // state dir
    def allScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[FileSourceScanExec] =
      p.collect {
        case sc: FileSourceScanExec => Seq(sc)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          allScans(q.plan)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          allScans(a.executedPlan)
      }.flatten
    bigM.count() // materialize so AQE stages exist
    val roots = allScans(bigM.queryExecution.executedPlan)
      .flatMap(_.relation.location.rootPaths.map(_.toString))
    assert(roots.exists(_.contains(stateDir)),
      s"merge did not read the stored base tables: $roots")
  }

  // ---------------------------------------------------------------
  // q9f: trained-classifier inference
  // ---------------------------------------------------------------

  test("q9f: per-doc inference equals scoring with the replayed final " +
    "weights") {
    val rows = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val w = bruteForcePerceptron(
      rows.map(r => (r._2, r._3)), TextOps.PerceptronRounds).last._3
    val expected = rows.map { case (id, text, lang) =>
      val y = if (lang == "en") 1L else -1L
      val toks = text.split(" ", -1).count(_.nonEmpty).toLong
      val vowels = text.count("aeiou".contains(_)).toLong
      val st = text.count(c => c == 's' || c == 't').toLong
      val x = Seq(1L, text.length.toLong, toks, vowels, st)
      val score = x.zip(w).map { case (a, b) => a * b }.sum
      val pred = if (score > 0) 1L else -1L
      (id, y, score, pred, pred == y)
    }.sortBy(_._1)
    val got = TextOps.perceptronApply(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSeq
    assert(got == expected,
      s"inference mismatch; first diff: ${
        got.zip(expected).find(p => p._1 != p._2)}")
  }

  test("q9f: inference on the converged single-class fixture is " +
    "all-correct") {
    // same fixture as the q9a freeze test: after round 1 the weights
    // separate the (single) class perfectly, so every served pred must
    // be +1 and correct — pins the apply path end-to-end on a corpus
    // whose optimum is known, not just consistent with a replay
    val dir = java.nio.file.Files.createTempDirectory("q9f_fix").toString
    import spark.implicits._
    Seq((1L, "spark table scan", "en"), (2L, "merge sort join", "en"),
      (3L, "hash agg window", "en"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextOps.perceptronApply(spark, dir).collect()
    assert(got.length == 3)
    got.foreach { r =>
      assert(r.getLong(1) == 1L && r.getLong(3) == 1L && r.getBoolean(4),
        s"doc ${r.getLong(0)}: expected pred=+1/correct on the " +
          s"separable fixture, got $r")
    }
  }

  test("q9f: documents scored as a STREAM match the batch inference") {
    // the quality-filter deployment shape: the model trains once on
    // the static corpus, then documents arrive as micro-batches and
    // each trigger scores its batch with the same literal weights —
    // drained per-doc results must equal the one-shot batch apply
    import org.apache.spark.sql.functions._
    val w = TextOps.perceptronTrainedWeights(spark, sfDir)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text", "lang")
    val streamDir = java.nio.file.Files.createTempDirectory("q9f-stream")
    docs.repartition(2).write.mode("overwrite").parquet(streamDir.toString)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Boolean)]
    val nTriggers = new java.util.concurrent.atomic.AtomicInteger(0)
    val query = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir.toString)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = TextOps.perceptronScore(
          TextOps.perceptronFeaturesOf(df, withId = true), w).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getBoolean(4)))
        out.synchronized { out ++= rows }
        nTriggers.incrementAndGet(); ()
      }
      .start()
    try query.processAllAvailable() finally query.stop()
    assert(nTriggers.get() == 2, s"expected 2 triggers, got ${nTriggers.get()}")
    val batch = TextOps.perceptronApply(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSet
    assert(out.toSet == batch && batch.nonEmpty,
      "streamed per-trigger inference diverged from the batch apply")
  }

  // ---------------------------------------------------------------
  // q9g: trained-tokenizer encode
  // ---------------------------------------------------------------

  /** Leftmost-repeat merge of pair (a,b) in a token list — the
    * BpeMergeWordSpec brute force, reimplemented here so q9g is pinned
    * against an independent recompute, not the engine's expression. */
  private def mergeAll(toks: Vector[String], a: String, b: String)
      : Vector[String] = {
    var t = toks
    var i = t.indexOfSlice(Seq(a, b))
    while (i >= 0) {
      t = (t.take(i) :+ (a + b)) ++ t.drop(i + 2)
      i = t.indexOfSlice(Seq(a, b))
    }
    t
  }

  test("q9g: per-doc token counts equal a full pure-Scala BPE replay " +
    "(train + encode)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val docWords = docs.map { case (id, text) =>
      id -> text.split(" ", -1).filter(_.nonEmpty).toSeq
    }
    val wordCnt = docWords.flatMap(_._2).groupBy(identity)
      .map { case (w, xs) => w -> xs.size.toLong }
    // train: 3 greedy rounds over the weighted distinct-word vocab
    def chars(w: String): Vector[String] =
      w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))
        .toVector
    var vocab: Map[String, Vector[String]] =
      wordCnt.keys.map(w => w -> chars(w)).toMap
    for (_ <- 1 to TextOps.BpeRounds) {
      val pc = scala.collection.mutable.Map
        .empty[(String, String), Long].withDefaultValue(0L)
      for ((w, t) <- vocab; i <- 0 until t.length - 1)
        pc((t(i), t(i + 1))) += wordCnt(w)
      if (pc.nonEmpty) {
        val ((a, b), _) = pc.toSeq.minBy { case ((a, b), n) => (-n, a, b) }
        vocab = vocab.map { case (w, t) => w -> mergeAll(t, a, b) }
      }
    }
    val expected = docWords.map { case (id, ws) =>
      (id, ws.size.toLong, ws.map(_.length.toLong).sum,
        ws.map(w => vocab(w).length.toLong).sum)
    }.sortBy(_._1)
    val got = TextOps.bpeEncode(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == expected,
      s"encode mismatch; first diff: ${
        got.zip(expected).find(p => p._1 != p._2)}")
  }

  test("q9g: documents encoded as a STREAM match the batch token counts") {
    // the tokenizer deployment shape: train once on the static corpus,
    // then encode arriving documents per trigger against the same
    // fitted vocabulary — drained per-doc counts must equal the
    // one-shot batch encode
    import org.apache.spark.sql.functions._
    val vocab = TextOps.bpeFittedVocab(spark, sfDir).persist()
    vocab.count()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val streamDir = java.nio.file.Files.createTempDirectory("q9g-stream")
    docs.repartition(2).write.mode("overwrite").parquet(streamDir.toString)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long)]
    val nTriggers = new java.util.concurrent.atomic.AtomicInteger(0)
    val query = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir.toString)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = TextOps.bpeEncodeOf(df, vocab).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3)))
        out.synchronized { out ++= rows }
        nTriggers.incrementAndGet(); ()
      }
      .start()
    try query.processAllAvailable() finally query.stop()
    vocab.unpersist()
    assert(nTriggers.get() == 2, s"expected 2 triggers, got ${nTriggers.get()}")
    val batch = TextOps.bpeEncode(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(out.toSet == batch && batch.nonEmpty,
      "streamed per-trigger encode diverged from the batch encode")
  }

  // ---------------------------------------------------------------
  // q8a: nearest-neighbor resize on real decoded PNG pixels
  // ---------------------------------------------------------------

  test("q8a: resize stats equal an ImageIO-decode + pure-Scala NN replay") {
    // independence: the JDK's PNG codec decodes the engine-built
    // containers, and the floor-mapped resize is replayed in plain
    // Scala over those pixels — the engine's decoder AND its index
    // arithmetic must both agree with an implementation we didn't write
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter(_._1 % 3 == 0).toSeq
    val expected = docs.map { case (id, text) =>
      val p = text.getBytes("UTF-8")
      val png = graft.expressions.PngGray8.encodeRgb24(p, 8)
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(png))
      assert(img != null && img.getWidth == 8,
        s"doc $id: ImageIO could not parse the engine PNG")
      val h = img.getHeight
      def src(y: Int, x: Int, c: Int): Int = {
        val v = img.getRGB(x, y)
        c match {
          case 0 => (v >> 16) & 0xff
          case 1 => (v >> 8) & 0xff
          case _ => v & 0xff
        }
      }
      val rb = (0 until 48).map { j =>
        val oy = j / 12; val ox = (j % 12) / 3; val c = j % 3
        src((oy * h) / 4, (ox * 8) / 4, c)
      }
      (id, 8, h, 48L,
        rb.zipWithIndex.collect { case (b, i) if i % 3 == 0 => b.toLong }.sum,
        rb.zipWithIndex.collect { case (b, i) if i % 3 == 1 => b.toLong }.sum,
        rb.zipWithIndex.collect { case (b, i) if i % 3 == 2 => b.toLong }.sum,
        rb.zipWithIndex.map { case (b, i) => b.toLong * (i + 1) }.sum)
    }.sortBy(_._1)
    val got = Multimodal.defs.find(_.name == "q8a_image_resize").get
      .fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSeq
    assert(got == expected,
      s"resize mismatch; first diff: ${
        got.zip(expected).find(p => p._1 != p._2)}")
  }

  test("q8b: video thumbnail stats equal a pure-Scala replay from raw " +
    "payload") {
    // replays the whole chain (container walk + BMP decode + per-frame
    // NN resize) from the raw UTF-8 payload via the frame stream
    // identity — no engine expression involved on the expected side
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter(_._1 % 3 == 2).toSeq
    val expected = docs.map { case (id, text) =>
      val p = text.getBytes("UTF-8")
      val n = p.length
      val nf = math.max(1, (n + 95) / 96)
      val tb = (0 until nf * 12).map { j =>
        val idx = (j / 12) * 96 + 12 * ((j % 12) / 3) + (j % 3)
        if (idx < n) p(idx) & 0xff else 0
      }
      (id, nf, nf.toLong,
        tb.zipWithIndex.collect { case (b, i) if i % 3 == 0 => b.toLong }.sum,
        tb.zipWithIndex.collect { case (b, i) if i % 3 == 1 => b.toLong }.sum,
        tb.zipWithIndex.collect { case (b, i) if i % 3 == 2 => b.toLong }.sum,
        tb.zipWithIndex.map { case (b, i) =>
          b.toLong * ((i % 12) + 1) * ((i / 12) % 97 + 1)
        }.sum)
    }.sortBy(_._1)
    val got = Multimodal.defs.find(_.name == "q8b_video_thumbnails").get
      .fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got == expected,
      s"thumbnail mismatch; first diff: ${
        got.zip(expected).find(p => p._1 != p._2)}")
  }

  test("q8c: resampled audio stats equal a pure-Scala replay from raw " +
    "payload") {
    // replays decode (LE int16 sign-extension) + decimation from the
    // raw UTF-8 payload — no engine expression on the expected side
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter(_._1 % 3 == 1).toSeq
    val expected = docs.flatMap { case (id, text) =>
      val p = text.getBytes("UTF-8")
      val smp = (0 until p.length / 2).map { i =>
        ((p(2 * i) & 0xff) | (p(2 * i + 1) << 8)).toShort.toInt
      }
      if (smp.isEmpty) None
      else {
        val ds = (0 until (smp.length + 1) / 2).map(k => smp(2 * k))
        Some((id, 16000, 8000, smp.length, ds.length,
          ds.map(_.toLong).sum,
          ds.zipWithIndex.map { case (v, k) => v.toLong * (k + 1) }.sum))
      }
    }.sortBy(_._1)
    val got = Multimodal.defs.find(_.name == "q8c_audio_resample").get
      .fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got == expected,
      s"resample mismatch; first diff: ${
        got.zip(expected).find(p => p._1 != p._2)}")
  }
}
