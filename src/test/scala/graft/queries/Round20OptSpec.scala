package graft.queries

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Round-20 OPTIMIZATION-round equivalence pins: every serve path
  * that gained a content-addressed store or a restructured kernel this
  * round must be provably identical to the fresh computation it
  * replaced — the qba/qbb store≡fresh discipline (Round19OpsSpec). */
class Round20OptSpec extends AnyFunSuite with SparkSuite {

  val sfDir = "/root/testdata/sf0.001"

  test("q48/q4a stored cluster assignment == fresh CC at sf0.001") {
    val stored = Dedup.dupClustersStored(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val fresh = Dedup.dupClusterAssignments(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(stored == fresh,
      "store-served cluster assignment diverged from fresh CC")
  }

  test("q5a/qb2 stored Lloyd training == fresh trainLloyd at sf0.001") {
    val (gS, pS, iS, cS) = Similarity.trainLloydStored(spark, sfDir)
    val c = Similarity.lloydCorpus(spark, sfDir).persist()
    try {
      val (gF, pF, iF, cF) = Similarity.trainLloyd(c)
      assert(gS == gF, "stored final grid diverged from fresh training")
      assert(pS == pF, "stored prev grid diverged from fresh training")
      assert(iS == iF && cS == cF,
        "stored iters/converged diverged from fresh training")
    } finally { c.unpersist(); () }
  }

  test("q97/q9g stored BPE training == fresh bpeFit at sf0.001") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val (trajS, vocabS) = TextOps.loadOrBuildBpeState(spark, sfDir)
    val stored = trajS.orderBy($"round").collect().map(_.toSeq).toSeq
    val vocabStored = vocabS.collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val (rowsF, vocabF) = TextOps.bpeFit(spark, sfDir)
    assert(stored == rowsF.map(_.productIterator.toSeq).toSeq,
      "stored BPE trajectory diverged from fresh training")
    val vocabFresh = vocabF
      .select($"word", size($"tokens").cast("long").as("ntok"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(vocabStored == vocabFresh && vocabStored.nonEmpty,
      "stored fitted vocab diverged from fresh training")
  }

  test("q9a/q9f stored perceptron training == fresh fit at sf0.001") {
    val (wS, trajS) = TextOps.perceptronFitStored(spark, sfDir)
    val docs = Tables.table(spark, sfDir, "documents")
    val (wF, trajF) = TextOps.perceptronFit(
      TextOps.perceptronFeaturesOf(docs, withId = false))
    assert(wS == wF.toSeq, "stored weights diverged from fresh training")
    assert(trajS.orderBy("round").collect().map(_.toSeq).toSeq ==
      trajF.map(_.productIterator.toSeq).toSeq,
      "stored trajectory diverged from fresh training")
  }

  test("per-row language-ID scorer == feature-frame scorer at sf0.001") {
    // the r20 inference rewrite (zero corpus shuffles) must predict
    // identically to the pre-r20 broadcast-join form, restated here
    // over the same stored model
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val (classes, w) = TextOps.langIdTrainedModel(spark, sfDir)
    val docs = Tables.table(spark, sfDir, "documents")
    val rowForm = TextOps.langIdScore(docs, classes, w)
      .collect().map(r => (r.getLong(0), r.getString(3))).toMap
    // feature-frame form, restated: bucket counts joined against the
    // zero-filled C×K weight frame, argmax by min(struct(-score, cls))
    val wDf = spark.createDataFrame(
      for { (c, ci) <- classes.zipWithIndex
            b <- 0 until TextOps.LangIdBuckets }
        yield (c, b, w(ci)(b))).toDF("cls", "bucket", "w")
    val frameForm = TextOps.langIdFeatures(docs)
      .join(broadcast(wDf), Seq("bucket"))
      .groupBy($"doc_id", $"cls")
      .agg(sum($"cnt" * $"w").as("score"))
      .groupBy($"doc_id")
      .agg(min(struct((lit(0L) - $"score").as("ns"), $"cls")).as("m"))
      .select($"doc_id", $"m.cls")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(rowForm == frameForm && rowForm.nonEmpty,
      "per-row language-ID inference diverged from the feature-frame form")
  }
}
