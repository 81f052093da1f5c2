package graft.queries

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Result-level contracts for the round-12 operators, each pinned
  * against an independent in-JVM recompute (never against the engine's
  * own expressions). */
class Round12OpsSpec extends AnyFunSuite with SparkSuite {
  private val sfDir = "/root/testdata/sf0.001"

  /** First-8-hex of md5 as unsigned long — the cross-engine hash basis
    * the queries use, recomputed here with java.security directly. */
  private def md5Prefix(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    d.take(4).foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL))
  }

  // ---------------------------------------------------------------
  // q9j: integer PageRank
  // ---------------------------------------------------------------

  /** Pure-Scala replay of the q9j iteration over the derived graph. */
  private def bruteForcePagerank(ids: Seq[Long]): Map[Long, Long] = {
    val n = ids.size
    val edges = for (src <- ids; j <- 1 to GraphOps.OutDegree)
      yield (src, md5Prefix(s"$src>$j") % n)
    var r = ids.map(_ -> 1000000L).toMap
    for (_ <- 1 to GraphOps.Iterations) {
      val s = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => r(src) / GraphOps.OutDegree }.sum
      }
      r = ids.map(id => id -> (150000L + 85L * s.getOrElse(id, 0L) / 100L))
        .toMap
    }
    r
  }

  test("q9j pagerank equals a driver-side integer replay of the same " +
    "graph and iterations") {
    val ids = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    val want = bruteForcePagerank(ids)
    val top = GraphOps.pagerank(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(top.length == 20)
    // every reported rank matches the replay, and the report IS the
    // replay's top-20 under the (rank desc, id asc) order
    top.foreach { case (id, rank) => assert(want(id) == rank, s"doc $id") }
    val expectedTop = want.toSeq.sortBy { case (id, r) => (-r, id) }.take(20)
    assert(top.toSeq == expectedTop)
    // conservation sanity: total mass stays within the truncation loss
    // of the damped update (each node loses < 100 micro per round to
    // the two integer divisions)
    val total = want.values.sum
    assert(total <= ids.size * 1000000L)
    assert(total > ids.size * 900000L)
  }

  // ---------------------------------------------------------------
  // q9i: hybrid RRF fusion
  // ---------------------------------------------------------------

  test("q9i hybrid RRF: fused scores recompute from the two arms' " +
    "ranks, pools respect HybridPoolK") {
    val rows = Similarity.hybridRrf(spark, sfDir).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val rankT = if (r.isNullAt(2)) None else Some(r.getLong(2))
      val rankV = if (r.isNullAt(3)) None else Some(r.getLong(3))
      assert(rankT.nonEmpty || rankV.nonEmpty)
      Seq(rankT, rankV).flatten.foreach(rk =>
        assert(rk >= 1 && rk <= Similarity.HybridPoolK))
      val expected = rankT.map(rk => 1000000L / (60 + rk)).getOrElse(0L) +
        rankV.map(rk => 1000000L / (60 + rk)).getOrElse(0L)
      assert(r.getLong(1) == expected, s"doc ${r.getLong(0)}")
    }
    // fused order is non-increasing with doc_id tiebreaks
    val scores = rows.map(r => (r.getLong(1), r.getLong(0)))
    assert(scores.sameElements(scores.sortBy { case (s, id) => (-s, id) }))
  }

  // ---------------------------------------------------------------
  // q9l: weighted sampling (A-ES keys)
  // ---------------------------------------------------------------

  test("q9l weighted sample equals a driver-side replay of the A-ES " +
    "keys over md5 uniforms") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1))).filter(_._2 > 0)
    val keyed = docs.map { case (id, w) =>
      val u = (md5Prefix(s"$id|wrs") + 1).toDouble / 4294967296.0
      // HALF_UP like Spark's round() (Math.round floors at negative .5)
      (id, BigDecimal(Math.log(u) / w * 1e9)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
    }
    val want = keyed.sortBy { case (id, k) => (-k, id) }.take(20)
    val got = graft.SparkEntry.queries("q9l_weighted_sample")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(3)))
    assert(got.toSeq == want.toSeq)
  }

  // ---------------------------------------------------------------
  // q9k: URL canonicalization + per-domain caps
  // ---------------------------------------------------------------

  test("q9k canonical URLs are actually canonical and caps hold " +
    "per domain") {
    val rows = TextOps.urlCanonicalize(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val perDomain = scala.collection.mutable.Map.empty[String, Long]
    rows.foreach { r =>
      val (id, url, domain, rn, kept) = (r.getLong(0), r.getString(1),
        r.getString(2), r.getLong(3), r.getBoolean(4))
      assert(url.startsWith("https://"), url)
      assert(!url.contains("WWW") && !url.contains("www."), url)
      assert(!url.contains(":443") && !url.contains("#"), url)
      assert(!url.contains("utm_"), url)
      assert(url.contains(s"/p/$id?ref="), url)
      assert(domain == "example.com", domain)
      assert(kept == (rn <= TextOps.DomainCap))
      perDomain(domain) = perDomain.getOrElse(domain, 0L).max(rn)
    }
    // rn really is a dense per-domain 1..count sequence: its max equals
    // the domain's row count
    val counts = rows.groupBy(_.getString(2)).view.mapValues(_.length)
    counts.foreach { case (d, n) => assert(perDomain(d) == n.toLong, d) }
  }

  // ---------------------------------------------------------------
  // q6c + the layout-adaptive events source
  // ---------------------------------------------------------------

  test("normalizeTs adapts µs-timestamp and long-nanos layouts to one " +
    "contract") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val micros = 1723500000123456L
    val tsDf = Seq(1L).toDF("event_id")
      .withColumn("ts", timestamp_micros(lit(micros)).cast("timestamp_ntz"))
    val normalized = graft.streaming.EventStream.normalizeTs(tsDf)
    assert(normalized.schema("ts").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(normalized.collect().head.getLong(1) == micros * 1000L)
    val longDf = Seq((1L, micros * 1000L)).toDF("event_id", "ts")
    assert(graft.streaming.EventStream.normalizeTs(longDf)
      .collect().head.getLong(1) == micros * 1000L)
  }

  test("q6c batch form: double delivery collapses to exactly the " +
    "original slice") {
    val got = graft.SparkEntry.queries("q6c_stream_dedup")(spark, sfDir).count()
    val want = Tables.eventsRaw(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("user_id") < 20).count()
    assert(got == want && got > 0)
  }

  // ---------------------------------------------------------------
  // q8e: perceptual dHash over the real PNG decode
  // ---------------------------------------------------------------

  /** Codec-independent replay: the synthetic gray8 image of a doc is
    * its UTF-8 bytes in 16-wide rows, zero-padded — so the dHash is
    * recomputable from the raw text without touching the PNG path. */
  private def bruteForceDhash(text: String): (Long, Long) = {
    val bs = text.getBytes("UTF-8").map(_ & 0xff)
    val h = math.max(1, (bs.length + 15) / 16)
    def p(i: Int): Int = if (i < bs.length) bs(i) else 0
    def bit(b: Int): Long = {
      val gy = b / 8; val gx = b % 8
      val sy = gy * h / 8
      if (p(sy * 16 + gx * 16 / 9) > p(sy * 16 + (gx + 1) * 16 / 9)) 1L
      else 0L
    }
    val lo = (0 until 32).map(b => bit(b) << b).sum
    val hi = (0 until 32).map(b => bit(b + 32) << b).sum
    (lo, hi)
  }

  test("q8e image dHash ranking equals a pure-Scala replay from raw " +
    "text bytes (codec-independent)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter { case (id, _) => id % 3 == 0 && id < 3000 }
    val hashes = docs.map { case (id, t) => id -> bruteForceDhash(t) }.toMap
    val want = hashes.keys.filter(_ % 300 == 0).toSeq.sorted.flatMap { q =>
      val (qlo, qhi) = hashes(q)
      hashes.toSeq.filter(_._1 != q)
        .map { case (id, (lo, hi)) =>
          (q, id, java.lang.Long.bitCount(qlo ^ lo) +
            java.lang.Long.bitCount(qhi ^ hi)) }
        .sortBy { case (_, id, ham) => (ham, id) }
        .take(3).zipWithIndex
        .map { case ((qq, id, ham), i) => (qq, id, ham.toLong, i + 1L) }
    }
    val got = graft.SparkEntry.queries("q8e_image_phash")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == want && got.nonEmpty)
  }

  // ---------------------------------------------------------------
  // q9m: bloom-gated ingest
  // ---------------------------------------------------------------

  test("q9m bloom gate: no false negatives, FP accounting matches a " +
    "driver-side bloom replay") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val corpusH = docs.filter(_._1 % 2 == 0).map(d => md5hex(d._3)).toSet
    val words = scala.collection.mutable.Map.empty[Long, Long]
    for (h <- corpusH; j <- 0 to 3) {
      val pos = md5Prefix(s"$h#$j") % 65536
      words(pos / 32) = words.getOrElse(pos / 32, 0L) | (1L << (pos % 32))
    }
    def bloomHit(h: String): Boolean = (0 to 3).forall { j =>
      val pos = md5Prefix(s"$h#$j") % 65536
      (words.getOrElse(pos / 32, 0L) >> (pos % 32) & 1L) == 1L
    }
    val batch = docs.filter(_._1 % 2 == 1)
      .groupBy(d => md5hex(d._3))
      .map { case (h, ds) => (h, ds.map(_._2).min) }
    val expect = batch.groupBy(_._2).map { case (lang, hs) =>
      val pass = hs.count(x => bloomHit(x._1))
      val dup = hs.count(x => corpusH(x._1))
      val fp = hs.count(x => bloomHit(x._1) && !corpusH(x._1))
      lang -> (hs.size.toLong, pass.toLong, dup.toLong, fp.toLong, 0L)
    }
    val got = graft.SparkEntry.queries("q9m_bloom_ingest")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    assert(got == expect && got.nonEmpty)
    // the structural guarantees, stated directly
    got.values.foreach { case (_, pass, dup, _, missed) =>
      assert(missed == 0L, "bloom produced a false negative")
      assert(pass >= dup, "a true dup did not bloom-pass")
    }
  }

  // ---------------------------------------------------------------
  // q5e: filtered vector search
  // ---------------------------------------------------------------

  test("q5e filtered ANN equals a driver-side same-label brute force") {
    val rows = spark.read.parquet(s"$sfDir/embeddings.parquet").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      // sequential fold, the engines' evaluation order
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    def r4(v: Double): Double = BigDecimal(v)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = rows.filter(r => r._1 % 100 == 0 && r._1 < 2000)
      .sortBy(_._1).flatMap { case (qid, qv, qlab) =>
        rows.filter(c => c._1 != qid && c._3 == qlab)
          .map(c => (qid, qlab, c._1, r4(cos(qv, c._2))))
          .sortBy { case (_, _, id, c) => (-c, id) }.take(5)
      }
    val got = graft.SparkEntry.queries("q5e_filtered_ann")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == want.toSeq && got.nonEmpty)
    got.foreach { case (_, qlab, nid, _) =>
      val nlab = rows.find(_._1 == nid).get._3
      assert(nlab == qlab, s"neighbor $nid crossed the label filter")
    }
  }

  // ---------------------------------------------------------------
  // q9o: temperature-scaled mixing
  // ---------------------------------------------------------------

  test("q9o temperature rates replay in integer math and upsample " +
    "the tail") {
    val langs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val n = langs.length.toLong
    val byLang = langs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val w = byLang.view.mapValues(nl =>
      Math.round(math.sqrt(nl.toDouble / n) * 1e6)).toMap
    val wSum = w.values.sum
    val rate = byLang.map { case (l, nl) =>
      l -> math.min(1000000L, w(l) * 200L * 1000000L / (wSum * nl))
    }
    val sampled = langs.groupBy(_._2).map { case (l, ds) =>
      l -> ds.count { case (id, _) =>
        md5Prefix(s"$id|mix") % 1000000L < rate(l)
      }.toLong
    }
    val got = graft.SparkEntry.queries("q9o_temperature_mix")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == byLang.map { case (l, nl) =>
      l -> (nl, rate(l), sampled(l)) } && got.nonEmpty)
    // the temperature property: acceptance RATE is non-increasing in
    // language size (the tail is upsampled relative to the head)
    val bySize = byLang.toSeq.sortBy(_._2).map(x => rate(x._1))
    assert(bySize.zip(bySize.tail).forall { case (a, b) => a >= b })
  }

  // ---------------------------------------------------------------
  // q9p: feature moments
  // ---------------------------------------------------------------

  test("q9p moments replay from raw floats and reuse stored state") {
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .collect().map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val dims = vecs.head.length
    val want = (0 until dims).map { d =>
      val ms = vecs.map(v => BigDecimal(v(d) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
      d -> (ms.length.toLong, ms.sum, ms.map(m => m * m).sum)
    }.toMap
    val out = Similarity.featureMoments(spark, sfDir).collect()
    assert(out.length == dims)
    out.foreach { r =>
      val (n, sm, sq) = want(r.getInt(0))
      assert((r.getLong(1), r.getLong(2), r.getLong(3)) == (n, sm, sq))
      assert(r.getLong(4) == sm / n) // Spark div truncates toward zero
      assert(r.getLong(5) == n * sq - sm * sm)
      assert(r.getBoolean(6))
    }
    val (_, rebuilt, _) = Similarity.loadOrBuildMomentState(spark, sfDir)
    assert(!rebuilt, "second call rebuilt the stored moment state")
  }

  // ---------------------------------------------------------------
  // q9q: contrastive negative sampling
  // ---------------------------------------------------------------

  test("q9q negatives equal a driver-side draw and never collide with " +
    "the exact top-5") {
    val rows = spark.read.parquet(s"$sfDir/embeddings.parquet").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    def r4(v: Double): Double = BigDecimal(v)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val qs = rows.filter(r => r._1 % 100 == 0 && r._1 < 2000).sortBy(_._1)
    val want = qs.flatMap { case (qid, qv) =>
      val others = rows.filter(_._1 != qid)
      val top5 = others.map(c => (c._1, r4(cos(qv, c._2))))
        .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1).toSet
      others.filter(c => !top5(c._1))
        .map(c => (c._1, md5Prefix(s"$qid:neg:${c._1}")))
        .sortBy { case (id, h) => (h, id) }.take(4).zipWithIndex
        .map { case ((id, _), i) => (qid, id, i + 1L) }
    }
    val got = graft.SparkEntry.queries("q9q_negative_sampling")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == want.toSeq && got.nonEmpty)
  }

  // ---------------------------------------------------------------
  // q9r: corpus snapshot diff
  // ---------------------------------------------------------------

  test("q9r diff classes replay driver-side and partition every doc") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val v1 = docs.filter(_._1 % 7 != 0).map(d => d._1 -> (d._2, d._3)).toMap
    val v2 = docs.filter(_._1 % 5 != 0).map { d =>
      d._1 -> (d._2, if (d._1 % 11 == 0) d._3 + "!v2" else d._3)
    }.toMap
    val classes = (v1.keySet ++ v2.keySet).toSeq.map { id =>
      val lang = v1.get(id).map(_._1).orElse(v2.get(id).map(_._1)).get
      val cls = (v1.get(id), v2.get(id)) match {
        case (None, Some(_)) => "added"
        case (Some(_), None) => "removed"
        case (Some((_, a)), Some((_, b))) if a == b => "kept"
        case _ => "changed"
      }
      (lang, cls)
    }
    val want = classes.groupBy(_._1).map { case (lang, cs) =>
      lang -> (cs.size.toLong,
        cs.count(_._2 == "added").toLong, cs.count(_._2 == "removed").toLong,
        cs.count(_._2 == "kept").toLong, cs.count(_._2 == "changed").toLong)
    }
    val got = graft.SparkEntry.queries("q9r_corpus_diff")(spark, sfDir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got == want && got.nonEmpty)
    // the classes tile: every row is exactly one of the four
    got.values.foreach { case (n, a, r, k, c) => assert(n == a + r + k + c) }
  }

  // ---------------------------------------------------------------
  // q9n: incrementally maintained IVF cell directory
  // ---------------------------------------------------------------

  test("q9n: stored cell state is reused (no rebuild on second call) " +
    "and the merged directory carries the rebuild pin") {
    val (_, _, _) = Similarity.loadOrBuildIvfCellState(spark, sfDir)
    val (stored, rebuilt, _) = Similarity.loadOrBuildIvfCellState(spark, sfDir)
    assert(!rebuilt, "second call rebuilt the stored cell directory")
    assert(stored.count() > 0)
    val out = Similarity.ivfIncremental(spark, sfDir).collect()
    assert(out.length == 8)
    out.foreach(r => assert(r.getBoolean(3), "merge != rebuild"))
    // the stored base plus the delta must cover every vector exactly once
    val n = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    assert(out.map(_.getLong(1)).sum == n)
  }
}
