package graft.streaming

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming parity (SURVEY §2.7): EventStream.windowedCounts
  * is ONE transform shared by batch and streaming; draining the finite
  * file stream must produce exactly the batch result. */
class StreamingSpec extends AnyFunSuite with SparkSuite {
  private val sfDir = "/root/testdata/sf0.001"

  test("streaming tumbling-window counts == batch counts over events") {
    // the file stream source wants a directory; stage the single file
    val streamDir = java.nio.file.Files.createTempDirectory("evt-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      streamDir.resolve("events.parquet"))

    val query = EventStream
      .windowedCounts(EventStream.readStream(spark, streamDir.toString))
      .writeStream.format("memory").queryName("evt_stream")
      .outputMode("complete").start()
    try query.processAllAvailable() finally query.stop()

    def key(r: org.apache.spark.sql.Row) =
      (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))
    val got = spark.table("evt_stream").collect().map(key).toSet
    val want = EventStream
      .windowedCounts(EventStream.readBatch(spark, s"$sfDir/events.parquet"))
      .collect().map(key).toSet
    assert(got == want && got.nonEmpty)
  }

  test("streaming session-window counts == batch counts over events") {
    val streamDir = java.nio.file.Files.createTempDirectory("evt-session")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val query = EventStream
      .sessionCounts(EventStream.readStream(spark, streamDir.toString))
      .writeStream.format("memory").queryName("evt_session")
      .outputMode("complete").start()
    try query.processAllAvailable() finally query.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))
    val got = spark.table("evt_session").collect().map(key).toSet
    val want = EventStream
      .sessionCounts(EventStream.readBatch(spark, s"$sfDir/events.parquet"))
      .collect().map(key).toSet
    assert(got == want && got.nonEmpty)
  }

  test("streaming stateful as-of join == declarative q63 window plan") {
    val streamDir = java.nio.file.Files.createTempDirectory("evt-asof")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val query = EventStream
      .asofJoin(EventStream.readStream(spark, streamDir.toString))
      .writeStream.format("memory").queryName("evt_asof")
      .outputMode("append").start()
    try query.processAllAvailable() finally query.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getTimestamp(3))
    val got = spark.table("evt_asof").collect().map(key).toSet
    // cross-check against the OTHER implementation of the semantics:
    // the carry-forward window plan registered as q63
    val want = graft.SparkEntry.queries("q63_asof_join")(spark, sfDir)
      .collect().map(key).toSet
    assert(got == want && got.nonEmpty)
  }

  test("stateful as-of join carries click state ACROSS triggers") {
    import org.apache.spark.sql.functions._
    // split events at the median timestamp into two files and force one
    // file per trigger (ordered by mtime): purchases in the second
    // trigger must still see clicks from the first — the state-carry
    // path that a single drained batch never exercises
    val streamDir = java.nio.file.Files.createTempDirectory("evt-asof2")
    val all = EventStream.readBatch(spark, s"$sfDir/events.parquet")
    val mid = all.selectExpr("percentile(ts, 0.5)").collect().head.getDouble(0)
    def stage(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("half").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        .filter(_.getFileName.toString.startsWith("part-")).findFirst().get()
      val dst = streamDir.resolve(name)
      java.nio.file.Files.copy(part, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    stage(all.filter(col("ts") < mid), "a-first.parquet", 1000000L)
    stage(all.filter(col("ts") >= mid), "b-second.parquet", 2000000L)

    val query = EventStream
      .asofJoin(spark.readStream.schema(EventStream.RawSchema)
        .option("maxFilesPerTrigger", "1").parquet(streamDir.toString))
      .writeStream.format("memory").queryName("evt_asof2")
      .outputMode("append").start()
    try query.processAllAvailable() finally query.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getTimestamp(3))
    val got = spark.table("evt_asof2").collect().map(key).toSet
    val want = graft.SparkEntry.queries("q63_asof_join")(spark, sfDir)
      .collect().map(key).toSet
    assert(got == want && got.nonEmpty)
    // the interesting rows: purchases after the split whose latest click
    // was before it — they prove state crossed the trigger boundary.
    // Compare at the data's µs granularity (ms truncation could
    // misclassify pairs inside the split millisecond).
    val midUs = (mid / 1e3).toLong
    def us(t: java.sql.Timestamp): Long =
      t.getTime / 1000 * 1000000L + t.getNanos / 1000
    val crossing = want.count { case (_, _, p, c) =>
      c != null && us(p) >= midUs && us(c) < midUs }
    assert(crossing > 0, "split produced no state-crossing purchases")
  }

  test("stream-stream interval join == batch form, incl. across triggers") {
    import org.apache.spark.sql.functions._
    // two real streaming sources (clicks / purchases), purchases split
    // at the median timestamp into two files with one file per trigger:
    // purchases arriving in the SECOND trigger must still match clicks
    // buffered in join state since the first — the state-retention path
    // a single drained batch never exercises. Inner join ⇒ every match
    // is final under append mode, so the drained set must equal the
    // batch run of the same transform (which is also q69's registered,
    // DuckDB-oracled form).
    val all = EventStream.readBatch(spark, s"$sfDir/events.parquet")
      .filter(col("user_id") < 20)
    val clicks = all.filter(col("event_type") === "click")
    val purchases = all.filter(col("event_type") === "purchase")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getLong(3),
        r.getTimestamp(4))
    val want = EventStream.intervalJoin(clicks, purchases)
      .collect().map(key).toSet
    assert(want.nonEmpty, "batch interval join found no pairs to test with")
    // split purchases at the median MATCHED purchase time, so the second
    // trigger is guaranteed to hold purchases whose clicks arrived (and
    // were buffered in join state) a trigger earlier
    def us(t: java.sql.Timestamp): Long =
      t.getTime / 1000 * 1000000L + t.getNanos / 1000
    val matchedUs = want.map { case (_, _, p, _, _) => us(p) }.toSeq.sorted
    val midUs = matchedUs(matchedUs.size / 2)
    val midNs = midUs * 1000L

    def stage(df: org.apache.spark.sql.DataFrame, dir: java.nio.file.Path,
        name: String, mtime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("ssj").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        .filter(_.getFileName.toString.startsWith("part-")).findFirst().get()
      val dst = dir.resolve(name)
      java.nio.file.Files.copy(part, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    val clickDir = java.nio.file.Files.createTempDirectory("ssj-clicks")
    val purchDir = java.nio.file.Files.createTempDirectory("ssj-purch")
    stage(clicks, clickDir, "clicks.parquet", 1000000L)
    stage(purchases.filter(col("ts") < midNs), purchDir,
      "a-first.parquet", 1000000L)
    stage(purchases.filter(col("ts") >= midNs), purchDir,
      "b-second.parquet", 2000000L)

    def src(dir: java.nio.file.Path) = spark.readStream
      .schema(EventStream.RawSchema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    val query = EventStream.intervalJoin(src(clickDir), src(purchDir))
      .writeStream.format("memory").queryName("evt_ssj")
      .outputMode("append").start()
    var finalStateRows = -1L
    try {
      query.processAllAvailable()
      finalStateRows = Option(query.lastProgress).toSeq
        .flatMap(_.stateOperators).map(_.numRowsTotal).sum
    } finally query.stop()
    // the BOUNDED-state claim as evidence: the watermark must have
    // evicted old click/purchase rows from join state — with all clicks
    // landing in trigger 1 and the split at the matched-purchase median,
    // the final watermark sits far past the oldest clicks + horizon, so
    // retained state must be a strict subset of the click stream
    val totalClicks = clicks.count()
    assert(finalStateRows > 0, "no stream-stream join state reported")
    assert(finalStateRows < totalClicks,
      s"watermark evicted nothing: $finalStateRows state rows >= " +
        s"$totalClicks clicks")

    val got = spark.table("evt_ssj").collect().map(key).toSet
    assert(got == want && got.nonEmpty,
      s"stream ${got.size} pairs != batch ${want.size}")
    // evidence the split actually exercised cross-trigger state: all
    // clicks arrive in trigger 1, so every matched purchase at/after
    // the split (≥ half of the matched set, by median construction)
    // was joined against click state retained from an earlier trigger
    val crossing = want.count { case (_, _, p, _, _) => us(p) >= midUs }
    assert(crossing > 0, "split produced no state-crossing matches")
  }

  test("stream-stream LEFT OUTER interval join completes nulls under watermark") {
    import org.apache.spark.sql.functions._
    // outer results can only be emitted once the watermark PROVES no
    // in-horizon click can still arrive, and Spark evaluates that
    // eviction at the start of a subsequent batch — so a far-future
    // sentinel event lands in BOTH sources as a second trigger, pushing
    // the global watermark past every real event + horizon. After the
    // sentinel rows are filtered back out, the drained stream must
    // equal the batch left-outer run (q6a's registered form): matched
    // pairs AND null-completed purchases.
    val all = EventStream.readBatch(spark, s"$sfDir/events.parquet")
      .filter(col("user_id") < 20)
    val clicks = all.filter(col("event_type") === "click")
    val purchases = all.filter(col("event_type") === "purchase")
    val maxTs = all.agg(max(col("ts"))).collect().head.getLong(0)
    val sentinelTs = maxTs + 365L * 24 * 3600 * 1000000000L // +1 year (ns)
    def sentinel(eventType: String) = {
      import spark.implicits._
      Seq((999999L, sentinelTs, 9999L, eventType, 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    }
    def stage(df: org.apache.spark.sql.DataFrame, dir: java.nio.file.Path,
        name: String, mtime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("ssjo").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        .filter(_.getFileName.toString.startsWith("part-")).findFirst().get()
      val dst = dir.resolve(name)
      java.nio.file.Files.copy(part, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    val clickDir = java.nio.file.Files.createTempDirectory("ssjo-clicks")
    val purchDir = java.nio.file.Files.createTempDirectory("ssjo-purch")
    stage(clicks, clickDir, "a-clicks.parquet", 1000000L)
    stage(sentinel("click"), clickDir, "b-sentinel.parquet", 2000000L)
    stage(purchases, purchDir, "a-purch.parquet", 1000000L)
    stage(sentinel("purchase"), purchDir, "b-sentinel.parquet", 2000000L)

    def src(dir: java.nio.file.Path) = spark.readStream
      .schema(EventStream.RawSchema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    val query = EventStream
      .intervalJoin(src(clickDir), src(purchDir), joinType = "left_outer")
      .writeStream.format("memory").queryName("evt_ssjo")
      .outputMode("append").start()
    try query.processAllAvailable() finally query.stop()

    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getTimestamp(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) null else r.getTimestamp(4))
    val got = spark.table("evt_ssjo").collect().map(key)
      .filterNot(_._1 == 9999L).toSet
    val want = EventStream
      .intervalJoin(clicks, purchases, joinType = "left_outer")
      .collect().map(key).toSet
    assert(got == want && got.nonEmpty,
      s"outer stream ${got.size} rows != batch ${want.size}")
    // the interesting rows: purchases with NO in-horizon click, which
    // only the watermark could have completed
    val nullCompleted = want.count(_._4 == -1L)
    assert(nullCompleted > 0, "fixture has no null-completed purchases")
  }

  test("streaming SCD2/CDC through the REAL upsert sink == batch lead-built table") {
    import org.apache.spark.sql.functions._
    // the warehouse-maintenance composition the verdict asked for: a CDC
    // stream (each event closes its user's open validity interval) split
    // at the median timestamp into two triggers, drained through the
    // id-keyed NDJSON upsert sink with updateExisting=true — intervals
    // OPENED in trigger 1 must be CLOSED by trigger 2's events via the
    // per-micro-batch upsert, and the final file must equal the
    // declarative lead()-built SCD2 table over the same events
    val all = EventStream.readBatch(spark, s"$sfDir/events.parquet")
      .filter(col("user_id") < 20)
    val mid = all.selectExpr("percentile(ts, 0.5)").collect().head.getDouble(0)
    def stage(df: org.apache.spark.sql.DataFrame, dir: java.nio.file.Path,
        name: String, mtime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("scd").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        .filter(_.getFileName.toString.startsWith("part-")).findFirst().get()
      val dst = dir.resolve(name)
      java.nio.file.Files.copy(part, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    val streamDir = java.nio.file.Files.createTempDirectory("scd-stream")
    stage(all.filter(col("ts") < mid), streamDir, "a-first.parquet", 1000000L)
    stage(all.filter(col("ts") >= mid), streamDir, "b-second.parquet", 2000000L)

    // upsert records: id = user:event (the version key), timestamps as µs
    // longs so the JSON round-trip is exact
    val updates = EventStream.scd2Cdc(
      spark.readStream.schema(EventStream.RawSchema)
        .option("maxFilesPerTrigger", "1").parquet(streamDir.toString))
      .select(concat_ws(":", col("user_id"), col("event_id")).as("id"),
        col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("valid_from")).as("vf_us"),
        unix_micros(col("valid_to")).as("vt_us"))
    val outDir = java.nio.file.Files.createTempDirectory("scd-out").toString
    val query = graft.sinks.Ndjson.writeStreamTo(updates, outDir, "Scd2",
      updateExisting = true)
    try query.processAllAvailable() finally query.stop()

    def key(r: org.apache.spark.sql.Row, vf: Int, vt: Int) =
      (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(vf), if (r.isNullAt(vt)) -1L else r.getLong(vt))
    val got = spark.read.json(s"$outDir/Scd2.ndjson")
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("vf_us"), col("vt_us"))
      .collect().map(key(_, 3, 4)).toSet
    // the independent implementation: declarative lead() over one window
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val want = all.withColumn("ts_us", expr("ts div 1000"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts_us"), lead(col("ts_us"), 1).over(w).as("vt_us"))
      .collect().map(key(_, 3, 4)).toSet
    assert(got == want && got.nonEmpty,
      s"sink table ${got.size} rows != lead-built ${want.size}")
    // evidence the split exercised the cross-trigger close path: some
    // interval opened before the split was closed at/after it
    val midUs = (mid / 1e3).toLong
    val crossing = want.count { case (_, _, _, vf, vt) =>
      vf < midUs && vt != -1L && vt >= midUs }
    assert(crossing > 0, "split produced no cross-trigger interval closes")
  }

  test("streaming dedup within watermark drops re-delivered events") {
    import org.apache.spark.sql.functions._
    // simulate at-least-once delivery: the same file arrives twice
    val streamDir = java.nio.file.Files.createTempDirectory("evt-dedup")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      streamDir.resolve("events-a.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      streamDir.resolve("events-b.parquet"))
    val deduped = EventStream.readStream(spark, streamDir.toString)
      .withColumn("ets", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ets", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy().count()
    val query = deduped.writeStream.format("memory")
      .queryName("evt_dedup").outputMode("complete").start()
    try query.processAllAvailable() finally query.stop()
    val n = spark.table("evt_dedup").collect().head.getLong(0)
    val expected = EventStream
      .readBatch(spark, s"$sfDir/events.parquet").count()
    assert(n == expected, s"deduped stream $n != unique events $expected")
  }

  test("q6c dedupEvents: cross-trigger redelivery collapses to the batch " +
    "answer through within-watermark state") {
    import org.apache.spark.sql.functions._
    // the redelivery case the state exists for: the SAME events file
    // arrives in TWO triggers (maxFilesPerTrigger=1), so every event's
    // duplicate shows up after its original's trigger committed — only
    // id state carried across triggers can collapse it
    val streamDir = java.nio.file.Files.createTempDirectory("evt-q6c")
    val slice = EventStream.readBatch(spark, s"$sfDir/events.parquet")
      .filter(col("user_id") < 20)
    slice.coalesce(1).write.parquet(streamDir.resolve("a").toString)
    slice.coalesce(1).write.parquet(streamDir.resolve("b").toString)
    def stage(sub: String, name: String, mtime: Long): Unit = {
      val part = java.nio.file.Files.list(streamDir.resolve(sub))
        .filter(_.getFileName.toString.startsWith("part-")).findFirst.get()
      val dst = streamDir.resolve(name)
      java.nio.file.Files.copy(part, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    stage("a", "first.parquet", 1000000L)
    stage("b", "second.parquet", 2000000L)
    def rmTree(f: java.io.File): Unit = {
      Option(f.listFiles).toSeq.flatten.foreach(rmTree); f.delete(); ()
    }
    rmTree(streamDir.resolve("a").toFile)
    rmTree(streamDir.resolve("b").toFile)

    val query = EventStream.dedupEvents(
      EventStream.readStreamThrottled(spark, streamDir.toString,
        maxFilesPerTrigger = 1))
      .writeStream.format("memory").queryName("evt_q6c")
      .outputMode("append").start()
    try query.processAllAvailable() finally query.stop()

    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getString(2), r.getTimestamp(3),
        r.getDouble(4))
    val got = spark.table("evt_q6c").collect().map(key)
    val want = EventStream.dedupEvents(slice).collect().map(key)
    assert(got.length == got.toSet.size,
      "stream emitted a duplicate event_id")
    assert(got.toSet == want.toSet && got.nonEmpty,
      s"drained ${got.length} != batch ${want.length}")
  }

  test("maxFilesPerTrigger throttles a burst into bounded micro-batches") {
    // a 4-file backfill burst lands at once; with maxFilesPerTrigger=1
    // the source must admit it as 4 micro-batches, none larger than the
    // biggest single file — the backpressure contract — with no row
    // lost or duplicated across triggers
    val streamDir = java.nio.file.Files.createTempDirectory("evt-throttle")
    val batch = EventStream.readBatch(spark, s"$sfDir/events.parquet")
    batch.repartition(4).write.mode("overwrite")
      .parquet(streamDir.toString)
    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val query = EventStream
      .readStreamThrottled(spark, streamDir.toString, maxFilesPerTrigger = 1)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batchSizes.synchronized { batchSizes += df.count() }; ()
      }
      .start()
    try query.processAllAvailable() finally query.stop()
    val total = batch.count()
    assert(batchSizes.size == 4,
      s"expected 4 single-file micro-batches, got ${batchSizes.size}")
    assert(batchSizes.sum == total, "throttling lost or duplicated rows")
    assert(batchSizes.max < total, "a single trigger absorbed the whole burst")
  }

  test("streaming HLL maintenance: per-trigger sketch folds converge to " +
    "the from-scratch estimates") {
    // the q9c state machine driven by a STREAM: orders arrive as three
    // single-file micro-batches, each trigger folds its sketches into
    // the stored register file (Relational.hllFoldBatch — the
    // foreachBatch production shape), and the drained state must
    // estimate exactly like one sketch pass over the whole table
    import org.apache.spark.sql.functions._
    val streamDir = java.nio.file.Files.createTempDirectory("hll-stream")
    val stateDir = java.nio.file.Files
      .createTempDirectory("hll-state").toString
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_custkey"))
    orders.repartition(3).write.mode("overwrite")
      .parquet(streamDir.toString)

    val folds = new java.util.concurrent.atomic.AtomicInteger(0)
    val query = spark.readStream
      .schema(orders.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir.toString)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, bid: Long) =>
        graft.queries.Relational.hllFoldBatch(spark, stateDir, bid, df)
        folds.incrementAndGet(); ()
      }
      .start()
    try query.processAllAvailable() finally query.stop()
    assert(folds.get() == 3, s"expected 3 per-file folds, got ${folds.get()}")

    val streamed = spark.read
      .parquet(graft.queries.VersionedState
        .tablePath(stateDir, "sketches").get.toString)
      .select(col("o_orderpriority"),
        hll_sketch_estimate(col("sk_base")).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rebuilt = orders.groupBy(col("o_orderpriority"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("o_custkey"),
        lit(graft.queries.Relational.HllLgK))).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == rebuilt,
      s"stream-folded state diverged from rebuild:\n $streamed\n $rebuilt")
  }

  test("streaming CMS maintenance: per-trigger counter folds equal a " +
    "from-scratch grid bit-for-bit") {
    // the q9e state machine driven by a STREAM: events arrive as three
    // single-file micro-batches, each trigger adds its counters into
    // the stored grid (Relational.cmsFoldBatch — the foreachBatch
    // production shape). Counter addition is exactly mergeable, so the
    // drained grid must EQUAL one counting pass over the whole table —
    // no estimator tolerance, unlike the HLL fold above.
    import org.apache.spark.sql.functions._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val streamDir = java.nio.file.Files.createTempDirectory("cms-stream")
    val stateDir = java.nio.file.Files
      .createTempDirectory("cms-state").toString
    val events = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_id"), col("user_id"))
    events.repartition(3).write.mode("overwrite")
      .parquet(streamDir.toString)

    val folds = new java.util.concurrent.atomic.AtomicInteger(0)
    val query = spark.readStream
      .schema(events.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir.toString)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, bid: Long) =>
        graft.queries.Relational.cmsFoldBatch(spark, stateDir, bid, df)
        folds.incrementAndGet(); ()
      }
      .start()
    try query.processAllAvailable() finally query.stop()
    assert(folds.get() == 3, s"expected 3 per-file folds, got ${folds.get()}")

    def grid() = spark.read
      .parquet(graft.queries.VersionedState
        .tablePath(stateDir, "counters").get.toString)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val streamed = grid()
    val rebuilt = graft.queries.Relational.cmsCounters(events)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed == rebuilt && rebuilt.nonEmpty,
      s"stream-folded grid diverged from rebuild")

    // redelivery: re-folding an already-applied batchId is a no-op
    // (the applied-batch ledger — additive counters would otherwise
    // double-count)
    graft.queries.Relational.cmsFoldBatch(spark, stateDir, 0L, events)
    assert(grid() == streamed, "redelivered batchId mutated the grid")
    // atomicity: the applied ledger lives INSIDE the committed version
    // (state and markers swap in one rename — no window where merged
    // counters sit marked unapplied), and a torn pre-swap crash (an
    // orphan version dir that never got the CURRENT swap) must neither
    // be served nor confuse the ledger
    val live = graft.queries.VersionedState.current(stateDir).get
    assert(Seq(0L, 1L, 2L).forall(b => java.nio.file.Files
      .exists(live.resolve(s"_applied-$b"))), "ledger not inside version")
    val orphan = live.getParent.resolve("v-99-deadbeef")
    java.nio.file.Files.createDirectories(orphan)
    assert(!graft.queries.VersionedState.applied(stateDir, 99L))
    assert(graft.queries.VersionedState.current(stateDir).get == live,
      "an uncommitted version dir changed the served state")
    graft.queries.Relational.cmsFoldBatch(spark, stateDir, 0L, events)
    assert(grid() == streamed, "orphan dir broke redelivery idempotence")
  }

  test("streaming quantile-histogram maintenance: per-trigger bucket " +
    "folds equal a from-scratch histogram bit-for-bit") {
    // the q9t state machine driven by a STREAM: lineitem rows arrive
    // as three single-file micro-batches, each trigger adds its bucket
    // counts into the stored histogram (Relational.qtFoldBatch — the
    // foreachBatch production shape). Bucket addition is exactly
    // mergeable, so the drained histogram must EQUAL one counting pass
    // over the whole table — q9e's lossless guarantee; any quantile
    // read from it is then identical to a batch read-out.
    import org.apache.spark.sql.functions._
    val streamDir = java.nio.file.Files.createTempDirectory("qt-stream")
    val stateDir = java.nio.file.Files
      .createTempDirectory("qt-state").toString
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_extendedprice"))
    li.repartition(3).write.mode("overwrite")
      .parquet(streamDir.toString)

    val folds = new java.util.concurrent.atomic.AtomicInteger(0)
    val query = spark.readStream
      .schema(li.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir.toString)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, bid: Long) =>
        graft.queries.Relational.qtFoldBatch(spark, stateDir, bid, df)
        folds.incrementAndGet(); ()
      }
      .start()
    try query.processAllAvailable() finally query.stop()
    assert(folds.get() == 3, s"expected 3 per-file folds, got ${folds.get()}")

    def hist() = spark.read
      .parquet(graft.queries.VersionedState
        .tablePath(stateDir, "hist").get.toString)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val streamed = hist()
    val rebuilt = graft.queries.Relational.qtHist(
        li.select(graft.queries.Relational
          .qtCentsOf(col("l_extendedprice")).as("cents")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == rebuilt && rebuilt.nonEmpty,
      "stream-folded histogram diverged from rebuild")

    // redelivery: an already-applied batchId must be skipped
    graft.queries.Relational.qtFoldBatch(spark, stateDir, 1L, li)
    assert(hist() == streamed, "redelivered batchId mutated the histogram")
  }

  test("streaming graph-ANN maintenance: per-trigger batch-attach " +
    "folds equal the one-shot attach, whatever the batch boundaries") {
    // qb7's maintenance driven by a STREAM: delta vectors arrive as
    // three micro-batches, each trigger beam-searches ONLY its batch
    // against the frozen base graph and set-unions the links into the
    // stored attach table (Similarity.nswAttachFoldBatch). Because
    // every vector attaches against the same frozen base, the drained
    // edge set must EQUAL the one-shot batch attach exactly — the
    // order-independence that makes the insert distributable is also
    // what makes it streamable.
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val nswP = graft.queries.Similarity.nswPartsAt(spark, sf)
    val (base, baseEdges, deltaRaw, oneShot) =
      graft.queries.Similarity.nswStreamFixtures(spark, sf)
    val streamDir = java.nio.file.Files.createTempDirectory("nsw-stream")
    val stateDir = java.nio.file.Files
      .createTempDirectory("nsw-state").toString
    deltaRaw.repartition(3).write.mode("overwrite")
      .parquet(streamDir.toString)

    val folds = new java.util.concurrent.atomic.AtomicInteger(0)
    val query = spark.readStream
      .schema(deltaRaw.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir.toString)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, bid: Long) =>
        graft.queries.Similarity.nswAttachFoldBatch(
          spark, stateDir, bid, df, base, baseEdges, nswP)
        folds.incrementAndGet(); ()
      }
      .start()
    try query.processAllAvailable() finally query.stop()
    assert(folds.get() == 3, s"expected 3 per-file folds, got ${folds.get()}")

    def links(df: org.apache.spark.sql.DataFrame) = df
      .select(col("pt").cast("long"), col("src").cast("long"),
        col("dst").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val streamed = links(spark.read.parquet(
      graft.queries.VersionedState.tablePath(stateDir, "attach")
        .get.toString))
    val expected = links(oneShot)
    assert(streamed == expected && expected.nonEmpty,
      "stream-folded attach links diverged from the one-shot attach")

    // redelivery: an already-applied batchId must be a ledger no-op
    graft.queries.Similarity.nswAttachFoldBatch(
      spark, stateDir, 0L, spark.read.parquet(streamDir.toString),
      base, baseEdges, nswP)
    val after = links(spark.read.parquet(
      graft.queries.VersionedState.tablePath(stateDir, "attach")
        .get.toString))
    assert(after == streamed, "redelivered batchId mutated the links")
  }

  test("streaming per-day HLL maintenance: trigger folds equal a " +
    "from-scratch build per day, and redelivery is a register-max no-op") {
    // the q9w state machine driven by a STREAM: events arrive as three
    // micro-batches, each trigger sketches only itself and merges into
    // the per-day register store (Relational.dailyHllFoldBatch). HLL
    // union is a register-wise max, so unlike the additive folds the
    // SAME content can be redelivered under a batch id the ledger has
    // not seen — estimates must be unchanged.
    import org.apache.spark.sql.functions._
    val streamDir = java.nio.file.Files.createTempDirectory("dhll-stream")
    val stateDir = java.nio.file.Files
      .createTempDirectory("dhll-state").toString
    val ev = EventStream.readBatch(spark, s"$sfDir/events.parquet")
      .select(col("ts"), col("user_id"))
    ev.repartition(3).write.mode("overwrite").parquet(streamDir.toString)

    val query = spark.readStream
      .schema(ev.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir.toString)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, bid: Long) =>
        graft.queries.Relational.dailyHllFoldBatch(spark, stateDir, bid, df)
        ()
      }
      .start()
    try query.processAllAvailable() finally query.stop()

    def estimates(): Map[Long, Long] = spark.read
      .parquet(graft.queries.VersionedState
        .tablePath(stateDir, "sketches").get.toString)
      .select(col("day"), hll_sketch_estimate(col("sk")).as("est"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val streamed = estimates()
    val rebuilt = ev
      .select(col("user_id"), expr("ts div 86400000000000").as("day"))
      .groupBy(col("day"))
      .agg(hll_sketch_estimate(
        hll_sketch_agg(col("user_id"),
          lit(graft.queries.Relational.HllLgK))).as("est"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == rebuilt && rebuilt.size > 5,
      "stream-folded per-day estimates diverged from a from-scratch build")

    // redelivery: folding the ENTIRE feed again, under a batch id the
    // ledger has not seen, must change nothing
    graft.queries.Relational.dailyHllFoldBatch(spark, stateDir, 99L, ev)
    assert(estimates() == streamed,
      "redelivered batch changed the register estimates")
  }

  test("streaming tombstone maintenance: takedown feed folds are " +
    "redelivery-idempotent and converge to the one-shot purge") {
    // the q9u state machine driven by a takedown STREAM: the index is
    // seeded pre-takedown, the mod-13 tombstone ids arrive as three
    // micro-batches (TextOps.tombFoldBatch — anti-join vs the stored
    // list makes redelivered content a no-op even under a batch id the
    // ledger has not seen), and the drained state must serve
    // exactly what q9u's one-shot purge serves.
    import org.apache.spark.sql.functions._
    import graft.queries.TextOps
    val streamDir = java.nio.file.Files.createTempDirectory("tomb-stream")
    val stateDir = java.nio.file.Files
      .createTempDirectory("tomb-state").toString
    TextOps.seedTombstoneState(spark, sfDir, stateDir)
    val tombIds = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"))
      .filter(pmod(col("doc_id"), lit(TextOps.TombMod)) === TextOps.TombRem)
    tombIds.repartition(3).write.mode("overwrite")
      .parquet(streamDir.toString)

    val folds = new java.util.concurrent.atomic.AtomicInteger(0)
    val query = spark.readStream
      .schema(tombIds.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir.toString)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, bid: Long) =>
        TextOps.tombFoldBatch(spark, stateDir, bid, df)
        folds.incrementAndGet(); ()
      }
      .start()
    try query.processAllAvailable() finally query.stop()
    assert(folds.get() == 3, s"expected 3 per-file folds, got ${folds.get()}")

    def live(table: String) = spark.read.parquet(
      graft.queries.VersionedState.tablePath(stateDir, table).get.toString)
    // redelivery: folding the ENTIRE feed again, under a batch id the
    // ledger has not seen, must change nothing
    def stateSnapshot(): (Set[Long], (Long, Long)) = {
      val t = live("tombstones").collect().map(_.getLong(0)).toSet
      val st = live("stats_live").collect().head
      (t, (st.getLong(0), st.getLong(1)))
    }
    val before = stateSnapshot()
    TextOps.tombFoldBatch(spark, stateDir, 99L, tombIds)
    assert(stateSnapshot() == before,
      "redelivered takedown batch mutated the state")

    // early-arriving takedown: an id with NO postings row must be
    // persisted (null dl, ready to mask a later append) WITHOUT
    // touching the live stats — it never contributed to them
    val unknownId = 999999999L
    TextOps.tombFoldBatch(spark, stateDir, 100L,
      spark.range(1).select(lit(unknownId).as("doc_id")))
    val (tombsAfter, statsAfter) = stateSnapshot()
    assert(tombsAfter == before._1 + unknownId,
      "unindexed takedown id was not persisted to the tombstone list")
    assert(statsAfter == before._2,
      "unindexed takedown id must not decrement live stats")
    // and redelivering it is still a no-op
    TextOps.tombFoldBatch(spark, stateDir, 101L,
      spark.range(1).select(lit(unknownId).as("doc_id")))
    assert(stateSnapshot() == ((tombsAfter, statsAfter)),
      "redelivered unknown-id batch mutated the state")

    // convergence: the folded state's masked serve ≡ q9u's one-shot
    // purge serve (same tombstone set, same decremented stats)
    val post = spark.read
      .parquet(java.nio.file.Paths.get(stateDir, "postings").toString)
    val statsLive = live("stats_live")
    val tomb = live("tombstones")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val folded = rows(TextOps.maskedServe(spark, post, statsLive, tomb,
      TextOps.Bm25TombTerms, 10))
    val oneShot = rows(TextOps.bm25Tombstoned(spark, sfDir,
      TextOps.Bm25TombTerms, 10))
    assert(folded == oneShot && folded.nonEmpty,
      "stream-folded serve diverged from the one-shot purge")
  }

  test("q6d transformWithState running totals carry ValueState across " +
    "triggers == batch window plan") {
    import org.apache.spark.sql.functions._
    // the state-v2 API on a REAL stream: the user_id<20 slice arrives
    // as two event-time-ordered triggers split at the median ts, so
    // every second-trigger event's (seq, run_cents) depends on
    // ValueState carried from trigger 1 (RocksDB-backed)
    val all = EventStream.readBatch(spark, s"$sfDir/events.parquet")
      .filter(col("user_id") < 20)
    val midNs = all.stat.approxQuantile("ts", Array(0.5), 0.0).head.toLong
    val streamDir = java.nio.file.Files.createTempDirectory("twstate")
    def stage(df: org.apache.spark.sql.DataFrame, name: String,
        mtime: Long): Unit = {
      val tmp = streamDir.resolve(name + ".tmp")
      df.coalesce(1).write.parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp)
        .filter(_.getFileName.toString.startsWith("part-")).findFirst.get()
      val dst = streamDir.resolve(name)
      java.nio.file.Files.copy(part, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).toSeq.flatten.foreach(rm); f.delete(); ()
      }
      rm(tmp.toFile)
    }
    stage(all.filter(col("ts") < midNs), "a-first.parquet", 1000000L)
    stage(all.filter(col("ts") >= midNs), "b-second.parquet", 2000000L)

    val query = EventStream.runningTotals(
      EventStream.readStreamThrottled(spark, streamDir.toString,
        maxFilesPerTrigger = 1))
      .writeStream.format("memory").queryName("evt_q6d")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("twstate-ckpt").toString)
      .outputMode("append").start()
    try query.processAllAvailable() finally query.stop()

    def key(r: org.apache.spark.sql.Row) =
      r.getLong(0) -> (r.getLong(2), r.getLong(3))
    val got = spark.table("evt_q6d").collect().map(key).toMap
    val want = EventStream.runningTotals(all).collect().map(key).toMap
    assert(got == want && got.nonEmpty,
      s"drained ${got.size} != batch ${want.size}")
    // evidence the split exercised cross-trigger state: some
    // second-half event must have seq > 1 (its counter lived in state)
    val crossing = all.filter(col("ts") >= midNs)
      .select(col("event_id")).collect().map(_.getLong(0))
      .exists(id => got.get(id).exists(_._1 > 1))
    assert(crossing, "split produced no state-crossing running totals")
  }

  test("q6d state-v2 TTL: ValueState evicts after the TTL and survives " +
    "within it (RocksDB provider, multi-key)") {
    import org.apache.spark.sql.functions._
    // TTL semantics on a real stream with CONTROLLED wall-clock gaps:
    // the same key set arrives in two triggers separated by a sleep
    // much longer than a short TTL — the second trigger must see FRESH
    // state (seq restarts at 1: eviction). A third run under a LONG
    // TTL over the same staging must see CARRIED state (seq continues:
    // TTL is an age-out, not an always-drop). Both drain the identical
    // multi-key slice (user_id < 20), so per-key isolation rides along.
    val all = EventStream.readBatch(spark, s"$sfDir/events.parquet")
      .filter(col("user_id") < 20)
    val midNs = all.stat.approxQuantile("ts", Array(0.5), 0.0).head.toLong
    val first = all.filter(col("ts") < midNs)
    val second = all.filter(col("ts") >= midNs)
    val secondIds = second.select(col("event_id"))
      .collect().map(_.getLong(0)).toSet
    val secondPerUserMin = second
      .groupBy(col("user_id")).agg(min(struct(col("ts"), col("event_id"))))
      .collect().map(r => r.getStruct(1).getLong(1)).toSet

    // TimeMode.ProcessingTime arms the no-data trigger loop (batches
    // keep running to service TTL timers), so processAllAvailable never
    // settles — each trigger is instead drained as its own
    // Trigger.AvailableNow RUN over one shared checkpoint. That also
    // strengthens the claim: ValueState and its TTL must survive a
    // query RESTART through the RocksDB checkpoint, not just a trigger
    // boundary inside one run.
    def drain(ttl: java.time.Duration, tag: String): Map[Long, Long] = {
      val streamDir = java.nio.file.Files.createTempDirectory(s"ttl-$tag")
      val ckpt = java.nio.file.Files
        .createTempDirectory(s"ttl-ckpt-$tag").toString
      def stageFlat(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
        val tmp = streamDir.resolve(name + ".tmp")
        df.coalesce(1).write.parquet(tmp.toString)
        val part = java.nio.file.Files.list(tmp)
          .filter(_.getFileName.toString.startsWith("part-")).findFirst.get()
        java.nio.file.Files.copy(part, streamDir.resolve(name))
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).toSeq.flatten.foreach(rm); f.delete(); ()
        }
        rm(tmp.toFile)
      }
      // the memory sink refuses checkpoint recovery, so output goes to
      // a FILE sink (restart-capable); and because processing-time
      // timers keep no-data batches flowing (neither
      // processAllAvailable nor AvailableNow ever settles), each run is
      // stopped once the sink holds the expected committed row count
      val outDir = java.nio.file.Files
        .createTempDirectory(s"ttl-out-$tag").toString
      def sinkRows(): Array[org.apache.spark.sql.Row] =
        try spark.read.parquet(outDir)
          .select(org.apache.spark.sql.functions.col("event_id"),
            org.apache.spark.sql.functions.col("seq")).collect()
        catch { case _: Exception => Array.empty }
      def runUntil(expected: Long): Unit = {
        val schema = spark.read.parquet(streamDir.toString).schema
        val query = EventStream.runningTotalsTtl(
          EventStream.normalizeTs(
            spark.readStream.schema(schema).parquet(streamDir.toString)),
          ttl)
          .writeStream.format("parquet").option("path", outDir)
          .option("checkpointLocation", ckpt)
          .outputMode("append").start()
        try {
          val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
          while (sinkRows().length < expected &&
              System.nanoTime() < deadline)
            Thread.sleep(200)
          assert(sinkRows().length >= expected,
            s"sink never reached $expected rows")
        } finally query.stop()
      }
      stageFlat(first, "a-first.parquet")
      val n1 = first.count()
      runUntil(n1)
      Thread.sleep(1200) // >> the short TTL, << the long one
      stageFlat(second, "b-second.parquet")
      runUntil(n1 + second.count())
      sinkRows().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }

    val evicted = drain(java.time.Duration.ofMillis(200), "short")
    // EVICTION: every user's FIRST second-trigger event restarts at 1
    assert(secondPerUserMin.nonEmpty &&
      secondPerUserMin.forall(id => evicted.get(id).contains(1L)),
      "short-TTL state survived the gap — eviction did not happen")
    val kept = drain(java.time.Duration.ofHours(1), "long")
    // RETENTION: within the TTL the totals continue across the gap —
    // identical to the untimed batch fold for every event
    val want = EventStream.runningTotals(all).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(secondIds.nonEmpty &&
      secondIds.forall(id => kept.get(id) == want.get(id)),
      "long-TTL state did not carry across the gap")
    // and some user genuinely continued (seq > 1 on a second-half row)
    assert(secondIds.exists(id => kept(id) > 1L),
      "no cross-trigger continuation observed under the long TTL")
  }

  test("streaming IVF maintenance: per-trigger stat folds equal a " +
    "from-scratch directory, and the batch ledger makes replay safe") {
    // the q9n cell directory driven by a STREAM: embeddings arrive as
    // three single-file micro-batches, each trigger adds its batch's
    // per-cell (count, Σ micro-cosine) into the stored state
    // (Similarity.ivfFoldBatch — the foreachBatch production shape).
    // Integer addition is lossless and order-free, so the drained state
    // must EQUAL a one-pass full assignment — but unlike q9m's
    // idempotent bit-OR, re-adding a batch would DOUBLE-COUNT, so the
    // fold's batch ledger must make an at-least-once redelivery a
    // no-op. Both claims are the whole point of additive index state.
    import org.apache.spark.sql.functions._
    val streamDir = java.nio.file.Files.createTempDirectory("ivf-stream")
    val stateDir = java.nio.file.Files
      .createTempDirectory("ivf-state").toString
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    emb.repartition(3).write.mode("overwrite").parquet(streamDir.toString)

    val query = spark.readStream
      .schema(emb.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir.toString)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        graft.queries.Similarity.ivfFoldBatch(spark, stateDir, id, df, emb)
        ()
      }
      .start()
    try query.processAllAvailable() finally query.stop()

    def cells(): Map[Long, (Long, Long)] = spark.read
      .parquet(graft.queries.VersionedState
        .tablePath(stateDir, "cells").get.toString)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val streamed = cells()
    val rebuilt = graft.queries.Similarity.ivfFullStats(emb)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(streamed == rebuilt && streamed.nonEmpty,
      "drained cell directory != one-pass full assignment")
    // at-least-once redelivery: replaying an ALREADY-APPLIED batch id
    // must be a no-op (the ledger), even with different content
    graft.queries.Similarity.ivfFoldBatch(spark, stateDir, 0L,
      emb.limit(5), emb)
    assert(cells() == rebuilt,
      "replayed batch double-counted — the ledger failed")
  }

  test("streaming bloom maintenance: per-trigger OR folds equal a " +
    "from-scratch filter bit-for-bit, and replay cannot corrupt it") {
    // the q9m membership state driven by a STREAM: documents arrive as
    // three single-file micro-batches, each trigger ORs its digests'
    // bits into the stored word file (Dedup.bloomFoldBatch — the
    // foreachBatch production shape). Bit-OR is idempotent and
    // commutative, so the drained filter must EQUAL a one-pass build —
    // and re-folding a batch (at-least-once redelivery) must change
    // NOTHING, the property that makes a bloom safe streaming state.
    import org.apache.spark.sql.functions._
    val streamDir = java.nio.file.Files.createTempDirectory("bloom-stream")
    val stateDir = java.nio.file.Files
      .createTempDirectory("bloom-state").toString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    docs.repartition(3).write.mode("overwrite").parquet(streamDir.toString)

    val query = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir.toString)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, bid: Long) =>
        graft.queries.Dedup.bloomFoldBatch(spark, stateDir, bid, df); ()
      }
      .start()
    try query.processAllAvailable() finally query.stop()

    def words(): Map[Long, Long] = spark.read
      .parquet(graft.queries.VersionedState
        .tablePath(stateDir, "words").get.toString)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val streamed = words()
    val rebuilt = graft.queries.Dedup
      .bloomWordsOf(docs.select(md5(col("text")).as("h")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == rebuilt && rebuilt.nonEmpty,
      "stream-folded bloom diverged from one-pass build")
    // redelivery: folding the WHOLE corpus again, under a batch id the
    // ledger has not seen, is a no-op
    graft.queries.Dedup.bloomFoldBatch(spark, stateDir, 99L, docs)
    assert(words() == streamed, "redelivered fold mutated the filter")
  }

  test("streaming LM maintenance: per-trigger count folds equal a " +
    "from-scratch build bit-for-bit") {
    // the q9h state machine driven by a STREAM: documents arrive as
    // three single-file micro-batches, each trigger adds its bigram/
    // unigram counts into the stored tables (TextOps.lmFoldBatch — the
    // foreachBatch production shape). Count addition is exactly
    // mergeable, so the drained tables must EQUAL one counting pass
    // over the whole corpus — the quality gate's LM stays fresh as the
    // crawl arrives, with no estimator tolerance.
    import org.apache.spark.sql.functions._
    val streamDir = java.nio.file.Files.createTempDirectory("lm-stream")
    val stateDir = java.nio.file.Files
      .createTempDirectory("lm-state").toString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    docs.repartition(3).write.mode("overwrite").parquet(streamDir.toString)

    val folds = new java.util.concurrent.atomic.AtomicInteger(0)
    val query = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir.toString)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, bid: Long) =>
        graft.queries.TextOps.lmFoldBatch(spark, stateDir, bid, df)
        folds.incrementAndGet(); ()
      }
      .start()
    try query.processAllAvailable() finally query.stop()
    assert(folds.get() == 3, s"expected 3 per-file folds, got ${folds.get()}")

    val sBig = spark.read
      .parquet(graft.queries.VersionedState
        .tablePath(stateDir, "bigram").get.toString)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val sUni = spark.read
      .parquet(graft.queries.VersionedState
        .tablePath(stateDir, "unigram").get.toString)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // from-scratch counting pass over the full corpus, written inline
    // with standard functions — independent of the TextOps helpers
    val ws = docs.select(split(col("text"), " ").as("ws"))
    val rUni = ws.select(explode(col("ws")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rBig = ws.filter(size(col("ws")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(ws) - 1),
           i -> struct(element_at(ws, i) AS a,
                       element_at(ws, i + 1) AS b))""")).as("p"))
      .groupBy(col("p.a"), col("p.b")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(sBig == rBig && sBig.nonEmpty,
      "stream-folded bigram table diverged from rebuild")
    assert(sUni == rUni && sUni.nonEmpty,
      "stream-folded unigram table diverged from rebuild")
  }

  test("streaming NDJSON sink drains to the exact batch-write artifact") {
    // the E1 output tail as a stream: Patient resources arrive across
    // two micro-batches (one file per trigger) and the foreachBatch
    // upsert sink must converge to the same single NDJSON file a batch
    // write of the full input produces
    val pat = graft.SparkEntry.queries("q20_onekg_patient")(
      spark, "/root/testdata/sf0.001")
    val batchDir = java.nio.file.Files.createTempDirectory("ndj-batch").toString
    graft.sinks.Ndjson.write(pat, batchDir, "Patient")

    val stageDir = java.nio.file.Files.createTempDirectory("ndj-stage").toString
    pat.repartition(2).write.mode("overwrite").parquet(stageDir)
    val streamDir = java.nio.file.Files.createTempDirectory("ndj-stream").toString
    val query = graft.sinks.Ndjson.writeStreamTo(
      spark.readStream.schema(pat.schema)
        .option("maxFilesPerTrigger", "1").parquet(stageDir),
      streamDir, "Patient")
    try query.processAllAvailable() finally query.stop()

    def lines(dir: String): Seq[String] = {
      val src = scala.io.Source.fromFile(s"$dir/Patient.ndjson")
      try src.getLines().toVector.sorted finally src.close()
    }
    val got = lines(streamDir)
    val want = lines(batchDir)
    assert(got.nonEmpty && got == want,
      s"streamed NDJSON (${got.size} lines) != batch NDJSON (${want.size})")
  }

  test("streaming NDJSON sink is idempotent under at-least-once replay") {
    // the same resources delivered TWICE (two triggers) — the id-keyed
    // upsert must land re-deliveries on their existing ids, not append
    val pat = graft.SparkEntry.queries("q20_onekg_patient")(
      spark, "/root/testdata/sf0.001")
    val stageDir = java.nio.file.Files.createTempDirectory("ndj-replay").toString
    pat.coalesce(1).write.mode("overwrite").parquet(s"$stageDir/a")
    pat.coalesce(1).write.mode("overwrite").parquet(s"$stageDir/b")
    val outDir = java.nio.file.Files.createTempDirectory("ndj-replay-out").toString
    val query = graft.sinks.Ndjson.writeStreamTo(
      spark.readStream.schema(pat.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$stageDir/*"),
      outDir, "Patient")
    try query.processAllAvailable() finally query.stop()
    val src = scala.io.Source.fromFile(s"$outDir/Patient.ndjson")
    val n = try src.getLines().size finally src.close()
    assert(n == pat.count(),
      s"replayed stream wrote $n lines for ${pat.count()} unique resources")
  }

  test("streaming NDJSON sink updateExisting: later trigger wins per id") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // two triggers carry the same id with different payloads; with
    // updateExisting the second trigger's version must replace the
    // first's (K3's update semantics, per micro-batch), at the id's
    // ORIGINAL file position
    val stageDir = java.nio.file.Files.createTempDirectory("ndj-upd").toString
    def batch(v: String) = Seq(("id-1", v), ("id-2", v))
      .toDF("id", "payload")
    batch("v1").coalesce(1).write.mode("overwrite").parquet(s"$stageDir/a")
    batch("v2").coalesce(1).write.mode("overwrite").parquet(s"$stageDir/b")
    // order the two files deterministically for the source (mtime)
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Files.list(java.nio.file.Paths.get(s"$stageDir/a"))
        .filter(_.getFileName.toString.startsWith("part-")).findFirst().get(),
      java.nio.file.attribute.FileTime.fromMillis(1000000L))
    val outDir = java.nio.file.Files.createTempDirectory("ndj-upd-out").toString
    val query = graft.sinks.Ndjson.writeStreamTo(
      spark.readStream.schema(batch("x").schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$stageDir/*"),
      outDir, "Patient", updateExisting = true)
    try query.processAllAvailable() finally query.stop()
    val src = scala.io.Source.fromFile(s"$outDir/Patient.ndjson")
    val lines = try src.getLines().toVector finally src.close()
    assert(lines.size == 2, s"expected 2 upserted lines, got ${lines.size}")
    assert(lines.forall(_.contains("\"v2\"")),
      s"updateExisting did not let the later trigger win: $lines")
  }

  test("streaming k-anonymity maintenance: per-batch partial folds are " +
    "redelivery-idempotent by partition ownership and serve == one-shot") {
    // qa7's state machine on a REAL stream: customer arrives as three
    // files, each trigger folds into its OWN batch partition
    // (Relational.kAnonFoldBatch), and the drained serve must equal
    // qa5's one-shot audit of the full table.
    import org.apache.spark.sql.functions._
    import graft.queries.{Relational, Tables}
    val streamDir = java.nio.file.Files.createTempDirectory("kanon-stream")
    val stateDir = java.nio.file.Files
      .createTempDirectory("kanon-state").toString
    val customer = Tables.table(spark, sfDir, "customer")
    customer.repartition(3).write.mode("overwrite")
      .parquet(streamDir.toString)

    val query = spark.readStream
      .schema(customer.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir.toString)
      .writeStream
      .foreachBatch {
        (df: org.apache.spark.sql.DataFrame, batchId: Long) =>
          Relational.kAnonFoldBatch(spark, stateDir, batchId, df); ()
      }
      .start()
    try query.processAllAvailable() finally query.stop()

    def serveRows() = Relational.kAnonServe(spark, stateDir)
      .collect().toSeq
    val drained = serveRows()
    val oneShot = Relational.kAnonymityAudit(customer).collect().toSeq
    assert(drained == oneShot && drained.nonEmpty,
      "stream-folded k-anonymity audit diverged from the one-shot audit")

    // redelivery: the FAILURE-RETRY case — the same trigger (same
    // batchId, same rows) folds again and must change nothing, because
    // the batch overwrites its own partition with identical content
    val batch0 = spark.read.parquet(streamDir.toString).limit(0)
      .unionAll(customer.filter(pmod(col("c_custkey"), lit(2)) === 0))
    Relational.kAnonFoldBatch(spark, stateDir, 0L, batch0)
    Relational.kAnonFoldBatch(spark, stateDir, 0L, batch0)
    val after = serveRows()
    // serve changed relative to `drained` only through batch 0's new
    // content — but folding it TWICE equals folding it once
    Relational.kAnonFoldBatch(spark, stateDir, 0L, batch0)
    assert(serveRows() == after,
      "redelivered batch (same batchId) mutated the served audit")
  }

  test("streaming hygiene: qce/qcg/qcf/qch/qci/qcj kernels drained " +
    "per-trigger equal the batch pass row-for-row") {
    // the crawl-ingest deployment shape for the hygiene family: every
    // kernel is a pure per-row map (plant → repair/normalize/score →
    // gate), so the foreachBatch form over micro-batches must equal
    // the one-shot batch run exactly — pinning that no stage secretly
    // depends on cross-document state (the qc7 discipline). All four
    // kernels ride ONE drain: each trigger applies each kernel to its
    // batch and the unions must match the batch runs per kernel.
    import org.apache.spark.sql.functions._
    import graft.queries.TextOps
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val streamDir = java.nio.file.Files.createTempDirectory("hyg-stream")
    docs.repartition(2).write.mode("overwrite").parquet(streamDir.toString)

    val kernels: Seq[(String,
        org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)] =
      Seq("qce" -> TextOps.encodingHygieneOf,
        "qcg" -> TextOps.unicodeNormalizeOf,
        "qcf" -> TextOps.lexiconFilterOf,
        "qch" -> TextOps.phraseLexiconOf,
        "qci" -> TextOps.hygienePipelineOf,
        "qcj" -> TextOps.phraseRedactOf)
    val drained = scala.collection.mutable.Map.empty[String, Vector[String]]
      .withDefaultValue(Vector.empty)
    val triggers = new java.util.concurrent.atomic.AtomicInteger(0)
    val query = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir.toString)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        triggers.incrementAndGet()
        kernels.foreach { case (name, k) =>
          val rows = k(df).collect().map(_.toString).toVector
          drained.synchronized { drained(name) = drained(name) ++ rows }
        }
        ()
      }
      .start()
    try query.processAllAvailable() finally query.stop()
    assert(triggers.get() == 2, s"expected 2 triggers, got ${triggers.get()}")

    kernels.foreach { case (name, k) =>
      val got = drained(name)
      val want = k(docs).collect().map(_.toString).toVector
      assert(got.nonEmpty && got.size == want.size &&
        got.toSet == want.toSet,
        s"$name: streamed ${got.size} rows diverged from batch ${want.size}")
    }
  }

  test("streaming KMV maintenance: per-trigger sketch merges equal a " +
    "one-shot sketch, and redelivered CONTENT is idempotent by algebra") {
    // qb9's fold on a real stream: documents arrive as three files,
    // each trigger sketches its batch and bottom-k-merges into the
    // stored per-source sketches (TextOps.kmvFoldBatch). The merge is
    // lossless, so the drained state must EQUAL one sketch pass over
    // the whole corpus — and, the KMV-specific property, it is
    // IDEMPOTENT: re-merging already-seen content under a NEW batchId
    // (the ledger-miss case the counter folds cannot survive) changes
    // nothing, because bottom-k(S ∪ S) = bottom-k(S).
    import org.apache.spark.sql.functions._
    val streamDir = java.nio.file.Files.createTempDirectory("kmv-stream")
    val stateDir = java.nio.file.Files
      .createTempDirectory("kmv-state").toString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("source"), col("text"))
    docs.repartition(3).write.mode("overwrite").parquet(streamDir.toString)

    val query = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir.toString)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, bid: Long) =>
        graft.queries.TextOps.kmvFoldBatch(spark, stateDir, bid, df); ()
      }
      .start()
    try query.processAllAvailable() finally query.stop()

    def drained(): Map[String, Seq[Long]] = spark.read
      .parquet(graft.queries.VersionedState
        .tablePath(stateDir, "sketches").get.toString)
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap

    // one-shot sketch over the full corpus, written inline
    graft.GraftExtensions.ensureRegistered(spark)
    val oneShot = docs
      .select(col("source"),
        explode(expr("shingle_strings(text, 8)")).as("g"))
      .select(col("source"),
        conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long").as("h"))
      .groupBy(col("source"))
      .agg(expr(s"kmv_sketch(h, ${graft.queries.TextOps.KmvK})").as("sk"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
    val folded = drained()
    assert(folded == oneShot && folded.nonEmpty,
      "stream-folded KMV sketches diverged from the one-shot sketch")

    // ledger-miss redelivery: the full corpus re-arrives under a NEW
    // batchId — the ledger does not skip it, the algebra absorbs it
    graft.queries.TextOps.kmvFoldBatch(spark, stateDir, 99L, docs)
    assert(drained() == oneShot,
      "re-merged content mutated the KMV state (idempotence broken)")
  }
}
