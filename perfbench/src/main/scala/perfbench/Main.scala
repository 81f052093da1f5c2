package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Shared state of one benchmark run: the session, the run's private
  * work directory, the operation/failure tally and the metrics. */
final class Ctx(val spark: SparkSession, val root: Path, val seed: Long,
    val trace: Boolean, val spans: Spans) {
  private var attemptedN = 0L
  private var failedN = 0L
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val counters = new SparkCounters

  def attempted: Long = synchronized(attemptedN)
  def failed: Long = synchronized(failedN)

  /** One operation (CLI call, upsert batch, query): counted as attempted;
    * an exception counts it as failed and is reported on stderr. Returns
    * the operation's wall seconds. */
  def op(name: String)(body: => Unit): Double = {
    synchronized(attemptedN += 1)
    val t0 = System.nanoTime()
    try body
    catch { case e: Throwable =>
      synchronized(failedN += 1)
      System.err.println(s"[perfbench] FAILED $name: $e")
      e.printStackTrace()
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** One correctness check; a failed check is a failed operation. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    synchronized { attemptedN += 1; if (!ok) failedN += 1 }
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name $detail")
  }

  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  def dir(name: String): Path = {
    val p = root.resolve(name)
    Util.deleteTree(p)
    Files.createDirectories(p)
  }
}

/** One workload: a set-up step that is repeated (input generation and
  * its oracle), a one-time priming step (warm-up and any state the
  * iterations start from), one closed-loop iteration (returning the
  * seconds of each operation in it), the correctness checks, and the
  * traced per-layer decomposition. */
trait Workload {
  def setup(ctx: Ctx, rep: Int): Unit
  def prime(ctx: Ctx): Unit = iteration(ctx)
  def iteration(ctx: Ctx): Seq[(String, Double)]
  def verify(ctx: Ctx): Unit
  def layers(ctx: Ctx): Unit
}

object Main {
  val SetupReps = 3
  val MinIterations = 2

  def session(cpus: Int, root: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val workload = kv("--workload")
    val seed = kv("--seed").toLong
    val seconds = kv("--seconds").toDouble
    val trace = kv("--trace") == "1"
    val root = Paths.get(kv("--root")).toAbsolutePath
    val out = Paths.get(kv("--out"))
    Files.createDirectories(root)
    val cpus = Runtime.getRuntime.availableProcessors

    val w: Workload = workload match {
      case "fhir_etl" => new FhirEtl
      case "query_mix" => new QueryMix
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val t0 = System.nanoTime()
    val spark = session(cpus, root)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, root, seed, trace, new Spans)
    try {
      val setups = (0 until SetupReps).map(r => Util.time(w.setup(ctx, r)))
      val prime = Util.time(w.prime(ctx))
      System.err.println(f"[perfbench] session $sessionS%.3f s, set-up " +
        setups.map(t => f"$t%.3f").mkString(" ") + f", priming $prime%.3f s")
      ctx.put("setup_s", sessionS + Util.median(setups) + prime, "s")
      if (!trace) {
        val (walls, cpu, ops) = loop(ctx, w, seconds)
        System.err.println(f"[perfbench] verified in ${Util.time(w.verify(ctx))}%.3f s")
        ctx.put("wall_s", Util.median(walls), "s")
        ctx.put("op_gmean_s", Util.geomean(ops.groupBy(_._1).values
          .map(o => Util.median(o.map(_._2))).toSeq), "s")
        ctx.put("cpu_s", Util.median(cpu), "s")
        ctx.put("peak_rss_mb", Util.peakRssMb(), "MB")
      } else traced(ctx, w, cpus)
    } catch { case e: Throwable =>
      ctx.check("run", ok = false, e.toString)
      e.printStackTrace()
    }
    spark.stop()
    val m = ctx.metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${Util.num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    Files.writeString(out, s"""{"attempted":${ctx.attempted},""" +
      s""""failed":${ctx.failed},"metrics":$m}""" + "\n")
    if (trace) Files.writeString(root.resolve("spans.json"), ctx.spans.toJson)
    Util.deleteTree(root.resolve("spark-local"))
  }

  /** Closed loop, one client: iterations back to back until `seconds`
    * have passed (at least `minIterations`). Returns each iteration's
    * wall and process CPU seconds, and every operation's seconds. */
  def loop(ctx: Ctx, w: Workload, seconds: Double, minIterations: Int = MinIterations)
      : (Seq[Double], Seq[Double], Seq[(String, Double)]) = {
    val walls = mutable.ArrayBuffer.empty[Double]
    val cpu = mutable.ArrayBuffer.empty[Double]
    val ops = mutable.ArrayBuffer.empty[(String, Double)]
    val t0 = System.nanoTime()
    while (walls.size < minIterations || (System.nanoTime() - t0) / 1e9 < seconds) {
      val c = Util.cpuSeconds()
      val s = System.nanoTime()
      val times = ctx.spans("iteration")(w.iteration(ctx))
      walls += (System.nanoTime() - s) / 1e9
      cpu += Util.cpuSeconds() - c
      ops ++= times
      System.err.println(f"[perfbench] iteration ${walls.size}: ${walls.last}%.3f s, " +
        times.map(t => f"${t._1} ${t._2}%.3f").mkString(", "))
    }
    (walls.toSeq, cpu.toSeq, ops.toSeq)
  }

  /** The traced run: an untraced iteration, one with the listener and
    * spans on, and another untraced one; the traced wall minus the mean of
    * the untraced walls around it is the tracing overhead (the order
    * cancels a linear warm-up trend). Then the workload's layer-by-layer
    * decomposition and the kernel loops, traced. */
  def traced(ctx: Ctx, w: Workload, cpus: Int): Unit = {
    val sc = ctx.spark.sparkContext
    val (before, _, _) = loop(ctx, w, 0, minIterations = 1)
    sc.addSparkListener(ctx.counters)
    val c0 = ctx.counters.snapshot
    ctx.counters.maxTaskMs.set(0)
    ctx.spans.enabled = true
    val (withTrace, _, _) = loop(ctx, w, 0, minIterations = 1)
    org.apache.spark.ListenerDrain(sc)
    val c1 = ctx.counters.snapshot
    for (k <- c1.keys) ctx.put(s"spark.$k", c1(k) - c0(k),
      if (k.endsWith("_s")) "s" else if (k.endsWith("_bytes")) "bytes" else "count")
    ctx.put("spark.max_task_s", ctx.counters.maxTaskMs.get / 1e3, "s")
    ctx.put("spark.core_util", (c1("task_run_s") - c0("task_run_s")) /
      (withTrace.head * cpus), "ratio")
    ctx.spans.enabled = false
    sc.removeSparkListener(ctx.counters)
    val (after, _, _) = loop(ctx, w, 0, minIterations = 1)
    val untraced = (before.head + after.head) / 2
    ctx.put("trace.untraced_wall_s", untraced, "s")
    ctx.put("trace.traced_wall_s", withTrace.head, "s")
    ctx.put("trace.overhead_s", withTrace.head - untraced, "s")
    sc.addSparkListener(ctx.counters)
    ctx.spans.enabled = true
    w.verify(ctx)
    w.layers(ctx)
    Kernels.run(ctx)
    for ((layer, s) <- ctx.spans.selfTimes)
      ctx.put(s"self.$layer", s, "s")
  }
}
