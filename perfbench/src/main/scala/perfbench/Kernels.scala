package perfbench

import graft.etl.OneKg
import graft.expressions.{JpegGray8, Md5Hash64, MinHashBands, NfcNormalize, SimHash64}
import graft.ids.Uuid5
import java.nio.file.Files
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String
import scala.util.Random

/** Kernel loops on fixed generated inputs: the id minting paths and the
  * custom expressions' static entry points, timed as rows per second
  * outside Spark scheduling (except the column minting path, which only
  * exists inside Spark). Each loop runs `Reps` times; its output checksum
  * must be the same every time. */
object Kernels {
  val Reps = 3

  /** Median rows/s of `Reps` runs of `body` over `rows` inputs, and the
    * checksum the runs agreed on (checked). `span` names the layer. */
  private def rate(ctx: Ctx, span: String, rows: Int)(body: => Long): (Double, Long) = {
    val runs: Seq[(Double, Long)] = (0 until Reps).map { _ =>
      var sum = 0L
      val s = Util.time(ctx.spans(span) { sum = body })
      (rows / s, sum)
    }
    ctx.check(s"kernel $span checksum stable", runs.map(_._2).distinct.size == 1)
    (Util.median(runs.map(_._1)), runs.head._2)
  }

  def run(ctx: Ctx): Unit = {
    val rng = new Random(ctx.seed * 31 + 6)
    val n = 100000
    val values = Array.tabulate(n)(i => f"K${rng.nextInt(1000000)}%06d-$i")
    val minter = OneKg.minter
    val system = OneKg.MintSystem
    val sums = scala.collection.mutable.LinkedHashMap.empty[String, Long]

    // ids: the JVM path (Uuid5.uuid5 per name) against the column path
    val ns = minter.namespace
    val (jvm, jvmSum) = rate(ctx, "ids.mint_jvm", n) {
      values.foldLeft(0L)((a, v) => a + Uuid5.uuid5(ns,
        s"1KG/Specimen/$system|$v").getLeastSignificantBits)
    }
    val spark = ctx.spark
    import spark.implicits._
    val input = values.toSeq.toDF("v").cache()
    input.count()
    val minted = input.select(minter.mintIdentifierCol("Specimen", system, col("v")))
    val colRate = Util.median((0 until Reps).map(_ => n / Util.time(ctx.spans(
      "ids.mint_col")(minted.write.format("noop").mode("overwrite").save()))))
    val colIds = minted.collect().map(_.getString(0))
    input.unpersist()
    ctx.check("column and JVM minting agree", colIds.sameElements(
      values.map(minter.mintIdentifier("Specimen", system, _))))
    ctx.put("ids.mint_jvm_rows_per_s", jvm, "1/s")
    ctx.put("ids.mint_col_rows_per_s", colRate, "1/s")
    sums("uuid5_jvm") = jvmSum

    // expressions: static entry points over generated documents
    val docs = Array.fill(5000)(UTF8String.fromString(Seq.fill(20 + rng.nextInt(60))(
      QueryTables.Vocab(rng.nextInt(QueryTables.Vocab.length))).mkString(" ")))
    val nfcDocs = docs.map(d => UTF8String.fromString(d.toString.replace("a", "á")))
    val kernels: Seq[(String, Int, () => Long)] = Seq(
      ("minhash", docs.length, () => docs.foldLeft(0L)((a, d) =>
        a + MinHashBands.compute(d, 3, 12, 4).getLong(0))),
      ("simhash", docs.length, () => docs.foldLeft(0L)((a, d) => a + SimHash64.compute(d))),
      ("nfc", nfcDocs.length, () => nfcDocs.foldLeft(0L)((a, d) =>
        a + NfcNormalize.eval(d).numBytes)),
      ("md5", values.length, () => values.foldLeft(0L)((a, v) => a + Md5Hash64.lower64(v))))
    for ((name, rows, body) <- kernels) {
      val (r, s) = rate(ctx, s"expressions.$name", rows)(body())
      ctx.put(s"expressions.${name}_rows_per_s", r, "1/s")
      sums(name) = s
    }
    val jpegs = Array.fill(500)(JpegGray8.encode(
      Array.fill(64)(rng.nextInt(256).toByte), 8))
    val (jr, js) = rate(ctx, "expressions.jpeg_decode", jpegs.length) {
      jpegs.foldLeft(0L)((a, j) => a + JpegGray8.pixels(j).toIntArray.sum.toLong)
    }
    ctx.put("expressions.jpeg_decode_rows_per_s", jr, "1/s")
    sums("jpeg_decode") = js
    Files.writeString(ctx.root.resolve("kernel_checksums.json"),
      sums.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}\n"))
  }
}
