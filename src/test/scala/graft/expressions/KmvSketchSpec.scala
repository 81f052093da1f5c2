package graft.expressions

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** The KMV aggregate's contract: bounded state, distinctness, order-
  * independence, lossless merge (merge ≡ sketch of the union), and the
  * Spark surface producing exactly the k smallest distinct values
  * across partition boundaries (partial aggregation exercises
  * serialize/merge for real). */
class KmvSketchSpec extends AnyFunSuite with SparkSuite {

  private def agg(k: Int) = KmvSketchAgg(
    org.apache.spark.sql.catalyst.expressions.BoundReference(
      0, org.apache.spark.sql.types.LongType, nullable = true), k)

  private def sketchOf(k: Int, vs: Seq[Long]): Seq[Long] = {
    val a = agg(k)
    val buf = a.createAggregationBuffer()
    vs.foreach(v => a.update(buf,
      org.apache.spark.sql.catalyst.InternalRow(v)))
    a.eval(buf).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray().toSeq
  }

  test("sketch = k smallest distinct values, ascending; state bounded") {
    val vs = Seq[Long](50, 10, 30, 10, 99, 30, 7, 64, 7, 7)
    assert(sketchOf(4, vs) == Seq(7L, 10L, 30L, 50L))
    assert(sketchOf(100, vs) == Seq(7L, 10L, 30L, 50L, 64L, 99L))
    // bound holds mid-stream, not just at eval
    val a = agg(3)
    val buf = a.createAggregationBuffer()
    (1000L to 1L by -1L).foreach(v => a.update(buf,
      org.apache.spark.sql.catalyst.InternalRow(v)))
    assert(buf.size == 3)
    assert(a.eval(buf)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray().toSeq == Seq(1L, 2L, 3L))
  }

  test("order independence and lossless merge: merge of split sketches " +
    "equals the sketch of the union") {
    val rnd = new scala.util.Random(7)
    val vs = Seq.fill(500)(rnd.nextLong() & Long.MaxValue)
    val direct = sketchOf(16, vs)
    assert(sketchOf(16, rnd.shuffle(vs)) == direct)
    val a = agg(16)
    val (l, r) = vs.splitAt(137)
    def bufOf(part: Seq[Long]) = {
      val b = a.createAggregationBuffer()
      part.foreach(v => a.update(b,
        org.apache.spark.sql.catalyst.InternalRow(v)))
      b
    }
    // serialize/deserialize roundtrip + merge
    val merged = a.merge(a.deserialize(a.serialize(bufOf(l))),
      a.deserialize(a.serialize(bufOf(r))))
    assert(a.eval(merged)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray().toSeq == direct)
  }

  test("DataFrame surface: partial aggregation across many partitions " +
    "yields the exact bottom-k per group") {
    graft.GraftExtensions.ensureRegistered(spark)
    import spark.implicits._
    val df = (1L to 10000L).map(i => (i % 3, i * 2654435761L % 1000003L))
      .toDF("g", "h").repartition(13)
    val got = df.groupBy($"g")
      .agg(org.apache.spark.sql.functions.expr("kmv_sketch(h, 8)").as("sk"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val want = (1L to 10000L).map(i => (i % 3, i * 2654435761L % 1000003L))
      .groupBy(_._1).map { case (g, xs) =>
        g -> xs.map(_._2).distinct.sorted.take(8) }
    assert(got.view.mapValues(_.toSeq).toMap == want)
  }
}
