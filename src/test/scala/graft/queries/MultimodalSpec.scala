package graft.queries

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, IntegerType, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** The multimodal plumbing that must be real even while decode is
  * stubbed: binary payload typing, typed metadata schema, frame
  * slicing that reassembles the asset prefix, feature range. */
class MultimodalSpec extends AnyFunSuite with SparkSuite {
  private val sfDir = "/root/testdata/sf0.001"

  test("corpus schema: binary payload + typed meta struct") {
    val c = Multimodal.corpus(spark, sfDir)
    assert(c.schema("payload").dataType == BinaryType)
    val meta = c.schema("meta").dataType.asInstanceOf[StructType]
    assert(meta("n_bytes").dataType == IntegerType)
    assert(Seq("n_bytes", "width", "height", "sample_rate")
      .forall(meta.fieldNames.contains))
    // payload bytes round-trip to the source text
    import spark.implicits._
    val row = c.select($"payload", $"text").head
    assert(new String(row.getAs[Array[Byte]](0), "UTF-8") == row.getString(1))
  }

  test("frames reassemble the asset prefix, capped at MaxFrames") {
    import spark.implicits._
    val video = Multimodal.corpus(spark, sfDir)
      .filter($"modality" === "video")
    val re = Multimodal.frames(video)
      .groupBy($"doc_id")
      .agg(concat_ws("",
        transform(array_sort(collect_list(struct($"frame_idx", $"frame"))),
          s => s("frame"))).as("joined"),
        count(lit(1)).as("n"))
      .join(video.select($"doc_id", $"text"), "doc_id")
    val rows = re.select($"text", $"joined", $"n").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (text, joined, n) = (r.getString(0), r.getString(1), r.getLong(2))
      assert(n <= Multimodal.MaxFrames)
      val expectLen = math.min(text.length,
        Multimodal.MaxFrames * Multimodal.FrameChars)
      assert(joined == text.take(expectLen))
    }
  }
}
