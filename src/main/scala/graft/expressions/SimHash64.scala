package graft.expressions

import org.apache.spark.unsafe.types.UTF8String

/** 64-bit SimHash of a document's word multiset in one pass — replaces
  * a 64-way interpreted `filter` scan per document (one array traversal
  * per bit) with a single loop that hashes each word once and updates
  * 64 counters. Word hash = [[Md5Hash64.lower64]] (= DuckDB
  * `md5_number_lower(word)`), so the q43 oracle recomputes the sketch —
  * bit sums, majority vote, band keys, Hamming distances — in plain
  * SQL; bit k of the sketch is set iff strictly more than half the
  * words have bit k set. */
object SimHash64 {

  def compute(text: UTF8String): Long = {
    val words = text.toString.split(" ", -1)
    val counts = new Array[Int](64)
    var i = 0
    while (i < words.length) {
      val h = Md5Hash64.lower64(
        words(i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var k = 0
      while (k < 64) {
        if (((h >>> k) & 1L) == 1L) counts(k) += 1
        k += 1
      }
      i += 1
    }
    var sim = 0L
    var k = 0
    while (k < 64) {
      if (counts(k) * 2 > words.length) sim |= (1L << k)
      k += 1
    }
    sim
  }
}
