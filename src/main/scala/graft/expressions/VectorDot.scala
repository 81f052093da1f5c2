package graft.expressions

import org.apache.spark.sql.catalyst.util.ArrayData

/** Dot product of two double vectors as a codegen scalar — the hot loop
  * of every similarity operator. The built-in form
  * (`aggregate(zip_with(a,b,*),+)`) is semantically identical but
  * interpreted (higher-order functions are CodegenFallback) and
  * allocates a lambda-variable tree walk per element; at 2M candidate
  * pairs × 64 dims that was ~33s of the bench. This is one primitive
  * loop over unboxed arrays. */
object VectorDot {
  def compute(a: ArrayData, b: ArrayData): Double = {
    val x = a.toDoubleArray()
    val y = b.toDoubleArray()
    val n = math.min(x.length, y.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x(i) * y(i); i += 1 }
    acc
  }
}
