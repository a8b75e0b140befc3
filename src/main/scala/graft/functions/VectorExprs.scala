package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** Native cosine similarity (`graft_cosine`) over two float-array columns.
  *
  * Replaces the `aggregate(zip_with(a, b, (x,y) -> x*y), 0.0, +)` /
  * `sqrt(...)` higher-order-function composition in graft.ops.Similarity:
  * Spark's HOFs are CodegenFallback — every evaluation walks an interpreted
  * expression tree per array element with boxed lambda variables, and a
  * cosine needs three such folds per row (dot, |a|, |b|). This helper is
  * one fused primitive loop, called from generated code.
  *
  * Arithmetic is BIT-IDENTICAL to the HOF formulation the DuckDB oracle
  * mirrors: each product is computed as double(a_i)·double(b_i) and summed
  * sequentially left-to-right (the same association order as `aggregate`'s
  * left fold), and the result is dot/(sqrt(na)·sqrt(nb)). Nulls follow the
  * zip_with/aggregate semantics: a null element or a length mismatch (which
  * zip_with pads with nulls) nulls the whole fold, hence the result.
  */
object CosineSim {
  /** Static helper invoked from generated code. Returns null (boxed) when the
    * HOF formulation would: length mismatch or any null element. */
  def cosine(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var dp = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dp += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    java.lang.Double.valueOf(dp / (math.sqrt(na) * math.sqrt(nb)))
  }
}

/** Native sign-LSH bucket (`graft_sign_bucket`): bit d = (embedding[d] > 0),
  * d ∈ [0, nBits). Replaces the interpreted `aggregate(zip_with(slice(...),
  * sequence(...), IF(x>0, pow(2,i), 0)), 0, +)` HOF chain (same null
  * semantics: a null element contributes 0, exactly like `IF(null > 0)`
  * taking the else branch; an embedding shorter than nBits contributes only
  * its existing dimensions, like zip_with's null padding). */
object SignBucket {
  /** Static helper invoked from generated code. */
  def bucket(a: ArrayData, nBits: Int): Long = {
    val n = math.min(a.numElements(), nBits)
    var acc = 0L
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && a.getFloat(i) > 0) acc |= 1L << i
      i += 1
    }
    acc
  }
}
