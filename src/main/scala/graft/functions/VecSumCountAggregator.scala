package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Element-wise double vector sum + row count in ONE fixed-size buffer
  * — the high-dimension form of `trainCentroids`' per-cell mean
  * aggregation. The d-column form (`sum(col(i))` per component) leaves
  * whole-stage codegen once the aggregate exceeds
  * `spark.sql.codegen.maxFields` (default 100) and every Lloyd pass
  * over the corpus turns interpreted — measured 3-4x slower per pass
  * at d=768 (OPTIMIZATION_r19.md; round-18 verdict #4). This
  * aggregator holds the d sums in one `Array[Double]`, accumulating
  * per partition in row order and merging partials pairwise — the
  * same adds in the same order as d independent `Sum`s over the same
  * shuffle, so the means are numerically the d-column form's.
  *
  * Null vectors and dimension mismatches fail loudly (the corpus prep
  * already normalized vectors; silence here would skew centroids).
  */
class VecSumCountAggregator
    extends Aggregator[Seq[Double], (Array[Double], Long), (Seq[Double], Long)] {

  override def zero: (Array[Double], Long) = (Array.emptyDoubleArray, 0L)

  override def reduce(
      buf: (Array[Double], Long), vec: Seq[Double]): (Array[Double], Long) = {
    require(vec != null, "vecSumCount: null vector")
    val out = if (buf._1.length == 0) new Array[Double](vec.length) else buf._1
    require(out.length == vec.length,
      s"vecSumCount: dimension mismatch (${out.length} vs ${vec.length})")
    var i = 0
    while (i < out.length) { out(i) += vec(i); i += 1 }
    (out, buf._2 + 1L)
  }

  override def merge(
      a: (Array[Double], Long), b: (Array[Double], Long)): (Array[Double], Long) =
    if (a._1.length == 0) b
    else if (b._1.length == 0) a
    else {
      require(a._1.length == b._1.length,
        s"vecSumCount: dimension mismatch (${a._1.length} vs ${b._1.length})")
      var i = 0
      while (i < a._1.length) { a._1(i) += b._1(i); i += 1 }
      (a._1, a._2 + b._2)
    }

  override def finish(buf: (Array[Double], Long)): (Seq[Double], Long) =
    (buf._1.toSeq, buf._2)

  override def bufferEncoder: Encoder[(Array[Double], Long)] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Array[Double], Long)]()
  override def outputEncoder: Encoder[(Seq[Double], Long)] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Seq[Double], Long)]()
}
