package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Kernel for [[TermPostingsExpr]]: the per-document leg of an inverted
  * index build as ONE row-local pass. Every `(term, doc)` posting's tf
  * and position list come entirely from that document's own token
  * stream, so the classic
  * `posexplode(tokens) -> groupBy(term, doc).agg(count,
  * sort_array(collect_list(pos)))` shape pays an Exchange of one row
  * PER TOKEN plus two hash aggregates for information that never
  * leaves the row (guide §2.3 aggregate-before-shuffle / §2.4 remove
  * shuffles). This kernel folds the whole aggregation into the scan
  * projection; the only exchange left in an index build is the final
  * `repartition(term)` of the already-packed postings rows.
  *
  * Bit-compatibility with the aggregate form it replaces:
  *  - tokens are [[ShinglesKernel.tokenSpans]] byte spans — positionally
  *    identical to `posexplode(TextFunctions.tokens(text))`
  *    (suite-pinned);
  *  - `tf` = occurrence count as long (`count(lit(1))`);
  *  - `positions` ascend naturally (positions are visited in document
  *    order), matching `sort_array(collect_list(pos))`;
  *  - output rows are distinct terms in first-occurrence order — the
  *    replaced groupBy emitted an UNORDERED set that every caller
  *    immediately re-shuffled/sorted, so order was never observable.
  *
  * Null text yields an empty array (the explode drops the row, exactly
  * like exploding the null token array did).
  */
object TermPostingsKernel {

  /** Growable int buffer — one per distinct term while folding. */
  private final class Positions {
    var a = new Array[Int](4)
    var n = 0
    def add(p: Int): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
      a(n) = p
      n += 1
    }
    def toArrayData: GenericArrayData =
      new GenericArrayData(java.util.Arrays.copyOf(a, n))
  }

  def compute(u: UTF8String, withPositions: Boolean): ArrayData = {
    if (u == null) return new GenericArrayData(Array.empty[Any])
    val bytes = u.getBytes
    val (starts, ends, m) = ShinglesKernel.tokenSpans(bytes)
    if (m == 0) return new GenericArrayData(Array.empty[Any])
    val map = new java.util.LinkedHashMap[UTF8String, Positions]()
    var i = 0
    while (i < m) {
      val t = UTF8String.fromBytes(bytes, starts(i), ends(i) - starts(i))
      var ps = map.get(t)
      if (ps == null) { ps = new Positions; map.put(t, ps) }
      ps.add(i)
      i += 1
    }
    val out = new Array[Any](map.size)
    val it = map.entrySet().iterator()
    var k = 0
    while (it.hasNext) {
      val e = it.next()
      val ps = e.getValue
      out(k) =
        if (withPositions)
          new GenericInternalRow(Array[Any](e.getKey, ps.n.toLong, ps.toArrayData))
        else
          new GenericInternalRow(Array[Any](e.getKey, ps.n.toLong))
      k += 1
    }
    new GenericArrayData(out)
  }
}

/** `string -> array<struct<term, tf[, positions]>>`: a document's
  * complete posting rows as a native expression — see
  * [[TermPostingsKernel]] for the shuffle this removes and the
  * bit-compat argument. `withPositions = false` (the BM25 builds)
  * omits the positions field entirely so the tf-only postings never
  * allocate position buffers they would drop.
  */
case class TermPostingsExpr(child: Expression, withPositions: Boolean)
    extends UnaryExpression with ExpectsInputTypes {

  // a non-string child fails analysis instead of a ClassCastException
  // in the kernel at run time
  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def dataType: DataType = ArrayType(
    if (withPositions)
      StructType(Seq(
        StructField("term", StringType, nullable = false),
        StructField("tf", LongType, nullable = false),
        StructField("positions", ArrayType(IntegerType, containsNull = false),
          nullable = false)))
    else
      StructType(Seq(
        StructField("term", StringType, nullable = false),
        StructField("tf", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_term_postings"
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    TermPostingsKernel.compute(v.asInstanceOf[UTF8String], withPositions)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val resultCode =
      code"""
        ${childGen.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          graft.functions.TermPostingsKernel.compute(
            ${childGen.isNull} ? null : ${childGen.value}, $withPositions);
      """
    ev.copy(code = resultCode, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
