package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Frozen PQ codebooks in the encode kernel's layout: per subspace j the
  * code ids sorted ascending (stable, so a duplicated id keeps its
  * codebook order) and the first `subDim` components of their codewords
  * flattened in the same order. Content equality, so two encodes over
  * the same model are the same expression to Catalyst.
  */
final class PqCodebooks private (val subDim: Int,
                                 val codes: Array[Array[Long]],
                                 val words: Array[Array[Double]])
    extends Serializable {
  def m: Int = codes.length

  override def equals(o: Any): Boolean = o match {
    case b: PqCodebooks =>
      subDim == b.subDim &&
        java.util.Arrays.deepEquals(codes.asInstanceOf[Array[AnyRef]],
          b.codes.asInstanceOf[Array[AnyRef]]) &&
        java.util.Arrays.deepEquals(words.asInstanceOf[Array[AnyRef]],
          b.words.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode: Int =
    31 * (31 * subDim + java.util.Arrays.deepHashCode(
      codes.asInstanceOf[Array[AnyRef]])) +
      java.util.Arrays.deepHashCode(words.asInstanceOf[Array[AnyRef]])
  override def toString: String =
    s"PqCodebooks(m=$m, ks=${codes.map(_.length).max}, subDim=$subDim)"
}

object PqCodebooks {
  def apply(subDim: Int,
            codebooks: Array[Array[(Int, Seq[Double])]]): PqCodebooks = {
    require(subDim >= 1, s"subDim must be >= 1, got $subDim")
    require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
      "every PQ subspace needs at least one codeword")
    require(codebooks.forall(_.forall(_._2.length >= subDim)),
      s"every PQ codeword needs at least subDim=$subDim components")
    val sorted = codebooks.map(_.sortBy(_._1))
    new PqCodebooks(subDim, sorted.map(_.map(_._1.toLong)),
      sorted.map(_.flatMap(_._2.take(subDim))))
  }
}

/** Native codegen PQ encode: for each subspace j of an `array<double>`
  * vector, the id of the codeword at minimum squared L2 — the whole
  * per-vector code assignment as one loop kernel, returned as
  * `array<bigint>` of length m.
  *
  * Replaces the corpus × broadcast (j, c, w) codeword cross join and its
  * `min(struct(d2, c))` aggregate (m·ks rows per vector, combined back to
  * m). A single least-over-m·ks-structs projection was never an option:
  * unrolled, it blows the JVM's 64 KB generated-method limit at ks ≥ 64;
  * this kernel loops, so its generated code is one call at any ks.
  *
  * Semantics are IDENTICAL to the aggregate it replaces:
  *  - d2 is the left fold `e1*e1 + e2*e2 + …` of `element_at(sub, i) −
  *    w(i)` (Ann's d2Col) — same subtraction, same addition order;
  *  - ties go to the lower code id, and NaN sorts above every number
  *    (Spark's double ordering), so an all-NaN subspace takes the lowest
  *    code id;
  *  - a null vector or a null element makes every d2 of the subspace
  *    NULL, and a null field sorts first in struct ordering, so that
  *    subspace takes its lowest code id too;
  *  - a vector shorter than m·subDim raises element_at's
  *    INVALID_ARRAY_INDEX_IN_ELEMENT_AT under ANSI mode (`failOnError`:
  *    the session's ANSI flag, which element_at reads at analysis), else
  *    reads the missing components as NULL.
  * The result is never null. Parity with the cross-join form (raw and
  * IVF-residual inputs, codegen and interpreted) is asserted in
  * PqCodesSpec.
  */
case class PqCodes(child: Expression, books: PqCodebooks,
                   failOnError: Boolean)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${t.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "pq_codes"

  override def eval(input: InternalRow): Any =
    PqCodes.compute(child.eval(input).asInstanceOf[ArrayData], books,
      failOnError)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = PqCodes.getClass.getName.stripSuffix("$")
    val ref = ctx.addReferenceObj("pqBooks", books, classOf[PqCodebooks].getName)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} = $kernel.compute(
      |  ${c.isNull} ? null : ${c.value}, $ref, $failOnError);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): PqCodes =
    copy(child = newChild)
}

object PqCodes {

  /** Codegen kernel — static entry point referenced by generated Java. */
  def compute(v: ArrayData, books: PqCodebooks,
              failOnError: Boolean): ArrayData = {
    val sd = books.subDim
    val n = if (v == null) 0 else v.numElements()
    val sub = new Array[Double](sd)
    val out = new Array[Long](books.m)
    var j = 0
    while (j < books.m) {
      val codes = books.codes(j)
      val base = j * sd
      var isNull = v == null
      if (!isNull && base + sd > n) {
        val have = math.max(n - base, 0)
        if (failOnError)
          throw ColumnBridge.invalidElementAtIndexError(have + 1, have)
        isNull = true
      }
      var i = 0
      while (!isNull && i < sd) {
        if (v.isNullAt(base + i)) isNull = true
        else sub(i) = v.getDouble(base + i)
        i += 1
      }
      if (isNull) out(j) = codes(0)
      else {
        val words = books.words(j)
        var best = 0
        var bestD = 0.0
        var k = 0
        while (k < codes.length) {
          val w = k * sd
          var e = sub(0) - words(w)
          var d = e * e
          i = 1
          while (i < sd) {
            e = sub(i) - words(w + i)
            d += e * e
            i += 1
          }
          // strictly-less under Spark's double ordering (NaN above every
          // number): the first of equal distances — the lower id — stays
          if (k == 0 || d < bestD ||
              (java.lang.Double.isNaN(bestD) && !java.lang.Double.isNaN(d))) {
            best = k
            bestD = d
          }
          k += 1
        }
        out(j) = codes(best)
      }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}
