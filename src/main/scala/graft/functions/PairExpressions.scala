package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StructField, StructType}
import org.apache.spark.unsafe.array.ByteArrayMethods

/** Native codegen'd unordered-pair expansion over a sorted bucket array
  * — the grouped-bucket candidate generator every banding/cell family
  * shares (c27 collusion cells, d2 MinHash bands, d22 positioned
  * shingles, g5 pHash bands, d5/d10 LSH buckets).
  *
  * The composable form was the nested higher-order-function tree
  *   flatten(transform(sequence(1, size(ids)-1),
  *     i -> transform(sequence(i+1, size(ids)),
  *       j -> struct(ids[i] AS a, ids[j] AS b))))
  * evaluated by the interpreted HOF machinery: two lambda dispatches,
  * two `sequence` allocations, two `element_at` ordinal checks and a
  * nested GenericArrayData per PAIR per bucket, then a `flatten` copy
  * of the whole quadratic expansion — the r15 verdict's largest
  * remaining interpreted hot path (the c27 generator feeds
  * c27/c28/c29/c30). This expression emits the identical pair array in
  * one tight generated loop — the [[PqEncode]] tier-(b) escalation
  * (custom Catalyst `Expression` with `doGenCode`) applied to the pair
  * generator.
  *
  * Semantics (oracle-hash-neutral): pairs (ids[i], ids[j]) for all
  * 1 ≤ i < j ≤ n in the HOF's exact (i, j)-lexicographic order, struct
  * field names supplied by the call site, element values taken from
  * the input array unchanged (any element type — longs, strings,
  * structs). n < 2 yields an empty array (the callers' size guard
  * makes it unreachable, but unlike `sequence(1, n-1)` nothing counts
  * down). Works under `explode_outer` exactly like the HOF form. A
  * bucket whose pair count exceeds one Spark array fails with a named
  * error before anything is allocated (see [[PairExpand.pairCount]]).
  */
case class PairExpand(child: Expression, aName: String, bName: String)
    extends UnaryExpression {

  private def elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array input, got $other")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField(aName, elemType, nullable = true),
      StructField(bName, elemType, nullable = true))),
    containsNull = false)

  override def prettyName: String = "pair_expand"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Any](PairExpand.pairCount(n))
    val objs = arr.toObjectArray(elemType)
    var p = 0
    var i = 0
    while (i < n - 1) {
      var j = i + 1
      while (j < n) {
        out(p) = new GenericInternalRow(Array[Any](objs(i), objs(j)))
        p += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val p = ctx.freshName("p")
      val objs = ctx.freshName("objs")
      val out = ctx.freshName("out")
      val f = ctx.freshName("f")
      val getter = CodeGenerator.getValue(arr, elemType, i)
      val boxed =
        if (CodeGenerator.isPrimitiveType(elemType))
          s"${CodeGenerator.boxedType(elemType)}.valueOf($getter)"
        else s"(Object) $getter"
      s"""
         |final int $n = $arr.numElements();
         |final Object[] $out = new Object[${classOf[PairExpand].getName}.pairCount($n)];
         |final Object[] $objs = new Object[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $objs[$i] = $arr.isNullAt($i) ? null : $boxed;
         |}
         |int $p = 0;
         |for (int $i = 0; $i < $n - 1; $i++) {
         |  for (int $j = $i + 1; $j < $n; $j++) {
         |    Object[] $f = new Object[2];
         |    $f[0] = $objs[$i];
         |    $f[1] = $objs[$j];
         |    $out[$p++] = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow($f);
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PairExpand =
    copy(child = newChild)
}

object PairExpand {
  /** Output length n(n-1)/2 of a bucket of n, computed in Long (the Int
    * form wraps from n = 46,342). A count past what one Spark array can
    * hold (n ≥ 65,537) throws a named error before anything is
    * allocated, instead of a wrapped size's NegativeArraySizeException
    * or out-of-bounds write.
    */
  def pairCount(n: Int): Int = {
    val count = n.toLong * (n - 1) / 2
    if (count > ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH)
      throw new IllegalArgumentException(
        s"bucket too large for pair expansion (n = $n): $count pairs exceed " +
          s"the ${ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH}-element array limit")
    count.toInt
  }
}

/** Column-level entry point for [[PairExpand]]. */
object PairFunctions {
  /** Codegen'd unordered-pair expansion of a bucket array into
    * `array<struct<aName, bName>>` (see [[PairExpand]]).
    */
  def pairExpand(ids: Column, aName: String, bName: String): Column =
    GraftShims.column(PairExpand(GraftShims.expression(ids), aName, bName))
}
