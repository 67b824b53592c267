package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, InSet, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graft.ExpressionColumn
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

/** Values that change from one micro-batch to the next (a committed
  * watermark, a touched-shard set) without changing the batch's
  * generated code.
  *
  * Spark inlines an int or long literal into the Java source it
  * generates, and its compiled-class cache is keyed by that source. So a
  * plan that carries a per-batch literal compiles a new class every
  * batch, however identical the rest of the plan is (~20 ms of Janino per
  * class on the driver of a 4-core host). The expressions here are
  * planned exactly like the built-in literal and IN-set they extend —
  * constant folding, partition pruning and parquet filter pushdown all
  * see the same value — and differ only in their generated code, which
  * reads the value from the plan's reference array instead of spelling
  * it out.
  */
object BatchConstants {

  /** A long literal whose value stays out of generated code. */
  def long(v: Long): Column = ExpressionColumn(new BatchLiteral(v, LongType))

  /** `c IN values` for a per-batch set of ints; an empty set is `false`
    * (as `isin` with no values). `c` is cast to int: an IN-set skips the
    * type coercion `isin` gets, and a set of ints never contains the
    * value of, say, a partition column read as a string. The cast is
    * dropped from the plan when `c` already is an int. */
  def isIn(c: Column, values: Seq[Int]): Column =
    if (values.isEmpty) lit(false)
    else ExpressionColumn(new BatchInSet(
      ExpressionColumn.expression(c.cast(IntegerType)), values.toSet[Any]))
}

/** A long [[Literal]] whose generated code reads the value from the
  * reference array, so the same plan compiles to the same class whatever
  * the value. The constructor mirrors the literal's fields: Catalyst
  * copies tree nodes by reflection over them. */
final class BatchLiteral(v: Any, t: DataType) extends Literal(v, t) {
  require(v != null && t == LongType, s"BatchLiteral holds a long, got $v")

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val boxed = ctx.addReferenceObj("batchLiteral", v, "java.lang.Long")
    ExprCode.forNonNullValue(
      JavaCode.expression(s"$boxed.longValue()", LongType))
  }
}

/** An [[InSet]] whose generated code probes the set through the
  * reference array instead of a `switch` over its inlined members. */
final class BatchInSet(c: Expression, values: Set[Any])
    extends InSet(c, values) {

  // keep the class when the optimizer rewrites the child (e.g. a filter
  // inferred across a join): the case-class copy would be a plain InSet
  override protected def withNewChildInternal(newChild: Expression): InSet =
    new BatchInSet(newChild, values)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val set = ctx.addReferenceObj("batchSet", values,
      "scala.collection.immutable.Set")
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $set.contains($v);")
  }
}
