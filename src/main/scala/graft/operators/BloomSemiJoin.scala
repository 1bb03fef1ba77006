package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Semi-join reduction with a Bloom filter — the shuffle-volume lever for
  * fact⋈selective-dim joins too big to broadcast outright: a compact
  * filter over the dim keys (one distributed aggregate; the sketch itself
  * is ~1.2 MB per million keys at 1% fpp — bounded driver state, like IVF
  * centroids) prunes fact rows BEFORE the shuffle, and the exact join
  * afterwards clears the false positives, so the result is bit-identical
  * to the plain join. Catalyst's own runtime bloom pushdown makes the
  * same move when its cost model fires; this operator makes it explicit
  * and predictable.
  */
object BloomSemiJoin {

  /** Row-granularity might-contain probe over a serialized
    * `org.apache.spark.util.sketch.BloomFilter` (long and string keys).
    */
  case class BloomMightContain(child: Expression, bloomBytes: Array[Byte])
      extends UnaryExpression {
    override def prettyName: String = "graft_bloom_might_contain"
    override def dataType: DataType = BooleanType
    override def nullIntolerant: Boolean = true

    @transient private lazy val bloom =
      org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(bloomBytes))

    override def nullSafeEval(input: Any): Any = input match {
      case l: Long => bloom.mightContainLong(l)
      case i: Int => bloom.mightContainLong(i.toLong)
      case s: UTF8String => bloom.mightContainString(s.toString)
      case other => bloom.mightContain(other)
    }

    // the probe stays inside whole-stage codegen (it sits on the fact-scan
    // hot path by design): the deserialized filter rides the references
    // array, and the probe dispatch the interpreted path does per row via
    // runtime type match is resolved at CODEGEN time from child.dataType.
    // Types beyond long/int/string keep the boxed mightContain(Object)
    // catch-all — same behavior as eval, where the sketch library decides.
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, v => {
        val b = ctx.addReferenceObj("bloom", bloom,
          "org.apache.spark.util.sketch.BloomFilter")
        child.dataType match {
          case LongType => s"${ev.value} = $b.mightContainLong($v);"
          case IntegerType => s"${ev.value} = $b.mightContainLong((long) $v);"
          case StringType => s"${ev.value} = $b.mightContainString($v.toString());"
          case _ => s"${ev.value} = $b.mightContain($v);"
        }
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `fact` rows whose `factKey` might be among `dim`'s `dimKey` values
    * (no false negatives; ≤ `fpp` false positives pass through).
    */
  def prefilter(fact: DataFrame, factKey: String, dim: DataFrame, dimKey: String,
      expectedKeys: Long, fpp: Double = 0.01): DataFrame =
    fact.filter(mightContain(dim, dimKey, expectedKeys, fpp)(col(factKey)))

  /** The probe itself as a Column predicate over `dim`'s `dimKey` values:
    * no false negatives, ≤ `fpp` false positives. Building it runs one
    * distributed aggregate over `dim`.
    */
  def mightContain(dim: DataFrame, dimKey: String, expectedKeys: Long,
      fpp: Double = 0.01): Column => Column = {
    val bloom = dim.stat.bloomFilter(dimKey, expectedKeys, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    key => GraftColumnBridge.column(
      BloomMightContain(GraftColumnBridge.expression(key), bytes))
  }

  /** Inner join with the fact side bloom-pruned first; equals the plain
    * `fact ⋈ dim` exactly (the join re-checks every candidate).
    */
  def reduceThenJoin(fact: DataFrame, factKey: String, dim: DataFrame,
      dimKey: String, expectedKeys: Long, fpp: Double = 0.01): DataFrame = {
    val pruned = prefilter(fact, factKey, dim, dimKey, expectedKeys, fpp)
    pruned.join(dim, pruned(factKey) === dim(dimKey))
  }
}
