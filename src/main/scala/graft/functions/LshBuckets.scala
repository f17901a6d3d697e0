package graft.functions

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{array, col, explode, lit,
  posexplode, transform, when}
import org.apache.spark.sql.types._

/** All `tables` random-hyperplane LSH bucket ids of a DOUBLE vector in
  * ONE expression: `tables × bits` sign-of-dot-product bits computed by
  * a tight loop over a precomputed plane matrix.
  *
  * The composed formulation (`tables × bits` separate DotProduct
  * expressions over array literals) was semantically identical but
  * expanded into a codegen unit whose Janino compile time dominated
  * the LSH query. Here the plane matrix is one broadcast-referenced
  * `double[]` and the generated code is a 3-line nested loop.
  *
  * Hyperplane component (tb, b, i) = murmur3_productHash((tb,b,i),
  * seed 42) / Int.MaxValue ∈ [-1, 1) — IDENTICAL to
  * [[graft.ops.Similarity.hyperplanes]], so bucket ids (and therefore
  * LSH candidates/results) are unchanged; bucket bit b is set iff the
  * dot product is strictly positive.
  */
case class LshBuckets(child: Expression, tables: Int, bits: Int, dim: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_lsh_buckets requires array<double>, got $t")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_lsh_buckets"

  /** Flat [tables*bits*dim] plane matrix; deterministic, built once per
    * executor (the case class is serialized without it). */
  @transient private lazy val planes: Array[Double] = LshBuckets.planes(tables, bits, dim)

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    new GenericArrayData(LshBuckets.compute(planes, tables, bits, dim, v))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("lshPlanes", planes, "double[]")
    nullSafeCodeGen(ctx, ev, v => {
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.LshBuckets.compute(
         |    $planesRef, $tables, $bits, $dim, $v));
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): LshBuckets =
    copy(child = newChild)
}

object LshBuckets {

  /** Band rows of `df`: its columns plus, per table, `tb` (the table)
    * and `bk` (the bucket id of column `vec`). Mixed widths
    * ([[graft.ops.Dedup.adaptiveWidths]]): tables tb < `kHigh` hash at
    * bits+1, the rest at `bits` — ONE evaluation at the wide width,
    * narrow tables mask off the top bit. Valid because hyperplane
    * (tb, b, i) is width-independent, so the bit-b bucket IS the
    * bit-(b+1) bucket's low b bits (locked in IncrementalSpec). */
  def bands(df: DataFrame, vec: String, tables: Int, bits: Int, dim: Int,
      kHigh: Int = 0): DataFrame = {
    val bk =
      if (kHigh > 0) when(col("pos") < kHigh, col("col"))
        .otherwise(col("col").bitwiseAND(lit((1 << bits) - 1)))
      else col("col")
    df.select(col("*"), posexplode(GraftBridge.column(LshBuckets(
        GraftBridge.expression(col(vec)), tables,
        if (kHigh > 0) bits + 1 else bits, dim))))
      .select(df.columns.map(col) :+ col("pos").as("tb") :+ bk.as("bk"): _*)
  }

  /** Multiprobe of [[bands]] rows: each row's bucket plus its Hamming-1
    * neighbors at its table's width (mask 0 = self) — wide tables
    * (tb < kHigh) flip any of bits+1 positions, narrow ones any of
    * `bits`. */
  def probes(bands: DataFrame, bits: Int, kHigh: Int = 0): DataFrame = {
    def masks(b: Int) = array((0 +: (0 until b).map(1 << _)).map(lit(_)): _*)
    val m =
      if (kHigh == 0) masks(bits)
      else when(col("tb") < kHigh, masks(bits + 1)).otherwise(masks(bits))
    bands.withColumn("bk",
      explode(transform(m, x => col("bk").bitwiseXOR(x))))
  }

  /** Same formula as Similarity.hyperplanes, flattened. */
  def planes(tables: Int, bits: Int, dim: Int): Array[Double] = {
    val out = new Array[Double](tables * bits * dim)
    var tb = 0
    while (tb < tables) {
      var b = 0
      while (b < bits) {
        var i = 0
        while (i < dim) {
          val h = scala.util.hashing.MurmurHash3.productHash((tb, b, i), seed = 42)
          out((tb * bits + b) * dim + i) = h.toDouble / Int.MaxValue
          i += 1
        }
        b += 1
      }
      tb += 1
    }
    out
  }

  /** Shared by eval and codegen: bucket id per table. The vector MUST
    * match the plane dimensionality — silently bucketing on a prefix
    * (the old min(dim, |v|) truncation) collapses recall in the
    * function advertised as the recommended scale path while precision
    * stays 1.0, so nothing would ever error downstream. */
  def compute(planes: Array[Double], tables: Int, bits: Int, dim: Int,
      v: ArrayData): Array[Int] = {
    if (v.numElements() != dim) throw new IllegalArgumentException(
      s"graft_lsh_buckets: vector has ${v.numElements()} components but " +
        s"hyperplanes were built for dim=$dim — pass the embedding " +
        "dimensionality explicitly")
    val n = dim
    val out = new Array[Int](tables)
    var tb = 0
    while (tb < tables) {
      var bucket = 0
      var b = 0
      while (b < bits) {
        val off = (tb * bits + b) * dim
        var acc = 0.0
        var i = 0
        while (i < n) { acc += planes(off + i) * v.getDouble(i); i += 1 }
        if (acc > 0) bucket |= (1 << b)
        b += 1
      }
      out(tb) = bucket
      tb += 1
    }
    out
  }
}
