package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Custom Catalyst expressions for the hash/similarity primitives.
  *
  * Each is a native `Expression` with `doGenCode` (a static call into
  * [[TextHash]]), so the primitives stay inside WholeStageCodegen and
  * evaluate as compiled JVM loops. This replaces the original
  * higher-order-function formulation which Catalyst's CollapseProject
  * inlined into downstream lambdas, re-evaluating the full word-hash
  * array per element (observed quadratic blowup: 0.7s → 38s on 500
  * docs). The DuckDB oracle side still uses the portable SQL in
  * [[Portable]] — values are bit-identical.
  */
object expressions {

  case class WordHashes(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "word_hashes"
    override protected def nullSafeEval(input: Any): Any =
      TextHash.wordHashes(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.wordHashes($c)")
    override protected def withNewChildInternal(newChild: Expression): WordHashes =
      copy(child = newChild)
  }

  case class ShingleHashes(child: Expression, k: Int = 3)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "shingle_hashes"
    override protected def nullSafeEval(input: Any): Any =
      TextHash.shingleHashes(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.shingleHashes($c, $k)")
    override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
      copy(child = newChild)
  }

  case class WinnowHashes(child: Expression, k: Int = 3, w: Int = 4)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "winnow_hashes"
    override protected def nullSafeEval(input: Any): Any =
      TextHash.winnowHashes(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k, w)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.winnowHashes($c, $k, $w)")
    override protected def withNewChildInternal(newChild: Expression): WinnowHashes =
      copy(child = newChild)
  }

  case class PolyHash(child: Expression, base: Long = 31L, mod: Long = Portable.P)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "poly_hash"
    override protected def nullSafeEval(input: Any): Any =
      TextHash.polyHash(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], base, mod)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.TextHash.polyHash($c, ${base}L, ${mod}L)")
    override protected def withNewChildInternal(newChild: Expression): PolyHash =
      copy(child = newChild)
  }

  case class SimHash(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "sim_hash"
    override protected def nullSafeEval(input: Any): Any =
      TextHash.simHash(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.simHash($c)")
    override protected def withNewChildInternal(newChild: Expression): SimHash =
      copy(child = newChild)
  }

  case class SimHash60(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "sim_hash60"
    override protected def nullSafeEval(input: Any): Any =
      TextHash.simHash60(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.simHash60($c)")
    override protected def withNewChildInternal(newChild: Expression): SimHash60 =
      copy(child = newChild)
  }

  case class MinHashes(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "min_hashes"
    override protected def nullSafeEval(input: Any): Any =
      TextHash.minHashes(
        input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.minHashes($c)")
    override protected def withNewChildInternal(newChild: Expression): MinHashes =
      copy(child = newChild)
  }

  /** Dot product of two ARRAY<DOUBLE> columns, left-fold in element
    * order (bit-identical to the engines' list_reduce formulation).
    */
  case class ArrayDot(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "array_dot"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      TextHash.dotD(
        a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextHash.dotD($a, $b)")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): ArrayDot =
      copy(left = newLeft, right = newRight)
  }

  /** Symmetric int8 quantization scale (max|x|/127) of an
    * ARRAY<DOUBLE> — the companion of [[Int8Pack]]; stored next to the
    * codes so the integer dot corrects back to cosine with one
    * multiply per candidate (`qdot·scale_a·scale_b`, the e93 scheme).
    */
  case class Int8Scale(child: Expression) extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "int8_scale"
    override protected def nullSafeEval(input: Any): Any =
      TextHash.int8Scale(
        input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.int8Scale($c)")
    override protected def withNewChildInternal(newChild: Expression): Int8Scale =
      copy(child = newChild)
  }

  /** Pack an ARRAY<DOUBLE> into signed int8 codes as ONE BINARY value —
    * 8× smaller than the double array as a shuffle payload, which the
    * e147 probe measured as the dominant cost of pair-scoring joins.
    * Codegen'd byte loop, never a UDF.
    */
  case class Int8Pack(child: Expression) extends UnaryExpression {
    override def dataType: DataType = BinaryType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "int8_pack"
    override protected def nullSafeEval(input: Any): Any =
      TextHash.int8Pack(
        input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.int8Pack($c)")
    override protected def withNewChildInternal(newChild: Expression): Int8Pack =
      copy(child = newChild)
  }

  /** Exact integer dot of two int8 code BLOBs ([[Int8Pack]] outputs) —
    * the 1-byte multiply-accumulate loop int8 retrieval runs.
    */
  case class Int8Dot(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "int8_dot"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      TextHash.int8Dot(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextHash.int8Dot($a, $b)")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Int8Dot =
      copy(left = newLeft, right = newRight)
  }

  /** Morton (Z-order) bit interleave of two LONG coordinates — the
    * clustering key for multi-dimensional data layout (sort by z-value
    * → files carry tight min/max on BOTH dimensions → 2-D skipping from
    * 1-D file stats). Native codegen'd bit math, not a UDF.
    */
  case class Morton2(left: Expression, right: Expression, bits: Int = 16)
      extends BinaryExpression {
    require(bits > 0 && bits <= 31, "morton2: bits must be in [1, 31]")
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "morton2"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      TextHash.morton2(a.asInstanceOf[Long], b.asInstanceOf[Long], bits)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        (a, b) => s"graft.functions.TextHash.morton2($a, $b, $bits)")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Morton2 =
      copy(left = newLeft, right = newRight)
  }

  /** 64-bit average-hash (aHash) of a BINARY payload — the perceptual
    * fingerprint for opaque media columns ([[TextHash.avgHash64]]):
    * bit j set iff block j's byte mean exceeds the payload's global
    * mean. Near-identical payloads land at small Hamming distance, so
    * the hash feeds a banded Hamming near-dup join.
    */
  case class AvgHash64(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "avg_hash64"
    override protected def nullSafeEval(input: Any): Any =
      TextHash.avgHash64(input.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.avgHash64($c)")
    override protected def withNewChildInternal(newChild: Expression): AvgHash64 =
      copy(child = newChild)
  }
}

/** Column-API surface for the custom expressions (usable without any
  * session-level registration; [[graft.GraftExtensions]] additionally
  * registers them as SQL functions).
  */
object F {
  import expressions._
  private def c(e: Expression): Column = ColumnBridge.column(e)
  private def e(col: Column): Expression = ColumnBridge.expression(col)

  def word_hashes(text: Column): Column = c(WordHashes(e(text)))
  def shingle_hashes(text: Column, k: Int = 3): Column = c(ShingleHashes(e(text), k))
  def winnow_hashes(text: Column, k: Int = 3, w: Int = 4): Column =
    c(WinnowHashes(e(text), k, w))
  def poly_hash(text: Column): Column = c(PolyHash(e(text)))
  def poly_hash(text: Column, base: Long, mod: Long): Column =
    c(PolyHash(e(text), base, mod))
  def sim_hash(text: Column): Column = c(SimHash(e(text)))
  def sim_hash60(text: Column): Column = c(SimHash60(e(text)))
  def min_hashes(shingles: Column): Column = c(MinHashes(e(shingles)))
  def array_dot(a: Column, b: Column): Column = c(ArrayDot(e(a), e(b)))
  def int8_scale(a: Column): Column = c(Int8Scale(e(a)))
  def int8_pack(a: Column): Column = c(Int8Pack(e(a)))
  def int8_dot(a: Column, b: Column): Column = c(Int8Dot(e(a), e(b)))
  def morton2(x: Column, y: Column, bits: Int = 16): Column =
    c(Morton2(e(x), e(y), bits))
  def avg_hash64(payload: Column): Column = c(AvgHash64(e(payload)))

  /** Exact ⌊√x⌋ of a non-negative BIGINT, bit-identical to the DuckDB
    * twin `s0 + CASE …` the oracles spell out: floor(IEEE sqrt), then
    * one ±1 correction that repairs both the >2⁵³ rounding of the
    * radicand and the perfect-square boundary. The +1 branch squares
    * s0+1, so it is guarded by s0 < 3037000499 = ⌊√Long.MaxValue⌋:
    * past that, (s0+1)² overflows BIGINT and the correction is never
    * needed, so the guard loses nothing.
    */
  def isqrt(x: Column): Column = {
    import org.apache.spark.sql.functions.{floor, sqrt, when}
    val s0 = floor(sqrt(x.cast("double"))).cast("long")
    (s0
      + when(s0 < 3037000499L && (s0 + 1) * (s0 + 1) <= x, 1L).otherwise(0L)
      - when(s0 * s0 > x, 1L).otherwise(0L))
  }
}
