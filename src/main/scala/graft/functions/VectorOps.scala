package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExpressionBridge
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.sqrt
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the vector/hash hot paths.
  *
  * Spark's higher-order functions (`aggregate`, `zip_with`, nested
  * `transform`) are interpreted — fine for per-document signatures, but
  * the all-pairs similarity joins evaluate the dot-product fold millions
  * of times (r2 bench: 20s for q35, 50s for q33 at sf0.1). These
  * expressions compute the *identical* values (same left-to-right fold
  * order, same integer bit math) as the HOF formulations — the DuckDB
  * oracles and the declarative twins in [[graft.ops.TextCore]] stay the
  * spec — but as tight compiled loops; [[DotProduct]] additionally
  * participates in whole-stage codegen via `doGenCode`.
  */
object VectorOps {

  /** Sequential-fold dot product of two double arrays (codegen'd). */
  def dot(a: Column, b: Column): Column =
    GraftExpressionBridge.column(
      DotProduct(GraftExpressionBridge.expression(a), GraftExpressionBridge.expression(b)))

  /** L2 norm via [[dot]] — sqrt of the same sequential fold. */
  def norm(v: Column): Column = sqrt(dot(v, v))

  /** Sequential-fold squared L2 distance of two double arrays
    * (codegen'd) — the compiled twin of
    * `aggregate(sequence(1, n), 0.0, (acc, i) => acc + (a(i)−b(i))²)`
    * (parity-tested in PropertiesSpec). */
  def squaredL2(a: Column, b: Column): Column =
    GraftExpressionBridge.column(
      SquaredL2(GraftExpressionBridge.expression(a), GraftExpressionBridge.expression(b)))

  /** 64-bit SimHash over pre-hashed (md5 hex) features, as a '0'/'1'
    * string — the imperative twin of [[graft.ops.TextCore.simhash64]]. */
  def simhash64(md5Hashes: Column): Column =
    GraftExpressionBridge.column(SimHash64(GraftExpressionBridge.expression(md5Hashes)))

  /** All k double-hashing minhashes in one pass over the digests — the
    * imperative twin of [[graft.ops.TextCore.minhash]] applied per seed. */
  def minhashSignature(md5Hashes: Column, numHashes: Int): Column =
    GraftExpressionBridge.column(
      MinHashSignature(GraftExpressionBridge.expression(md5Hashes), numHashes))

  /** |a ∩ b| for two ascending-sorted distinct string arrays — the
    * compiled twin of `size(array_intersect(a, b))` (which builds the
    * intersection array interpreted, the candidate-verification hotspot). */
  def sortedIntersectCount(a: Column, b: Column): Column =
    GraftExpressionBridge.column(
      SortedIntersectCount(GraftExpressionBridge.expression(a), GraftExpressionBridge.expression(b)))

  /** Sign-LSH signature: one '0'/'1' char per hyperplane, '1' iff the
    * plane dot product is > 0 — the compiled twin of the nested
    * transform/aggregate HOF form (16 planes × 64 dims interpreted per
    * vector otherwise; parity-tested in DedupSpec). */
  def signLshSignature(v: Column, planes: Column): Column =
    GraftExpressionBridge.column(
      SignLshSignature(GraftExpressionBridge.expression(v), GraftExpressionBridge.expression(planes)))
}

/** acc = Σ a(i)·b(i), folded left-to-right (bit-equal to
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)`). Inputs must be
  * array<double> without null elements (embeddings are dense). */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    DotProduct.fold(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      // fresh local names: two instances of this expression in ONE
      // projection (e.g. q124's c1/c2) share a codegen function — fixed
      // names would collide and kick the whole stage to the interpreter
      val (n, acc, i) = (ctx.freshName("n"), ctx.freshName("acc"), ctx.freshName("i"))
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $x.getDouble($i) * $y.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** THE interpreted fold — the expression's eval path and the
    * driver-side probe ranking ([[graft.ops.Similarity]]) both call it,
    * so a driver-ranked cosine equals the executor-computed one. */
  def fold(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }
}

/** acc = Σ (a(i) − b(i))², folded left-to-right — bit-equal to the
  * ascending-index HOF fold AND the oracle's list_transform +
  * list_aggregate('sum') (same per-element subtract/square, same
  * addition order). Inputs must be array<double> without null elements
  * (embeddings are dense). */
case class SquaredL2(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_l2sq"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val dd = x.getDouble(i) - y.getDouble(i)
      acc += dd * dd
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      // fresh local names — same collision rule as DotProduct
      val (n, acc, i, dd) = (ctx.freshName("n"), ctx.freshName("acc"),
        ctx.freshName("i"), ctx.freshName("dd"))
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $dd = $x.getDouble($i) - $y.getDouble($i);
         |  $acc += $dd * $dd;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SquaredL2 =
    copy(left = newLeft, right = newRight)
}

/** SimHash of an array of 32-char lowercase hex digests: bit b of feature
  * f = bit (3 - b%4) of hex digit b/4; output bit b = '1' iff
  * Σ_f (2·bit − 1) > 0. Integer math identical to the declarative spec
  * ([[graft.ops.TextCore.simhash64]]) and the DuckDB oracle. Eval-only
  * (CodegenFallback): the per-row cost is one compiled 64×|features|
  * loop, which is what mattered vs the interpreted nested-HOF tree. */
case class SimHash64(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_simhash64"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val acc = new Array[Int](64)
    var j = 0
    val n = arr.numElements()
    while (j < n) {
      val h = arr.getUTF8String(j).toString
      var b = 0
      while (b < 64) {
        val digit = Character.digit(h.charAt(b / 4), 16)
        acc(b) += (((digit >> (3 - b % 4)) & 1) * 2) - 1
        b += 1
      }
      j += 1
    }
    val out = new Array[Char](64)
    var b = 0
    while (b < 64) { out(b) = if (acc(b) > 0) '1' else '0'; b += 1 }
    UTF8String.fromString(new String(out))
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Double-hashing MinHash signature of an array of 32-char hex digests:
  * with h1/h2 = the first/second 8 hex digits as longs, signature(k) =
  * min over digests of (h1 + k·h2), k in [0, numHashes). One parse per
  * digest for all seeds (the per-seed declarative form re-parses k times
  * per digest). Empty input → all-null signature, so downstream band keys
  * null-propagate exactly like `array_min` of an empty array. */
case class MinHashSignature(child: Expression, numHashes: Int)
  extends UnaryExpression with CodegenFallback {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)
  override def prettyName: String = "graft_minhash_signature"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) {
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.fill[Any](numHashes)(null))
    } else {
      val mins = Array.fill(numHashes)(Long.MaxValue)
      var j = 0
      while (j < n) {
        val h = arr.getUTF8String(j).toString
        val h1 = java.lang.Long.parseLong(h.substring(0, 8), 16)
        val h2 = java.lang.Long.parseLong(h.substring(8, 16), 16)
        var k = 0
        while (k < numHashes) {
          val v = h1 + k * h2
          if (v < mins(k)) mins(k) = v
          k += 1
        }
        j += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(mins.map(Long.box))
    }
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** Per-plane sign bits of a vector's dot products with a broadcast plane
  * set: array<double> × array<array<double>> → '0'/'1' string. Each plane
  * fold is left-to-right, bit-equal to
  * `aggregate(zip_with(v, p, _*_), 0.0, _+_) > 0` — including on length
  * mismatch or a null ELEMENT, where zip_with's null pad makes the sum
  * null and the HOF spec's `when(null > 0, ...).otherwise("0")` emits
  * '0'. (A wholly-null input array yields a NULL signature via the
  * standard null-safe path — embeddings are dense, so that row is
  * malformed either way.) */
case class SignLshSignature(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_sign_lsh_signature"

  override protected def nullSafeEval(v: Any, ps: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val planes = ps.asInstanceOf[ArrayData]
    val np = planes.numElements()
    val out = new Array[Char](np)
    var j = 0
    while (j < np) {
      val p = planes.getArray(j)
      if (x.numElements() != p.numElements()) out(j) = '0'
      else {
        val n = x.numElements()
        var acc = 0.0
        var i = 0
        var sawNull = false
        while (i < n && !sawNull) {
          if (x.isNullAt(i) || p.isNullAt(i)) sawNull = true
          else { acc += x.getDouble(i) * p.getDouble(i); i += 1 }
        }
        out(j) = if (!sawNull && acc > 0.0) '1' else '0'
      }
      j += 1
    }
    UTF8String.fromString(new String(out))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SignLshSignature =
    copy(left = newLeft, right = newRight)
}

/** Merge-walk intersection count of two ascending-sorted distinct string
  * arrays (value-equal to `size(array_intersect(a, b))` on such inputs). */
case class SortedIntersectCount(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "graft_sorted_intersect_count"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (nx, ny) = (x.numElements(), y.numElements())
    var i = 0; var j = 0; var c = 0
    while (i < nx && j < ny) {
      val cmp = x.getUTF8String(i).compareTo(y.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}
