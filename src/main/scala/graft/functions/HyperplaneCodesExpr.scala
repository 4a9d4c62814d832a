package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

/** Random-hyperplane LSH codes for a dense vector (Charikar, STOC 2002):
  * `numTables` independent codes of `bits` sign bits each, computed in one
  * codegen pass per row — no hyperplane cross join, no per-bit explode, no
  * shuffle. Hyperplane weights are pseudo-random uniform in [-1, 1),
  * derived from splitmix64(seed, tableIdx, bitIdx, dim) (Steele et al.,
  * "Fast splittable pseudorandom number generators", OOPSLA 2014), so
  * codes are bit-reproducible across runs and partitionings without
  * storing a weight matrix.
  */
case class HyperplaneCodes(child: Expression, numTables: Int, bits: Int, seed: Long)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    HyperplaneCodes.compute(input.asInstanceOf[ArrayData], numTables, bits, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HyperplaneCodes.compute($c, $numTables, $bits, ${seed}L)")

  override protected def withNewChildInternal(newChild: Expression): HyperplaneCodes =
    copy(child = newChild)
}

object HyperplaneCodes {

  private def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** weight(k) ∈ [-1, 1) for hyperplane-component index k under `seed` */
  private def weight(seed: Long, k: Long): Double =
    (splitmix64(seed * 1000000007L + k) >>> 11) * (1.0 / (1L << 53)) * 2.0 - 1.0

  /** cached H×dim weight matrix per (tables, bits, seed, dim) */
  private val cache = scala.collection.concurrent.TrieMap
    .empty[(Int, Int, Long, Int), Array[Array[Double]]]

  private def matrix(numTables: Int, bits: Int, seed: Long, dim: Int): Array[Array[Double]] =
    cache.getOrElseUpdate((numTables, bits, seed, dim), {
      Array.tabulate(numTables * bits, dim)((h, i) => weight(seed, h.toLong * dim + i))
    })

  def compute(vec: ArrayData, numTables: Int, bits: Int, seed: Long): GenericArrayData = {
    val dim = vec.numElements()
    val w = matrix(numTables, bits, seed, dim)
    val x = new Array[Double](dim)
    var i = 0
    while (i < dim) { x(i) = vec.getDouble(i); i += 1 }
    val out = new Array[Int](numTables)
    var t = 0
    while (t < numTables) {
      var code = 0
      var j = 0
      while (j < bits) {
        val row = w(t * bits + j)
        var dp = 0.0
        var m = 0
        while (m < dim) { dp += x(m) * row(m); m += 1 }
        if (dp > 0) code |= 1 << j
        j += 1
      }
      out(t) = code
      t += 1
    }
    new GenericArrayData(out)
  }

  def computeWord(vec: ArrayData, numTables: Int, bits: Int, seed: Long): Long = {
    val codes = compute(vec, numTables, bits, seed)
    var w = 0L
    var t = 0
    while (t < numTables) { w |= codes.getInt(t).toLong << (t * bits); t += 1 }
    w
  }

  /** tables of `bits` bits that one [[HyperplaneCodeWord]] holds */
  def tablesPerWord(bits: Int): Int = 63 / bits

  /** Index of the first table whose `bits`-bit codes agree in two rows of
    * packed code words, or -1 if none does. Table g sits in word
    * g / tablesPerWord(bits), slot g % tablesPerWord(bits). */
  def firstMatch(wsa: ArrayData, wsb: ArrayData, tables: Int, bits: Int): Int = {
    val perWord = tablesPerWord(bits)
    val mask = (1L << bits) - 1
    var g = 0
    var k = 0
    while (g < tables) {
      val diff = wsa.getLong(k) ^ wsb.getLong(k)
      var slot = 0
      while (slot < perWord && g < tables) {
        if (((diff >>> (bits * slot)) & mask) == 0L) return g
        slot += 1
        g += 1
      }
      k += 1
    }
    -1
  }

  def hyperplaneCodes(c: Column, numTables: Int, bits: Int, seed: Long): Column =
    GraftColumnBridge.column(
      HyperplaneCodes(GraftColumnBridge.expression(c), numTables, bits, seed))

  def hyperplaneCodeWord(c: Column, numTables: Int, bits: Int, seed: Long): Column =
    GraftColumnBridge.column(
      HyperplaneCodeWord(GraftColumnBridge.expression(c), numTables, bits, seed))

  def firstMatchingTable(wsa: Column, wsb: Column, tables: Int, bits: Int): Column =
    GraftColumnBridge.column(FirstMatchingTable(
      GraftColumnBridge.expression(wsa), GraftColumnBridge.expression(wsb), tables, bits))
}

/** All `numTables` codes of [[HyperplaneCodes]] packed into one long
  * (table t occupies bits [t*bits, (t+1)*bits)) — lets downstream pair
  * dedup ("keep a pair only at its first matching table") compare whole
  * words in one [[FirstMatchingTable]] call per candidate pair instead of
  * a per-row higher-order-function evaluation over code arrays. */
case class HyperplaneCodeWord(child: Expression, numTables: Int, bits: Int, seed: Long)
    extends UnaryExpression {
  require(numTables * bits <= 63, "packed code word must fit a signed long")

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    HyperplaneCodes.computeWord(input.asInstanceOf[ArrayData], numTables, bits, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HyperplaneCodes.computeWord($c, $numTables, $bits, ${seed}L)")

  override protected def withNewChildInternal(newChild: Expression): HyperplaneCodeWord =
    copy(child = newChild)
}

/** [[HyperplaneCodes.firstMatch]] over two `array<bigint>` rows of packed
  * code words: the LSH pair-dedup test as one static call per row. Spelled
  * as composed shifts, masks and a CASE per word, the same test generated
  * a method over HotSpot's 8000-byte JIT limit at 40 tables × 6 bits, so
  * it ran interpreted. */
case class FirstMatchingTable(left: Expression, right: Expression, tables: Int, bits: Int)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any =
    HyperplaneCodes.firstMatch(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], tables, bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.HyperplaneCodes.firstMatch($a, $b, $tables, $bits)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FirstMatchingTable =
    copy(left = newLeft, right = newRight)
}
