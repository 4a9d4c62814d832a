package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Deterministic polynomial hash computable identically in Spark and in the
  * DuckDB oracle: H8(s) = Σ_{j=0..7} ascii(substr(s, j+1, 1)) * 31^j over an
  * exactly-8-char string. Max value ≈ 3.5e12 — exact in BIGINT/Long on both
  * engines, so MinHash/SimHash built on it are bit-reproducible.
  */
object PortableHash {

  val Pow31: Array[Long] = Array.iterate(1L, 8)(_ * 31)

  /** large Mersenne prime for the (a*h + b) mod P MinHash permutations */
  val P: Long = 2147483647L

  /** Spark column: H8 over an 8-char string column — one [[H8]] call. */
  def h8(c: Column): Column =
    GraftColumnBridge.column(H8(GraftColumnBridge.expression(c.cast("string"))))

  /** the same H8 as a DuckDB SQL fragment over expression `e` */
  def h8Sql(e: String): String =
    (0 to 7).map(j => s"CAST(ascii(substr($e, ${j + 1}, 1)) AS BIGINT) * ${Pow31(j)}")
      .mkString("(", " + ", ")")

  /** H8 of lpad(CAST(key AS STRING), 8, '0') computed ARITHMETICALLY from
    * the integer key — identical value for 0 ≤ key < 1e8 (spec-pinned
    * against the string form): char j of the padded decimal is
    * '0' + (key ÷ 10^(7−j)) mod 10, so the hash needs no string at all.
    * One [[H8Digits]] call. */
  def h8Digits(key: Column): Column =
    GraftColumnBridge.column(H8Digits(GraftColumnBridge.expression(key.cast("long"))))

  /** H8 of `s` exactly as Σ_j ascii(substring(s, j+1, 1)) · 31^j: code
    * points as Spark's `substring` counts them, 0 past the end. An ASCII
    * byte is its own code point; any other character goes through the
    * same `substring` + `codePointAt` that Spark's `ascii` runs. */
  def h8Value(s: UTF8String): Long = {
    val n = s.numBytes()
    var h = 0L
    var i = 0
    var j = 0
    while (j < 8 && i < n) {
      val b = s.getByte(i)
      val cp = if (b >= 0) b.toInt else s.substring(j, j + 1).toString.codePointAt(0)
      h += cp * Pow31(j)
      i += UTF8String.numBytesForFirstByte(b)
      j += 1
    }
    h
  }

  private val Pow10: Array[Double] = Array.tabulate(8)(j => math.pow(10, (7 - j).toDouble))

  /** [[h8Digits]] of one key: digit j is floor(key / 10^(7−j)) in double
    * (exact for |key| < 2^53), then the Java `%` — the arithmetic the
    * composed form `floor(key / p) % 10` ran, negative keys included. */
  def h8DigitsValue(key: Long): Long = {
    var h = 0L
    var j = 0
    while (j < 8) {
      h += (48L + math.floor(key.toDouble / Pow10(j)).toLong % 10) * Pow31(j)
      j += 1
    }
    h
  }

  /** MinHash permutation i: (a_i * (h mod P) + b_i) mod P, coefficients
    * fixed. h is reduced mod P first so a*h stays below 2^63 (a, h < P ≈
    * 2^31 → product < 2^62) — ANSI mode overflows otherwise. */
  def permA(i: Int): Long = (999983L * (i + 1) + 12345L) % P
  def permB(i: Int): Long = (7919L * (i + 1) + 17L) % P
  def minhashPerm(h: Column, i: Int): Column =
    (lit(permA(i)) * (h % lit(P)) + lit(permB(i))) % lit(P)
}

/** [[PortableHash.h8Value]] over a string column: one static call per row.
  * As a composed chain of eight `ascii(substring(...))` terms, the hash
  * pushed the bloom-filter stages' generated methods past HotSpot's
  * 8000-byte JIT limit, so they ran interpreted. */
case class H8(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    PortableHash.h8Value(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PortableHash.h8Value($c)")

  override protected def withNewChildInternal(newChild: Expression): H8 = copy(child = newChild)
}

/** [[PortableHash.h8DigitsValue]] over a bigint key column. */
case class H8Digits(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    PortableHash.h8DigitsValue(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PortableHash.h8DigitsValue($c)")

  override protected def withNewChildInternal(newChild: Expression): H8Digits =
    copy(child = newChild)
}
