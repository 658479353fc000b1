package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** uDLang scalar operator semantics (reference: ir.rs:469-696, the
  * Operations trait) as Catalyst Column functions — everything stays inside
  * whole-stage codegen; no UDFs.
  *
  * uDLang rules preserved:
  *  - strict arithmetic: Int×Int→Int, Float×Float→Float, no implicit mix
  *    (manual.md:118-121). The front-end typechecker rejects mixed
  *    operands, and the column tier picks each member here from the
  *    operand types it computed (`Lowering.binaryOp`): `add/sub/...` see
  *    same-typed operands and `addStr` is the Str+Str concat arm
  *    (doc-intended, examples/hello.us).
  *  - integer division truncates (ir.rs:607-630) → Spark `div`; a zero
  *    divisor raises the VM's error, a zero Float divisor gives IEEE ±∞/NaN.
  *  - Pow on Int silently casts exponent to u32 (ir.rs:592) → long pow.
  *  - And/Or/Xor are dual-use: Bool logical / Int bitwise (ir.rs:632-645).
  *  - comparisons: Int, Float, and Str lexicographic (ir.rs:655-677).
  *  - Eq is deep structural equality, cross-type → false (ir.rs:679-695) —
  *    Spark's === on struct/array/map is already deep.
  *  - truthiness coercion (ir.rs:510-529): Bool as-is; Int/Float ≠ 0;
  *    Str/List/Map non-empty.
  *  - Matches/Coerce/TypeCheck (ir.rs:204-206): runtime type test, checked
  *    cast, assert-else-error (raise_error).
  */
object UdFunctions {

  // ---- arithmetic (strict, same-type operands) ----
  def add(a: Column, b: Column): Column = a + b
  def addStr(a: Column, b: Column): Column = concat(a, b)
  def sub(a: Column, b: Column): Column = a - b
  def mul(a: Column, b: Column): Column = a * b
  /** Int `/` truncates; a zero divisor stops the record, as in the VM
    * (Spark's `div` and `%` would give null). */
  def divInt(a: Column, b: Column): Column =
    when(b === 0, raise_error(lit("div by zero")))
      .otherwise(call_function("div", a, b))
  def modInt(a: Column, b: Column): Column =
    when(b === 0, raise_error(lit("mod by zero"))).otherwise(a % b)
  /** Float `/` and `%` are IEEE at a zero divisor too: a * b^-1 is a / b
    * for b = ±0, the sign of the zero included. */
  def divFloat(a: Column, b: Column): Column =
    when(b === 0, a * pow(b, -1.0)).otherwise(a / b)
  def modFloat(a: Column, b: Column): Column =
    when(b === 0, lit(Double.NaN)).otherwise(a % b)
  /** Int pow: exponent treated as non-negative int (ir.rs:591-595). */
  def powInt(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.pow(a, b).cast(LongType)
  def powFloat(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.pow(a, b)
  def min2(a: Column, b: Column): Column = least(a, b)
  def max2(a: Column, b: Column): Column = greatest(a, b)
  def neg(a: Column): Column = -a
  def abs1(a: Column): Column = org.apache.spark.sql.functions.abs(a)

  // ---- logic / bitwise (dual-use like the reference) ----
  def andBool(a: Column, b: Column): Column = a && b
  def orBool(a: Column, b: Column): Column = a || b
  def xorBool(a: Column, b: Column): Column = a =!= b
  def andInt(a: Column, b: Column): Column = a.bitwiseAND(b)
  def orInt(a: Column, b: Column): Column = a.bitwiseOR(b)
  def xorInt(a: Column, b: Column): Column = a.bitwiseXOR(b)
  def notBool(a: Column): Column = !a
  def notInt(a: Column): Column = bitwise_not(a)
  def shl(a: Column, n: Int): Column = shiftleft(a, n)
  def shr(a: Column, n: Int): Column = shiftright(a, n)

  // ---- comparisons (Int, Float, Str-lexicographic) + deep Eq ----
  def lt(a: Column, b: Column): Column = a < b
  def gt(a: Column, b: Column): Column = a > b
  def lte(a: Column, b: Column): Column = a <= b
  def gte(a: Column, b: Column): Column = a >= b
  /** Deep structural equality; null-safe like the VM's Value::eq. */
  def eq(a: Column, b: Column): Column = a <=> b
  def neq(a: Column, b: Column): Column = !(a <=> b)

  // ---- coercions (ir.rs:510-529) ----
  /** Truthiness: Bool id; Int/Float ≠0; Str/List/Map non-empty. */
  def truthyNum(a: Column): Column = a =!= lit(0)
  def truthyStr(a: Column): Column = length(a) > 0
  def truthyArr(a: Column): Column = size(a) > 0
  def boolToInt(a: Column): Column = a.cast(LongType)
  def intToFloat(a: Column): Column = a.cast(DoubleType)
  /** `x as F32` (manual.md:121): numerically real float32 narrowing —
    * round through FloatType and return to the Double carrier; bit-exact
    * with DuckDB's CAST(x AS REAL) (both IEEE-754 round-to-nearest). */
  def f32(a: Column): Column =
    a.cast(org.apache.spark.sql.types.FloatType).cast(DoubleType)
  /** Float→Int coercion truncates toward zero in the VM (Rust `as i64`). */
  def floatToInt(a: Column): Column =
    when(a >= 0, floor(a)).otherwise(ceil(a)).cast(LongType)

  /** TypeCheck: assert value is non-null after a checked cast, else raise
    * (vm.rs:668-676 → raise_error). */
  def typeCheck(a: Column, msg: String): Column =
    when(a.isNull, raise_error(lit(msg))).otherwise(a)
}
