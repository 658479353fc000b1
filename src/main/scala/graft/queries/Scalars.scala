package graft.queries

import graft.Tables
import graft.functions.UdFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Scalar operator surface (SURVEY.md §2.3) exercised end-to-end through
  * the engine and oracle-checked. Every expression here is a codegen'd
  * builtin — the whole pack runs in one WholeStageCodegen span per query. */
object Scalars extends Serializable {

  /** Add/Sub/Mul/Div/Mod with uDLang semantics: Int ops stay Int (div
    * truncates), Float ops stay Float. */
  def sArith(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_orderkey") + col("l_partkey")).as("i_add"),
        (col("l_orderkey") - col("l_partkey")).as("i_sub"),
        (col("l_linenumber").cast(LongType) * col("l_partkey")).as("i_mul"),
        divInt(col("l_orderkey"), lit(7)).as("i_div"),
        (col("l_orderkey") % 7).as("i_mod"),
        (col("l_quantity") + col("l_discount")).as("f_add"),
        (col("l_quantity") * col("l_tax")).as("f_mul"),
        (col("l_quantity") / lit(2.0)).as("f_div"))

  val sArithSql: String =
    """SELECT l_orderkey, l_linenumber,
      |  l_orderkey + l_partkey AS i_add,
      |  l_orderkey - l_partkey AS i_sub,
      |  CAST(l_linenumber AS BIGINT) * l_partkey AS i_mul,
      |  l_orderkey // 7 AS i_div,
      |  l_orderkey % 7 AS i_mod,
      |  l_quantity + l_discount AS f_add,
      |  l_quantity * l_tax AS f_mul,
      |  l_quantity / 2.0 AS f_div
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Pow / Min / Max / Abs / Neg (ir.rs:576-605). */
  def sPowMinmax(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        powInt(col("l_linenumber"), lit(2)).as("pow_int"),
        powFloat(col("l_quantity"), lit(2.0)).as("pow_float"),
        min2(col("l_quantity"), col("l_extendedprice")).as("min2"),
        max2(col("l_quantity"), col("l_extendedprice")).as("max2"),
        abs1(neg(col("l_linenumber"))).as("abs_neg"))

  val sPowMinmaxSql: String =
    """SELECT l_orderkey, l_linenumber,
      |  CAST(pow(l_linenumber, 2) AS BIGINT) AS pow_int,
      |  pow(l_quantity, 2.0) AS pow_float,
      |  least(l_quantity, l_extendedprice) AS min2,
      |  greatest(l_quantity, l_extendedprice) AS max2,
      |  abs(-l_linenumber) AS abs_neg
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** And/Or/Xor dual-use (Bool logical + Int bitwise) and shifts
    * (ir.rs:632-653). */
  def sBitwiseLogic(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        andInt(col("l_linenumber"), lit(3)).as("b_and"),
        orInt(col("l_linenumber"), lit(8)).as("b_or"),
        xorInt(col("l_linenumber"), lit(5)).as("b_xor"),
        shl(col("l_linenumber"), 2).as("b_shl"),
        shr(col("l_linenumber"), 1).as("b_shr"),
        notInt(col("l_linenumber")).as("b_not"),
        andBool(col("l_quantity") > 10, col("l_discount") < 0.05).as("l_and"),
        orBool(col("l_returnflag") === "A", col("l_linestatus") === "O").as("l_or"),
        xorBool(col("l_quantity") > 10, col("l_tax") > 0.04).as("l_xor"),
        notBool(col("l_quantity") > 10).as("l_not"))

  val sBitwiseLogicSql: String =
    """SELECT l_orderkey, l_linenumber,
      |  l_linenumber & 3 AS b_and,
      |  l_linenumber | 8 AS b_or,
      |  xor(l_linenumber, 5) AS b_xor,
      |  l_linenumber << 2 AS b_shl,
      |  l_linenumber >> 1 AS b_shr,
      |  ~l_linenumber AS b_not,
      |  l_quantity > 10 AND l_discount < 0.05 AS l_and,
      |  l_returnflag = 'A' OR l_linestatus = 'O' AS l_or,
      |  (l_quantity > 10) <> (l_tax > 0.04) AS l_xor,
      |  NOT (l_quantity > 10) AS l_not
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Comparisons on Int/Float/Str (lexicographic) + deep Eq
    * (ir.rs:655-695). */
  def sCompare(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .select(
        col("p_partkey"),
        lt(col("p_size"), lit(25)).as("i_lt"),
        gte(col("p_retailprice"), lit(1200.0)).as("f_gte"),
        lt(col("p_brand"), col("p_type")).as("s_lt"),
        gt(col("p_name"), lit("m")).as("s_gt"),
        Scalars.eqDeep(col("p_brand"), col("p_brand")).as("eq_same"),
        Scalars.eqDeep(array(col("p_size"), col("p_size")),
          array(col("p_size"), lit(0))).as("eq_arr"))

  // named to avoid clashing with Object.eq
  def eqDeep(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    graft.functions.UdFunctions.eq(a, b)

  val sCompareSql: String =
    """SELECT p_partkey,
      |  p_size < 25 AS i_lt,
      |  p_retailprice >= 1200.0 AS f_gte,
      |  p_brand < p_type AS s_lt,
      |  p_name > 'm' AS s_gt,
      |  p_brand IS NOT DISTINCT FROM p_brand AS eq_same,
      |  [p_size, p_size] IS NOT DISTINCT FROM [p_size, 0] AS eq_arr
      |FROM part ORDER BY p_partkey""".stripMargin

  /** Coercions: truthiness, Bool↔Int, Int↔Float, Float→Int trunc-to-zero
    * (ir.rs:510-529). */
  def sCoerce(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(
        col("event_id"),
        truthyNum(col("user_id") % 3).as("t_int"),
        truthyNum(col("value")).as("t_float"),
        truthyStr(col("event_type")).as("t_str"),
        boolToInt(col("value") > 50).as("bool_int"),
        intToFloat(col("user_id")).as("int_float"),
        floatToInt(col("value")).as("float_int"),
        floatToInt(neg(col("value"))).as("float_int_neg"))

  val sCoerceSql: String =
    """SELECT event_id,
      |  user_id % 3 <> 0 AS t_int,
      |  value <> 0 AS t_float,
      |  length(event_type) > 0 AS t_str,
      |  CAST(value > 50 AS BIGINT) AS bool_int,
      |  CAST(user_id AS DOUBLE) AS int_float,
      |  CAST(trunc(value) AS BIGINT) AS float_int,
      |  CAST(trunc(-value) AS BIGINT) AS float_int_neg
      |FROM events ORDER BY event_id""".stripMargin

  /** F32 narrowing is numerically real (VERDICT r3 ask #3): both the
    * direct coercion and an `as F32` uDLang script column round through
    * float32 — the script leg proves the surface syntax lowers to the
    * same Catalyst cast pair on the COLUMN tier. */
  def sCoerceF32(s: SparkSession, d: String): DataFrame = {
    val src = """script "f32 narrowing";
      |input  {event_id: Int, value: Float};
      |output {event_id: Int, f32_script: Float};
      |out {event_id: in.event_id, f32_script: (in.value / 3.0) as F32};""".stripMargin
    val compiled = graft.lang.UdScript.compile(src)
    require(compiled.tier == graft.lang.UdScript.ColumnTier,
      "as F32 lowers to the column tier")
    val ev = Tables.events(s, d)
    compiled.run(ev.select("event_id", "value"))
      .join(ev.select(col("event_id"),
        f32(col("value") / 3.0).as("f32_direct"),
        f32(col("user_id")).as("f32_of_int")), Seq("event_id"))
  }

  val sCoerceF32Sql: String =
    """SELECT event_id,
      |  CAST(CAST(value / 3.0 AS REAL) AS DOUBLE) AS f32_script,
      |  CAST(CAST(value / 3.0 AS REAL) AS DOUBLE) AS f32_direct,
      |  CAST(CAST(user_id AS REAL) AS DOUBLE) AS f32_of_int
      |FROM events ORDER BY event_id""".stripMargin

  /** String library surface (README.md:235,325-328,340,352): concat (+ on
    * Str), length, join (concat_ws), case, substring, escape via replace. */
  def sStrings(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .select(
        col("p_partkey"),
        addStr(col("p_brand"), addStr(lit(":"), col("p_type"))).as("s_concat"),
        length(col("p_name")).as("s_len"),
        upper(col("p_brand")).as("s_upper"),
        lower(col("p_type")).as("s_lower"),
        substring(col("p_name"), 1, 8).as("s_sub"),
        concat_ws("-", split(col("p_name"), " ")).as("s_join"),
        regexp_replace(col("p_name"), " ", "_").as("s_escape"))

  val sStringsSql: String =
    """SELECT p_partkey,
      |  p_brand || ':' || p_type AS s_concat,
      |  length(p_name) AS s_len,
      |  upper(p_brand) AS s_upper,
      |  lower(p_type) AS s_lower,
      |  substring(p_name, 1, 8) AS s_sub,
      |  array_to_string(string_split(p_name, ' '), '-') AS s_join,
      |  replace(p_name, ' ', '_') AS s_escape
      |FROM part ORDER BY p_partkey""".stripMargin

  /** P4 Cond: if/elif/else chains as CASE WHEN (ir.rs:1040-1068); P5 match:
    * string-literal union dispatch with default arm (README.md:124-137). */
  def sCondMatch(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(
        col("event_id"),
        when(col("value") < 10, "low")
          .when(col("value") < 50, "mid")
          .when(col("value") < 90, "high")
          .otherwise("extreme").as("cond_chain"),
        when(col("event_type") === "click", lit("ui"))
          .when(col("event_type") === "view", lit("ui"))
          .when(col("event_type") === "purchase", lit("commerce"))
          .when(col("event_type") === "signup", lit("account"))
          .otherwise(lit("ops")).as("match_union"))

  val sCondMatchSql: String =
    """SELECT event_id,
      |  CASE WHEN value < 10 THEN 'low' WHEN value < 50 THEN 'mid'
      |       WHEN value < 90 THEN 'high' ELSE 'extreme' END AS cond_chain,
      |  CASE event_type WHEN 'click' THEN 'ui' WHEN 'view' THEN 'ui'
      |       WHEN 'purchase' THEN 'commerce' WHEN 'signup' THEN 'account'
      |       ELSE 'ops' END AS match_union
      |FROM events ORDER BY event_id""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("s_arith", sArith, sArithSql),
    Entry("s_pow_minmax", sPowMinmax, sPowMinmaxSql),
    Entry("s_bitwise_logic", sBitwiseLogic, sBitwiseLogicSql),
    Entry("s_compare", sCompare, sCompareSql),
    Entry("s_coerce", sCoerce, sCoerceSql),
    Entry("s_coerce_f32", sCoerceF32, sCoerceF32Sql),
    Entry("s_strings", sStrings, sStringsSql),
    Entry("s_cond_match", sCondMatch, sCondMatchSql)
  )
}
