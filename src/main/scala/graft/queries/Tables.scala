package graft.queries

import graft.text.Tokenizer
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{call_function, floor, lit, sum}

/** Table access for the driver-provided testdata directory. */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")
}

/** Tokenizer and DuckDB fragments shared by several battery families. */
object BatteryHelpers {

  /** Whitespace tokenizer (column form) of the dedup and curation
    * families: the codegen'd `graft_ws_tokens`, bit-identical to
    * `filter(split(lower(c), "\\s+"), x -> x != '')`, whose `filter` HOF
    * is interpreted per row (parity-spec'd in `GraftFunctionsSpec`).
    * Registration is idempotent and keyed off the active session, so every
    * battery builder stays a pure `(SparkSession, dir) => DataFrame`.
    */
  def simpleTokens(c: Column): Column = {
    graft.functions.GraftFunctions.register(SparkSession.active)
    call_function("graft_ws_tokens", c)
  }

  /** DuckDB twin of [[simpleTokens]] over `documents`: the `toks`
    * (doc_id, ts) CTE.
    */
  val TokensCte: String =
    """toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ts
      |  FROM documents)""".stripMargin

  /** DuckDB cosine between two double-list expressions, with
    * `graft_cosine`'s left-to-right accumulation order (bit-exact).
    */
  def cosSql(a: String, b: String): String =
    s"""(list_sum(list_transform(generate_series(1, len($a)), i -> $a[i] * $b[i])) /
       |    (sqrt(list_sum(list_transform($a, x -> x * x))) *
       |     sqrt(list_sum(list_transform($b, x -> x * x)))))""".stripMargin

  /** The reference tokenizer's stoplist as a sorted DuckDB list literal. */
  val stopListSql: String =
    Tokenizer.StopWords.toSeq.sorted.map(w => s"'$w'").mkString("[", ", ", "]")
}

/** Cross-engine-deterministic decimal rounding for oracle-paired values.
  *
  * `round(x, n)` is NOT portable at decimal ties: Spark rounds the
  * EXACT binary value of the double (BigDecimal HALF_UP), DuckDB rounds
  * its own way, and the two disagree whenever x*10^n lands on .5 —
  * found by the full-battery sweep at sf0.1 (q_quality_score doc 125:
  * 0.4187 vs 0.4188). `floor(x*10^n + 0.5) / 10^n` instead uses only
  * IEEE-754 primitives (multiply, add, floor, divide) that both engines
  * execute bit-identically, so every paired query rounds through THESE
  * helpers on both sides.
  */
object Rounding {
  /** Spark side: floor-based half-up rounding to `scale` decimals. */
  def r(c: Column, scale: Int): Column = {
    val f = math.pow(10, scale) // exact double for scale <= 15
    floor(c * lit(f) + lit(0.5)) / lit(f)
  }

  /** DuckDB side: the same expression, same IEEE operation order. */
  def rSql(e: String, scale: Int): String =
    s"floor(($e) * 1e$scale + 0.5) / 1e$scale"

  /** Order-immune sum of a ~k-decimal DOUBLE column: each row
    * fixed-points to an integer (both engines compute the identical
    * double product, so the floor agrees), the LONG sum is
    * order-immune, and one double division restores the scale. A direct
    * float sum is order-dependent across partitionings and flips
    * rounding ties — the q_training_select sf0.1 failure (0.4366 vs
    * 0.4365 from a 1-ulp partial-agg difference at a .5 tie).
    */
  def fpSum(c: Column, scale: Double): Column =
    sum(floor(c * lit(scale) + lit(0.5)).cast("long")) / lit(scale)

  /** DuckDB twin of [[fpSum]], same operation order. */
  def fpSumSql(e: String, scale: String): String =
    s"(CAST(sum(CAST(floor(($e) * $scale + 0.5) AS BIGINT)) AS BIGINT) / $scale)"
}
