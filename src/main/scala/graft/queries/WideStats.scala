package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataTypes

/** The DECIMAL(38) escape hatch for the battery's exact integer-moment
  * statistics: `q_spearman`, `q_assortativity`, `q_cooccur_lift` (r4),
  * plus — the round-5 overflow sweep — `q_correlation`,
  * `q_burstiness`, `q_ams_sketch`, `q_gini_stump`.
  *
  * Those queries assemble exact statistics from BIGINT moment sums and
  * products; the products are Θ(n⁴) (Spearman, on 2×-scaled ranks),
  * Θ(m²·d̄²) (assortativity), Θ(N²·10⁶) (co-occurrence lift),
  * Θ(n²·x_max²) per source (Pearson), Θ(N²·tf̄²) (burstiness VMR),
  * Θ(F2) = Θ(Σtf²) (AMS), and Θ(N²·10⁹) (Gini stump fixed-point), so
  * BIGINT overflows past a documented per-query corpus bound (see each
  * query's audit note; the tightest is the stump's N ≈ 9.6·10⁴) — a hard
  * ARITHMETIC_OVERFLOW under ANSI (the Spark 4 default), a silent wrap
  * with ANSI off — while DuckDB's native HUGEINT promotion just keeps
  * going. With the knob ON, every moment sum and
  * final product computes as DECIMAL(38,0) in Spark — exactness to
  * 10³⁸, same plan shape (one extra cast inside the hash aggregate).
  * Values are identical on both Spark paths below the bound, and the
  * wide path stays exact above it (`WideStatsSpec` pins both sides).
  * The paired DuckDB SQL twins do NOT follow the knob: they hard-code
  * their `CAST(... AS BIGINT)` clamps, so Spark/oracle parity holds
  * only below the bound. An oracle check above it needs those clamps
  * dropped by hand (DuckDB's HUGEINT then carries the exact value).
  *
  * Knob: `SPARK_GRAFT_DECIMAL38=1` (env — the 100 TB operator's
  * switch), or `withWide(true) { ... }` (scoped — specs). Default OFF:
  * BIGINT arithmetic is codegen'd long math, measurably cheaper, and
  * exact at every driver-tested scale.
  */
object WideStats {

  private val D38 = DataTypes.createDecimalType(38, 0)

  @volatile private var forced: Option[Boolean] = None

  /** True when moment arithmetic should run at DECIMAL(38,0). */
  def wide: Boolean =
    forced.getOrElse(sys.env.get("SPARK_GRAFT_DECIMAL38").contains("1"))

  /** Scoped override for specs: forces the knob regardless of env. */
  def withWide[T](on: Boolean)(f: => T): T = {
    val prev = forced
    forced = Some(on)
    try f finally forced = prev
  }

  /** Moment sum: `sum(c)` as BIGINT, or DECIMAL(38,0) with the knob. */
  def wsum(c: Column): Column = if (wide) sum(c.cast(D38)) else sum(c)

  /** Moment sum of a product: `sum(a*b)` — per-row products are widened
    * BEFORE multiplying when the knob is on, so even a single row's
    * product cannot wrap.
    */
  def wsumProd(a: Column, b: Column): Column =
    if (wide) sum(a.cast(D38) * b.cast(D38)) else sum(a * b)

  /** Product of two already-aggregated moments (the Θ(n⁴) terms). */
  def prod(a: Column, b: Column): Column =
    if (wide) a.cast(D38) * b.cast(D38) else a * b

  /** Widen a single column (for non-product moments that still wrap,
    * e.g. an fp-scaled square) without aggregating.
    */
  def w(c: Column): Column = if (wide) c.cast(D38) else c

  /** Exact integral division of non-negative `a` by positive `b` for
    * WIDE operands. Decimal division in Spark rounds half-up at the
    * result scale, so a naive `floor(a / b)` can round a quotient of
    * x.9999996 UP across the integer boundary before floor sees it;
    * subtracting the exact remainder first makes the quotient an exact
    * integer, which the (identity) rounding then preserves. WIDE form
    * only — narrow call sites keep their codegen'd `expr("a div b")`.
    */
  def idivWide(a: Column, b: Column): Column = {
    val wa = a.cast(D38)
    val wb = b.cast(D38)
    ((wa - pmod(wa, wb)) / wb).cast(D38)
  }
}
