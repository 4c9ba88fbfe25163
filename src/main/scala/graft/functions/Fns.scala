package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar column functions mirroring the reference's PL/pgSQL helpers
  * (SURVEY.md §2.7) as pure, codegen-friendly Column expressions — no
  * UDFs anywhere, so every use stays inside whole-stage codegen.
  */
object Fns {

  /** Overflow-clamped exp, reference-faithful including the `x<0 -> 0`
    * quirk. Ref: sql_scripts/crazy_exp.sql:8-14 (double-precision
    * variant: `<0 -> 0`, `<700 -> exp(x)`, else `exp(700)`).
    */
  def crazyExp(x: Column): Column =
    when(x < 0, lit(0.0)).when(x < 700, exp(x)).otherwise(exp(lit(700.0)))

  /** Reference sigmoid `1/(1 + crazy_exp(-z))`.
    * Ref: src/transpiler.py:1612. Note that combined with crazyExp's
    * negative-clamp this returns exactly 1.0 for any z > 0 — we keep
    * that behavior for parity and expose [[sigmoid]] as the correct
    * variant for our own models.
    */
  def sigmoidRef(z: Column): Column = lit(1.0) / (lit(1.0) + crazyExp(-z))

  /** Numerically-sane sigmoid for our own scoring paths. */
  def sigmoid(z: Column): Column = lit(1.0) / (lit(1.0) + exp(-z))

  /** ReLU. Ref: sql_scripts/nn_inference.sql:27-30 (`GREATEST(0, z)`). */
  def relu(z: Column): Column = greatest(lit(0.0), z)

  /** Spherical ("haversine-like" great-circle via acos) distance in
    * kilometers, matching the reference's SQL formula (the serve-side
    * one). Ref: sql_scripts/geo_distance.sql:31-59. Inputs in degrees.
    * The acos argument is clamped to [-1,1] — the reference relies on
    * PG not overflowing; we pin it so codegen'd math is total.
    */
  def sphericalDistanceKm(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val r  = 6371.0
    val t1 = radians(lat1); val t2 = radians(lat2)
    val dl = radians(lon2 - lon1)
    val arg = sin(t1) * sin(t2) + cos(t1) * cos(t2) * cos(dl)
    acos(least(lit(1.0), greatest(lit(-1.0), arg))) * lit(r)
  }

  /** Array dot product — a codegen'd Catalyst expression (the earlier
    * zip_with+aggregate HOFs were CodegenFallback and the entire cost
    * of the similarity bench tail). Sequential double accumulation,
    * identical values. Ref: sql_scripts/dot_product.sql. Works for
    * ArrayType(FloatType) or DoubleType.
    */
  def dotProduct(a: Column, b: Column): Column =
    graft.plans.TextVectorExprs.dot(a, b)

  /** Sum of squares (squared L2 norm). */
  def normSq(a: Column): Column =
    graft.plans.TextVectorExprs.dot(a, a)

  /** Postgres-convention day of week: 0=Sunday..6=Saturday.
    * Spark's dayofweek is 1=Sunday..7=Saturday (SURVEY §7.4 risk #4).
    */
  def pgDow(ts: Column): Column = (dayofweek(ts) - 1).cast("long")

  /** ISO day of week 1=Monday..7=Sunday (PG `isodow`). */
  def isoDow(ts: Column): Column =
    when(dayofweek(ts) === 1, lit(7L)).otherwise((dayofweek(ts) - 1).cast("long"))

  /** Weekend flag as in the reference (`dow in (0,6)`).
    * Ref: sql_scripts/query_integration.sql:10. */
  def isWeekend(ts: Column): Column = pgDow(ts).isin(0L, 6L).cast("long")

  /** Full day name, PG `TRIM(to_char(ts,'Day'))`.
    * Ref: sql_scripts/query_integration.sql:8. */
  def dayName(ts: Column): Column = date_format(ts, "EEEE")
}
