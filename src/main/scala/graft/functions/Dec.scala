package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.DecimalType

/** Decimal-exactness helpers for oracle-comparable arithmetic.
  *
  * The test tables store money as `double`; summing doubles is
  * order-dependent, so a distributed Spark sum and a single-threaded DuckDB
  * sum can differ in the last ulp. Casting each value to a fixed-scale
  * decimal *before* aggregating makes every aggregate exact and
  * order-independent (SURVEY.md §7.4 "Postgres-exact edge semantics").
  *
  * Finished aggregates are emitted as DOUBLE on both engines (see [[out]]):
  * fixed-scale decimal output renders trailing scale zeros that a
  * float-normalizing hash comparer rejects, while the double cast of the
  * same exact decimal is bit-identical everywhere.
  */
object Dec {
  val Money: DecimalType = DecimalType(18, 2)  // NUMERIC(12,2) analog, reference TablesCreated-Imported.sql:33,57
  val Rate: DecimalType = DecimalType(18, 4)   // NUMERIC(5,2)-style discount/tax, reference TablesCreated-Imported.sql:66

  /** Cast to decimal(18,2) before aggregation. */
  def d2(c: Column): Column = c.cast(Money)

  /** Cast to decimal(18,4) before aggregation. */
  def d4(c: Column): Column = c.cast(Rate)

  /** Emit a final aggregate as DOUBLE for cross-engine hash equality.
    *
    * All arithmetic stays decimal-exact up to this point; only the finished
    * value is converted. Casting the *identical* exact decimal to double is
    * the same correctly-rounded IEEE operation on both engines, whereas a
    * fixed-scale decimal renders with trailing scale zeros (`1234.10`) that
    * a float-normalizing comparer ('1234.1') refuses to match. The oracle
    * SQL mirrors this with `CAST(<same decimal expr> AS DOUBLE)`. */
  def out(c: Column, scale: Int = 2): Column =
    c.cast(DecimalType(38, scale)).cast("double")
}
