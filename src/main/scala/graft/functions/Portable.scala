package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The rounding every 6-dp output column goes through. */
object Portable {

  /** `floor(c·1e6 + 0.5) / 1e6`: rounds half up to 6 dp with IEEE double
    * arithmetic alone, so Spark and the DuckDB oracle produce the same bits.
    * `round()` is not used because the two engines break exact 6-dp ties
    * differently, and the small rationals graft publishes (ratios of counts,
    * add-k probabilities, means of decimal sums) do land on such ties. The
    * oracles' SQL form is `graft.query.Shared.floor6Sql`. */
  def floor6(c: Column): Column = floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
}
