package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The heavy-key cap every blocked self-join applies before pairing. */
object Skew {

  /** `df` without its heavy blocks — the reference's candidate cap: a
    * block (the rows sharing one value of `keys`) holding more than `cap`
    * rows yields no candidates at all, which keeps the worst-case fanout
    * of the self-join behind it quadratic in `cap` instead of in the
    * corpus. Record dedup caps (kind, key) blocks at
    * [[Dedup.MaxBlockSize]] (placeholder titles, dummy ISBNs); the
    * near-dup families cap their LSH / band / cell buckets.
    *
    * The cap only needs the HEAVY keys, and those are rare by definition
    * (at most rows/cap of them), so a map-side-combinable count over the
    * narrow key feeds a broadcast anti-join — never a window count, which
    * would shuffle and sort every full-width row. A key with a null
    * component never matches the equi-join, so its rows are kept. The
    * result keeps `df`'s column order (a USING join would move `keys`
    * first), so the optimizer drops the join's projection altogether.
    * Callers that reuse `df` past the census (both self-join sides)
    * persist or checkpoint it first.
    */
  def capHeavy(df: DataFrame, keys: Seq[String], cap: Long): DataFrame = {
    val oversized = df
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > cap)
      .drop("__n")
    df.join(broadcast(oversized), keys, "left_anti").select(df.columns.map(col): _*)
  }
}
