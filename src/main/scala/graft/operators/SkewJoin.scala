package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Salted equi-join for skewed keys (the 100-TB skew playbook from the
  * build brief; ClickHouse users hit the same wall server-side — the
  * reference delegates joins wholesale, `clickhouse-arrow/src/client.rs:643`).
  *
  * A hash join shuffles both sides on the key: one hot key (a null-ish
  * default, a mega-customer) funnels its entire volume through ONE task.
  * Salting splits each left key into `salt` sub-keys (deterministic
  * per-row hash — no rand(), so retries/AQE replays stay consistent) and
  * replicates the right side `salt` times, so the hot key fans out over
  * `salt` tasks. Trade-off: right side shuffles `salt`x — use for
  * moderate-size right sides or on the residual hot keys only.
  *
  * AQE's skew-join handling (`spark.sql.adaptive.skewJoin.enabled`) is
  * the first line of defense and needs no code; this operator is for the
  * cases AQE can't split (e.g. a single hot HASH key inside one
  * partition after a non-sort-merge plan, or pre-AQE-size misestimates).
  */
object SkewJoin {

  /** Inner/left equi-join of `left` and `right` on `keys`, salted
    * `salt` ways. Output columns = left columns ++ right non-key columns
    * (same as `left.join(right, keys, joinType)`).
    */
  def saltedJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      salt: Int,
      joinType: String = "inner"): DataFrame = {
    require(salt >= 1, "salt must be >= 1")
    require(Seq("inner", "left", "left_outer").contains(joinType),
      s"salting preserves $joinType semantics only for inner/left joins")
    val saltCol = "__salt"
    // deterministic per-row salt: hash of the whole left row modulo salt
    val l = left.withColumn(
      saltCol, pmod(hash(left.columns.map(col): _*), lit(salt)))
    // right side replicated once per salt value
    val r = right.withColumn(saltCol, explode(sequence(lit(0), lit(salt - 1))))
    l.join(r, keys :+ saltCol, joinType).drop(saltCol)
  }
}
