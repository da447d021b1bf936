package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation helpers. Ordinary sum/count aggregations don't need
  * salting (map-side partial aggregation already absorbs hot keys); the
  * case that DOES melt a single reducer at 100 TB is a join where one key
  * dominates. It gets the classic salt treatment, with DETERMINISTIC salts
  * (hash of payload, not rand()) so results stay reproducible and
  * oracle-comparable.
  */
object Skew {

  /** Salted equi-join for a skewed fact side: fact rows get a deterministic
    * salt from their non-key payload; the (small) dimension is replicated
    * across all salts so every (key, salt) bucket can hash-join locally.
    * Never changes multiplicity — each fact row joins its key's dim rows
    * exactly once.
    */
  def saltedJoin(
      fact: DataFrame,
      dim: DataFrame,
      factKey: Column,
      dimKey: Column,
      salts: Int): DataFrame = {
    val saltedFact = fact.withColumn("_salt",
      pmod(hash(fact.columns.toIndexedSeq.map(col): _*), lit(salts)))
    val replicatedDim = dim.withColumn("_salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedFact.join(replicatedDim,
        factKey === dimKey && saltedFact("_salt") === replicatedDim("_salt"))
      .drop("_salt")
  }
}
