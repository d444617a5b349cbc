package graft.eval

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Reference implementations the evaluation specs compare against. */
object Oracles {

  /** Cluster-level pair recall: pairs implied by co-membership in predicted
    * clusters vs pairs implied by truth clusters (assignment-level parity
    * with the reference's cluster semantics). */
  def clusterPairs(assignments: DataFrame, idCol: String, clusterCol: String): DataFrame = {
    val x = assignments.select(col(idCol).as("id"), col(clusterCol).as("c"))
    x.as("l").join(x.as("r"),
        col("l.c") === col("r.c") && col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"))
  }
}
