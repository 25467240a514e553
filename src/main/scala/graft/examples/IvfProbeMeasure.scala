package graft.examples

import org.apache.spark.sql.functions._

import graft.LocalSession
import graft.operators.VectorOps

/** Dev diagnostic (LshStats sibling): recall@10 of the IVF probe
  * pipeline (`VectorOps.ivfProbeTopK` — the same operator VectorSpec
  * pins) under TRAINED kmeansFit centroids, swept over nprobe.
  * Grounds the nprobe/recall trade recorded in VectorSpec — on this
  * corpus recall is 9/10 for every nprobe 3..7 and 10/10 only at
  * nprobe=k (no cluster structure to exploit).
  * `sbt "runMain graft.examples.IvfProbeMeasure"`
  */
object IvfProbeMeasure {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession(8)
    import spark.implicits._
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding".cast("array<double>").as("v")).cache()
    val cents = VectorOps.kmeansFit(e, 8, 4)
    val brute = VectorOps.bruteTopK(e, queryVecId = 0, k = 10)
      .select("vec_id").as[Long].collect().toSet
    for (np <- 3 to 8) {
      val ivf = VectorOps.ivfProbeTopK(e, cents, queryVecId = 0,
          nprobe = np, k = 10)
        .select("vec_id").as[Long].collect().toSet
      println(s"[measure] nprobe=$np recall=${(ivf & brute).size}/10")
    }
    spark.stop()
  }
}
