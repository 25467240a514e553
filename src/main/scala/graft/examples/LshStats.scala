package graft.examples

import org.apache.spark.sql.functions._

import graft.LocalSession
import graft.Tables
import graft.functions.{GraftFunctions => G}

/** Dev utility: LSH band-bucket size distribution for the q30 minhash
  * pipeline — the metric behind `bucketCap` tuning (a bucket is
  * quadratic work in the unguarded self-join, so the cap must sit
  * above the corpus's organic sizes and below the pathology).
  * `sbt "runMain graft.examples.LshStats <sfDir>"`
  */
object LshStats {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = LocalSession()
    val (k, bands) = (128, 16)
    val rows = k / bands
    val banded = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), G.minhashSig(G.sortedWordSet(col("text")), k).as("sig"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          i => xxhash64(i, slice(col("sig"), i * lit(rows) + lit(1), lit(rows))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    val sizes = banded.groupBy("band", "bucket").count()
    val stats = sizes.agg(
      count(lit(1)).as("n_buckets"),
      max("count").as("max_size"),
      expr("percentile(count, 0.99)").as("p99"),
      sum(col("count") * (col("count") - 1) / 2).as("candidate_pairs_upper"))
    println("[lshstats] " + stats.collect().head)
    println("[lshstats] top buckets:")
    sizes.orderBy(col("count").desc).limit(10).collect()
      .foreach(r => println(s"[lshstats]   $r"))
    // stage timing: candidate generation + dedup vs the full pipeline —
    // tells whether the pair-distinct or the verify dominates q30
    def time(label: String)(body: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = body
      println(f"[lshstats] $label rows=$n time=${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    import graft.operators.{ScaleOps => Sc}
    // first-band-wins variant: each banded row carries the full band-
    // hash array; a pair is emitted only at its first colliding band,
    // so no distinct is needed
    val withArr = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        G.minhashSig(G.sortedWordSet(col("text")), k).as("sig"))
      .select(col("doc_id"),
        transform(sequence(lit(0), lit(bands - 1)),
          i => xxhash64(i, slice(col("sig"), i * lit(rows) + lit(1), lit(rows))))
          .as("bands"))
    val bandedArr = withArr
      .select(col("doc_id"), col("bands"), posexplode(col("bands")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    val x = bandedArr.select(col("band"), col("bucket"),
      col("doc_id").as("doc_a"), col("bands").as("bands_a"))
    val y = bandedArr.select(col("band"), col("bucket"),
      col("doc_id").as("doc_b"), col("bands").as("bands_b"))
    val fbw = x.join(y, Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b") &&
        G.firstEqualIndex(col("bands_a"), col("bands_b")) === col("band"))
      .select("doc_a", "doc_b")
    for (_ <- 1 to 2) {
      time("candidates+distinct") {
        Sc.bandedCandidatePairs(banded, Seq("band", "bucket"), "doc_id",
          5000, "doc_a", "doc_b").count()
      }
      time("first-band-wins") { fbw.count() }
      time("full q30") {
        graft.SparkEntry.queries("q30_minhash_lsh_pairs")(spark, sfDir).count()
      }
    }
    spark.stop()
  }
}
