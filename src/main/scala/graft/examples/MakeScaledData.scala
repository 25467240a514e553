package graft.examples

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.LocalSession

/** Dev tool: materialize an approximate sf1 dataset by replicating the
  * driver's sf0.1 tables with key offsets — used ONCE per round to
  * measure the per-query sf0.1→sf1 scaling curve recorded in
  * BASELINE.md (the driver only ships sf≤0.1; /root/testdata is
  * read-only, so the output goes to a scratch dir).
  *
  * Fact tables offset every id-like column by replica·10⁷ so joins
  * fan out consistently; dimension tables (region/nation) keep their
  * organic cardinality like real TPC-H. Documents get a per-replica
  * marker token appended (replica 0 untouched) so the DISTINCT
  * word-set count grows ~10× like an organic corpus would — without
  * it, exact-dedup-first pipelines (q30) would measure an artificially
  * easy workload. Events normalize through `Tables.loadEvents`
  * (schema-adaptive) and are written back as timestamp[us] parquet —
  * the driver's current encoding — whatever the source generation.
  *
  * `sbt "runMain graft.examples.MakeScaledData [srcDir] [outDir] [replicas] [tables] [markerTokens] [modes]"`
  * (`tables` = optional comma list — an sf10 run for the text/vector
  * heavies needs only documents,embeddings, not 6 GB of lineitem)
  *
  * `markerTokens` (default 1) sets how many replica-unique tokens are
  * appended to each replicated document. At 1 every replica stays a
  * near-dup of its original (31-word docs: Jaccard 31/33 ≈ 0.94 ≥ the
  * q30 τ=0.9), so the TRUE near-dup pair set grows ∝ replicas² — at
  * 100 replicas that is ~1.4B pairs, a property of the replica
  * generator, not of any plan (organic corpora keep dup-group sizes
  * bounded as they grow). At 4, cross-replica Jaccard drops to
  * 31/35 ≈ 0.886 < 0.9 while within-replica structure is preserved —
  * the CONSTANT-DENSITY variant that measures how the plan scales
  * when the answer grows linearly.
  *
  * `modes` (default none) is a comma list of ORGANIC-GROWTH switches
  * (round-6 verdict item 4 — each replica-density artifact recorded in
  * BASELINE.md cost a paragraph of explanation; these model the growth
  * a real corpus has so the affected sf curves read linear without
  * caveats):
  *
  *  - `dilate-time`: each events replica is shifted LATER by the
  *    source span (+1 h gap), so the time axis grows with volume and
  *    event DENSITY stays constant. Without it, 10× events compress
  *    into the SAME 30-day span and every 1-hour window catches 10×
  *    more points AND there are 10× more windows — q65's recorded
  *    100× output at 10× data. With it, windows grow ∝ volume and
  *    points-per-window stay flat → output ∝ volume.
  *  - `organic-vocab`: instead of appending marker tokens, each
  *    documents replica r ≥ 1 REWRITES ~1/4 of each doc's tokens,
  *    chosen by a deterministic hash of (token, doc, r) — so any two
  *    replicas of a doc diverge in ~40% of their tokens (no exact
  *    cross-replica dups, almost no shared 4-gram shingles) — while
  *    the variant suffix is drawn from a ⌈√replicas⌉-sized pool, so
  *    the vocabulary grows ~√replicas: Heaps' law with β ≈ 0.5, the
  *    measured exponent of real text. Without it, every cross-replica
  *    copy is a containment-1 pair — q80's recorded 1000× output.
  */
object MakeScaledData {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val n = if (args.length > 2) args(2).toInt else 10
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").toSet) else None
    val markerTokens = if (args.length > 4) args(4).toInt else 1
    val modes: Set[String] =
      if (args.length > 5) args(5).split(",").toSet else Set.empty
    val unknown = modes -- Set("dilate-time", "organic-vocab")
    require(unknown.isEmpty, s"unknown modes: ${unknown.mkString(",")} " +
      "(dilate-time | organic-vocab)")
    val spark = LocalSession(conf = Map(
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true"))

    val OFF = 10000000L
    def load(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")

    def replicate(df: DataFrame, idCols: Seq[String])
                 (mutate: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until n).map { r =>
        val shifted = idCols.foldLeft(df) { (d, c) =>
          d.withColumn(c, col(c) + lit(r * OFF))
        }
        mutate(shifted, r)
      }.reduce(_ unionByName _)

    def write(df: => DataFrame, name: String): Unit =
      if (only.forall(_.contains(name))) {
        df.write.mode("overwrite").parquet(s"$out/$name.parquet")
        println(s"[mksf] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
      }

    // dimensions keep organic cardinality (broadcast side stays small
    // at any SF, like real TPC-H nation/region)
    write(load("region"), "region")
    write(load("nation"), "nation")
    write(replicate(load("customer"), Seq("c_custkey"))(), "customer")
    write(replicate(load("supplier"), Seq("s_suppkey"))(), "supplier")
    write(replicate(load("part"), Seq("p_partkey"))(), "part")
    write(replicate(load("orders"), Seq("o_orderkey", "o_custkey"))(), "orders")
    write(replicate(load("lineitem"),
      Seq("l_orderkey", "l_partkey", "l_suppkey"))(), "lineitem")

    // dilate-time: replica r shifts ts by r·(span + 1 h) — bounded
    // driver metadata (two scalars), computed once from the source.
    // Events go through Tables.loadEvents (schema-adaptive: legacy
    // long-nanos files and the current timestamp[us] encoding both
    // normalize to TimestampType), so the shift arithmetic runs in
    // microseconds and the output is always timestamp[us] parquet.
    val eventsSrc = graft.Tables.loadEvents(spark, s"$src/events.parquet")
      .withColumn("ts", unix_micros(col("ts")))
    val tsShift: Int => Long =
      if (modes("dilate-time")) {
        val mm = eventsSrc.agg(min("ts"), max("ts")).head()
        val span = mm.getLong(1) - mm.getLong(0) + 3600L * 1000000L
        r => r * span
      } else _ => 0L
    write(replicate(eventsSrc, Seq("event_id", "user_id")) { (d, r) =>
      (if (tsShift(r) == 0L) d
       else d.withColumn("ts", col("ts") + lit(tsShift(r))))
        .withColumn("ts", timestamp_micros(col("ts")))
    }, "events")

    // organic-vocab: rewrite tokens whose (token, doc, replica) hash
    // lands in the 1/4 bucket; variant group from the same hash mod
    // ⌈√n⌉ (Heaps β≈0.5). Pure string/hash functions — deterministic,
    // codegen'd, no UDF.
    val vGroups = math.max(1, math.ceil(math.sqrt(n.toDouble)).toInt)
    def organicText(r: Int): Column = {
      val h = (w: Column) => conv(substring(
        md5(concat_ws("|", w, col("doc_id").cast("string"), lit(r))),
        1, 7), 16, 10).cast("long")
      array_join(transform(split(col("text"), " "), w =>
        when(pmod(h(w), lit(4)) === 0,
          concat(w, lit("~"), pmod(shiftright(h(w), 2), lit(vGroups))))
          .otherwise(w)), " ")
    }
    write(replicate(load("documents"), Seq("doc_id")) { (d, r) =>
      if (r == 0) d
      else if (modes("organic-vocab"))
        d.withColumn("text", organicText(r))
      else if (markerTokens <= 0) d
      else {
        val marker = (1 to markerTokens).map(k => s"rep${r}tk$k")
          .mkString(" ", " ", "")
        d.withColumn("text", concat(col("text"), lit(marker)))
      }
    }, "documents")
    write(replicate(load("embeddings"), Seq("vec_id"))(), "embeddings")
    spark.stop()
  }
}
