package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Operators that exist purely for 100 TB-scale execution shape
  * (SURVEY.md §4 optimizer table): skew mitigation and co-located
  * joins. On the toy test tables they change nothing semantically —
  * specs assert plan shape and result equivalence.
  */
object ScaleOps {

  /** Lineage-cutting materialization point for big iterative/reused
    * state (q184's positives, the graph edge tables, every
    * [[iterate]] round). Default = plain `localCheckpoint()` (Spark's
    * MEMORY_AND_DISK block store — right when state fits executor
    * memory). With `spark.graft.stage.diskOnly=true` the blocks go to
    * DISK_ONLY instead: on a single JVM whose MemoryStore a multi-GB
    * checkpoint would thrash ("Not enough space to cache" → eviction
    * storms, measured at sf10 on q184/q190), paying the sequential
    * disk read per round is far cheaper than evicting every other
    * block. On a real cluster the flag stays off — aggregate executor
    * memory is the point of having executors.
    */
  def stage(df: DataFrame): DataFrame = {
    val disk = df.sparkSession.conf
      .getOption("spark.graft.stage.diskOnly")
      .exists(v => v == "1" || v.equalsIgnoreCase("true"))
    if (disk)
      df.localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
    else df.localCheckpoint()
  }

  /** Free the blocks of a frame that [[stage]] (or any
    * `localCheckpoint`) produced. `Dataset.unpersist` only drops
    * CacheManager entries, where a checkpoint is never registered, so
    * on a checkpointed frame it frees nothing: the blocks belong to the
    * RDD under the frame's `LogicalRDD` leaf. Any other frame is left
    * alone. The frame must not be read afterwards.
    */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: org.apache.spark.sql.execution.LogicalRDD =>
      r.rdd.unpersist(blocking = false)
    case _ => ()
  }

  /** Block width for a reused, staged edge table ([[spreadEdges]]):
    * ceil(estBytes / spark.graft.graph.bytesPerEdgePartition) (default
    * 8 MB), clamped to [1, session shuffle partitions]. Width must
    * track EDGE VOLUME, not core count: pinning the full session width
    * (32) on every edge table cost more in the repartition+sort pass
    * than the near-serial rounds it saved at sf0.1 (q134 3.63→4.27 s,
    * q190 6.62→7.77 s). `estBytes` only needs the right ORDER; ceil +
    * clamp absorb small-factor error.
    *
    * MINIMUM-SPREAD gate (same-sitting A/B at sf0.1, cool box): a
    * raw width of 2-3 is the worst of both worlds — the spread pass
    * still costs a full exchange+sort of the edge table, but 2-3
    * blocks buy almost no round parallelism over what AQE's own
    * coalescing already leaves (q178 w=2 5.9-6.9 s vs w=1 3.4-4.2 s;
    * q190 w=2 6.3-6.6 vs w=1 4.8-5.9). The spread only starts paying
    * for itself when it buys >= 4 blocks (sf1, width 13: q190
    * taskTime 403-584 s vs 481-676 unspread, shuffle 2 042 vs
    * 2 368 MB — the sorted-block compression only exists when the
    * spread runs). Below that the coalesced shape wins: return 1.
    */
  def edgeWidth(s: org.apache.spark.sql.SparkSession,
                estBytes: Long): Int = {
    val per = s.conf.getOption("spark.graft.graph.bytesPerEdgePartition")
      .flatMap { v =>
        val parsed = scala.util.Try(v.trim.toLong).toOption.filter(_ > 0)
        if (parsed.isEmpty) System.err.println(
          "[graft] ignoring malformed spark.graft.graph.bytesPerEdgePartition " +
            s"value '$v' — using the 8 MiB default")
        parsed
      }.getOrElse(8L << 20)
    val cur = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val w = math.max(1, math.min(cur,
      math.ceil(estBytes.toDouble / per).toInt))
    if (w < 4) 1 else w
  }

  /** Stage the edge table an iterative graph loop re-reads every
    * round, spread over [[edgeWidth]]`(estBytes)` blocks keyed by
    * `key`. AQE coalesces a byte-tiny edge exchange to ~1 partition
    * and the checkpoint freezes that, so every round would read a
    * near-serial edge side; an explicit repartition is exempt from
    * coalescing. Under AQE the checkpoint does not keep the
    * partitioning, so each round's own exchange remains — parallel,
    * which is the point. Blocks are sorted by `key`: they compress
    * ~15% smaller through every round's exchange and pre-sort the
    * merge-join runs. Width 1 keeps the coalesced shape and skips the
    * spread. An already-staged `edges` is reused as-is at width 1 and
    * released once its spread copy exists.
    */
  def spreadEdges(edges: DataFrame, key: String, estBytes: Long): DataFrame = {
    val w = edgeWidth(edges.sparkSession, estBytes)
    if (w <= 1)
      if (edges.queryExecution.logical
          .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]) edges
      else stage(edges)
    else {
      val spread = stage(edges.repartition(w, col(key)).sortWithinPartitions(key))
      release(edges)
      spread
    }
  }

  /** The staged-round loop of every iterative operator: round i+1 is
    * `round(round i)`, [[stage]]d, after which round i is released,
    * so only the live round holds blocks. `init` belongs to the loop
    * and is released when round 1 replaces it.
    *
    * Without `fixpoint`, exactly `rounds` rounds run. With it, the
    * loop stops at the first round whose measure equals the previous
    * round's, and fails loudly when `rounds` rounds have not
    * converged (a half-converged state is a wrong answer, not a
    * slower one). The measure is one action per round — the loop adds
    * no job of its own.
    */
  def iterate(init: DataFrame, rounds: Int,
              fixpoint: Option[DataFrame => Any] = None,
              name: String = "iterate")
             (round: DataFrame => DataFrame): DataFrame = {
    var cur = init
    var last = fixpoint.map(_(init))
    var converged = false
    var i = 0
    while (!converged && i < rounds) {
      val next = stage(round(cur))
      release(cur)
      cur = next
      i += 1
      fixpoint.foreach { m =>
        val v = m(cur)
        converged = last.contains(v)
        last = Some(v)
      }
    }
    if (fixpoint.isDefined && !converged) {
      release(cur)
      throw new IllegalStateException(
        s"$name did not converge in $rounds rounds")
    }
    cur
  }

  /** Recursive on-disk byte count of a file/dir (0 when absent) — the
    * cheap input-size proxy [[edgeWidth]] callers hand it for tables
    * whose edge list is derived from one source scan.
    */
  def pathBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else if (java.nio.file.Files.isRegularFile(p)) p.toFile.length
    else {
      val walk = java.nio.file.Files.walk(p)
      try walk.mapToLong(f =>
        if (java.nio.file.Files.isRegularFile(f)) f.toFile.length else 0L
      ).sum()
      finally walk.close()
    }
  }

  /** Salted equi-join for skewed keys: the build side is replicated
    * `salt` times, the probe side scatters each row to one replica, so
    * one hot key spreads over `salt` reducers instead of one straggler
    * task. AQE's skew-join handles moderate skew automatically;
    * salting is for the pathological key that still exceeds a single
    * task (the reference's analogue is one-process-per-scene, which
    * simply stalls, eodatadownrun.py:786-787).
    *
    * `left` is the large/skewed side, `right` the smaller build side.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
                 salt: Int, joinType: String = "inner"): DataFrame = {
    // the build side is replicated `salt` times, so any join type that
    // emits unmatched RIGHT rows would emit them once per replica —
    // only inner and left-side joins are correct under salting
    val norm = joinType.toLowerCase.replace("_", "")
    require(Set("inner", "left", "leftouter", "leftsemi", "leftanti",
        "cross").contains(norm),
      s"saltedJoin supports inner/left joins only, got '$joinType': " +
        "right/full-outer would emit unmatched build-side rows " +
        s"$salt times")
    val saltedLeft = left.withColumn("__salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(salt)).cast("int"))
    val saltedRight = right.withColumn("__salt",
      explode(sequence(lit(0), lit(salt - 1))))
    saltedLeft.join(saltedRight, Seq(key, "__salt"), joinType)
      .drop("__salt")
  }

  /** Candidate ID pairs from band-blocked LSH buckets, with a
    * degenerate-bucket guard. The unguarded band self-join is quadratic
    * PER BUCKET — mass-duplicated boilerplate (the common case in
    * web-scale corpora) lands thousands of near-identical docs in one
    * bucket and a single reducer does size²/2 work. Guard: buckets
    * with ≤ `bucketCap` members pair all-vs-all as usual; larger
    * buckets are STAR-REDUCED to (min-id, member) pairs — linear in
    * bucket size, and for the boilerplate pathology the downstream
    * exact verify still links every member to the representative, so
    * duplicate GROUPS survive (transitive closure) even though
    * intra-bucket non-representative pairs are not emitted. Pick
    * `bucketCap` above the corpus's organic bucket sizes so the guard
    * only fires on pathology (measure with `graft.examples.LshStats`).
    *
    * Bucket sizes come from a partial-aggregated groupBy joined back
    * (AQE broadcasts the small side) — deliberately NOT a window over
    * the band keys, which would force a shuffle of the banded rows and
    * lose the all-broadcast plan on corpora that fit.
    *
    * Cap firings are silent in the pairs output by design (the guard
    * exists to keep the job alive); run [[starReducedBuckets]] with the
    * SAME arguments alongside any production job so a fired cap is
    * observed and the cap re-measured as the corpus grows — an organic
    * bucket crossing the cap drops intra-bucket pairs.
    */
  def bandedCandidatePairs(banded: DataFrame, bandCols: Seq[String],
                           idCol: String, bucketCap: Int,
                           outA: String = "id_a", outB: String = "id_b"): DataFrame =
    bandedCandidatePairsWithCap(banded, bandCols, idCol,
      banded.sparkSession.range(1)
        .select(lit(bucketCap.toLong).as("__cap")),
      outA, outB)

  /** [[bandedCandidatePairs]] with the cap DERIVED AS DATAFLOW: `capDf`
    * is a one-row frame whose `__cap` (long) column is the bucket cap —
    * typically a corpus-size-scaled rule like 8·⌈√n⌉ computed from the
    * data itself (broadcast scalar, no driver count action). A FIXED
    * cap silently drifts as the corpus grows: expected bucket size
    * under √n-cells blocking is √n, so a constant cap that clears
    * organic buckets at sf0.1 fires on them at sf10 and the pairs
    * output quietly diverges from the unguarded form (round-6 advice on
    * q74). Deriving cap ∝ √n keeps the headroom RATIO constant at any
    * scale.
    */
  def bandedCandidatePairsWithCap(banded: DataFrame, bandCols: Seq[String],
                                  idCol: String, capDf: DataFrame,
                                  outA: String = "id_a",
                                  outB: String = "id_b"): DataFrame = {
    val bc = bandCols.map(col)
    val sizes = banded.groupBy(bc: _*)
      .agg(count(lit(1)).as("__bsz"), min(col(idCol)).as("__rep"))
      .crossJoin(broadcast(capDf.select(col("__cap"))))
    val sized = banded.join(sizes, bandCols)
    val small = sized.filter(col("__bsz") <= col("__cap"))
    val x = small.select(bc :+ col(idCol).as(outA): _*)
    val y = small.select(bc :+ col(idCol).as(outB): _*)
    val smallPairs = x.join(y, bandCols)
      .filter(col(outA) < col(outB))
      .select(outA, outB)
    val starPairs = sized
      .filter(col("__bsz") > col("__cap") && col(idCol) =!= col("__rep"))
      .select(col("__rep").as(outA), col(idCol).as(outB))
    smallPairs.union(starPairs).distinct()
  }

  /** Diagnostic twin of [[bandedCandidatePairs]]: the buckets the guard
    * STAR-REDUCES (size > `bucketCap`), with their sizes and
    * representative id. Empty ⇒ the guard never fired and the pairs
    * output is identical to the unguarded all-pairs join (the property
    * q30's exact-Jaccard oracle relies on). One partial-aggregated
    * groupBy over the banded rows — cheap next to the pairs job itself.
    */
  def starReducedBuckets(banded: DataFrame, bandCols: Seq[String],
                         idCol: String, bucketCap: Int): DataFrame =
    banded.groupBy(bandCols.map(col): _*)
      .agg(count(lit(1)).as("bucket_size"), min(col(idCol)).as("rep_id"))
      .filter(col("bucket_size") > bucketCap)

  /** Connected components over an undirected edge list — the step that
    * turns near-dup PAIRS (q30 MinHash / q31 SimHash output) into
    * dedup GROUPS so a pipeline can keep one representative per group
    * (the union-find of every production dedup job, re-expressed as
    * dataflow).
    *
    * Iterative min-label propagation: every vertex starts labeled with
    * its own id; each round it takes the min of its label and its
    * neighbors' labels. The min label floods one hop per round, so
    * rounds = component diameter — small for dedup graphs, where the
    * star-reduction guard ([[bandedCandidatePairs]]) additionally caps
    * pathological components at diameter ≤ 2 per bucket. Each round is
    * one shuffle-on-`dst` join + one partial-aggregated groupBy;
    * [[iterate]] stages every round, so lineage stays flat at any
    * iteration count and only the live round holds blocks. Convergence is detected by the label sum
    * (labels only ever decrease, so an unchanged sum ⇔ a fixpoint) —
    * one cheap aggregate per round instead of a change-count join.
    * Fails loudly if `maxIters` rounds don't converge (a silently
    * half-merged component would split dedup groups).
    *
    * Small graphs short-circuit to a driver-side union-find (the
    * broadcast-join-threshold pattern): below `localEdgeThreshold`
    * distinct edges, collecting (long, long) pairs and path-compressed
    * union-find beat any number of distributed rounds — identical
    * output, zero iterations. Above it, the iterative dataflow runs;
    * the threshold probe is a short-circuiting `limit(n+1).count()`,
    * not a full count.
    *
    * @return (id, rep) for every vertex in `edges`; `rep` = the
    *         component's minimum id. Vertices with no edges are absent
    *         (callers union singletons if they need total coverage).
    */
  def connectedComponents(edges: DataFrame, aCol: String = "id_a",
                          bCol: String = "id_b",
                          maxIters: Int = 25,
                          localEdgeThreshold: Long = 1000000L): DataFrame = {
    val spark = edges.sparkSession
    val sym = edges.select(col(aCol).cast("long").as("src"),
        col(bCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
    val both = stage(
      sym.union(sym.select(col("dst").as("src"), col("src").as("dst")))
        .distinct())
    // `both` holds TWO rows per distinct undirected edge — probe
    // against 2×threshold so the knob means what the scaladoc says
    val symRowCap = (2L * localEdgeThreshold).min(Int.MaxValue.toLong - 1)
    if (localEdgeThreshold > 0 &&
        both.limit(symRowCap.toInt + 1).count() <= symRowCap) {
      import spark.implicits._
      val pairs = both.as[(Long, Long)].collect()
      release(both)
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { // union toward the smaller root = min-id rep
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      val vertices = pairs.iterator.flatMap(p => Iterator(p._1, p._2)).toSet
      return vertices.toSeq.sorted.map(v => (v, find(v))).toDF("id", "rep")
    }
    // `both` is staged, so its row count is a ~free action; 16 bytes
    // approximates one (long, long) row's shuffle weight
    val bothByDst = spreadEdges(both, "dst", 16L * both.count())
    // Measured: fusing a pointer-jumping self-join into each round —
    // O(log diameter) rounds — is SLOWER here: the extra join per
    // round outweighs the saved rounds on dedup graphs, whose
    // diameter is already small. Plain one-hop propagation wins.
    val labels =
      try iterate(
          stage(bothByDst.select(col("src").as("id")).distinct()
            .withColumn("lab", col("id"))),
          maxIters,
          // labels only ever decrease, so an unchanged sum ⇔ a fixpoint
          fixpoint = Some(_.agg(coalesce(sum("lab"), lit(0L))).head().getLong(0)),
          name = "connectedComponents (rounds = component diameter; " +
            "raise maxIters for chainlike graphs)") { labels =>
        val nbrMin = bothByDst
          .join(labels.select(col("id").as("dst"), col("lab").as("nlab")),
            Seq("dst"))
          .groupBy(col("src").as("id"))
          .agg(min("nlab").as("nbr_lab"))
        labels.join(nbrMin, Seq("id"), "left")
          .select(col("id"),
            least(col("lab"), coalesce(col("nbr_lab"), col("lab"))).as("lab"))
      }
      finally release(bothByDst)
    labels.select(col("id"), col("lab").as("rep"))
  }

  /** Range-partition pruning predicate for date-partitioned tables:
    * partition column filter composed alongside the row filter so the
    * scan skips whole partitions (the watermark-incremental read,
    * SURVEY §4 row 2).
    */
  def partitionPrunedRange(partCol: Column, rowCol: Column,
                           startIncl: String, endIncl: String): Column =
    partCol >= lit(startIncl.substring(0, 7)) &&
      partCol <= lit(endIncl.substring(0, 7)) &&
      rowCol >= lit(startIncl) && rowCol <= lit(endIncl)
}
