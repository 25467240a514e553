package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DateType, DoubleType,
  FloatType, IntegerType, LongType, ShortType, StringType, StructType,
  TimestampNTZType, TimestampType}

/** Partition-level copy-on-write table — the 100 TB layout promised by
  * [[CowTable]]'s scaladoc, implemented. A version is a MANIFEST
  * (JSON: partition value → data directory) rather than a data
  * directory: committing an update writes ONLY the partitions
  * containing touched rows into a fresh `w_<n>/` dir and re-references
  * every untouched partition's existing directory. A catalogue update
  * that touches one acquisition month rewrites that month, not the
  * table — unchanged bytes are shared across versions, the same
  * file-re-listing idea as Delta/Iceberg, without the dependency.
  *
  * Layout: `<root>/w_<n>/__part=<value>/part-*.parquet` (data; one
  * Spark job per commit via `partitionBy`), `<root>/v_<n>.json`
  * (manifest: partitions + schema DDL), `<root>/_current` (atomic
  * pointer). Readers follow `_current` → manifest → dirs, so a
  * crashed writer never tears the table and re-runs are idempotent
  * (the reference's recovery story, SURVEY.md §7.5 #1).
  *
  * Constraints (pinned in PartitionedCowTableSpec): `partCol` values
  * must be non-null and path-safe (dates/months are); a key's
  * partition value must not change across upserts (the reference
  * never rewrites `Date_Acquired`). Rows keep `partCol` as a normal
  * column — each partition dir has a constant value for it, so
  * parquet min/max stats prune it even on full-table reads.
  *
  * PARTITION EVOLUTION (Iceberg-style): [[evolvePartitioning]] is a
  * metadata-only commit that switches the spec column for FUTURE
  * writes. Dirs written under an older spec become `legacy` manifest
  * entries: still read by every query (correctness never depends on
  * the spec), never prunable by the new spec (exactly Iceberg's
  * contract — old files keep their old spec), and migrated
  * PROGRESSIVELY — an upsert/merge that touches keys living in a
  * legacy dir rewrites that whole dir's rows under the current spec,
  * so hot data migrates itself and cold data is never rewritten
  * until [[compact]] (which migrates all remaining legacy dirs).
  */
class PartitionedCowTable(val root: String, val partCol: String,
                          spark: SparkSession,
                          val statsColumns: Seq[String] = Seq.empty,
                          val bloomColumns: Seq[String] = Seq.empty)
    extends VersionedTable {

  import PartitionedCowTable.Entry

  private val mapper = new ObjectMapper()

  /** Parsed-manifest cache. Manifest files are IMMUTABLE per version
    * (a commit writes v_N exactly once; vacuum deletes, never
    * rewrites), but a table deleted and recreated — or restored
    * out-of-band — at the same root reuses version numbers, so the
    * key pins (version, file size, mtime) like the bloom sidecar
    * cache: a recreated manifest misses and reloads. Why it exists:
    * every accessor used to re-read + re-parse the manifest from
    * disk, and the manifest grows with the table's DIR COUNT — worse,
    * some call sites evaluated an accessor once per ENTRY inside a
    * filter, making driver work O(dirs · parse(dirs)) per mutation.
    * At sf10 (3000 dirs) that was 16 s of repeated JSON parsing per
    * updateWhere — the q130/q126 r13 signature; at 100k dirs it would
    * be the driver wall. With the cache a commit parses each manifest
    * version once per content, and the per-entry sites become map
    * lookups. Bounded (cleared wholesale past 64 versions) — nodes
    * are metadata-sized and sessions touch a handful of versions.
    */
  private val nodeCache = new java.util.concurrent.ConcurrentHashMap[
    (Int, Long, Long), com.fasterxml.jackson.databind.JsonNode]()

  /** Manifest parses actually performed (cache misses) — the ledger
    * the O(touched-dirs) commit spec reads: a mutation's metadata
    * work must not scale with the table's TOTAL dir count, and
    * re-parses were exactly how it used to.
    */
  private[sources] val manifestParses =
    new java.util.concurrent.atomic.AtomicLong()

  private def nodeAt(v: Int): com.fasterxml.jackson.databind.JsonNode = {
    val p = Paths.get(root, f"v_$v%06d.json")
    val attrs = Files.readAttributes(
      p, classOf[java.nio.file.attribute.BasicFileAttributes])
    if (nodeCache.size > 64) nodeCache.clear()
    nodeCache.computeIfAbsent(
      (v, attrs.size(), attrs.lastModifiedTime().toMillis),
      _ => { manifestParses.incrementAndGet()
        mapper.readTree(Files.readAllBytes(p)) })
  }
  private def pointer = Paths.get(root, "_current")

  private def currentVersion: Option[Int] =
    if (Files.exists(pointer))
      Some(new String(Files.readAllBytes(pointer), UTF_8).trim.toInt)
    else None

  override def exists: Boolean = currentVersion.isDefined

  private def requireVersion: Int = currentVersion.getOrElse(
    throw new IllegalStateException(s"no committed version at $root"))

  /** partition value → data dir relative to root (current version,
    * CURRENT spec only) — public introspection, the `DESCRIBE DETAIL`
    * analogue. Legacy-spec dirs are listed by [[legacyEntries]].
    */
  def manifest: Map[String, String] = {
    val spec = currentPartCol
    entriesAt(requireVersion).filter(_.pcol == spec)
      .map(e => e.value -> e.dir).toMap
  }

  /** (specCol, value, dir) of every dir still on an older spec. */
  def legacyEntries: Seq[(String, String, String)] = {
    val spec = currentPartCol
    entriesAt(requireVersion).filter(_.pcol != spec)
      .map(e => (e.pcol, e.value, e.dir))
  }

  /** The spec column NEW commits partition by — the constructor's
    * `partCol` until [[evolvePartitioning]] changes it.
    */
  def currentPartCol: String =
    currentVersion.map(partColAt).getOrElse(partCol)

  private def partColAt(v: Int): String = {
    val node = nodeAt(v)
    if (node.has("partcol")) node.get("partcol").asText() else partCol
  }

  private def entriesAt(v: Int): Seq[Entry] = {
    val node = nodeAt(v)
    val spec = if (node.has("partcol")) node.get("partcol").asText()
      else partCol
    val cur = node.get("partitions").fields().asScala
      .map(e => Entry(spec, e.getKey, e.getValue.asText())).toSeq
    val legacy =
      if (!node.has("legacy")) Seq.empty
      else node.get("legacy").elements().asScala.map { n =>
        Entry(n.get("col").asText(), n.get("value").asText(),
          n.get("dir").asText())
      }.toSeq
    cur ++ legacy
  }

  private def schemaAt(v: Int): StructType =
    StructType.fromDDL(nodeAt(v).get("schema").asText())

  /** dir → column → (min, max) ZONE MAPS for the integral columns in
    * [[statsColumns]], recorded at commit time (one extra aggregate
    * over just-written dirs — zero cost when statsColumns is empty)
    * and carried with the dir across versions (an untouched dir's
    * bytes don't change, so neither do its stats — the same sharing
    * as the data itself). [[readWhereStats]] prunes on them; a dir
    * with no recorded stats for a column is kept conservatively.
    */
  private def statsAt(v: Int): Map[String, Map[String, (Long, Long)]] = {
    val node = nodeAt(v)
    if (!node.has("stats")) Map.empty
    else node.get("stats").fields().asScala.map { e =>
      e.getKey -> e.getValue.fields().asScala.map { c =>
        c.getKey -> (c.getValue.get(0).asLong(),
          c.getValue.get(1).asLong())
      }.toMap
    }.toMap
  }

  /** STRING zone maps — [[statsColumns]] entries whose schema type is
    * string record per-dir (min, max) STRINGS at commit (ISO dates,
    * month keys, status codes). [[GraftFileIndex]] prunes on them
    * with byte-order-safe lexicographic bounds; same carry-by-
    * reference sharing as the integral stats.
    */
  private def strStatsAt(v: Int)
      : Map[String, Map[String, (String, String)]] = {
    val node = nodeAt(v)
    if (!node.has("sstats")) Map.empty
    else node.get("sstats").fields().asScala.map { e =>
      e.getKey -> e.getValue.fields().asScala.map { c =>
        c.getKey -> (c.getValue.get(0).asText(),
          c.getValue.get(1).asText())
      }.toMap
    }.toMap
  }

  /** DOUBLE zone maps — [[statsColumns]] entries whose schema type is
    * float/double record per-dir (min, max) DOUBLES at commit (lat/
    * lon bbox bounds, measurements). [[GraftFileIndex]] prunes
    * double/float comparison literals on them — the reference's
    * date+bbox hot path opens only intersecting dirs.
    */
  private def dblStatsAt(v: Int)
      : Map[String, Map[String, (Double, Double)]] = {
    val node = nodeAt(v)
    if (!node.has("dstats")) Map.empty
    else node.get("dstats").fields().asScala.map { e =>
      e.getKey -> e.getValue.fields().asScala.map { c =>
        c.getKey -> (c.getValue.get(0).asDouble(),
          c.getValue.get(1).asDouble())
      }.toMap
    }.toMap
  }

  /** dir → total DATA bytes, recorded at commit from the just-written
    * files (carried by reference like the zone maps — an untouched
    * dir's bytes don't change). Serves [[GraftFileIndex.sizeInBytes]]
    * at plan time so Catalyst's join-strategy stats need no
    * filesystem listing (the Delta AddFile.size contract); a dir
    * absent here (pre-upgrade manifest) falls back to a cached
    * listing in the index.
    */
  private def bytesAt(v: Int): Map[String, Long] = {
    val node = nodeAt(v)
    if (!node.has("bytes")) Map.empty
    else node.get("bytes").fields().asScala
      .map(e => e.getKey -> e.getValue.asLong()).toMap
  }

  /** column → UNIT of its long-family zone maps ("micros" for
    * TimestampType, "days" for DateType; plain integral columns are
    * implicit "long" and not persisted). The commit side records
    * Catalyst INTERNAL units so a pushed literal's value compares
    * directly, and [[GraftFileIndex]] prunes only when the literal's
    * dataType matches the recorded kind — a manifest without this
    * node (pre-upgrade, integral-only) defaults every column to
    * "long", which a timestamp/date literal never matches: stale
    * zone maps go conservative, never wrong.
    */
  private def kindsAt(v: Int): Map[String, String] = {
    val node = nodeAt(v)
    if (!node.has("statskinds")) Map.empty
    else node.get("statskinds").fields().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap
  }

  /** dir → columns with a BLOOM sidecar (`_bloom_<col>.bf` inside the
    * data dir, so vacuum reclaims it with the dir and a rebase's
    * rename carries it along). Declared [[bloomColumns]] get one
    * filter per freshly-written dir at commit — built executor-side
    * in one pass, bits capped so each sidecar stays metadata-sized —
    * and [[GraftFileIndex]] prunes EQUALITY literals on them: the PK
    * point-lookup that zone maps can't help (high-cardinality key,
    * uncorrelated with layout) opens only dirs that might contain the
    * key, and a lookup of an ABSENT key opens nothing. The Iceberg-
    * Puffin / Delta-bloom-index contract.
    */
  private def bloomsAt(v: Int): Map[String, Seq[String]] = {
    val node = nodeAt(v)
    if (!node.has("blooms")) Map.empty
    else node.get("blooms").fields().asScala.map { e =>
      e.getKey -> e.getValue.elements().asScala.map(_.asText()).toSeq
    }.toMap
  }

  /** dir → DELETION-VECTOR files (paths relative to root) in force
    * for that dir — the Delta-DV/Iceberg-delete-file idea at key
    * grain: [[deleteWhereDV]] commits a tiny key file instead of
    * rewriting data dirs, readers anti-join it, and any REWRITE of a
    * dir (upsert, compact, merge) reads through the vector and drops
    * it — the rewrite materializes the deletion, so re-inserted keys
    * live again (new dirs never reference old vectors).
    */
  private def dvsAt(v: Int): Map[String, Seq[String]] = {
    val node = nodeAt(v)
    if (!node.has("dvs")) Map.empty
    else node.get("dvs").fields().asScala.map { e =>
      e.getKey -> e.getValue.elements().asScala.map(_.asText()).toSeq
    }.toMap
  }

  /** column → (SQL default literal, version the column was ADDED at)
    * for columns added by [[evolveSchema]] with a default. The `since`
    * version scopes the default to dirs that PREDATE the column
    * (Iceberg's initial-default contract): a dir written at version
    * >= since stored the column physically — including explicit
    * NULLs — and must read back verbatim. Reads tolerate the legacy
    * bare-string form (treated as since=MaxValue, the old
    * fill-everywhere behavior) so pre-upgrade manifests stay readable.
    */
  private def defaultsAt(v: Int): Map[String, (String, Int)] = {
    val node = nodeAt(v)
    if (!node.has("defaults")) Map.empty
    else node.get("defaults").fields().asScala.map { e =>
      val n = e.getValue
      if (n.isObject)
        e.getKey -> (n.get("sql").asText(), n.get("since").asInt())
      else e.getKey -> (n.asText(), Int.MaxValue)
    }.toMap
  }

  /** Align a caller frame to the committed schema: columns added by
    * [[evolveSchema]] that the frame lacks materialize their default
    * (or null); columns the schema doesn't know fail loudly. Applied
    * at every mutation entry point so unions against table reads are
    * shape-safe after an evolve.
    */
  private def conformInput(df: DataFrame): DataFrame = {
    if (!exists) return df
    val target = schemaAt(requireVersion)
    val dfl = defaultsAt(requireVersion)
    val extra = df.columns.filterNot(target.fieldNames.contains)
    require(extra.isEmpty,
      s"commit: columns ${extra.mkString(", ")} not in the " +
        s"committed schema — use overwrite() to change the schema" +
        s" or evolveSchema() to add columns")
    target.fields.foldLeft(df) { (d, f) =>
      if (d.columns.contains(f.name)) d
      else d.withColumn(f.name,
        dfl.get(f.name).map(v => expr(v._1)).getOrElse(lit(null))
          .cast(f.dataType))
    }.select(target.fieldNames.map(col): _*)
  }

  /** The scans of the most recent [[readConformed]], for
    * [[autoPruneLedger]]. Published ONCE per read build (a complete
    * immutable Seq swapped in after all of the read's scans are
    * constructed), never appended in place — concurrent builds can
    * interleave but neither ever observes a torn half-ledger.
    */
  @volatile private var lastIndexes: Seq[GraftFileIndex] = Seq.empty

  /** (dirs total, dirs opened) across the most recent BUILT read's
    * scans, AFTER an action forced them — the plan-automatic pruning
    * ledger: a plain `read().filter(...)` consults the manifest's
    * partition values and zone maps through [[GraftFileIndex]], and
    * this reports how many directories the scan actually listed.
    *
    * HARD PRECONDITION (pinned in PartitionedCowTableSpec): the
    * ledger attributes to the most recently BUILT read, so the
    * caller must build → execute → query the ledger before building
    * the NEXT read on this table. Interleaving two lazily-built
    * reads (build A, build B, execute A, query) misattributes the
    * ledger to B's scans; gates and specs follow the sequential
    * protocol.
    */
  def autoPruneLedger: (Int, Int) = {
    val l = lastIndexes.map(_.lastPrune)
    (l.map(_._1).sum, l.map(_._2).sum)
  }

  /** Every dir path the most recent BUILT read's indexes resolved
    * with a filesystem listing — the METADATA-plane twin of
    * [[autoPruneLedger]]: listing is lazy in [[GraftFileIndex]], so
    * a pruned dir must never appear here (pinned in spec). Same
    * build-execute-query sequential precondition as the prune ledger.
    */
  def autoListedDirs: Set[String] =
    lastIndexes.flatMap(_.listedDirPaths).toSet

  /** One manifest-aware scan over `ds`: a [[GraftFileIndex]] carrying
    * each dir's partition value + zone maps, so Spark's own pushed
    * filters prune directories at plan time (no bespoke readWhere
    * needed). Explicit-schema semantics identical to
    * `spark.read.schema(sch).parquet(ds)`. Appends its index to the
    * caller's per-read buffer — shared ledger state is only touched
    * by the one publish at the end of [[readConformed]].
    */
  private def indexedScan(v: Int, sch: StructType, ds: Seq[String],
                          info: Map[String, GraftFileIndex.ScanDir],
                          buf: scala.collection.mutable.Buffer[GraftFileIndex])
      : DataFrame = {
    val (df, idx) = GraftFileIndex.scan(spark, sch, ds.map(p =>
      info.getOrElse(p,
        GraftFileIndex.ScanDir(p, Map.empty, Map.empty))))
    buf += idx
    df
  }

  /** Read dirs through version `v`'s committed schema: columns a dir
    * predates come back null (Spark's explicit-schema parquet read),
    * then declared defaults fill them — the metadata-only add-column
    * contract. Iceberg's initial-default scoping: the default fills
    * ONLY dirs written before the column existed; a dir written after
    * the evolve stored the column physically, so its explicit NULLs
    * read back as NULL. Every data dir name embeds its commit version
    * (w_NNNNNN), so the pre/post split needs no extra metadata — dirs
    * are grouped by which defaults apply and each group is one scan.
    */
  private def readConformed(v: Int, dirs: Seq[String]): DataFrame = {
    val sch = schemaAt(v)
    val dfl = defaultsAt(v).filter { case (c, _) =>
      sch.fieldNames.contains(c) }
    val dvs = dvsAt(v)
    val st = statsAt(v)
    val sst = strStatsAt(v)
    val dst = dblStatsAt(v)
    val knd = kindsAt(v)
    val byt = bytesAt(v)
    val blm = bloomsAt(v)
    val info: Map[String, GraftFileIndex.ScanDir] =
      entriesAt(v).map { e =>
        val p = s"$root/${e.dir}"
        p -> GraftFileIndex.ScanDir(p, Map(e.pcol -> e.value),
          st.getOrElse(e.dir, Map.empty),
          sst.getOrElse(e.dir, Map.empty),
          dst.getOrElse(e.dir, Map.empty),
          knd,
          byt.getOrElse(e.dir, -1L),
          blm.getOrElse(e.dir, Seq.empty)
            .map(c => c -> s"$p/_bloom_$c.bf").toMap)
      }.toMap
    val buf = scala.collection.mutable.ArrayBuffer.empty[GraftFileIndex]
    if (dfl.isEmpty && dvs.isEmpty) {
      val df = indexedScan(v, sch, dirs, info, buf)
      lastIndexes = buf.toSeq
      return df
    }
    val wv = "(?:^|/)w_(\\d{6})/".r
    def writeVer(d: String): Int =
      wv.findFirstMatchIn(d).map(_.group(1).toInt).getOrElse(Int.MaxValue)
    def relDir(d: String): String = d.stripPrefix(s"$root/")
    // one scan per (defaults, deletion-vector) signature: dirs with
    // identical conformance needs read together
    val out = dirs.groupBy(d => (
        dfl.filter(_._2._2 > writeVer(d)).keys.toSeq.sorted,
        dvs.getOrElse(relDir(d), Seq.empty).sorted))
      .map { case ((cols, dvFiles), ds) =>
        val base = indexedScan(v, sch, ds, info, buf)
        val defaulted = cols.foldLeft(base)((df, c) =>
          df.withColumn(c, coalesce(col(c), expr(dfl(c)._1))))
        // deletion vectors: anti-join each key file — a vector can
        // reference keys not present in this group harmlessly (the
        // anti-join is a no-op for them). NULL-SAFE equality: a
        // deleted row whose key column is null must still match its
        // vector entry (plain = never matches NULL, which would make
        // an erasure path silently skip such rows)
        dvFiles.foldLeft(defaulted) { (df, f) =>
          val dv = spark.read.parquet(s"$root/$f")
          val dvA = dv.toDF(dv.columns.map("__dv_" + _): _*)
          val cond = dv.columns.map(c => df(c) <=> dvA("__dv_" + c))
            .reduce(_ && _)
          df.join(dvA, cond, "left_anti")
        }
      }.reduce(_.unionByName(_))
    lastIndexes = buf.toSeq
    out
  }

  override def read(): DataFrame = readWhere(_ => true)

  /** Manifest-level partition pruning: only matching partitions' dirs
    * are listed, opened, or scheduled — the reader never touches the
    * rest (the watermark/date-range scan path at scale).
    */
  def readWhere(partFilter: String => Boolean): DataFrame =
    readVersionWhere(requireVersion, partFilter)

  /** Time travel: the table exactly as version `v` committed it.
    * A version is a manifest, so reading one is just following ITS
    * partition→dir map — superseded versions stay readable until
    * [[vacuum]] reclaims their unshared directories (the Delta-style
    * retention contract; a vacuumed version raises on read because
    * its manifest file is gone).
    */
  def readVersion(v: Int): DataFrame = readVersionWhere(v, _ => true)

  /** [[readVersion]] with manifest-level partition pruning. The
    * explicit partFilter applies only to dirs on that version's
    * CURRENT spec; legacy-spec dirs cannot be pruned by the new
    * spec's values and are always listed (the Iceberg contract) —
    * but every returned frame still scans through [[GraftFileIndex]],
    * so plain Column filters ALSO prune any dir (legacy included) by
    * its own recorded partition value and zone maps at plan time.
    */
  def readVersionWhere(v: Int,
                       partFilter: String => Boolean): DataFrame = {
    require(Files.exists(Paths.get(root, f"v_$v%06d.json")),
      s"no version $v at $root (never committed, or vacuumed away)")
    val spec = partColAt(v)
    val dirs = entriesAt(v)
      .filter(e => e.pcol != spec || partFilter(e.value))
      .map(e => s"$root/${e.dir}")
    if (dirs.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schemaAt(v))
    else readConformed(v, dirs)
  }

  /** ZONE-MAP pruned read: only dirs whose recorded [min, max] for
    * `c` intersects [lo, hi] are listed, opened, or scheduled — the
    * per-file-stats pruning [[readWhere]]'s scaladoc promises, for
    * predicates on a NON-partition column that correlates with the
    * layout (dates inside month dirs, monotone keys inside ingest
    * batches — the classic zone-map win). Dirs without recorded
    * stats for `c` (table built without [[statsColumns]], legacy
    * dirs predating it) are kept CONSERVATIVELY: pruning is an
    * optimization, never a filter — callers still apply their
    * predicate to the returned rows.
    */
  def readWhereStats(c: String, lo: Long, hi: Long): DataFrame = {
    val v = requireVersion
    val dirs = statsKept(c, lo, hi).map(e => s"$root/${e.dir}")
    if (dirs.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schemaAt(v))
    else readConformed(v, dirs)
  }

  /** (total dirs, dirs kept) for a [[readWhereStats]] predicate —
    * the pruning ledger an I/O audit gates on.
    */
  def pruneLedger(c: String, lo: Long, hi: Long): (Int, Int) =
    (entriesAt(requireVersion).size, statsKept(c, lo, hi).size)

  private def statsKept(c: String, lo: Long, hi: Long): Seq[Entry] = {
    val v = requireVersion
    val st = statsAt(v)
    entriesAt(v).filter { e =>
      st.get(e.dir).flatMap(_.get(c)) match {
        case Some((mn, mx)) => mx >= lo && mn <= hi
        case None => true // no stats -> never prune
      }
    }
  }

  /** Current committed version number (for [[changedSince]]). */
  def version: Int = requireVersion

  /** [[changedSince]] at PARTITION-VALUE grain: (changed, removed) —
    * `changed` holds current-manifest values whose (dir, deletion
    * vectors) identity differs from `sinceVersion`'s (rewritten,
    * newly created, re-created, or DV-touched), `removed` holds
    * values `sinceVersion` referenced that the current manifest no
    * longer does (deleted empty, or dropped by overwrite). This is
    * the change LIST a downstream incremental consumer keys its work
    * on ([[IncrementalRollup]] re-aggregates exactly these); the
    * row-level feed is [[changedSince]]. Requires a single-spec
    * table across the window (no partition evolution, no legacy
    * dirs) — a value under another spec column is not attributable
    * to this one, so the diff refuses loudly rather than guessing.
    */
  def changedPartitionValuesSince(sinceVersion: Int)
      : (Set[String], Set[String]) = {
    val cur = requireVersion
    require(Files.exists(Paths.get(root, f"v_$sinceVersion%06d.json")),
      s"changedPartitionValuesSince: no version $sinceVersion at " +
        s"$root (never committed, or vacuumed)")
    val spec = currentPartCol
    require(partColAt(sinceVersion) == spec,
      s"changedPartitionValuesSince: partition spec changed " +
        s"(${partColAt(sinceVersion)} -> $spec) across the window — " +
        s"value-grain diff undefined")
    val oldE = entriesAt(sinceVersion)
    val curE = entriesAt(cur)
    require(oldE.forall(_.pcol == spec) && curE.forall(_.pcol == spec),
      s"changedPartitionValuesSince: legacy-spec dirs present — " +
        s"migrate (compact) before value-grain diffing")
    val dvO = dvsAt(sinceVersion)
    val dvC = dvsAt(cur)
    val om = oldE.map(e =>
      e.value -> (e.dir, dvO.getOrElse(e.dir, Seq.empty))).toMap
    val cm = curE.map(e =>
      e.value -> (e.dir, dvC.getOrElse(e.dir, Seq.empty))).toMap
    val changed = cm.collect {
      case (v, s) if !om.get(v).contains(s) => v }.toSet
    (changed, om.keySet -- cm.keySet)
  }

  /** CDC-lite: rows of every partition whose data directory differs
    * from version `sinceVersion`'s manifest (rewritten, newly created,
    * or re-created). Untouched partitions share their directory across
    * versions by construction, so the manifest diff IS the change set —
    * a downstream consumer checkpoints the version number and
    * re-processes only rewritten partitions, never the table.
    * `sinceVersion < 0` means everything. Note `vacuum()` retention:
    * a vacuumed-away base version can no longer be diffed against
    * (same contract as Delta-style time travel).
    */
  def changedSince(sinceVersion: Int): DataFrame = {
    val cur = requireVersion
    // diff on (DIRECTORY, deletion vectors): an evolve commit relabels
    // entries (spec moves to legacy) without touching a byte — its
    // dirs are unchanged, so it must produce an empty change set; a
    // deleteWhereDV commit changes a dir's CONTENT without touching
    // its bytes, so the dv list is part of the identity
    val old: Map[String, Seq[String]] =
      if (sinceVersion < 0) Map.empty
      else {
        val dv0 = dvsAt(sinceVersion)
        entriesAt(sinceVersion)
          .map(e => e.dir -> dv0.getOrElse(e.dir, Seq.empty)).toMap
      }
    val dvc = dvsAt(cur)
    val dirs = entriesAt(cur)
      .filter { e =>
        if (sinceVersion < 0) true
        else old.get(e.dir) match {
          case Some(prevDv) =>
            dvc.getOrElse(e.dir, Seq.empty) != prevDv
          case None => true
        }
      }
      .map(e => s"$root/${e.dir}")
    if (dirs.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        schemaAt(cur))
    else readConformed(cur, dirs)
  }

  /** Test seam: invoked at the commit-race window (after a mutation
    * derived its state from the current version, before it publishes)
    * so specs can interleave a competing writer DETERMINISTICALLY —
    * real double-thread races are flaky by construction. No-op in
    * production; a test sets it and the body self-clears (the
    * interleaved mutation re-enters the same window).
    */
  private[sources] var raceSeam: () => Unit = () => ()

  /** DELETION-VECTOR delete: commit the matching rows' KEYS as a tiny
    * sidecar file instead of rewriting any data dir — the Delta
    * deletion-vector / Iceberg delete-file shape, the only delete
    * whose cost is proportional to the DELETED rows, not the touched
    * partitions. Readers anti-join the vector ([[readConformed]]);
    * any later rewrite of a dir reads through its vectors and drops
    * them (the rewrite materializes the deletion), so upserting a
    * deleted key re-inserts it — exactly the engine-native semantics.
    * [[changedSince]] treats a new vector as changing every dir it
    * attaches to; [[compact]] materializes all vectors; [[vacuum]]
    * reclaims unreferenced vector files. Deleting already-DV-deleted
    * rows is a no-op (the matching read applies existing vectors).
    *
    * SCOPED ATTACH: the new vector is attached ONLY to dirs whose
    * partition value actually held a matching row (legacy-spec dirs
    * attach conservatively — the new spec's values say nothing about
    * them). Untouched dirs keep their exact dv list, so
    * [[changedSince]] reports only the dirs that really changed and
    * their reads carry no anti-join — read cost stays proportional
    * to the deleted rows, as the contract above claims.
    *
    * SHARDED KEY FILE: the vector is written as
    * ceil(keys / shardRows) part files instead of a forced single
    * file — a billion-key erasure must not funnel through one task.
    */
  def deleteWhereDV(pred: Column, keys: Seq[String],
                    shardRows: Long = 8L * 1024 * 1024): Unit = {
    val cur = requireVersion
    val spec = partColAt(cur)
    val selCols = (keys :+ spec).distinct
    // one pass over the matches feeds the key file and the touched values
    evaluatedOnce(read().filter(pred).select(selCols.map(col): _*)) { hit =>
      val matches = hit.select(keys.map(col): _*).distinct()
      val nKeys = matches.count()
      if (nKeys > 0) {
        val touched = hit.select(col(spec).cast("string")).distinct()
          .collect().map(_.getString(0)).toSet
        val rel = f"dv/dv_${cur + 1}%06d_" +
          s"${java.util.UUID.randomUUID().toString.take(8)}.parquet"
        val shards =
          math.max(1, math.ceil(nKeys.toDouble / shardRows).toInt)
        (if (shards == 1) matches.coalesce(1)
         else matches.repartition(shards))
          .write.parquet(s"$root/$rel")
        val entries = entriesAt(cur)
        val dv0 = dvsAt(cur)
        val dvNew = entries.map { e =>
          val attach = e.pcol != spec || touched.contains(e.value)
          val prev = dv0.getOrElse(e.dir, Seq.empty)
          e.dir -> (if (attach) prev :+ rel else prev)
        }.toMap
        raceSeam()
        try {
          writeVersion(cur + 1, schemaAt(cur).toDDL, spec, entries,
            defaultsAt(cur), statsAt(cur), dvNew, strStatsAt(cur),
            dblStatsAt(cur), kindsAt(cur), bytesAt(cur), bloomsAt(cur))
        } catch {
          case e: java.util.ConcurrentModificationException =>
            // the just-written vector file is ours and no manifest
            // references it — reclaim it in the same failure path, the
            // commit() symmetry (an orphan would otherwise linger until
            // vacuum)
            try CowTable.walkDelete(Paths.get(root, rel))
            catch { case c: Exception => e.addSuppressed(c) }
            throw e
        }
      }
    }
  }

  /** Deletion-vector files the current version references (audit). */
  def liveDvFiles: Seq[String] =
    dvsAt(requireVersion).values.flatten.toSeq.distinct.sorted

  // ---- named refs (Iceberg-style tags) ----

  private def refsFile = Paths.get(root, "refs.json")

  /** name → version for every named ref. Tags are RETENTION ANCHORS:
    * [[vacuum]] keeps every tagged version's manifest, data dirs and
    * deletion vectors alive alongside the current version, so a
    * release consumer reading `readTag("release-x")` survives any
    * amount of later mutation + vacuuming until the tag is dropped —
    * the Iceberg ref-retention contract.
    */
  def tags: Map[String, Int] =
    if (!Files.exists(refsFile)) Map.empty
    else mapper.readTree(Files.readAllBytes(refsFile)).fields().asScala
      .map(e => e.getKey -> e.getValue.asInt()).toMap

  /** Pin `name` to version `v` (default: the current version).
    * Re-tagging an existing name moves it (Iceberg's replace-tag).
    */
  def tag(name: String, v: Int = -1): Unit = {
    val target = if (v < 0) requireVersion else v
    require(Files.exists(Paths.get(root, f"v_$target%06d.json")),
      s"tag: no version $target at $root")
    writeRefs(tags + (name -> target))
  }

  def dropTag(name: String): Unit = writeRefs(tags - name)

  /** The table exactly as the tagged version committed it. */
  def readTag(name: String): DataFrame = {
    val t = tags.getOrElse(name,
      throw new IllegalArgumentException(s"no tag '$name' at $root"))
    readVersion(t)
  }

  private def writeRefs(m: Map[String, Int]): Unit = {
    val node = mapper.createObjectNode()
    m.toSeq.sortBy(_._1).foreach { case (k, v) => node.put(k, v) }
    val tmp = Paths.get(root, s"_refs.tmp.${java.util.UUID.randomUUID()}")
    Files.write(tmp, mapper.writeValueAsBytes(node))
    Files.move(tmp, refsFile, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** The distinct partition values present in a DataFrame — small by
    * construction (a commit touches few partitions). Each task
    * deduplicates its own values, so the collect is bounded by tasks ×
    * partition values, not data size, and it is one job: a
    * `distinct()` would add an exchange, which adaptive execution runs
    * as a job of its own, on every commit.
    */
  private def touchedValues(df: DataFrame): Set[String] = {
    val vals = df.select(col(currentPartCol).cast("string")).rdd
      .mapPartitions(_.map(_.getString(0)).toSet.iterator)
      .collect().toSet
    // Path-unsafe values ROUND-TRIP: partitionBy percent-escapes them
    // into the dir name and commit's listing unescapes them back into
    // Entry.value (escapePathName/unescapePathName are exact
    // inverses — '%' itself is escaped), so 'a:b' or 'x%y' are fine.
    // What can NOT round-trip is null and the empty string — Spark
    // writes BOTH as the __HIVE_DEFAULT_PARTITION__ sentinel dir, so
    // the raw value is unrecoverable (and a literal sentinel string
    // would collide with it). Reject those loudly.
    vals.foreach { v =>
      require(v != null,
        s"partition column '$partCol' contains null — not supported")
      require(v.nonEmpty,
        s"partition column '$partCol' contains an empty string — " +
          s"Spark writes it as the default-partition sentinel dir, " +
          s"which cannot round-trip; not supported")
      require(v != "__HIVE_DEFAULT_PARTITION__",
        s"partition value collides with Spark's default-partition " +
          s"sentinel — not supported")
    }
    vals
  }

  /** Run `f` over ONE evaluation of `df`: an eager local checkpoint
    * (materialized inside its own action, so a `Dataset.observe` on
    * `df` still reports its rows) that every later pass reads —
    * touched values, the key side of the anti-join, the legacy
    * semi-join, a duplicate check and the stage write's union — freed
    * when `f` returns or throws, so after the commit publishes or
    * aborts. A caller's frame is often itself a full read of this
    * table (an ingest anti-join, a step's join of its results onto
    * the scenes), and one that yields different rows on a second
    * evaluation (a nondeterministic expression, a source rewritten in
    * between) must not touch one partition set and stage another: the
    * staged value would replace a partition the commit never read,
    * losing its rows.
    */
  private def evaluatedOnce[T](df: DataFrame)(f: DataFrame => T): T = {
    val copy = df.localCheckpoint()
    try f(copy) finally graft.operators.ScaleOps.release(copy)
  }

  /** Test seam: fires after the commit's data is staged, before the
    * claim/publish loop — the window where a competing writer's full
    * commit lands between this writer's base snapshot and its pointer
    * flip. Self-clearing overrides (the raceSeam pattern) let specs
    * engineer a deterministic race.
    */
  private[sources] var commitSeam: () => Unit = () => ()

  /** Can a commit based on `base` rebase onto `cur` (a competing
    * writer's result) instead of aborting? Yes iff the winner left
    * the table's METADATA contract intact (schema, partition spec,
    * defaults, stats kinds — our staged data was conformed against
    * base's versions of all four) AND every entry the winner changed
    * — added, removed, re-pointed, or DV-touched — is DISJOINT from
    * `affected`, the (specCol, value) pairs this commit read-modifies
    * or drops. Delta's WriteSerializable reconcile, at partition
    * grain: disjoint-partition appends compose in either order, so
    * replaying ours on the winner's manifest commits both.
    */
  private def rebaseCompatible(b: Int, c: Int,
                               affected: Set[(String, String)]): Boolean =
    winnerDelta(b, c, affected).isDefined

  /** The winner's NEW-CONTENT delta when a rebase from `b` onto `c`
    * is metadata-compatible and entry-disjoint from `affected`:
    * Some(entries in `c` that are new or re-pointed vs `b` — the dirs
    * whose content the loser's read snapshot never saw), None when
    * the rebase is ineligible. DV-only changes are excluded from the
    * returned delta (a deletion vector only SHRINKS a dir's effective
    * content, and shrinkage can't introduce rows the loser's
    * key-disjointness proof would have needed to see) but still count
    * as changes for the disjointness test itself.
    */
  private def winnerDelta(b: Int, c: Int,
                          affected: Set[(String, String)])
      : Option[Seq[Entry]] = {
    if (schemaAt(c).toDDL != schemaAt(b).toDDL) return None
    if (partColAt(c) != partColAt(b)) return None
    if (defaultsAt(c) != defaultsAt(b)) return None
    if (kindsAt(c) != kindsAt(b)) return None
    val eb = entriesAt(b).map(e => (e.pcol, e.value) -> e.dir).toMap
    val ec = entriesAt(c).map(e => (e.pcol, e.value) -> e.dir).toMap
    val dvb = dvsAt(b); val dvc = dvsAt(c)
    val changed = (eb.keySet ++ ec.keySet).filter { k =>
      eb.get(k) != ec.get(k) ||
        eb.get(k).flatMap(dvb.get) != ec.get(k).flatMap(dvc.get)
    }
    if ((changed & affected).nonEmpty) None
    else Some(entriesAt(c).filter(e =>
      changed((e.pcol, e.value)) &&
        !eb.get((e.pcol, e.value)).contains(e.dir)))
  }

  // dev-only phase timing (GRAFT_COW_TIMING=1): the mutation paths are
  // the scale hot path; this is how the r14 O(touched-dirs) work was
  // measured
  private val timing = sys.env.get("GRAFT_COW_TIMING").contains("1")
  private def tphase[T](tag: String)(f: => T): T =
    if (!timing) f else {
      val t0 = System.nanoTime()
      val r = f
      println(f"[cowcommit] $tag%-22s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }

  /** Core commit: write `data` as the new content of exactly the
    * partitions in `touchedIn` (a touched partition absent from
    * `data` is dropped — it became empty); carry every untouched
    * partition from `carried`.
    *
    * ONE EVALUATION: `data` is evaluated once, by the stage write.
    * The mutators that take a caller's frame (append, upsert,
    * mergeApply, replacePartitions) pass one copy of it
    * ([[evaluatedOnce]]): their touched values, key sides and the
    * union staged here all read that copy, which lives until this
    * commit publishes or aborts. `touchedIn = None` is the whole-table
    * rewrite (overwrite, zOrderRelayout; nothing carried): the
    * touched values are the partitions the stage listing holds, so
    * overwrite copies nothing — its input can be the whole table.
    * The listing is checked either way: a default-partition dir
    * (null, empty or sentinel value) or a staged value outside
    * the touched set rejects the commit, deletes the stage and
    * writes no version.
    *
    * `narrowRead` declares the commit's READ SCOPE: true means the
    * caller read only the partitions it rewrites or drops (append,
    * compact), so when a competing writer wins the version race with
    * changes DISJOINT from that scope, this commit REBASES — re-reads
    * the winner's manifest, re-derives its carried entries from it,
    * and re-publishes under the next version — instead of aborting
    * (bounded retries; a genuine overlap still fails loudly).
    *
    * `keyProbe` is the KEY-SCOPED middle ground for commits whose
    * read scan covered the whole table but whose RESULT depends only
    * on rows carrying specific keys (upsert, mergeApply): on a
    * version race with entry-disjoint winner changes, the probe
    * receives the winner's new-content entries and returns true iff
    * none of their rows carry this commit's keys — exactly the
    * condition under which the loser's staged result is still what a
    * serial replay on the winner's table would have produced (the
    * winner neither touched the loser's partitions — entry
    * disjointness — nor introduced rows the loser's key-dedup scan
    * should have seen — the probe). Predicate-scoped commits
    * (updateWhere, deleteWhere, mergeSync) pass neither flag and
    * still never rebase: any concurrent change could invalidate what
    * they computed.
    */
  private def commit(data0: DataFrame, touchedIn: Option[Set[String]],
                     carried: Seq[Entry],
                     resetSchema: Boolean = false,
                     narrowRead: Boolean = false,
                     keyProbe: Option[(Seq[Entry], String) => Boolean] =
                       None)
      : Unit = {
    val spec = currentPartCol
    val base0 = currentVersion
    // conform to the committed schema unless this commit SETS the
    // schema (overwrite / first write): columns [[evolveSchema]]
    // added but the caller's frame lacks materialize their default
    // (or null); extra caller columns fail loudly
    val (data, schemaDdl, defaults) =
      if (resetSchema || !exists)
        (data0, data0.schema.toDDL, Map.empty[String, (String, Int)])
      else (conformInput(data0), schemaAt(requireVersion).toDDL,
        defaultsAt(requireVersion))
    // stage under a writer-unique name, then claim w_<next> with a
    // no-replace rename (see CowTable.commit): two writers racing from
    // the same base both target w_<next>, and the loser's overwrite
    // could delete the winner's committed files mid-write — the
    // dir-name collision fails the loser before shared state is touched
    val stage = s"_stage_${java.util.UUID.randomUUID()}"
    // Stage-write layout (a measured finding, kept so it is not
    // re-tried blind): hash-clustering this write by (__part,
    // content-salt) — Iceberg's distribution-mode=hash — measured
    // SLOWER at gate scale (q226 5.7 → 9.6 s steady): the extra
    // exchange and per-task writer setup cost more than the serial
    // dynamic write saved. A plain repartition on __part (one file
    // per partition dir) measured 16% lower run_s on the perfbench
    // catalog workload (4-core VM, input already evaluated once), but
    // it is the same commit-side shaping and needs its own measured
    // change. File-count layout remains [[compact]]'s job
    // (targetBytes sizing), where the rewrite IS the point.
    tphase("stage write")(data
      .withColumn("__part", col(spec).cast("string"))
      .write.partitionBy("__part").mode("overwrite").parquet(s"$root/$stage"))
    // (raw value, dir name) of every partition the stage holds: the
    // listing unescapes each dir name back to the RAW value, because
    // partitionBy percent-escapes path-unsafe chars (':' → '%3A') and
    // `touched` membership, GraftFileIndex exact pruning,
    // deleteWhereDV's scoped attach and the zone-map lookup all
    // compare raw values. Entry.dir keeps the on-disk (escaped) name.
    val staged: Seq[(String, String)] = tphase("list staged") {
      val listing = Files.list(Paths.get(root, stage))
      try listing.iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.startsWith("__part="))
        .map(n => (org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(n.stripPrefix("__part=")), n)).toSeq
      finally listing.close()
    }
    val touched = touchedIn.getOrElse(staged.map(_._1).toSet)
    // null and the empty string both land in the default-partition dir
    // (as would the sentinel string itself), which cannot round-trip;
    // a value outside `touched` would replace a partition this commit
    // never read (an input that changed between evaluations, or a
    // rewrite of the partition column)
    val rejected =
      if (staged.exists(_._1 == "__HIVE_DEFAULT_PARTITION__"))
        Some(s"partition column '$spec' contains null, an empty string " +
          s"or the default-partition sentinel — Spark writes all three " +
          s"as the same dir, which cannot round-trip; not supported")
      else {
        val stray = staged.map(_._1).filterNot(touched)
        if (stray.isEmpty) None
        else Some(s"staged partition values ${stray.sorted.mkString(", ")} " +
          s"are outside the commit's touched set — a key's partition " +
          s"value must not change")
      }
    rejected.foreach { msg =>
      CowTable.walkDelete(Paths.get(root, stage))
      throw new IllegalArgumentException(msg)
    }
    // this commit's affected scope: the partitions it rewrites plus
    // every entry the caller deliberately dropped (migrated legacy
    // dirs) — a rebase is sound only when the winner touched none
    val affected: Set[(String, String)] =
      touched.map(v => (spec, v)) ++
        (base0.map(entriesAt).getOrElse(Seq.empty)
          .map(e => (e.pcol, e.value)).toSet --
          carried.map(e => (e.pcol, e.value)).toSet)
    commitSeam()
    var base = base0
    var curCarried = carried
    var src = stage // where the staged data dir currently lives
    var attempts = 0
    // On a version race: rebase when eligible (narrow scope, winner
    // disjoint, bounded attempts), abort loudly otherwise — cleaning
    // up our staged/claimed dir, never the winner's.
    def rebaseOrAbort(err: Throwable, cleanup: String): Unit = {
      val cur = currentVersion
      val eligible = (narrowRead || keyProbe.isDefined) &&
        attempts < 4 && cur != base && base.isDefined && cur.isDefined
      val delta: Option[Seq[Entry]] =
        if (eligible) winnerDelta(base.get, cur.get, affected) else None
      // narrow-read commits rebase on entry disjointness alone;
      // key-scoped commits additionally prove the winner's new
      // content carries none of their keys (one job over ONLY the
      // winner's delta dirs, never a table rescan)
      // `src` is wherever this commit's staged data currently lives
      // (the _stage_ dir, or the claimed w_ dir after a rename) —
      // the probe reads its OWN keys from there, never from the
      // caller's (possibly table-derived) input plan
      val ok = delta.exists(d =>
        narrowRead || d.isEmpty || keyProbe.get(d, s"$root/$src"))
      if (!ok) {
        try CowTable.walkDelete(Paths.get(root, cleanup))
        catch { case c: Exception => err.addSuppressed(c) }
        err match {
          case cme: java.util.ConcurrentModificationException => throw cme
          case e =>
            val cme = new java.util.ConcurrentModificationException(
              s"concurrent commit detected at $root: data dir " +
                s"already claimed (competing writer from the same " +
                s"base; rename failed with ${e.getClass.getSimpleName})")
            cme.initCause(e)
            throw cme
        }
      }
      curCarried = entriesAt(cur.get)
        .filterNot(en => affected((en.pcol, en.value)))
      base = cur
      attempts += 1
    }
    // The whole publish step for one claimed data dir: list written
    // entries, aggregate zone maps and byte counts, write the
    // manifest. Returns true when committed; a version race inside
    // writeVersion rebases (when sound) and returns false so the
    // claim/publish loop below re-claims under the new base.
    def publishAttempt(wdir: String): Boolean = {
      val next = base.map(_ + 1).getOrElse(0)
      val written: Seq[Entry] =
        staged.map { case (v, n) => Entry(spec, v, s"$wdir/$n") }
      // carried minus current-spec entries being replaced (an evolved
      // table's legacy entries are dropped only when explicitly absent
      // from `carried` — the migration paths pass them pre-filtered;
      // after a rebase, curCarried is the winner's manifest minus this
      // commit's affected scope)
      val kept = curCarried.filterNot(e =>
        e.pcol == spec && touched.contains(e.value))
      // zone maps: carried dirs keep their recorded stats verbatim
      // (unchanged bytes, unchanged stats); freshly-written dirs get ONE
      // footer-sized aggregate over the new files. Zero jobs when
      // statsColumns is empty. Read from `base` — the version this
      // attempt publishes against.
      val carriedStats = tphase("carried maps")(
        base.map(statsAt).getOrElse(Map.empty))
      val carriedSStats = base.map(strStatsAt).getOrElse(Map.empty)
      val carriedDStats = base.map(dblStatsAt).getOrElse(Map.empty)
      val carriedKinds = base.map(kindsAt).getOrElse(Map.empty)
      // deletion vectors ride with carried dirs; rewritten dirs read
      // THROUGH their vectors above, so the rewrite materialized them
      val carriedDvs = base.map(dvsAt).getOrElse(Map.empty)
      val carriedBytes = base.map(bytesAt).getOrElse(Map.empty)
      // per-dir data bytes from the just-written local files (the same
      // name filter the index's listing applies) — recorded so plan-time
      // sizeInBytes never needs a listing
      val writtenBytes: Map[String, Long] = tphase("written bytes") {
        def sizeOf(dir: String): Long = {
          val listing = Files.list(Paths.get(root, dir))
          try listing.iterator().asScala
            .filter(p => Files.isRegularFile(p) &&
              !p.getFileName.toString.startsWith("_") &&
              !p.getFileName.toString.startsWith("."))
            .map(Files.size).sum
          finally listing.close()
        }
        // wide commits (overwrite/compact at 100k dirs) fan the per-
        // dir listing through the shared I/O pool — serial driver
        // listings at ~50 ms/dir on object storage would make the
        // byte ledger the commit wall; narrow commits stay serial
        if (written.size <= 32) written.map(e => e.dir -> sizeOf(e.dir)).toMap
        else {
          val fs = written.map(e => e.dir ->
            GraftFileIndex.listPool.submit(
              new java.util.concurrent.Callable[Long] {
                override def call(): Long = sizeOf(e.dir)
              }))
          fs.map { case (d, f) =>
            try d -> f.get()
            catch {
              case e: java.util.concurrent.ExecutionException =>
                throw e.getCause
            }
          }.toMap
        }
      }
      // Bloom sidecars for declared bloomColumns: ONE executor-side
      // pass over the just-written dirs builds a per-(dir, column)
      // filter (per-partition HashMap build, then a (dir,col)-keyed
      // merge — never a collect of values), each written as
      // `_bloom_<col>.bf` INSIDE its data dir. Values are inserted as
      // their cast-to-string UTF-8 bytes (the rendering the read side
      // probes); nulls are skipped (equality with null never matches,
      // so absence stays sound). Bits per filter are sized for fpp
      // 1e-6 and CAPPED at 2^22 (512 KiB) — a huge dir degrades to a
      // higher false-positive rate, never to an unbounded sidecar.
      val carriedBlooms = base.map(bloomsAt).getOrElse(Map.empty)
      val writtenBlooms: Map[String, Seq[String]] =
        if (bloomColumns.isEmpty || written.isEmpty) Map.empty
        else {
          val cols = bloomColumns.filter(data.columns.contains)
          cols.foreach { c =>
            data.schema.fields.find(_.name == c).get.dataType match {
              case StringType | ByteType | ShortType | IntegerType |
                   LongType => ()
              case other => throw new IllegalArgumentException(
                s"bloomColumns: column '$c' has unsupported type " +
                  s"${other.simpleString} — supported: integral, string" +
                  s" (equality point-lookups; ranges belong to " +
                  s"statsColumns)")
            }
          }
          if (cols.isEmpty) Map.empty
          else {
            val infKey =
              "spark.sql.sources.partitionColumnTypeInference.enabled"
            val infPrev = spark.conf.get(infKey, "true")
            val writtenKeys: Array[(String, Int)] =
              try {
                spark.conf.set(infKey, "false")
                val src = spark.read.parquet(s"$root/$wdir")
                  .select((col("__part").cast("string").as("__part") +:
                    cols.map(c => col(c).cast("string").as(c))): _*)
                val sizes = src.groupBy("__part")
                  .agg(count(lit(1)).as("n")).collect()
                  .map(r => r.getString(0) -> r.getLong(1)).toMap
                val bSizes = spark.sparkContext.broadcast(sizes)
                // value -> dir for the sidecar write; tiny (touched
                // dirs only), broadcast so EXECUTORS write each
                // filter straight into its dir — the merged filters
                // never visit the driver (an overwrite of 100k dirs
                // would otherwise collect 100k × 512 KiB there), only
                // the (dir, column) key list comes back
                val bDirs = spark.sparkContext.broadcast(
                  written.map(e => e.value -> e.dir).toMap)
                val bCols = spark.sparkContext.broadcast(cols)
                val rootStr = root
                val nCols = cols.size
                src.rdd.mapPartitions { it =>
                  val acc = scala.collection.mutable.HashMap.empty[
                    (String, Int),
                    org.apache.spark.util.sketch.BloomFilter]
                  it.foreach { r =>
                    val part = r.getString(0)
                    var i = 0
                    while (i < nCols) {
                      if (!r.isNullAt(i + 1)) {
                        val bf = acc.getOrElseUpdate((part, i), {
                          val n = math.max(1L,
                            bSizes.value.getOrElse(part, 1L))
                          // m = -n ln(p) / (ln 2)^2, p = 1e-9 — sized
                          // a thousandfold under the usual 1e-6: the
                          // sketch's 32-bit double hashing runs above
                          // its theoretical rate on small filters, and
                          // bits are cheap at metadata grain
                          val bits = math.min(1L << 22, math.max(64L,
                            math.ceil(n * 43.133).toLong))
                          org.apache.spark.util.sketch.BloomFilter
                            .create(n, bits)
                        })
                        bf.putBinary(r.getString(i + 1)
                          .getBytes(UTF_8))
                      }
                      i += 1
                    }
                  }
                  acc.iterator
                }.reduceByKey { (a, b) => a.mergeInPlace(b); a }
                  .map { case ((part, ci), bf) =>
                    // idempotent (create+truncate): a task retry or a
                    // speculative twin rewrites identical bytes
                    bDirs.value.get(part).foreach { d =>
                      val out = Files.newOutputStream(Paths.get(
                        rootStr, d, s"_bloom_${bCols.value(ci)}.bf"))
                      try bf.writeTo(out) finally out.close()
                    }
                    (part, ci)
                  }.collect()
              } finally spark.conf.set(infKey, infPrev)
            // flag per (dir, column) actually written — an all-null
            // column in a dir has no filter and stays unflagged
            val presentCols: Map[String, Seq[String]] =
              writtenKeys.groupBy(_._1).map { case (p, ks) =>
                p -> ks.map(k => cols(k._2)).toSeq.sorted }
            written.flatMap(e =>
              presentCols.get(e.value).map(e.dir -> _)).toMap
          }
        }
      // Each stats column records its bounds in the family its SCHEMA
      // TYPE picks — and in Catalyst INTERNAL units for the long
      // family, so a pushed literal's raw value compares directly:
      //   string       → lexicographic (min, max) strings
      //   float/double → (min, max) doubles
      //   timestamp    → (min, max) micros-since-epoch ("micros")
      //   date         → (min, max) days-since-epoch  ("days")
      //   integral     → (min, max) longs             ("long")
      // Anything else is REFUSED LOUDLY at commit (the EPSG precedent):
      // a silently mis-unit'd zone map is a wrong-prune hazard, not a
      // perf miss. One footer-sized aggregate covers all families.
      def statFamily(c: String): String = {
        val f = data.schema.fields.find(_.name == c).get
        f.dataType match {
          case StringType => "str"
          case DoubleType | FloatType => "dbl"
          case TimestampType => "micros"
          // TIMESTAMP_NTZ's internal value IS naive micros-since-epoch
          // — same unit as a pushed NTZ literal; recorded through a
          // UTC-pinned cast below so the stats job is session-zone-
          // independent
          case TimestampNTZType => "ntzmicros"
          case DateType => "days"
          case ByteType | ShortType | IntegerType | LongType => "long"
          case other => throw new IllegalArgumentException(
            s"statsColumns: column '$c' has unsupported type " +
              s"${other.simpleString} — supported: integral, string, " +
              s"float/double, date, timestamp")
        }
      }
      val (writtenStats, writtenSStats, writtenDStats, writtenKinds)
          : (Map[String, Map[String, (Long, Long)]],
             Map[String, Map[String, (String, String)]],
             Map[String, Map[String, (Double, Double)]],
             Map[String, String]) =
        if (statsColumns.isEmpty || written.isEmpty)
          (Map.empty, Map.empty, Map.empty, Map.empty)
        else {
          val cols = statsColumns.filter(data.columns.contains)
          val fam = cols.map(c => c -> statFamily(c)).toMap
          if (cols.isEmpty) (Map.empty, Map.empty, Map.empty, Map.empty)
          else {
            val aggs = cols.flatMap { c =>
              val e = fam(c) match {
                case "str" => col(c)
                case "dbl" => col(c).cast("double")
                case "micros" => expr(s"unix_micros(`$c`)")
                // the UTC-pinned session tz (set around the job below)
                // makes cast(ntz as timestamp) preserve the naive
                // micros exactly — the unit a pushed NTZ literal carries
                case "ntzmicros" =>
                  expr(s"unix_micros(cast(`$c` as timestamp))")
                case "days" => expr(s"unix_date(`$c`)").cast("long")
                case _ => col(c).cast("long")
              }
              Seq(min(e).as(s"__mn_$c"), max(e).as(s"__mx_$c"))
            }
            // partition-type inference must be OFF for this read: the
            // stats rows key on the RAW __part string (matched against
            // Entry.value), and inference would coerce e.g. '0123' to
            // int 123 or an ISO date to DateType — a normalized
            // rendering that never matches the raw value, silently
            // dropping the dir's zone map. Toggle the conf just around
            // the (eagerly collected) job.
            val infKey = "spark.sql.sources.partitionColumnTypeInference.enabled"
            val infPrev = spark.conf.get(infKey, "true")
            val tzKey = "spark.sql.session.timeZone"
            val tzPrev = spark.conf.get(tzKey)
            val rows =
              try {
                spark.conf.set(infKey, "false")
                // UTC-pin the NTZ→timestamp cast (no-op for every other
                // family): recorded ntz bounds must be session-zone-
                // independent or a reader in another zone wrong-prunes
                spark.conf.set(tzKey, "UTC")
                spark.read.parquet(s"$root/$wdir")
                  .groupBy(col("__part").cast("string").as("__part"))
                  .agg(aggs.head, aggs.tail: _*)
                  .collect()
              } finally {
                spark.conf.set(infKey, infPrev)
                spark.conf.set(tzKey, tzPrev)
              }
            val longCols = cols.filter(c => Set("long", "micros",
              "ntzmicros", "days").contains(fam(c)))
            val byValueL = rows.map { r =>
              r.getAs[String]("__part") ->
                longCols.flatMap { c =>
                  if (r.isNullAt(r.fieldIndex(s"__mn_$c"))) None
                  else Some(c -> (r.getAs[Long](s"__mn_$c"),
                    r.getAs[Long](s"__mx_$c")))
                }.toMap
            }.toMap
            val byValueS = rows.map { r =>
              r.getAs[String]("__part") ->
                cols.filter(fam(_) == "str").flatMap { c =>
                  if (r.isNullAt(r.fieldIndex(s"__mn_$c"))) None
                  else Some(c -> (r.getAs[String](s"__mn_$c"),
                    r.getAs[String](s"__mx_$c")))
                }.toMap
            }.toMap
            val byValueD = rows.map { r =>
              r.getAs[String]("__part") ->
                cols.filter(fam(_) == "dbl").flatMap { c =>
                  if (r.isNullAt(r.fieldIndex(s"__mn_$c"))) None
                  else Some(c -> (r.getAs[Double](s"__mn_$c"),
                    r.getAs[Double](s"__mx_$c")))
                }.toMap
            }.toMap
            (written.flatMap(e =>
               byValueL.get(e.value).map(e.dir -> _)).toMap,
             written.flatMap(e =>
               byValueS.get(e.value).map(e.dir -> _)).toMap,
             written.flatMap(e =>
               byValueD.get(e.value).map(e.dir -> _)).toMap,
             cols.flatMap(c => fam(c) match {
               case k @ ("micros" | "days") => Some(c -> k)
               // both timestamp flavors record micros; the literal a
               // reader pushes for the column carries the SAME flavor
               // as the column's (fixed) schema type, so one persisted
               // kind serves both
               case "ntzmicros" => Some(c -> "micros")
               case _ => None
             }).toMap)
          }
        }
      try {
        tphase("writeVersion")(
        writeVersion(next, schemaDdl, spec, kept ++ written, defaults,
          carriedStats ++ writtenStats, carriedDvs,
          carriedSStats ++ writtenSStats,
          carriedDStats ++ writtenDStats,
          carriedKinds ++ writtenKinds,
          carriedBytes ++ writtenBytes,
          carriedBlooms ++ writtenBlooms))
        true
      } catch {
        case e: java.util.ConcurrentModificationException =>
          // the claimed data dir is ours (the rename succeeded) and no
          // manifest references it: on ABORT rebaseOrAbort removes it
          // (a clean retry from the new base isn't blocked by the
          // orphan); on REBASE the next claim renames it into place
          // under the new version number — the w_NNNNNN name must match
          // the commit version (initial-default scoping parses it)
          src = wdir
          rebaseOrAbort(e, wdir)
          false
      }
    }
    var committed = false
    while (!committed) {
      var wdir: String = null
      var claimed = false
      while (!claimed) {
        wdir = f"w_${base.map(_ + 1).getOrElse(0)}%06d"
        // catch the whole FileSystemException family, not just the
        // pre-rename existence stat's FileAlreadyExistsException: two
        // racers passing that check together fall through to raw
        // rename(2), which surfaces as DirectoryNotEmptyException on a
        // non-empty claimed target (see CowTable.commit)
        try {
          Files.move(Paths.get(root, src), Paths.get(root, wdir))
          claimed = true
        } catch {
          case e: java.nio.file.FileSystemException =>
            rebaseOrAbort(e, src) // throws unless rebase is sound
        }
      }
      committed = publishAttempt(wdir)
    }
  }

  private def writeVersion(v: Int, schemaDdl: String, spec: String,
                           entries: Seq[Entry],
                           defaults: Map[String, (String, Int)] =
                             Map.empty,
                           stats: Map[String, Map[String, (Long, Long)]] =
                             Map.empty,
                           dvs: Map[String, Seq[String]] = Map.empty,
                           sstats: Map[String,
                             Map[String, (String, String)]] = Map.empty,
                           dstats: Map[String,
                             Map[String, (Double, Double)]] = Map.empty,
                           kinds: Map[String, String] = Map.empty,
                           bytes: Map[String, Long] = Map.empty,
                           blooms: Map[String, Seq[String]] = Map.empty)
      : Unit = {
    // optimistic concurrency (see CowTable.commit): a competing writer
    // advancing the pointer mid-commit means this manifest's carried
    // partitions derive from a stale read — fail loudly, don't
    // silently drop the other commit
    val expected = if (v == 0) None else Some(v - 1)
    if (currentVersion != expected)
      throw new java.util.ConcurrentModificationException(
        s"concurrent commit detected at $root: expected base " +
          s"${expected.getOrElse("<none>")}, found " +
          s"${currentVersion.getOrElse("<none>")}")
    val node = mapper.createObjectNode()
    node.put("schema", schemaDdl)
    node.put("partcol", spec)
    if (defaults.nonEmpty) {
      val d = node.putObject("defaults")
      defaults.toSeq.sortBy(_._1).foreach { case (k, (sql, since)) =>
        val o = d.putObject(k)
        o.put("sql", sql); o.put("since", since)
      }
    }
    // persist zone maps only for dirs this manifest references
    val live = entries.map(_.dir).toSet
    val liveStats = stats.filter { case (d, m) =>
      live.contains(d) && m.nonEmpty }
    val liveDvs = dvs.filter { case (d, fs) =>
      live.contains(d) && fs.nonEmpty }
    if (liveDvs.nonEmpty) {
      val dn = node.putObject("dvs")
      liveDvs.toSeq.sortBy(_._1).foreach { case (d, fs) =>
        val a = dn.putArray(d)
        fs.foreach(a.add)
      }
    }
    if (liveStats.nonEmpty) {
      val st = node.putObject("stats")
      liveStats.toSeq.sortBy(_._1).foreach { case (d, cols) =>
        val o = st.putObject(d)
        cols.toSeq.sortBy(_._1).foreach { case (c, (lo, hi)) =>
          val a = o.putArray(c)
          a.add(lo); a.add(hi)
        }
      }
    }
    val liveSStats = sstats.filter { case (d, m) =>
      live.contains(d) && m.nonEmpty }
    if (liveSStats.nonEmpty) {
      val st = node.putObject("sstats")
      liveSStats.toSeq.sortBy(_._1).foreach { case (d, cols) =>
        val o = st.putObject(d)
        cols.toSeq.sortBy(_._1).foreach { case (c, (lo, hi)) =>
          val a = o.putArray(c)
          a.add(lo); a.add(hi)
        }
      }
    }
    val liveDStats = dstats.filter { case (d, m) =>
      live.contains(d) && m.nonEmpty }
    if (liveDStats.nonEmpty) {
      val st = node.putObject("dstats")
      liveDStats.toSeq.sortBy(_._1).foreach { case (d, cols) =>
        val o = st.putObject(d)
        cols.toSeq.sortBy(_._1).foreach { case (c, (lo, hi)) =>
          val a = o.putArray(c)
          a.add(lo); a.add(hi)
        }
      }
    }
    if (kinds.nonEmpty) {
      val kn = node.putObject("statskinds")
      kinds.toSeq.sortBy(_._1).foreach { case (c, k) => kn.put(c, k) }
    }
    val liveBytes = bytes.filter { case (d, _) => live.contains(d) }
    if (liveBytes.nonEmpty) {
      val bn = node.putObject("bytes")
      liveBytes.toSeq.sortBy(_._1).foreach { case (d, b) => bn.put(d, b) }
    }
    val liveBlooms = blooms.filter { case (d, cs) =>
      live.contains(d) && cs.nonEmpty }
    if (liveBlooms.nonEmpty) {
      val bn = node.putObject("blooms")
      liveBlooms.toSeq.sortBy(_._1).foreach { case (d, cs) =>
        val a = bn.putArray(d)
        cs.sorted.foreach(a.add)
      }
    }
    val parts = node.putObject("partitions")
    entries.filter(_.pcol == spec).sortBy(_.value)
      .foreach(e => parts.put(e.value, e.dir))
    val legacy = entries.filter(_.pcol != spec)
    if (legacy.nonEmpty) {
      val arr = node.putArray("legacy")
      legacy.sortBy(e => (e.pcol, e.value)).foreach { e =>
        val n = arr.addObject()
        n.put("col", e.pcol); n.put("value", e.value); n.put("dir", e.dir)
      }
    }
    Files.write(Paths.get(root, f"v_$v%06d.json"),
      mapper.writeValueAsBytes(node))
    val tmp = Paths.get(root, s"_current.tmp.$v")
    Files.write(tmp, v.toString.getBytes(UTF_8))
    Files.move(tmp, pointer, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def currentEntriesOrEmpty: Seq[Entry] =
    currentVersion.map(entriesAt).getOrElse(Seq.empty)

  /** Switch the partition spec for future writes — a METADATA-ONLY
    * commit (no data job, no byte rewritten): every existing dir
    * becomes a legacy entry under its own spec. `newPartCol` must be
    * an existing column; reads are unaffected (legacy dirs are always
    * included), [[changedSince]] across the evolve is empty by
    * construction, and migration happens progressively (upsert/merge
    * touching a legacy dir rewrites it, [[compact]] migrates the
    * rest).
    */
  def evolvePartitioning(newPartCol: String): Unit = {
    val cur = requireVersion
    require(schemaAt(cur).fieldNames.contains(newPartCol),
      s"evolvePartitioning: column '$newPartCol' not in schema")
    if (newPartCol == currentPartCol) return
    writeVersion(cur + 1, schemaAt(cur).toDDL, newPartCol,
      entriesAt(cur), defaultsAt(cur), statsAt(cur), dvsAt(cur),
      strStatsAt(cur), dblStatsAt(cur), kindsAt(cur), bytesAt(cur), bloomsAt(cur))
  }

  /** Delta-style RESTORE (`RESTORE TABLE ... TO VERSION AS OF v`):
    * make the CURRENT state equal version `v`'s by re-publishing v's
    * manifest under the next version number — a METADATA-ONLY commit,
    * no data job, nothing deleted. CoW-safe roll-back: the undone
    * versions stay time-travelable until [[vacuum]] reclaims them.
    * This is the crash-recovery primitive for [[SnapshotCatalog]]'s
    * orphaned-step contract: restore each table to its last LOGGED
    * version, vacuum the orphan commits, redo the step, publish.
    */
  def restore(v: Int): Unit = {
    val cur = requireVersion
    require(Files.exists(Paths.get(root, f"v_$v%06d.json")),
      s"restore: no version $v at $root (never committed, or vacuumed)")
    if (v == cur) return
    writeVersion(cur + 1, schemaAt(v).toDDL, partColAt(v), entriesAt(v),
      defaultsAt(v), statsAt(v), dvsAt(v), strStatsAt(v),
      dblStatsAt(v), kindsAt(v), bytesAt(v), bloomsAt(v))
  }

  /** Add a column — a METADATA-ONLY commit (Iceberg's add-column
    * contract: no data file is touched): the committed schema gains
    * the field, dirs that predate it read back null, and
    * `defaultSql` (a SQL literal, e.g. "'pending'") fills those
    * nulls on every read until writes materialize it. Subsequent
    * commits conform automatically: a caller frame without the new
    * column gets the default written in.
    */
  def evolveSchema(name: String, sqlType: String,
                   defaultSql: Option[String] = None): Unit = {
    val cur = requireVersion
    val sch = schemaAt(cur)
    require(!sch.fieldNames.contains(name),
      s"evolveSchema: column '$name' already exists")
    val widened = StructType.fromDDL(s"${sch.toDDL}, `$name` $sqlType")
    // the column exists from version cur+1 onward: dirs whose embedded
    // write version is < cur+1 predate it and get the default on read;
    // dirs written by later commits store the column physically
    writeVersion(cur + 1, widened.toDDL, partColAt(cur), entriesAt(cur),
      defaultsAt(cur) ++ defaultSql.map(d => name -> (d, cur + 1)),
      statsAt(cur), dvsAt(cur), strStatsAt(cur),
      dblStatsAt(cur), kindsAt(cur), bytesAt(cur), bloomsAt(cur))
  }

  /** An empty DataFrame with the table's committed schema (safe to
    * unionByName against any read of this table).
    */
  private def emptyLike(): DataFrame = spark.createDataFrame(
    spark.sparkContext.emptyRDD[Row], schemaAt(requireVersion))

  /** Pruned read over CURRENT-SPEC dirs only — the mutation paths'
    * base read. Legacy dirs are handled explicitly by migration;
    * using the legacy-inclusive [[readWhere]] here would double-count
    * their rows into a commit.
    */
  private def readSpec(values: Set[String]): DataFrame = {
    val spec = currentPartCol
    val dirs = currentEntriesOrEmpty
      .filter(e => e.pcol == spec && values.contains(e.value))
      .map(e => s"$root/${e.dir}")
    if (dirs.isEmpty) emptyLike()
    else readConformed(requireVersion, dirs)
  }

  /** Legacy dirs containing at least one row `mark` keeps (for
    * upsert/merge that is a KEY semi-join — a dir migrates because a
    * touched key lives there, never because it merely shares a
    * partition value), found by one scan of legacy data only (shrinks
    * as migration proceeds; the scan goes through [[GraftFileIndex]],
    * so pushable key predicates in `mark` prune legacy dirs by their
    * zone maps too). Returns (their entries, ALL rows of
    * those dirs) — migration rewrites whole dirs, so unrelated rows
    * ride along.
    */
  private def legacyTouching(mark: DataFrame => DataFrame)
      : (Seq[Entry], DataFrame) = {
    val spec = currentPartCol
    val legacy = currentEntriesOrEmpty.filter(_.pcol != spec)
    if (legacy.isEmpty) return (Seq.empty, emptyLike())
    val hitFiles = mark(
      readConformed(requireVersion, legacy.map(e => s"$root/${e.dir}"))
        .withColumn("__f", input_file_name()))
      .select("__f").distinct().collect().map(_.getString(0))
    // input_file_name() returns a URI-encoded path (space -> %20,
    // etc.) while manifest dir names are the raw on-disk names; a
    // value that URI-encodes differently (space passes the
    // escapePathName guard but not URI encoding) would never
    // substring-match and its legacy dir would silently skip
    // migration, duplicating keys. Decode back to the filesystem path
    // before comparing (URI.getPath exactly reverses the encoding and
    // leaves literal %XX from escapePathName'd dir names intact).
    val hitPaths = hitFiles.map { f =>
      try new java.net.URI(f).getPath catch { case _: Exception => f }
    }
    val hit = legacy.filter(e => hitPaths.exists(_.contains(s"/${e.dir}/")))
    if (hit.isEmpty) (Seq.empty, emptyLike())
    else (hit, readConformed(requireVersion,
      hit.map(e => s"$root/${e.dir}")))
  }

  /** Create or fully replace the table (every partition rewritten,
    * legacy dirs dropped — a full rewrite is also a full migration).
    * No copy of `df` is taken (it can be the whole table): the stage
    * write is its one evaluation, and the touched partitions come
    * from the stage listing.
    */
  override def overwrite(df: DataFrame): Unit =
    commit(df, None, Seq.empty, resetSchema = true)

  /** Append rows: only the partitions the batch lands in are
    * rewritten (existing rows of those partitions union the batch).
    * Needs no legacy migration — appends never replace keys, and
    * reads union legacy dirs regardless.
    */
  override def append(df0: DataFrame): Unit =
    if (!exists) overwrite(df0)
    else evaluatedOnce(conformInput(df0)) { df =>
      val touched = touchedValues(df)
      commit(readSpec(touched).unionByName(df), Some(touched),
        currentEntriesOrEmpty, narrowRead = true)
    }

  /** Wholesale partition replacement — ONE commit that makes the
    * named current-spec partitions' content equal `rows` (a value in
    * `values` contributing no rows is dropped from the manifest; a
    * partition value appearing in `rows` but not in `values` is
    * replaced too — `touchedValues` over `rows` catches it, so the
    * committed scope always covers the staged data), carrying every
    * other partition by reference. The partition-ALIGNED maintenance
    * reconcile (r15, guide §1.2; IncrementalInvertedIndex's partials
    * tier): the caller already KNOWS which partitions are superseded
    * and has their full replacement content in hand, so the
    * declarative [[mergeSync]] route — two full table reads, a
    * keyed full-outer diff with row hashing, two driver collects —
    * re-derives information the caller started with, at a cost that
    * grows with TABLE size instead of delta size. No diff, no read
    * of superseded data at all: `rows` is evaluated once, and its
    * copy feeds the touched values and the stage write. Refuses
    * tables with legacy-spec dirs (replacement scope is defined in
    * current-spec values; legacy rows would silently survive
    * alongside the replacement).
    */
  def replacePartitions(values: Set[String], rows: DataFrame): Unit =
    if (!exists) overwrite(rows)
    else {
      require(currentEntriesOrEmpty.forall(_.pcol == currentPartCol),
        s"replacePartitions: $root has legacy-spec dirs — wholesale " +
          "replacement is defined over current-spec values only; " +
          "compact() first or use mergeSync")
      // narrowRead: like append, the commit's affected scope IS the
      // touched partitions, so an entry-disjoint winner can rebase
      evaluatedOnce(conformInput(rows)) { data =>
        commit(data, Some(values ++ touchedValues(data)),
          currentEntriesOrEmpty, narrowRead = true)
      }
    }

  /** PK upsert (J7): incoming rows replace same-key rows; untouched
    * PARTITIONS (not just rows) are carried by reference. On an
    * evolved table, legacy dirs holding touched keys are migrated
    * whole to the current spec in the same commit (their unrelated
    * rows ride along — progressive migration, never key duplication).
    *
    * `updates0` is evaluated once ([[evaluatedOnce]]): the touched
    * values, the legacy key semi-join, the key side of the anti-join
    * and the union all read one copy of it, freed after the commit
    * publishes or aborts. A caller that derives its updates from a
    * read of this table pays that read once per commit.
    *
    * Concurrency: losing a version race to an entry-disjoint winner
    * REBASES when the winner's new content provably carries none of
    * this upsert's keys (the [[commit]] keyProbe — one semi-join over
    * only the winner's delta dirs); interleaved upserts on different
    * partitions therefore both land, while a same-partition or
    * same-key race still aborts loudly.
    */
  override def upsert(updates0: DataFrame, keys: Seq[String]): Unit =
    if (!exists) overwrite(updates0)
    else evaluatedOnce(conformInput(updates0)) { updates =>
      val updKeys = updates.select(keys.map(col): _*)
      val touched0 = touchedValues(updates)
      val (mig, migRows) =
        legacyTouching(_.join(updKeys, keys, "left_semi"))
      val touched = touched0 ++ touchedValues(migRows)
      commit(
        readSpec(touched).unionByName(migRows)
          .join(updKeys, keys, "left_anti")
          .unionByName(updates),
        Some(touched), currentEntriesOrEmpty.filterNot(mig.contains),
        keyProbe = Some(keyDisjointProbe(keys)))
    }

  /** keyProbe body shared by the key-scoped mutators: true iff the
    * winner's new-content dirs hold NO row matching this commit's
    * keys. Reads only the delta dirs (raw, ignoring any winner DVs —
    * a DV only removes rows, so reading through it could only make
    * this check PASS more often; ignoring it is the conservative
    * side).
    *
    * The key set is read from the commit's STAGED parquet
    * (`stagedPath`), never by re-evaluating the caller's input plan:
    * the probe fires AFTER a winner committed, and a read-modify-
    * write input (updates derived from this very table) or a
    * nondeterministic one would re-evaluate against the winner's
    * state and could probe a different key set than the one actually
    * staged — letting a rebase pass on the wrong keys (r13 advice).
    * The staged keys are a SUPERSET of the mutator's own keys (the
    * staged data is the touched partitions' full post-image), so the
    * probe is conservative: it can only refuse more rebases, never
    * admit one the exact key set would refuse. Delete-op keys
    * (mergeApply) are absent from the staged image, but by the
    * never-rewrites-the-partition-column contract they live in
    * TOUCHED partitions, where entry disjointness already refuses
    * any winner overlap. Costs nothing off the race path: the staged
    * files are only opened when a probe actually runs.
    */
  private def keyDisjointProbe(keys: Seq[String])
      (delta: Seq[Entry], stagedPath: String): Boolean =
    readConformed(requireVersion, delta.map(e => s"$root/${e.dir}"))
      .join(spark.read.parquet(stagedPath).select(keys.map(col): _*),
        keys, "left_semi")
      .isEmpty

  /** Targeted column update: partitions containing matching rows are
    * found first (pruned scan), then only those are rewritten; legacy
    * dirs with matching rows migrate to the current spec.
    */
  override def updateWhere(pred: Column,
                           sets: Map[String, Column]): Unit = {
    val (mig, migRows) = tphase("uw legacyTouching")(
      legacyTouching(_.filter(pred)))
    val touched = tphase("uw touchedValues")(
      touchedValues(read().filter(pred))) ++
      tphase("uw touchedValues mig")(touchedValues(migRows))
    if (touched.nonEmpty) {
      val updated = sets.foldLeft(
        readSpec(touched).unionByName(migRows)) {
        case (df, (name, value)) =>
          df.withColumn(name, when(pred, value).otherwise(col(name)))
      }
      commit(updated, Some(touched),
        currentEntriesOrEmpty.filterNot(mig.contains))
    }
  }

  /** Anti-delete: only partitions containing matching rows are
    * rewritten; a partition deleted empty leaves the manifest; legacy
    * dirs with matching rows migrate to the current spec.
    */
  override def deleteWhere(pred: Column): Unit = {
    val (mig, migRows) = legacyTouching(_.filter(pred))
    val touched = touchedValues(read().filter(pred)) ++
      touchedValues(migRows)
    if (touched.nonEmpty)
      commit(readSpec(touched).unionByName(migRows).filter(!pred),
        Some(touched), currentEntriesOrEmpty.filterNot(mig.contains))
  }

  /** Single-commit CDC apply — MERGE INTO semantics over an ops log:
    * `ops` carries the table's columns plus `opCol` ∈ {'I','U','D'}.
    * Inserts and updates land as a PK upsert, deletes drop their
    * keys, and ALL of it commits as ONE version — the shape a
    * downstream consumer of [[changedSince]] (or any Debezium-style
    * feed) replays a batch with, where upsert-then-delete as two
    * commits would publish a state no upstream transaction ever held.
    * Only partitions containing op rows are rewritten (delete rows
    * must carry their partition value — the same never-rewrites-the-
    * partition-column contract as [[upsert]]). A batch with two ops
    * for one key has no defined order and fails loudly (the probe is
    * a limit-1 existence job, not a full count); callers consolidate
    * to final-state-per-key first (the q126 latest-per-key device).
    * `ops0` is evaluated once: the duplicate check, touched values,
    * key sides and staged rows all read one copy of it.
    */
  def mergeApply(ops0: DataFrame, keys: Seq[String],
                 opCol: String = "op"): Unit = evaluatedOnce(ops0) { ops =>
    val dup = ops.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1)
      .limit(1).count()
    require(dup == 0,
      s"mergeApply: multiple ops for one key — consolidate the batch " +
        s"to final state per key before applying")
    val data = conformInput(ops.filter(col(opCol) =!= "D").drop(opCol))
    if (!exists) overwrite(data)
    else {
      val touched0 = touchedValues(ops)
      val touchedKeys = ops.select(keys.map(col): _*)
      val (mig, migRows) = legacyTouching(
        _.join(touchedKeys, keys, "left_semi"))
      val touched = touched0 ++ touchedValues(migRows)
      commit(
        readSpec(touched).unionByName(migRows)
          .join(touchedKeys, keys, "left_anti")
          .unionByName(data),
        Some(touched), currentEntriesOrEmpty.filterNot(mig.contains),
        // same key-scoped result as upsert (I/U/D all key-addressed):
        // rebase past an entry-disjoint winner whose new content holds
        // none of this batch's keys
        keyProbe = Some(keyDisjointProbe(keys)))
    }
  }

  /** Declarative reconcile — make the table's content EQUAL `source`
    * in one commit (the "sync from system-of-record" op; q218's
    * mergeApply replays an ops LOG, this derives the ops itself).
    * Inserts, updates (any column differing) and deletes are detected
    * by a keyed full-outer diff; only partitions containing a change
    * are rewritten, unchanged partitions (and unchanged legacy dirs)
    * carry by reference; legacy dirs holding changed keys migrate
    * (the [[upsert]] rule). Returns (inserted, updated, deleted).
    * Same contract as upsert: a key's partition value never changes.
    */
  def mergeSync(source0: DataFrame,
                keys: Seq[String]): (Long, Long, Long) =
    mergeSyncImpl(source0, keys, None)

  /** [[mergeSync]] with the keyed diff RESTRICTED to the named
    * partitions — the partition-aligned maintenance fast path (r15,
    * guide §1.2/§2.3: don't hash and join rows that cannot have
    * changed). Callers like [[IncrementalRollup]] build their source
    * as `table.read().filter(untouched).unionByName(fresh)`: outside
    * `values` the source rows ARE the table's rows by construction,
    * so diffing them is pure overhead that grows with TABLE size
    * instead of delta size. Here both diff sides restrict to
    * `values` — the table side through manifest pruning
    * ([[readWhere]], so untouched dirs are never even listed) — and
    * the I/U/D counts, touched set and committed content are
    * IDENTICAL to the unrestricted form exactly when the caller's
    * assertion holds. Refuses tables with legacy-spec dirs (their
    * rows cannot be partition-pruned, so the assertion is
    * unverifiable); those callers use plain [[mergeSync]].
    */
  def mergeSyncInPartitions(values: Set[String], source0: DataFrame,
                            keys: Seq[String]): (Long, Long, Long) = {
    require(currentEntriesOrEmpty.forall(_.pcol == currentPartCol),
      s"mergeSyncInPartitions: $root has legacy-spec dirs — the " +
        "partition-scoped diff cannot prove them unchanged; use " +
        "mergeSync")
    mergeSyncImpl(source0, keys, Some(values))
  }

  private def mergeSyncImpl(source0: DataFrame, keys: Seq[String],
                            scope: Option[Set[String]])
      : (Long, Long, Long) = {
    if (!exists) { overwrite(source0); return (source0.count(), 0L, 0L) }
    val source = conformInput(source0)
    val cols = read().columns.sorted.toSeq
    // 64-bit row hash: at billions of changed keys a 32-bit hash
    // WOULD silently miss ~n/2^32 updates; 64-bit pushes that past
    // any realistic sync volume
    def hashed(df: DataFrame, tag: String) =
      df.select(keys.map(col) :+
        col(currentPartCol).cast("string").as(s"__v_$tag") :+
        xxhash64(cols.map(col): _*).as(s"__h_$tag"): _*)
    val (srcSide, tgtSide) = scope match {
      case Some(vs) =>
        (source.filter(col(currentPartCol).cast("string")
          .isInCollection(vs.toSeq)), readWhere(vs.contains))
      case None => (source, read())
    }
    val diff0 = hashed(srcSide, "s")
      .join(hashed(tgtSide, "t"), keys, "full_outer")
      .withColumn("__st",
        when(col("__h_t").isNull, "I")
          .when(col("__h_s").isNull, "D")
          .when(col("__h_s") =!= col("__h_t"), "U"))
      .filter(col("__st").isNotNull)
    evaluatedOnce(diff0) { diff => // changed keys only; reused 3×
      val counts = diff.groupBy("__st").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      if (counts.nonEmpty) {
        val touched0 = diff
          .select(coalesce(col("__v_s"), col("__v_t")).as("v"))
          .distinct().collect().map(_.getString(0)).toSet
        val changedKeys = diff.select(keys.map(col): _*)
        val (mig, migRows) = legacyTouching(
          _.join(changedKeys, keys, "left_semi"))
        val touched = touched0 ++ touchedValues(migRows)
        // keys that stay behind in NON-migrated legacy dirs are
        // unchanged by construction (their dirs held no changed key) —
        // exclude them from the rewritten partitions so they aren't
        // duplicated
        val specR = currentPartCol
        val remain = currentEntriesOrEmpty
          .filter(e => e.pcol != specR && !mig.contains(e))
        val remainKeys =
          if (remain.isEmpty) emptyLike().select(keys.map(col): _*)
          else readConformed(requireVersion,
            remain.map(e => s"$root/${e.dir}")).select(keys.map(col): _*)
        commit(
          source.filter(col(currentPartCol).cast("string")
              .isInCollection(touched.toSeq))
            .join(remainKeys, keys, "left_anti"),
          Some(touched), currentEntriesOrEmpty.filterNot(mig.contains))
      }
      (counts.getOrElse("I", 0L), counts.getOrElse("U", 0L),
        counts.getOrElse("D", 0L))
    }
  }

  /** Compact the selected partitions: rewrite each as a single task's
    * output (one file per partition dir), carrying everything else by
    * reference. The small-file antidote for long-lived tables — every
    * upsert rewrites whole partitions with the writer's parallelism,
    * so file counts grow with commit history; compaction is the same
    * commit path with a hash repartition on the partition column, so
    * each partition's rows land in exactly one task. Row content is
    * unchanged (a pure layout commit); old dirs become vacuumable.
    */
  def compact(partFilter: String => Boolean = _ => true,
              targetBytes: Long = 0L): Unit = {
    // compaction is also the full-migration vehicle: every remaining
    // legacy dir is rewritten under the current spec alongside the
    // selected partitions (one layout commit, row content unchanged)
    val spec0 = currentPartCol
    val legacy = currentEntriesOrEmpty.filter(_.pcol != spec0)
    val migRows =
      if (legacy.isEmpty) emptyLike()
      else readConformed(requireVersion,
        legacy.map(e => s"$root/${e.dir}"))
    val touched = manifest.keySet.filter(partFilter) ++
      touchedValues(migRows)
    if (touched.isEmpty) return
    val rows = readSpec(touched).unionByName(migRows)
    // With no target, one partition = one RDD partition = ~one file
    // (the small-file collapse). With targetBytes > 0, a partition's
    // manifest-recorded byte count sizes its FILE FAN-OUT — a 500 GB
    // partition must not become one 500 GB file: each row salts into
    // one of ceil(bytes / target) buckets (a deterministic full-row
    // hash — content decides placement, never execution order), and
    // the (partition, salt) repartition yields ~that many files per
    // dir. Approximate like Delta's OPTIMIZE bin-packing: hash-salt
    // balance and shuffle-partition co-residence can merge a bucket,
    // never split one, so file count per dir ∈ [1, ceil(b/target)].
    // Dirs without recorded bytes (pre-upgrade) collapse to 1.
    val shaped =
      if (targetBytes <= 0L) rows.repartition(col(currentPartCol))
      else {
        val cur = requireVersion
        val byt = bytesAt(cur)
        import spark.implicits._
        // current-spec entries ONLY: a legacy entry whose value string
        // collides with a live partition value would duplicate the
        // __pv join key and double every matching row in the rewrite.
        // Legacy rows joining to no key fall to the coalesce(1) arm.
        val nfSeq = entriesAt(cur)
          .filter(_.pcol == spec0)
          .map(e => e.value -> math.max(1L, math.ceil(
            byt.getOrElse(e.dir, 0L).toDouble / targetBytes).toLong))
        val nf = nfSeq.toDF("__pv", "__nf")
        val dataCols = rows.columns.map(col)
        // EXPLICIT partition count (AQE coalesces a keys-only
        // repartition of small data back to one partition, which
        // would undo the fan-out): the total requested file count IS
        // the right shuffle width for the rewrite
        val width = math.min(math.max(32L, nfSeq.map(_._2).sum),
          1000000L).toInt
        rows.join(broadcast(nf),
            col(currentPartCol).cast("string") === col("__pv"), "left")
          .withColumn("__salt",
            pmod(xxhash64(dataCols: _*), coalesce(col("__nf"), lit(1L))))
          .repartition(width, col(currentPartCol), col("__salt"))
          .drop("__pv", "__nf", "__salt")
      }
    commit(shaped, Some(touched),
      currentEntriesOrEmpty.filterNot(legacy.contains),
      narrowRead = true)
  }

  /** OPTIMIZE ZORDER BY for an EXISTING table (q285 demonstrates the
    * layout's pruning win on fresh tables; this migrates one in
    * place): derive a [[graft.functions.ZOrder]] prefix cell from two
    * numeric columns, evolve the schema and partition spec to it
    * (both metadata-only commits), then rewrite the data ONCE under
    * the new layout — after which a bbox filter on (x, y) prunes to
    * the quadtree tiles the box intersects instead of opening every
    * ingest-keyed dir. Three commits total, one data job; every prior
    * version stays time-travelable in its old shape.
    *
    * Rows where either coordinate is NULL land in sentinel cell -1
    * (a partition value must be non-null); zone maps on the
    * coordinate columns, declared via statsColumns, are recomputed
    * per new cell dir by the rewrite commit, which is what makes the
    * layout prune.
    */
  def zOrderRelayout(xCol: String, yCol: String, bits: Int,
                     cellCol: String = "z_cell"): Unit = {
    val sch = schemaAt(requireVersion)
    require(sch.fieldNames.contains(xCol) &&
      sch.fieldNames.contains(yCol),
      s"zOrderRelayout: columns '$xCol'/'$yCol' not in schema")
    require(!sch.fieldNames.contains(cellCol),
      s"zOrderRelayout: cell column '$cellCol' already exists")
    // NaN is a sentinel like NULL, not data: Spark's max() ranks NaN
    // above every double, so one NaN row would make the global bounds
    // NaN, every norm16 NaN, and cast-to-long place all rows in cell 0
    // with NaN zone-map bounds. Mask NaN out of the bounds aggregate
    // and route NaN rows to the -1 cell with the NULLs.
    def finite(c: String) = {
      val d = col(c).cast("double")
      when(isnan(d), lit(null)).otherwise(d)
    }
    val b = read().agg(
      min(finite(xCol)), max(finite(xCol)),
      min(finite(yCol)), max(finite(yCol)))
      .collect()(0)
    require(!b.anyNull,
      s"zOrderRelayout: '$xCol'/'$yCol' have no finite values")
    val cell = when(col(xCol).isNull || col(yCol).isNull ||
        isnan(col(xCol).cast("double")) ||
        isnan(col(yCol).cast("double")), lit(-1L))
      .otherwise(graft.functions.ZOrder.zCell(
        col(xCol), col(yCol),
        lit(b.getDouble(0)), lit(b.getDouble(1)),
        lit(b.getDouble(2)), lit(b.getDouble(3)), bits))
    evolveSchema(cellCol, "BIGINT")
    evolvePartitioning(cellCol)
    // the one data job: every row rewritten under its cell; carried
    // is empty because every pre-relayout entry (now legacy under the
    // old spec) is superseded by this commit, whose touched cells are
    // the ones the stage listing holds
    commit(read().withColumn(cellCol, cell), None, Seq.empty)
  }

  /** Drop every `w_*` dir and `v_*.json` no longer reachable from the
    * current manifest; shared dirs it still references survive.
    */
  /** The PROTECTED versions — current, every tagged version that
    * still has a manifest, and (when `minAgeMillis` > 0) every
    * version whose manifest is YOUNGER than the retention horizon —
    * and the disk footprint they pin. The age guard is the
    * concurrent-reader grace period (Delta's
    * `deletedFileRetentionDuration` analogue): a reader that resolved
    * its manifest just before a new commit is still streaming that
    * version's files; reclaiming them out from under it turns a
    * consistent snapshot read into FileNotFound mid-job. A version
    * older than the horizon has had minAge for any in-flight reader
    * to drain, so reclaiming it is safe for any reader whose job
    * runtime is bounded by the horizon.
    */
  private def protectedState(cur: Int, minAgeMillis: Long = 0L)
      : (Set[Int], Set[String], Set[String]) = {
    val anchored = (tags.values.toSet + cur).filter(v =>
      Files.exists(Paths.get(root, f"v_$v%06d.json")))
    val young: Set[Int] =
      if (minAgeMillis <= 0L) Set.empty
      else {
        val horizon = System.currentTimeMillis() - minAgeMillis
        val listing = Files.list(Paths.get(root))
        try listing.iterator().asScala
          .filter(p => p.getFileName.toString.matches("v_\\d{6}\\.json"))
          .filter(p => Files.getLastModifiedTime(p).toMillis > horizon)
          .map(_.getFileName.toString.stripPrefix("v_")
            .stripSuffix(".json").toInt)
          .toSet
        finally listing.close()
      }
    val versions = anchored ++ young
    val dirs = versions.flatMap(v =>
      entriesAt(v).map(_.dir.split('/').head))
    val dvFiles = versions.flatMap(v =>
      dvsAt(v).values.flatten.map(_.stripPrefix("dv/")))
    (versions, dirs, dvFiles)
  }

  /** What [[vacuum]] WOULD reclaim, without touching anything — the
    * pre-flight health check (a crashed writer's claimed-but-
    * unreferenced data dir, an interrupted stage, superseded
    * manifests, materialized deletion vectors). Returns
    * (data dirs, manifests, stage dirs, dv files).
    */
  def orphanReport: (Long, Long, Long, Long) =
    currentVersion.map { cur =>
      val (versions, live, liveDv) = protectedState(cur)
      val entries = {
        val listing = Files.list(Paths.get(root))
        try listing.iterator().asScala.toSeq finally listing.close()
      }
      var (dd, dm, ds) = (0L, 0L, 0L)
      entries.foreach { p =>
        val n = p.getFileName.toString
        // only OUR manifest names (v_NNNNNN.json) parse — a foreign
        // file like v_backup.json must be left untouched, not crash
        // the audit on toInt
        if (n.startsWith("w_") && !live.contains(n)) dd += 1
        else if (n.matches("v_\\d{6}\\.json") &&
          !versions.contains(n.stripPrefix("v_").stripSuffix(".json")
            .toInt)) dm += 1
        else if (n.startsWith("_stage_")) ds += 1
      }
      val dvDir = Paths.get(root, "dv")
      val dvDead =
        if (!Files.exists(dvDir)) 0L
        else {
          val listing = Files.list(dvDir)
          try listing.iterator().asScala
            .count(p => !liveDv.contains(p.getFileName.toString)).toLong
          finally listing.close()
        }
      (dd, dm, ds, dvDead)
    }.getOrElse((0L, 0L, 0L, 0L))

  override def vacuum(): Unit = vacuum(0L)

  /** [[vacuum]] with a concurrent-reader grace period: versions whose
    * manifest is younger than `minAgeMillis` are NOT reclaimed (their
    * manifests, data dirs and deletion vectors all survive), and
    * neither are `_stage_` dirs younger than the horizon — a young
    * stage dir may be an IN-FLIGHT writer's parquet job, not a crash
    * leftover. `minAgeMillis = 0` is the test-friendly immediate
    * reclaim; production callers pass their max expected reader/job
    * runtime (Delta defaults the analogous knob to 7 days).
    */
  def vacuum(minAgeMillis: Long): Unit = currentVersion.foreach { cur =>
    // tagged versions are retention anchors: their manifests, data
    // dirs and deletion vectors survive vacuum until the tag drops
    val (versions, live, liveDv) = protectedState(cur, minAgeMillis)
    val horizon = System.currentTimeMillis() - minAgeMillis
    val entries = {
      val listing = Files.list(Paths.get(root))
      try listing.iterator().asScala.toSeq finally listing.close()
    }
    entries.foreach { p =>
      val n = p.getFileName.toString
      val deadData = n.startsWith("w_") && !live.contains(n)
      // strict v_NNNNNN.json match: a foreign v_*.json (backup, torn
      // copy) must never abort vacuum mid-delete on toInt — treat it
      // as not ours and leave it alone
      val deadManifest = n.matches("v_\\d{6}\\.json") &&
        !versions.contains(
          n.stripPrefix("v_").stripSuffix(".json").toInt)
      val deadStage = n.startsWith("_stage_") &&
        (minAgeMillis <= 0L ||
          Files.getLastModifiedTime(p).toMillis <= horizon)
      if (deadData || deadManifest || deadStage) CowTable.walkDelete(p)
    }
    val dvDir = Paths.get(root, "dv")
    if (Files.exists(dvDir)) {
      val listing = Files.list(dvDir)
      val children = try listing.iterator().asScala.toSeq
        finally listing.close()
      children.foreach { p =>
        if (!liveDv.contains(p.getFileName.toString))
          CowTable.walkDelete(p)
      }
    }
  }
}

object PartitionedCowTable {
  /** One manifest entry: the spec column the dir was written under,
    * its partition value, and the data dir relative to root.
    */
  private[sources] case class Entry(pcol: String, value: String,
                                    dir: String)

  def apply(root: String, partCol: String)
           (implicit spark: SparkSession): PartitionedCowTable =
    new PartitionedCowTable(root, partCol, spark)
}
