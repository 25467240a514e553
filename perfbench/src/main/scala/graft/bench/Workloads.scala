package graft.bench

import java.nio.file.{Files, Path, Paths}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.catalog.SceneCatalog
import graft.pipeline.{AuditLog, StepRunner}
import graft.pipeline.StepRunner.{SceneStep, StepResult}
import graft.sources.CowTable
import graft.streaming.IncrementalIngest

/** What one op returned: a digest of its rows, the row count, and the
  * result frame when it is dumped for the DuckDB oracle.
  */
final case class Outcome(digest: String, rows: Long,
                         result: Option[DataFrame] = None)

/** One operation of a pass. `check` returns a failure message or None;
  * `cleanup` runs after the check, outside the op's latency.
  */
final case class Op(name: String, kind: String, run: () => Outcome,
                    check: Outcome => Option[String],
                    cleanup: () => Unit = () => ())

/** A named workload: set-up into a fresh directory (repeated, the last
  * one kept), untimed check preparation, and a fixed sequence of ops
  * per pass.
  */
trait Workload {
  def setup(dir: String): Unit
  def prepare(): Unit = ()
  def pass(i: Int): Seq[Op]
  /** Names whose first result is dumped for the DuckDB oracle. */
  def oracle: Seq[String] = Nil
  /** Directory of the generated parquet inputs the oracle reads. */
  def dataDir: String = ""
  /** Whole-run checks after the timed phase. */
  def finish(passes: Int): Seq[String] = Nil
  /** Workload-only numbers: name → value, given the timed seconds. */
  def extras(timedS: Double, passes: Int): Map[String, Double] = Map.empty
}

/** Several workloads as one: set-ups in sub-directories, and each pass
  * runs every part's ops in order.
  */
final class Combined(parts: Seq[(String, Workload)]) extends Workload {
  def setup(dir: String): Unit = parts.foreach { case (n, w) => w.setup(s"$dir/$n") }
  override def prepare(): Unit = parts.foreach(_._2.prepare())
  def pass(i: Int): Seq[Op] = parts.flatMap(_._2.pass(i))
  override def finish(passes: Int): Seq[String] = parts.flatMap(_._2.finish(passes))
  override def extras(timedS: Double, passes: Int): Map[String, Double] =
    parts.map(_._2.extras(timedS, passes)).reduce(_ ++ _)
}

object Workloads {
  /** `catalog` and `pairs` are the benchmark's workloads; the two halves
    * of `catalog` can also run on their own.
    */
  val names: Seq[String] = Seq("catalog", "pairs", "catalog-read", "catalog-monitor")

  def apply(name: String, spark: SparkSession, rec: Recorder,
            seed: Long): Workload = name match {
    case "catalog" => new Combined(Seq(
      "read" -> new CatalogRead(spark, rec, seed),
      "monitor" -> new CatalogMonitor(spark, rec, seed)))
    case "catalog-read" => new CatalogRead(spark, rec, seed)
    case "catalog-monitor" => new CatalogMonitor(spark, rec, seed)
    case "pairs" => new Pairs(spark, rec, seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: ${names.mkString(", ")})")
  }

  def collect(df: DataFrame): Outcome = {
    val rows = df.collect()
    Outcome(Digest.of(rows), rows.length.toLong)
  }

  def deleteRec(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(f => Files.deleteIfExists(f))
    finally walk.close()
  }

  /** First digest per name wins; later runs must repeat it. */
  final class Repeatable {
    private val seen = scala.collection.mutable.Map.empty[String, String]
    def check(name: String)(o: Outcome): Option[String] =
      seen.get(name) match {
        case None => seen(name) = o.digest; None
        case Some(d) if d == o.digest => None
        case Some(d) => Some(s"$name: digest ${o.digest} != first run's $d")
      }
  }
}

/** Catalogue reads with no commits: one class of call is pruned to the
  * partitions of a date range, the other scans the whole table. Every
  * call is checked against the same call over an unpartitioned
  * [[CowTable]] copy.
  */
final class CatalogRead(spark: SparkSession, rec: Recorder, seed: Long)
    extends Workload {
  import spark.implicits._
  private val nScenes = 3000
  private val days = 24
  private val sc = Gen.scenes(seed, Gen.orderRows(seed, nScenes, 1000, days), Gen.Mixed)
  private var table: TimedTable = _
  private var cat: SceneCatalog = _
  private var dir: String = _
  private var expected = Map.empty[Int, String]

  private type Call = (String, String, SceneCatalog => DataFrame)

  private val calls: IndexedSeq[Call] = {
    val r = new Random(seed * 31 + 7)
    def day(d: Int) = Gen.Day0.plusDays(d.toLong).toString
    def window(n: Int) = { val s = r.nextInt(days - n); (day(s + n - 1), day(s)) }
    def box(h: Double, w: Double) = {
      val (s, west) = (-60 + r.nextDouble() * (130 - h), -170 + r.nextDouble() * (340 - w))
      (s + h, s, west + w, west)
    }
    val (a, b) = window(5)
    val cloud = 20.0 + r.nextInt(40)
    val (a2, b2) = window(7)
    val (n, s, e, w) = box(60, 120)
    val pruned: Seq[Call] = Seq(
      ("scenesForDateRange", "pruned", _.scenesForDateRange(a, b, Some(cloud))),
      ("scenesForDateRangeBBox", "pruned", _.scenesForDateRangeBBox(a2, b2, n, s, e, w)))
    val pid = sc(r.nextInt(sc.size)).PID
    val id = sc(r.nextInt(sc.size)).Scene_ID
    val lookups: Seq[Call] = Seq(
      ("sceneByPid", "lookup", _.sceneByPid(pid)),
      ("sceneBySceneId", "lookup", _.sceneBySceneId(id)))
    val off = r.nextInt(nScenes - 100)
    val (n2, s2, e2, w2) = box(30, 60)
    val full: Seq[Call] = Seq(
      ("scenesPage", "fullscan", _.scenesPage(off, 50)),
      ("scenesIntersectBBox", "fullscan", _.scenesIntersectBBox(n2, s2, e2, w2)),
      ("scnlistNeedArd", "fullscan", _.scnlistNeedArd()),
      ("stateSummary", "fullscan", _.stateSummary()))
    r.shuffle(pruned ++ lookups ++ full).toIndexedSeq
  }

  def setup(d: String): Unit = {
    dir = d
    table = new TimedTable(s"$d/scenes", "Date_Acquired", spark, rec)
    table.overwrite(sc.toDF())
    cat = new SceneCatalog(table, spark)
  }

  override def prepare(): Unit = {
    val ref = new CowTable(s"$dir/reference", spark)
    ref.overwrite(sc.toDF())
    val rc = new SceneCatalog(ref, spark)
    expected = calls.indices.map(i => i -> Workloads.collect(calls(i)._3(rc)).digest).toMap
  }

  def pass(i: Int): Seq[Op] = calls.indices.map { j =>
    val (name, kind, f) = calls(j)
    Op(s"catalog.$name", kind,
      () => { val o = Workloads.collect(f(cat)); table.harvest(); o },
      o => if (o.digest == expected(j)) None
        else Some(s"call $j $name: digest ${o.digest} != unpartitioned ${expected(j)}"))
  }
}

/** The seeded failure rule of the monitored steps. Step `idx` of a
  * scene fails on its first `fails(pid, idx)` attempts (0, 1 or 2), so
  * the tick at which each step succeeds has a closed form.
  */
final case class FailureRule(seed: Long, firstNew: Long, perTick: Int) {
  def t0(pid: Long): Int = ((pid - firstNew) / perTick).toInt
  def fails(pid: Long, idx: Int): Int = {
    val h = scala.util.hashing.MurmurHash3.seqHash(Seq(seed, pid, idx.toLong))
    val u = Math.floorMod(h, 10)
    if (u < 6) 0 else if (u < 9) 1 else 2
  }
  /** Tick at which step `idx` succeeds (ticks count from 0). */
  def done(pid: Long, idx: Int): Int =
    t0(pid) + (0 to idx).map(fails(pid, _)).sum
  /** Tick from which the scene is on step `idx`'s work-list. */
  def from(pid: Long, idx: Int): Int = if (idx == 0) t0(pid) else done(pid, idx - 1)
}

/** One processing step whose outcome follows [[FailureRule]]: the
  * attempt number is the tick minus the tick the scene joined the
  * step's work-list.
  */
final case class RuleStep(name: String, flag: String, idx: Int,
                          rule: FailureRule, tick: Int) extends SceneStep {
  def workList(cat: SceneCatalog): DataFrame = idx match {
    case 0 => cat.scnlistNeedDownload()
    case 1 => cat.scnlistNeedArd()
    case _ => cat.scnlistNeedDcload()
  }
  def process(pid: Long): StepResult =
    StepResult(pid, tick - rule.from(pid, idx) >= rule.fails(pid, idx), "")
  def onSuccess: Map[String, org.apache.spark.sql.Column] = Map(flag -> lit(true))
}

/** Monitoring ticks as micro-batches over a catalogue of processed
  * scenes. Each tick a file of newly found scenes lands in an input
  * directory: scenes dated after the watermark, plus replays of the last
  * tick's scenes, which the key anti-join must drop. A streaming query
  * drains it with `foreachBatch`: ingest, download → ARD → DCLoad, and
  * one audit row. This is `MonitorLoop.stream` with the body of
  * `MonitorLoop.tick` called layer by layer, so each layer gets a span.
  */
final class CatalogMonitor(spark: SparkSession, rec: Recorder, seed: Long)
    extends Workload {
  import spark.implicits._
  private val nOld = 800
  private val days = 8
  private val perTick = 24
  private val replays = 8
  private val rule = FailureRule(seed, nOld.toLong, perTick)
  private val steps = Seq(("download", "Downloaded"), ("ard", "ARDProduct"),
    ("dcload", "DCLoaded"))
  private var dir: String = _
  private var table: TimedTable = _
  private var cat: SceneCatalog = _
  private var audit: AuditLog = _
  private var ticks = 0

  def setup(d: String): Unit = {
    dir = d
    val os = Gen.orderRows(seed, nOld, 1000, days)
    table = new TimedTable(s"$d/scenes", "Date_Acquired", spark, rec)
    table.overwrite(Gen.scenes(seed, os, Gen.Processed).toDF())
    cat = new SceneCatalog(table, spark)
    audit = new AuditLog(s"$d/audit", spark)
    Files.createDirectories(Paths.get(s"$d/incoming"))
  }

  private def newPids(k: Int): Seq[Long] =
    (0 until perTick).map(i => nOld.toLong + k.toLong * perTick + i)

  /** Tick k's new scenes: two new acquisition days past the watermark. */
  private def fresh(k: Int) = Gen.scenes(seed * 7919 + k, newPids(k).map { p =>
    Gen.Order(p, p % 1000, days + 2 * k + (p % 2).toInt, 0.0)
  }, Gen.Fresh)

  /** Writes tick k's input file, with mtimes increasing by tick so the
    * file source admits it after every earlier one.
    */
  private def land(k: Int): Unit = {
    val stage = s"$dir/stage/$k"
    (fresh(k) ++ (if (k > 0) fresh(k - 1).take(replays) else Nil)).toDF()
      .coalesce(1).write.parquet(stage)
    val walk = Files.list(Paths.get(stage))
    val part = try walk.filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get() finally walk.close()
    val target = Paths.get(f"$dir/incoming/tick$k%05d.parquet")
    Files.move(part, target)
    Files.setLastModifiedTime(target,
      java.nio.file.attribute.FileTime.fromMillis(1600000000000L + k * 60000L))
    Workloads.deleteRec(Paths.get(stage))
  }

  /** (processed, succeeded) each step should report at tick k. */
  private def expectedAt(k: Int): Seq[(Long, Long)] = {
    val pids = (0 to k).flatMap(newPids)
    steps.indices.map { s =>
      val on = pids.filter(p => rule.from(p, s) <= k && rule.done(p, s) >= k)
      (on.size.toLong, on.count(p => rule.done(p, s) == k).toLong)
    }
  }

  private def tick(k: Int, batch: DataFrame): Seq[(Long, Long)] = {
    rec.span("ingest.ingestBatch", "ingest") {
      rec.currentSpan.attrs("rows_in") = (perTick + (if (k > 0) replays else 0)).toDouble
      IncrementalIngest.ingestBatch(table, batch, Seq("PID"),
        Seq(col("Product_ID").desc))
      table.harvest()
    }
    val counts = steps.indices.map { s =>
      val (name, flag) = steps(s)
      rec.span(s"step.$name", "step") {
        val r = StepRunner.runStep(spark, cat, RuleStep(name, flag, s, rule, k), 4, None)
        table.harvest()
        rec.currentSpan.attrs("attempted") = r._1.toDouble
        rec.currentSpan.attrs("succeeded") = r._2.toDouble
        r
      }
    }
    rec.span("audit.append", "commit") {
      rec.currentSpan.attrs("rows_changed") = 1
      audit.append("monitor", s"tick=$k ${counts.mkString(" ")}")
    }
    counts
  }

  def pass(k: Int): Seq[Op] = {
    land(k)
    val counts = scala.collection.mutable.ArrayBuffer.empty[Seq[(Long, Long)]]
    Seq(Op("monitor.tick", "tick", () => {
      val q = spark.readStream.schema(graft.model.SensorSchemas.landsat.schema)
        .parquet(s"$dir/incoming")
        .writeStream.queryName(s"monitor_tick_$k")
        .foreachBatch { (batch: DataFrame, _: Long) => counts += tick(k, batch); () }
        .option("checkpointLocation", s"$dir/checkpoint")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      ticks = k + 1
      Outcome(counts.mkString(","), perTick.toLong)
    }, _ => {
      val want = expectedAt(k)
      if (counts == Seq(want)) None
      else Some(s"tick $k: micro-batches reported $counts, rule gives one of $want")
    }))
  }

  override def finish(passes: Int): Seq[String] = {
    val row = table.read().agg(count(lit(1)), countDistinct(col("PID")),
      countDistinct(col("Scene_ID"))).head()
    val n = nOld.toLong + ticks.toLong * perTick
    val news = (0 until ticks).flatMap(newPids)
    val last = ticks - 1
    val want = Seq(0, 1, 2).map(s => nOld + news.count(p => rule.done(p, s) <= last))
    val st = cat.stateSummary().head()
    val got = Seq("n_downloaded", "n_ard", "n_dcloaded")
      .map(c => st.getAs[Number](c).longValue())
    Seq(
      if (row.getLong(0) != n) Some(s"${row.getLong(0)} rows, expected $n (replays kept?)") else None,
      if (row.getLong(1) != row.getLong(0)) Some("PID is not unique") else None,
      if (row.getLong(2) != row.getLong(0)) Some("Scene_ID is not unique") else None,
      if (got != want.map(_.toLong)) Some(s"state counts $got, closed form $want") else None
    ).flatten
  }

  /** Scenes reaching DCLoaded during the timed ticks, per second. */
  override def extras(timedS: Double, passes: Int): Map[String, Double] = {
    val news = (0 until ticks).flatMap(newPids)
    val first = ticks - passes
    Map("scenes_per_s" ->
      news.count(p => rule.done(p, 2) >= first && rule.done(p, 2) < ticks) / timedS)
  }
}

/** Pair, graph and iterative queries from the registry, over generated
  * TPC-H-like inputs. They never touch the catalogue or a commit.
  */
final class Pairs(spark: SparkSession, rec: Recorder, seed: Long) extends Workload {
  private val names = Seq("q199_item_item_cf", "q59_embedding_dedup_groups",
    "q134_pagerank")
  private val queries = graft.SparkEntry.queries
  private val same = new Workloads.Repeatable
  private var data: String = _

  override def dataDir: String = data
  override def oracle: Seq[String] = names

  def setup(d: String): Unit = {
    data = s"$d/data"
    val os = Gen.orderRows(seed, 2400, 240, 2400)
    Gen.write(Gen.orders(spark, os), data, "orders")
    Gen.write(Gen.lineitem(spark, seed, os, 500), data, "lineitem")
    Gen.write(Gen.embeddings(spark, seed, 160), data, "embeddings")
  }

  def pass(i: Int): Seq[Op] = names.map { n =>
    Op(n, "query", () => {
      val df = queries(n)(spark, data)
      val o = Workloads.collect(df)
      if (rec.traced) rec.currentSpan.attrs("staged_b") =
        spark.sparkContext.getRDDStorageInfo.map(s => s.memSize + s.diskSize).sum.toDouble
      o.copy(result = Some(df))
    }, same.check(n), () =>
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true)))
  }
}
