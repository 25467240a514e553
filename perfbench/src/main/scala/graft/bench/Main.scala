package graft.bench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set-up (three times, the last kept),
  * an untimed warm pass, then whole passes of the workload's ops until
  * `--seconds` have passed, from a single client thread. Writes
  * `result.json` (and `trace.jsonl` when traced) under `--out`;
  * `perfbench/run.py` turns them into the reported metrics.
  *
  * Usage: graft.bench.Main --workload W --seed N --seconds S --trace 0|1 --out DIR
  */
object Main {
  final case class OpRec(name: String, kind: String, pass: Int, ms: Double,
                         cpuMs: Double, rows: Long, ok: Boolean)

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM (all threads), in nanoseconds. */
  def processCpuNs: Long = os.getProcessCpuTime

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val out = opt("out")
    val work = s"$out/work"
    require(Workloads.names.contains(workload), s"unknown workload $workload")

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.serializer.extraDebugInfo", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$out/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val readyMs = System.currentTimeMillis()
    val rec = new Recorder(spark, traced)
    val w = Workloads(workload, spark, rec, seed)

    def secs(f: => Unit): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9 }

    val setupS = (1 to 3).map(i => secs(w.setup(s"$work/setup$i")))
    (1 to 2).foreach(i => Workloads.deleteRec(Paths.get(s"$work/setup$i")))
    val prepareS = secs(w.prepare())

    val ops = mutable.ArrayBuffer.empty[OpRec]
    val failures = mutable.ArrayBuffer.empty[String]
    val dumped = mutable.LinkedHashMap.empty[String, String]

    /** Runs pass i; returns its op time and the process CPU time spent
      * during its ops, both in seconds.
      */
    def runPass(i: Int): (Double, Double) = {
      var (opMs, opCpuMs) = (0.0, 0.0)
      w.pass(i).foreach { op =>
        val (t, c) = (System.nanoTime(), processCpuNs)
        val res = try Right(rec.span(op.name, "op")(op.run()))
        catch { case e: Throwable => Left(e) }
        val ms = (System.nanoTime() - t) / 1e6
        val cpuMs = (processCpuNs - c) / 1e6
        opMs += ms
        opCpuMs += cpuMs
        val fail = res match {
          case Left(e) => Some(s"${op.name} threw $e")
          case Right(o) => op.check(o)
        }
        for (o <- res; df <- o.result if i == 0 && w.oracle.contains(op.name)
             && !dumped.contains(op.name)) {
          val p = s"$out/oracle/${op.name}"
          df.coalesce(1).write.parquet(p)
          dumped(op.name) = p
        }
        try op.cleanup() catch { case e: Throwable =>
          failures += s"${op.name} cleanup threw $e" }
        fail.foreach(failures += _)
        ops += OpRec(op.name, op.kind, i, ms, cpuMs, res.map(_.rows).getOrElse(0L),
          fail.isEmpty)
      }
      (opMs / 1000, opCpuMs / 1000)
    }

    rec.beginPhase("warm")
    val warmS = secs { runPass(0); () }
    rec.beginPhase("timed")
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val passes = mutable.ArrayBuffer.empty[(Double, Double)]
    val timedWallS = secs {
      while (System.nanoTime() < deadline) passes += runPass(passes.size + 1)
    }
    rec.drain()
    val timedS = passes.map(_._1).sum
    val layers = if (traced) Layers(rec, ops.filter(_.pass > 0).toSeq, passes.size, timedS)
      else Map.empty[String, Double]
    rec.beginPhase("finish")
    val finishS = secs {
      failures ++= (try w.finish(passes.size)
        catch { case e: Throwable => Seq(s"final check threw $e") })
    }

    val oracleSql = graft.SparkEntry.oracleSql
    val json = Json.obj(
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "app_id" -> spark.sparkContext.applicationId,
      "ready_epoch_ms" -> readyMs,
      "setup_reps_s" -> setupS, "prepare_s" -> prepareS, "warm_s" -> warmS,
      "passes_s" -> passes.toSeq.map(_._1), "passes_cpu_s" -> passes.toSeq.map(_._2),
      "timed_s" -> timedS, "timed_wall_s" -> timedWallS,
      "finish_s" -> finishS,
      "ops" -> ops.toSeq.map(o => Json.obj("name" -> o.name, "kind" -> o.kind,
        "pass" -> o.pass, "ms" -> o.ms, "cpu_ms" -> o.cpuMs, "rows" -> o.rows,
        "ok" -> o.ok)),
      "failures" -> failures.toSeq,
      "peak_rss_mb" -> peakRssMb,
      "layers" -> Json.obj(layers.toSeq: _*),
      "extras" -> Json.obj(w.extras(timedS, passes.size).toSeq: _*),
      "oracle" -> Json.obj("data" -> w.dataDir, "queries" -> Json.obj(
        dumped.toSeq.map { case (n, p) =>
          n -> Json.obj("dump" -> p, "sql" -> oracleSql(n)) }: _*)))
    if (traced) Trace.write(rec, s"$out/trace.jsonl")
    Files.write(Paths.get(s"$out/result.json"), json.s.getBytes(UTF_8))
    spark.stop()
  }

  /** VmHWM of this JVM, in MiB. */
  private def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status")
    try line.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally line.close()
  }
}

/** Per-layer numbers from the timed phase's spans and listener counts.
  * Counts are per pass, so runs with different pass counts compare.
  */
object Layers {
  private val MB = 1024.0 * 1024.0

  def apply(rec: Recorder, ops: Seq[Main.OpRec], passes: Int,
            timedS: Double): Map[String, Double] = {
    val np = math.max(passes, 1).toDouble
    val pc = rec.phaseCounts
    def c(k: String) = pc(Counts.idx(k)).toDouble
    val spans = rec.spans.filter(_.phase == "timed")
    val byId = rec.spans.map(s => s.id -> s).toMap
    val kids = rec.spans.groupBy(_.parent)
    val incl = mutable.Map.empty[Int, Array[Long]]
    def inclusive(s: Span): Array[Long] = incl.getOrElseUpdate(s.id, {
      val a = s.counts.clone()
      kids.getOrElse(s.id, Nil).foreach { k =>
        val b = inclusive(k); a.indices.foreach(i => a(i) += b(i))
      }
      a
    })
    def ic(s: Span, k: String) = inclusive(s)(Counts.idx(k)).toDouble
    def outer(layer: String) = spans.filter(s => s.layer == layer &&
      byId.get(s.parent).forall(_.layer != layer))
    def attr(ss: Seq[Span], k: String) = ss.flatMap(_.attrs.get(k))

    val scans = outer("scan").filter(_.attrs.contains("dirs_opened"))
    val commits = outer("commit")
    val ingests = outer("ingest")
    val steps = outer("step")
    val resultRows = ops.map(_.rows).sum.toDouble
    val changed = attr(commits, "rows_changed").sum
    val batches = rec.batches.toSeq
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    Map(
      "spark.jobs" -> c("jobs") / np,
      "spark.tasks" -> c("tasks") / np,
      "spark.task_s" -> c("task_ms") / 1000 / np,
      "spark.gc_s" -> c("gc_ms") / 1000 / np,
      "spark.core_busy_ratio" -> c("task_ms") / 1000 / (timedS * 4),
      "exchange.shuffle_write_mb" -> c("shuffle_write_b") / MB / np,
      "exchange.shuffle_read_mb" -> c("shuffle_read_b") / MB / np,
      "exchange.spill_mb" -> c("spill_b") / MB / np,
      "exchange.skew_max_median" -> rec.skewMaxMedian,
      "exchange.nodes" -> c("exchanges") / np,
      "iter.staged_mb" -> attr(spans, "staged_b").foldLeft(0.0)((a, b) => math.max(a, b)) / MB,
      "scan.dirs_total" -> mean(attr(scans, "dirs_total")),
      "scan.dirs_opened" -> mean(attr(scans, "dirs_opened")),
      "scan.bytes_read_mb" -> c("input_b") / MB / np,
      "scan.rows_read" -> c("input_rows") / np,
      "scan.rows_per_result" -> (if (resultRows > 0) c("input_rows") / resultRows else 0.0),
      "commit.count" -> commits.size / np,
      "commit.s" -> commits.map(_.ms).sum / 1000 / np,
      "commit.jobs_per_commit" ->
        (if (commits.isEmpty) 0.0 else commits.map(ic(_, "jobs")).sum / commits.size),
      "commit.bytes_written_mb" -> commits.map(ic(_, "output_b")).sum / MB / np,
      "commit.rows_written_per_row_changed" ->
        (if (changed > 0) commits.map(ic(_, "output_rows")).sum / changed else 0.0),
      "ingest.s" -> ingests.map(_.ms).sum / 1000 / np,
      "ingest.rows_in" -> attr(ingests, "rows_in").sum / np,
      "ingest.rows_appended" -> spans.filter(s => s.layer == "commit" &&
        byId.get(s.parent).exists(_.layer == "ingest"))
        .flatMap(_.attrs.get("rows_changed")).sum / np,
      "step.s" -> steps.map(_.ms).sum / 1000 / np,
      "step.jobs" -> steps.map(ic(_, "jobs")).sum / np,
      "step.attempted" -> attr(steps, "attempted").sum / np,
      "step.succeeded" -> attr(steps, "succeeded").sum / np,
      "stream.batches" -> batches.size / np,
      "stream.batch_p50_ms" -> Stats.median(batches.map(_._1.toDouble)),
      "stream.input_rows" -> batches.map(_._2).sum / np,
      "stream.state_rows" -> batches.map(_._3).sum / np)
  }
}

/** Span JSONL: one line per span with its interval (ms since the run
  * started), parent, op, self time (its interval minus the part its
  * child spans cover) and the listener counts tied to it.
  */
object Trace {
  def selfMs(s: Span, children: Seq[Span]): Double = {
    val iv = children.map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var (cs, ce) = (-1L, -1L)
    iv.foreach { case (a, b) =>
      if (a > ce) { if (ce > cs) covered += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (ce > cs) covered += ce - cs
    (s.end - s.start - covered) / 1e6
  }

  def write(rec: Recorder, path: String): Unit = {
    val spans = rec.spans.filter(_.end >= 0)
    val kids = spans.groupBy(_.parent)
    val lines = spans.map { s =>
      Json.obj((Seq[(String, Any)](
        "id" -> s.id, "name" -> s.name, "layer" -> s.layer, "parent" -> s.parent,
        "op" -> s.op, "phase" -> s.phase, "start_ms" -> rec.relMs(s.start),
        "end_ms" -> rec.relMs(s.end), "self_ms" -> selfMs(s, kids.getOrElse(s.id, Nil))) ++
        Counts.keys.zip(s.counts.toSeq) ++ s.attrs.toSeq): _*).s
    }
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

/** Just enough JSON rendering for the result and trace files. */
object Json {
  /** Already-rendered JSON. */
  final case class Raw(s: String)

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}"))

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
