package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Failure discipline (round-7 lesson: a silent stderr line cost 14
  * driver gates for a full round):
  *  - per-query exceptions land in `_errors.json` (name → message) next
  *    to oracle_sql.json, and the process exits non-zero if any query
  *    failed — a broken query poisons the round's artifact visibly
  *    instead of vanishing;
  *  - queries run cheapest-first (by the latest BENCH_r*.json medians,
  *    name-sort fallback), so if the driver's window ever truncates the
  *    run, only the most expensive tail is lost — and `_manifest.json`
  *    (attempted vs completed, rewritten after every query) records
  *    exactly where it stopped.
  */
object Verify {
  /** name → median seconds from the newest BENCH_r*.json in cwd, if any.
    * Our own bench emits one flat JSON object per map, so a regex pull of
    * `"name":number` pairs inside the "queries" object is sufficient —
    * no JSON library needed, and a malformed/absent file degrades to
    * name-sort order, never to a crash.
    */
  private[graft] def benchMedians(cwd: String = "."): Map[String, Double] = {
    // Prefer the committed bench_full.json (complete per-query map —
    // Bench writes it whole) over the driver's BENCH_r*.json, whose
    // ~2 KB stdout-tail capture truncates the queries map and once
    // dropped the entire solo ledger (round 8).
    val full = new java.io.File(cwd, "bench_full.json")
    if (full.exists()) {
      try {
        val txt = Files.readString(full.toPath)
        def objAt(key: String): Map[String, Double] = {
          val start = txt.indexOf(s""""$key":""")
          if (start < 0) return Map.empty
          val body = txt.substring(txt.indexOf('{', start) + 1,
            txt.indexOf('}', start))
          "\"([^\"]+)\":(-?[0-9.eE+]+)".r.findAllMatchIn(body)
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
        }
        val m = objAt("queries") ++ objAt("solo")
        if (m.nonEmpty) return m
      } catch { case _: Throwable => }
    }
    val files = Option(new java.io.File(cwd).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.matches("BENCH_r\\d+\\.json"))
    if (files.isEmpty) return Map.empty
    val latest = files.maxBy(f => "\\d+".r.findFirstIn(f.getName).get.toInt)
    try {
      // Unescape first: the driver's BENCH_r*.json wraps our line in a
      // "tail" string field with escaped quotes — and keeps only the
      // LAST ~2k chars, which can truncate the "queries" map. The
      // "solo" map (the expensive queries — exactly the ones ordering
      // cares about) sits at the line's end and survives truncation, so
      // parse both and let solo values win.
      val txt = Files.readString(latest.toPath).replace("\\\"", "\"")
      def objAt(key: String): Map[String, Double] = {
        val start = txt.indexOf(s""""$key":""")
        if (start < 0) return Map.empty
        val body = txt.substring(txt.indexOf('{', start) + 1,
          txt.indexOf('}', start))
        "\"([^\"]+)\":(-?[0-9.eE+]+)".r.findAllMatchIn(body)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
      objAt("queries") ++ objAt("solo")
    } catch { case _: Throwable => Map.empty }
  }

  def main(args: Array[String]): Unit = {
    // optional 3rd arg (dev-only): comma-separated query-name prefixes to
    // run a subset locally; the driver always passes exactly 2 args.
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(",").toSeq) else None
    val spark = LocalSession()
    new java.io.File(outDir).mkdirs()

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def jsonObj(m: Iterable[(String, String)]): String =
      m.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    def jsonArr(xs: Iterable[String]): String =
      xs.map(q).mkString("[", ",", "]")

    // Write the oracle SQL FIRST: it is pure metadata and must survive
    // even if the very first query crashes the JVM.
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      jsonObj(SparkEntry.oracleSql))

    val cost = benchMedians()
    val selected = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
      .sortBy { case (name, _) => (cost.getOrElse(name, Double.MaxValue), name) }

    val attempted = selected.map(_._1)
    val completed = scala.collection.mutable.ArrayBuffer.empty[String]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def writeManifest(): Unit = Files.writeString(
      Paths.get(s"$outDir/_manifest.json"),
      s"""{"attempted": ${jsonArr(attempted)}, "completed": ${jsonArr(completed)}, "failed": ${jsonArr(errors.keys)}}""")
    writeManifest()

    selected.foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        completed += name
      } catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name FAILED: $msg")
        errors(name) = s"${e.getClass.getSimpleName}: $msg"
      }
      writeManifest()
      Files.writeString(Paths.get(s"$outDir/_errors.json"), jsonObj(errors))
    }
    Files.writeString(Paths.get(s"$outDir/_errors.json"), jsonObj(errors))
    spark.stop()
    if (errors.nonEmpty) {
      System.err.println(
        s"[verify] ${errors.size}/${attempted.size} queries FAILED: " +
          errors.keys.mkString(", "))
      sys.exit(1)
    }
  }
}
