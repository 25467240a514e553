package graft

/** Dev-only: dump `.explain("formatted")` for named queries to files —
  * the optimization rounds' plan evidence (plans/r14/<q>_before|after.txt).
  * Not part of the driver contract; never run by the driver.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> <prefix1,prefix2,...>
  * Writes <outDir>/<queryName>_<suffix>.txt for every query whose name
  * starts with one of the prefixes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, sel) = args.take(4)
    val prefixes = sel.split(",").map(_.trim).filter(_.nonEmpty)
    val spark = LocalSession()
    new java.io.File(outDir).mkdirs()
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => prefixes.exists(n.startsWith))
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
        println(s"[plandump] wrote $name")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name FAILED: $e")
      }
    }
    spark.stop()
  }
}
