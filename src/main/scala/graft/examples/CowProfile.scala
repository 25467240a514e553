package graft.examples

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.LocalSession

/** Dev tool: phase-timed replay of the q130 CoW sequence — where does
  * a commit's time go as the dir count grows (r13 verdict item 3).
  * `run_java.sh 40g graft.examples.CowProfile <sfDir>`
  */
object CowProfile {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = LocalSession(32)
    def phase[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[cowprofile] $tag%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    val root = s"/tmp/cowprofile_${java.util.UUID.randomUUID().toString.take(8)}/tbl"
    val ev = graft.Tables.load(spark, dir, "events").select(
      col("event_id"), col("event_type"),
      date_format(col("ts"), "yyyy-MM-dd").as("day"),
      round(col("value") * 100).cast("long").as("cents"))
    phase("events materialize")(ev.count())
    val tbl = new graft.sources.PartitionedCowTable(root, "day", spark)
    phase("overwrite")(tbl.overwrite(ev))
    println(s"[cowprofile] dirs=${tbl.manifest.size}")
    import scala.jdk.CollectionConverters._
    val nFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      .iterator().asScala.count(p => java.nio.file.Files.isRegularFile(p))
    println(s"[cowprofile] files under root=$nFiles")
    val v1 = tbl.version
    val pred = col("day") < "2024-01-11" && col("event_type") === "click"
    phase("pruned scan count")(tbl.read().filter(pred).count())
    phase("pruned scan distinct day")(
      tbl.read().filter(pred).select("day").distinct().count())
    phase("full read count")(tbl.read().count())
    phase("updateWhere (10 days)")(tbl.updateWhere(pred,
      Map("cents" -> (col("cents") * 2))))
    phase("updateWhere again (10 days)")(tbl.updateWhere(pred,
      Map("cents" -> (col("cents") * 2))))
    phase("changedSince+agg")({
      val changed = tbl.changedSince(v1)
      changed.groupBy("day", "event_type")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents")).count()
    })
    phase("append 1 day")(tbl.append(
      ev.filter(col("day") === "2024-01-01")
        .withColumn("day", lit("2099-01-01"))))
    spark.stop()
  }
}
