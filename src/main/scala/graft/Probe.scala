package graft

import org.apache.spark.scheduler._

/** Dev-only: run one query N times and print a scheduling profile —
  * wall seconds per rep, Spark job count, stage count, task count, sum
  * of task run time vs wall — so harness/driver overhead is separable
  * from executor compute (guide §1: measure first). Never run by the
  * driver.
  *
  * Usage: runMain graft.Probe <sfDir> <reps> <name1,name2,...>
  */
object Probe {
  private final class Prof extends SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    val gcMs = new java.util.concurrent.atomic.AtomicLong
    val shufWriteB = new java.util.concurrent.atomic.AtomicLong
    val shufReadB = new java.util.concurrent.atomic.AtomicLong
    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = t.taskMetrics
      if (m != null) {
        taskMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        shufWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shufReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      }
    }
    def snap: (Int, Int, Int, Long, Long, Long, Long) =
      (jobs.get, stages.get, tasks.get, taskMs.get, gcMs.get,
        shufWriteB.get, shufReadB.get)
    def reset(): Unit = {
      jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0); gcMs.set(0)
      shufWriteB.set(0); shufReadB.set(0)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val spark = LocalSession()
    val prof = new Prof
    spark.sparkContext.addSparkListener(prof)
    // warmup, as in Bench
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    val all = SparkEntry.queries
    names.foreach { sel =>
      all.keys.toSeq.sorted.filter(_.startsWith(sel)).foreach { name =>
        val fn = all(name)
        (1 to reps).foreach { r =>
          prof.reset()
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          val wall = (System.nanoTime() - t0) / 1e9
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = false))
          // listener bus is async; give it a beat to drain
          Thread.sleep(300)
          val (j, st, tk, tms, gms, sw, sr) = prof.snap
          println(f"[probe] $name rep$r wall=$wall%.2fs jobs=$j " +
            f"stages=$st tasks=$tk taskTime=${tms / 1000.0}%.1fs " +
            f"gc=${gms / 1000.0}%.1fs shufW=${sw / 1048576.0}%.1fMB " +
            f"shufR=${sr / 1048576.0}%.1fMB")
        }
      }
    }
    spark.stop()
  }
}
