package graft.bench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.sources.PartitionedCowTable

/** A [[PartitionedCowTable]] whose reads and commits are spans. Each
  * override opens a span and then calls `super`, so the table behaves
  * exactly like its parent; `SceneCatalog` matches on the parent class,
  * so manifest pruning still applies.
  *
  * Reads are lazy: a read span covers building the scan (manifest,
  * file index), not running it. The pruning ledger of a read is taken
  * when the next read is built or [[harvest]] is called, which the
  * sequential build → execute → read-ledger protocol of
  * `autoPruneLedger` allows.
  */
final class TimedTable(root: String, partCol: String, spark: SparkSession,
                       rec: Recorder)
    extends PartitionedCowTable(root, partCol, spark) {

  private var pending: Option[Span] = None

  /** Records the pruning ledger of the most recently built read. */
  def harvest(): Unit = if (rec.traced) {
    pending.foreach { s =>
      s.attrs("dirs_opened") = autoPruneLedger._2.toDouble
    }
    pending = None
  }

  private def scan(name: String)(build: => DataFrame): DataFrame =
    if (!rec.traced) build
    else {
      harvest()
      rec.span(name, "scan") {
        val df = build
        val s = rec.currentSpan
        s.attrs("dirs_total") = manifest.size.toDouble
        pending = Some(s)
        df
      }
    }

  /** A commit span; in a traced run the input is observed so the rows
    * it carries are counted by the query listener without another job.
    */
  private def commit(name: String, df: DataFrame)(body: DataFrame => Unit): Unit =
    if (!rec.traced) body(df)
    else rec.span(name, "commit") {
      val id = rec.currentSpan.id
      body(df.observe(s"${Recorder.ObservePrefix}$id", count(lit(1))))
    }

  override def read(): DataFrame = scan("table.read")(super.read())

  override def readWhere(partFilter: String => Boolean): DataFrame =
    scan("table.readWhere")(super.readWhere(partFilter))

  override def append(df: DataFrame): Unit =
    commit("table.append", df)(super.append)

  override def upsert(updates: DataFrame, keys: Seq[String]): Unit =
    commit("table.upsert", updates)(super.upsert(_, keys))

  override def overwrite(df: DataFrame): Unit =
    commit("table.overwrite", df)(super.overwrite)
}
