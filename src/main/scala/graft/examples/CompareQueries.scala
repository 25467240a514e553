package graft.examples

import graft.LocalSession
import graft.SparkEntry

/** Dev utility: run two named SparkEntry queries and diff their results
  * on the columns they share — used to validate that an approximate
  * plan (LSH/IVF) reproduces its exact sibling on a given corpus before
  * promoting the exact SQL to that query's driver oracle.
  * `sbt "runMain graft.examples.CompareQueries <nameA> <nameB> <sfDir>"`
  */
object CompareQueries {
  def main(args: Array[String]): Unit = {
    val (nameA, nameB) = (args(0), args(1))
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.01"
    val spark = LocalSession()
    val a = SparkEntry.queries(nameA)(spark, sfDir)
    val b = SparkEntry.queries(nameB)(spark, sfDir)
    val shared = a.columns.intersect(b.columns).toSeq
    val pa = a.select(shared.head, shared.tail: _*)
    val pb = b.select(shared.head, shared.tail: _*)
    val onlyA = pa.exceptAll(pb).count()
    val onlyB = pb.exceptAll(pa).count()
    println(s"[compare] shared columns: ${shared.mkString(",")}")
    println(s"[compare] $nameA rows=${pa.count()} $nameB rows=${pb.count()} " +
      s"onlyIn$nameA=$onlyA onlyIn$nameB=$onlyB " +
      (if (onlyA == 0 && onlyB == 0) "IDENTICAL" else "DIFFER"))
    spark.stop()
  }
}
