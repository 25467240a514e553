package graft.bench

import java.sql.{Date, Timestamp}
import java.time.LocalDate

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.model.Scene

/** Seeded inputs. The same seed gives the same rows; each table draws
  * from its own stream so changing one table's size leaves the others
  * alone. Shapes follow the TPC-H-like tables the queries were written
  * for (`orders`, `lineitem`, `embeddings`) and the Landsat scene row
  * (`graft.model.Scene`).
  *
  * The seed moves values, not the amount of work: every customer has the
  * same number of orders, every day the same number of scenes, the line
  * counts are a shuffled fixed multiset, and the embedding geometry is
  * fixed with the seed permuting which id each vector gets. Runs on
  * different seeds then differ in what they compute, not in how much.
  */
object Gen {
  val Day0: LocalDate = LocalDate.of(1995, 1, 1)

  private def rng(seed: Long, salt: Long) = new Random(seed * 1000003L + salt)

  def dayTs(d: Int): Timestamp =
    Timestamp.valueOf(Day0.plusDays(d.toLong).atStartOfDay())

  private def frame(spark: SparkSession, schema: StructType,
                    rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  def write(df: DataFrame, dir: String, name: String): Unit =
    df.coalesce(1).write.parquet(s"$dir/$name.parquet")

  /** One order: key, customer, order day (offset from [[Day0]]). */
  final case class Order(key: Long, cust: Long, day: Int, price: Double)

  /** `0 until n` mapped onto `0 until k` evenly, in seeded order. */
  private def balanced(r: Random, n: Int, k: Int): IndexedSeq[Int] =
    r.shuffle((0 until n).map(_ % k).toIndexedSeq)

  def orderRows(seed: Long, n: Int, customers: Int, days: Int): Seq[Order] = {
    val r = rng(seed, 1)
    val (cust, day) = (balanced(r, n, customers), balanced(r, n, days))
    (0 until n).map { i =>
      Order(i.toLong, cust(i).toLong, day(i),
        math.round(r.nextDouble() * 4.5e7) / 100.0 + 900.0)
    }
  }

  def orders(spark: SparkSession, os: Seq[Order]): DataFrame = {
    val st = Array("F", "O", "P")
    val pr = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    frame(spark, StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType),
      StructField("o_orderpriority", StringType))),
      os.map(o => Row(o.key, o.cust, st((o.key % 3).toInt), o.price,
        dayTs(o.day), pr((o.key % 5).toInt))))
  }

  /** 1 to 7 lines per order over `parts` part keys. */
  def lineitem(spark: SparkSession, seed: Long, os: Seq[Order],
               parts: Int): DataFrame = {
    val r = rng(seed, 2)
    val lines = balanced(r, os.size, 7)
    val rows = os.zip(lines).flatMap { case (o, nl) =>
      (1 to 1 + nl).map { ln =>
        val q = (1 + r.nextInt(50)).toDouble
        Row(o.key, r.nextInt(parts).toLong, r.nextInt(100).toLong, ln, q,
          math.round(q * (900 + r.nextInt(1200)) * 100) / 100.0,
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          if (r.nextBoolean()) "A" else "N", if (r.nextBoolean()) "F" else "O",
          dayTs(o.day + 1 + r.nextInt(120)))
      }
    }
    frame(spark, StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType),
      StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampType))), rows)
  }

  /** 64-dimensional float vectors with one of ten labels; the vectors
    * are the same for every seed, which permutes their ids.
    */
  def embeddings(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    val g = rng(0, 3)
    val vecs = IndexedSeq.fill(n)((Seq.fill(64)((g.nextGaussian() * 0.1).toFloat),
      g.nextInt(10)))
    val ids = rng(seed, 3).shuffle((0 until n).toIndexedSeq)
    frame(spark, StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = true)),
      StructField("label", IntegerType))),
      vecs.indices.map(i => Row(ids(i).toLong, vecs(i)._1, vecs(i)._2)))
  }

  private val Platforms = Array("LANDSAT_7", "LANDSAT_8", "LANDSAT_9")

  /** Scene states a catalogue row can be in. */
  sealed trait States
  /** A mix as the reference's work-lists see it: some invalid, some not
    * yet downloaded, ARD or loaded.
    */
  case object Mixed extends States
  /** Downloaded, ARD and DCLoaded: old scenes of a monitored sensor. */
  case object Processed extends States
  /** Just discovered: no step has run. */
  case object Fresh extends States

  /** One Landsat-shaped scene per order: PID is the order key and
    * Date_Acquired the order day; platform, footprint, cloud cover,
    * size and state are drawn from the seed.
    */
  def scenes(seed: Long, os: Seq[Order], states: States): Seq[Scene] = {
    val r = rng(seed, 5)
    val queried = Timestamp.valueOf("2002-01-01 00:00:00")
    os.map { o =>
      val date = Day0.plusDays(o.day.toLong)
      val (path, row) = (1 + r.nextInt(233), 1 + r.nextInt(248))
      val ymd = date.toString.replace("-", "")
      val lat = -60 + r.nextDouble() * 130
      val lon = -170 + r.nextDouble() * 340
      val sensing = new Timestamp(dayTs(o.day).getTime + r.nextInt(86400) * 1000L)
      val u = r.nextDouble()
      val (dl, ard, dc, invalid) = states match {
        case Processed => (true, true, true, false)
        case Fresh => (false, false, false, false)
        case Mixed =>
          val inv = r.nextDouble() < 0.08
          val d = u < 0.65
          val a = d && u < 0.45
          (d, a, a && u < 0.27, inv)
      }
      val cloud = math.round(math.pow(r.nextDouble(), 2) * 10000) / 100.0
      Scene(o.key, f"LC8$path%03d$row%03d${ymd}_${o.key}%07d",
        f"LC08_L1TP_$path%03d$row%03d_${ymd}_${ymd}_01_T1",
        Platforms(r.nextInt(Platforms.length)),
        sensing, Date.valueOf(date), cloud,
        lat + 1.0, lat - 1.0, lon + 1.2, lon - 1.2,
        50000000L + r.nextInt(900000000),
        s"gs://gcp-public-data-landsat/LC08/01/$path/$row/$ymd",
        queried,
        if (dl) Some(queried) else None, if (dl) Some(queried) else None, dl,
        if (ard) Some(queried) else None, if (ard) Some(queried) else None,
        ard, dc, invalid, dl && r.nextDouble() < 0.1,
        if (ard && r.nextBoolean()) Some(s"""{"quicklook":["ql/${o.key}.png"]}""")
        else None)
    }
  }
}
