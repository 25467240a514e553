package graft

import org.apache.spark.sql.SparkSession

/** The local SparkSession every entrypoint and example starts with:
  * `local[cores]`, one shuffle partition per core, UTC session time,
  * no UI, WARN logging. Callers that need more pass it as `conf`,
  * applied after (and so over) these settings.
  */
object LocalSession {

  /** `SPARK_GRAFT_CPUS` when set, else `default`. */
  def envCores(default: Int = 32): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.trim.toInt)

  def apply(cores: Int = envCores(),
            conf: Map[String, String] = Map.empty): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      // a serialization failure must FAIL THE TASK, not hang the
      // stage: SerializationDebugger crashes on JDK17 module access
      // (ExceptionInInitializerError)
      .config("spark.serializer.extraDebugInfo", "false")
      .config("spark.ui.enabled", "false")
    val spark = conf.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
