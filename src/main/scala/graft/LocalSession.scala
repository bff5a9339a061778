package graft

import org.apache.spark.sql.SparkSession

/** The one session builder of the engine's mains: `local[cores]` with
  * one shuffle partition per core, UTC session time, no UI and WARN
  * logging. A master set by the launcher (spark-submit's `--master`) is
  * kept. `conf` pairs are applied last, so they override any of these
  * (`spark.master` included). An active session is reused.
  */
private[graft] object LocalSession {

  /** `SPARK_GRAFT_CPUS`, else the processors this JVM sees. */
  def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(cores: Int = defaultCores, conf: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(sys.props.getOrElse("spark.master", s"local[$cores]"))
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
