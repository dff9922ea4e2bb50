package graft

import org.apache.spark.sql.SparkSession

/** The one place a local `SparkSession` is built. Every main and the
  * test suites share its conf: `local[n]`, `n`-or-`SPARK_GRAFT_SHUFFLE`
  * shuffle partitions, the UTC session zone the oracle compare assumes,
  * the events-table nanos flag (see `Tables.loadEvents`) and no UI.
  *
  * The width comes from `SPARK_GRAFT_CPUS` (default 32) and the shuffle
  * width from `SPARK_GRAFT_SHUFFLE` (default: the width). Shuffle width
  * is a scale variable, not a host constant: a fixture 100× the base at
  * a cores-wide shuffle sorts GB-sized partitions and spills, which a
  * real cluster (whose width tracks its data) never sees; AQE coalesces
  * the excess away on small fixtures. A caller that pins `cores` gets
  * that many shuffle partitions too, whatever the environment says. */
object Session {

  def apply(cores: Option[Int] = None,
      logLevel: String = "ERROR"): SparkSession = {
    val n = cores.getOrElse(
      sys.env.get("SPARK_GRAFT_CPUS").fold(32)(_.toInt))
    val shuffle =
      if (cores.isDefined) n
      else sys.env.get("SPARK_GRAFT_SHUFFLE").fold(n)(_.toInt)
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", shuffle.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
