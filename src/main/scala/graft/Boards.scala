package graft

import org.apache.spark.sql.SparkSession

/** What the operator-board mains ([[Bench]], [[QueryProfile]],
  * [[PlanDump]], [[Verify]]) share: one session, one per-query
  * clean-up, one JSON string escaper. */
object Boards {

  /** `SPARK_GRAFT_CPUS` (default 4): local threads and shuffle
    * partitions. Compare boards only at equal cpus. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** The `local[cpus]` board session: UTC session time, no UI, WARN
    * logging. */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drop every cached frame and every persisted RDD. Iterative ops pin
    * frames (cache / localCheckpoint) whose blocks outlive the query in
    * one shared JVM; each query then starts from a clean block store and
    * an empty cache manager, as on a cluster whose executors release on
    * exit, so no later plan reads a dead cache entry. */
  def unpersistAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  /** `s` as a quoted JSON string: backslash, quote and every control
    * character below U+0020 escaped, so any message or query text
    * keeps a JSON line parseable. */
  def json(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
