package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Ends with one
  * JSON summary line and exits 1 when any query failed. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName ...] — names (builder-side spot
    // checks) restrict the dump; the driver's 2-arg call dumps everything
    require(args.length >= 2,
      "usage: Verify <sfDir> <outDir> [queryName ...]")
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.mkString(", ")} — a typo here " +
        "would dump nothing and let the oracle spot-check pass vacuously")
    val spark = Boards.session()
    val code = run(spark, sfDir, outDir,
      SparkEntry.queries.filter { case (name, _) => only.isEmpty || only(name) })
    spark.stop()
    if (code != 0) sys.exit(code)
  }

  /** Dump every query in `queries` to `<outDir>/<name>` and write
    * `oracle_sql.json`, then print the summary line
    * `{"dumped":n,"failed":m,"failed_names":[…]}`. A failing query is
    * reported on stderr and does not stop the others. Returns the exit
    * code: 1 when any query failed, else 0. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame]): Int = {
    new java.io.File(outDir).mkdirs()
    val failed = queries.toSeq.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    // every control char escaped — a tab or CR in builder-authored SQL
    // would otherwise make the driver's json.load fail and silently
    // zero the round's correctness
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Boards.json(k)}: ${Boards.json(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    println(s"""{"dumped":${queries.size - failed.size},""" +
      s""""failed":${failed.size},""" +
      s""""failed_names":${failed.map(Boards.json).mkString("[", ",", "]")}}""")
    if (failed.isEmpty) 0 else 1
  }
}
