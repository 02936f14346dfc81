package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Optimization-round measurement tool (guide §1.4/§7.2): write the
  * `.explain("formatted")` text of each declared query to
  * `<outDir>/<name>_<suffix>.txt`, one file per query, so plan-shape
  * claims (Exchange count, join strategy, PushedFilters/ReadSchema,
  * WholeStageCodegen spans) are auditable without running Spark.
  *
  * Construction-time jobs some queries run while BUILDING their frame
  * (e.g. k-means training in the ANN family) do execute here — this
  * dumps plans, it does not execute the dumped query itself. Plans are
  * the pre-execution view (`AdaptiveSparkPlan isFinalPlan=false`);
  * runtime AQE rewrites are adjudicated in the bench, not here. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: PlanDump <sfDir> <outDir> <suffix> [queryName ...]")
    val Array(sfDir, outDir, suffix) = args.take(3)
    val only = args.drop(3).toSet
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.mkString(", ")}")
    val spark = Boards.session()
    Files.createDirectories(Paths.get(outDir))
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only(n))
    for (name <- names) {
      val out = Paths.get(outDir, s"${name}_$suffix.txt")
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          ExplainMode.fromString("formatted"))
        Files.writeString(out, txt)
        // Cleanup any frames the construction pinned (mirrors Bench.run)
        Boards.unpersistAll(spark)
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
        Files.writeString(out, s"PLAN DUMP FAILED: ${e.getMessage}\n")
      }
    }
    spark.stop()
  }
}
