package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered driver query: its Spark build over the parquet tables
  * in a scale-factor directory, and the DuckDB SQL that must return the
  * same rows. `oracle` is a function because a few oracles unroll as many
  * rounds as the Spark run just took (read from
  * [[graft.SparkEntry.Observed]]), so they are rendered after the run. */
final case class QuerySpec(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: () => String)
