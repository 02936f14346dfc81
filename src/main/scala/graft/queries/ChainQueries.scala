package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry.t
import graft.functions.TimeFunctions
import graft.pipeline.Pipeline

/** The paper's keyed-record chain over `events`: `filter` / `map` /
  * `mapValues` steps compiled by [[graft.pipeline.Pipeline]], plus the
  * scalar time and string functions those steps call. */
object ChainQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_filter", (s, dir) => {
      val frame = t(s, dir, "events")
        .select(col("event_id").as("key"), col("value").as("value"))
      Pipeline().filter((_, v) => v > 100.0)
        .compile(frame).orderBy("key")
    },
    () =>
      """SELECT event_id AS key, "value" AS value FROM events WHERE "value" > 100.0 ORDER BY key"""),
    QuerySpec("q_map", (s, dir) => {
      val frame = t(s, dir, "events")
        .select(col("event_id").as("key"), col("value").as("value"))
      Pipeline().map((k, v) => (k + 1000000L, v * 2.0))
        .compile(frame).orderBy("key")
    },
    () =>
      """SELECT event_id + 1000000 AS key, "value" * 2.0 AS value FROM events ORDER BY key"""),
    QuerySpec("q_mapvalues", (s, dir) => {
      val frame = t(s, dir, "events")
        .select(col("event_id").as("key"), col("event_type").as("value"))
      Pipeline().mapValues(v => upper(v))
        .compile(frame).orderBy("key")
    },
    () =>
      "SELECT event_id AS key, upper(event_type) AS value FROM events ORDER BY key"),
    QuerySpec("q_chain", (s, dir) => {
      val frame = t(s, dir, "events").select(col("event_id").as("key"),
        struct(col("event_type"), col("props")).as("value"))
      Pipeline()
        .filter((_, v) => v.getField("event_type") =!= "error")
        .mapValues(v => get_json_object(v.getField("props"), "$.k"))
        .filter((_, v) => v.try_cast(LongType).isNotNull && v.try_cast(LongType) > 50L)
        .map((k, v) => (k, v.try_cast(LongType) * 3L))
        .compile(frame).orderBy("key")
    },
    () =>
      """SELECT event_id AS key, TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) * 3 AS value
         FROM events
         WHERE event_type <> 'error'
           AND TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
         ORDER BY key"""),
    QuerySpec("q_drop_cast", (s, dir) => {
      // tonumber()-style cast-or-null drop semantics (reference
      // examples/time/example.lua:6-12): unparsable strings drop.
      val frame = t(s, dir, "events").select(col("event_id").as("key"),
        when(pmod(col("event_id"), lit(3)) === 0, col("value").cast(StringType))
          .otherwise(col("event_type")).as("value"))
      Pipeline()
        .filter((_, v) => v.try_cast(DoubleType).isNotNull)
        .mapValues(v => v.try_cast(DoubleType))
        .compile(frame).orderBy("key")
        .select(col("key"), col("value").as("val"))
    },
    () =>
      """SELECT key, val FROM (
           SELECT event_id AS key,
                  TRY_CAST(CASE WHEN event_id % 3 = 0 THEN CAST("value" AS VARCHAR)
                                ELSE event_type END AS DOUBLE) AS val
           FROM events) WHERE val IS NOT NULL ORDER BY key"""),
    QuerySpec("q_time_iso2unix", (s, dir) => {
      // ts is long nanos (see t()): ns -> us integral div, then format to
      // an ISO string and parse it back through the reference's timecvt.
      val iso = t(s, dir, "events").select(col("event_id"),
        date_format(timestamp_micros(expr("ts div 1000")),
          "yyyy-MM-dd'T'HH:mm:ss.SSSXXX").as("iso"))
      iso.select(col("event_id"),
          TimeFunctions.iso8601ToUnixMillis(col("iso")).as("unix_ms"),
          round(TimeFunctions.iso8601ToUnixTimestamp(col("iso")), 3).as("unix_sec"))
        .orderBy("event_id")
    },
    () =>
      """SELECT event_id, epoch_ms(ts) AS unix_ms,
                round(epoch_ms(ts) / 1000.0, 3) AS unix_sec
         FROM events ORDER BY event_id"""),
    QuerySpec("q_time_unix2iso", (s, dir) => {
      t(s, dir, "events").select(col("event_id"),
          TimeFunctions.unixTimestampToIso8601(
            expr("ts div 1000000") / 1000.0).as("iso"))
        .orderBy("event_id")
    },
    () =>
      """SELECT event_id, strftime(ts, '%Y-%m-%dT%H:%M:%S.%g') || 'Z' AS iso
         FROM events ORDER BY event_id"""),
    QuerySpec("q_scalar_funcs", (s, dir) => {
      t(s, dir, "part").select(col("p_partkey"),
          lower(col("p_name")).as("lname"),
          upper(col("p_brand")).as("ubrand"),
          length(col("p_type")).cast(LongType).as("tlen"),
          regexp_extract(col("p_name"), "([a-z]+)", 1).as("w1"),
          // Spark floor(double) -> BIGINT, DuckDB floor -> DOUBLE; pin
          // BIGINT on both sides so values hash-compare equal.
          floor(col("p_retailprice")).cast(LongType).as("fprice"),
          concat(col("p_brand"), lit("-"), col("p_type")).as("bt"))
        .orderBy("p_partkey")
    },
    () =>
      """SELECT p_partkey, lower(p_name) AS lname, upper(p_brand) AS ubrand,
                length(p_type) AS tlen, regexp_extract(p_name, '([a-z]+)', 1) AS w1,
                CAST(floor(p_retailprice) AS BIGINT) AS fprice, concat(p_brand, '-', p_type) AS bt
         FROM part ORDER BY p_partkey""")
  )
}
