package graft.runtime

import java.util.Properties

import org.apache.hadoop.fs.FileSystem
import org.apache.hadoop.util.ShutdownHookManager

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{BinaryType, StringType}

import graft.serde.KeyValueMapping

/** The engine's CLI — the reference's flag surface re-expressed for a
  * Spark runtime (reference: Plumber.scala:88-145, checkConfig
  * :137-142):
  *
  * {{{
  * graft.runtime.Main
  *   -i <path>          source (parquet | json | csv | text by extension
  *                      or graft.input.format property)
  *   -o <path>          sink (format by extension / graft.output.format)
  *   -d <serde>         decode declaration over a Kafka-shaped binary
  *                      frame: long|string|void|avro=<file>, as "v" or
  *                      "k,v" (TypeConversions.scala:42-51 semantics)
  *   -s <serde>         encode declaration for the sink (same syntax)
  *   -l <script>        pipeline script (REQUIRED; see [[GraftScript]])
  *   -p <props>         properties file(s), later files win; `spark.*`
  *                      keys -> session conf, `graft.*` -> runtime opts
  *                      (PropertiesHelpers.scala:9-41 semantics)
  *   -t <golden.json>   golden pre-pass; mismatch refuses startup
  *                      (Plumber.scala:41-50)
  *   -D                 dry-run: verify goldens and exit
  *                      (Plumber.scala:53-55)
  *   --stream           Structured Streaming (file source) instead of
  *                      batch; needs --checkpoint for restartability
  *   --once             streaming trigger AvailableNow: process what's
  *                      there, then stop (CI/backfill mode; --stream only)
  *   --checkpoint <dir> streaming checkpoint location (--stream only)
  * }}}
  *
  * Batch and stream share one build path: the source is a data-source
  * format, its options and a path, read with `spark.read` or
  * `spark.readStream`; the chain (decode, script steps, encode) is built
  * once over whichever frame that gives; the sink is the same format and
  * options through `write` or `writeStream`. Only the reader and writer
  * entry points differ between the modes.
  *
  * Kafka parity (reference Plumber.scala:62-74): `-i kafka:<topic>` /
  * `-o kafka:<topic>` select the Spark Kafka connector, configured via
  * properties — `graft.kafka.brokers` (required; maps to
  * `kafka.bootstrap.servers`), `graft.kafka.starting.offsets`
  * (default `earliest`), `graft.kafka.fail.on.data.loss`. The connector
  * frame already carries `(key: binary, value: binary)`, which is
  * exactly what the serde layer (`-d`/`-s`) speaks, so no other layer
  * changes. NOTE: this sandbox has neither a broker nor the
  * spark-sql-kafka connector jar, so the Kafka path is covered by
  * option/plan-construction tests only; on a real cluster the connector
  * jar on the classpath is the one missing piece (Spark raises its
  * standard "Failed to find data source: kafka" guidance otherwise).
  * File sources/sinks (parquet/json/csv/text) remain the default.
  */
object Main {

  final case class Args(
      input: Option[String] = None,
      output: Option[String] = None,
      inputSerde: Option[String] = None,
      outputSerde: Option[String] = None,
      script: Option[String] = None,
      props: Seq[String] = Nil,
      test: Option[String] = None,
      dryRun: Boolean = false,
      stream: Boolean = false,
      once: Boolean = false,
      checkpoint: Option[String] = None)

  def parseArgs(argv: Array[String]): Either[String, Args] = {
    @annotation.tailrec
    def go(rest: List[String], a: Args): Either[String, Args] = rest match {
      case Nil => Right(a)
      case ("-i" | "--input") :: v :: t => go(t, a.copy(input = Some(v)))
      case ("-o" | "--output") :: v :: t => go(t, a.copy(output = Some(v)))
      case ("-d" | "--input-serde") :: v :: t => go(t, a.copy(inputSerde = Some(v)))
      case ("-s" | "--output-serde") :: v :: t => go(t, a.copy(outputSerde = Some(v)))
      case ("-l" | "--script") :: v :: t => go(t, a.copy(script = Some(v)))
      case ("-p" | "--properties") :: v :: t => go(t, a.copy(props = a.props :+ v))
      case ("-t" | "--test") :: v :: t => go(t, a.copy(test = Some(v)))
      case ("-D" | "--dry-run") :: t => go(t, a.copy(dryRun = true))
      case "--stream" :: t => go(t, a.copy(stream = true))
      case "--once" :: t => go(t, a.copy(once = true))
      case "--checkpoint" :: v :: t => go(t, a.copy(checkpoint = Some(v)))
      case other :: _ => Left(s"unknown or incomplete flag: $other")
    }
    go(argv.toList, Args()).flatMap { a =>
      // checkConfig (Plumber.scala:137-142): script always required;
      // source+sink required unless dry-run.
      if (a.script.isEmpty) Left("-l <script> is required")
      else if (!a.dryRun && (a.input.isEmpty || a.output.isEmpty))
        Left("-i and -o are required unless --dry-run")
      else if (a.dryRun && a.test.isEmpty)
        Left("--dry-run needs -t <golden.json>")
      else if (!a.stream && (a.once || a.checkpoint.nonEmpty))
        Left("--once and --checkpoint need --stream")
      else Right(a)
    }
  }

  /** Load + merge properties files in order, later wins
    * (PropertiesHelpers.scala:15-25 semantics). */
  def loadProperties(paths: Seq[String]): Properties = {
    val p = new Properties()
    paths.foreach { path =>
      val in = new java.io.FileInputStream(path)
      try p.load(in) finally in.close()
    }
    p
  }

  private val fileFormats = Set("parquet", "json", "csv", "text")

  /** `kafka:<topic>` / `kafka://<topic>` source-or-sink declaration. */
  private[runtime] def kafkaTopic(path: String): Option[String] =
    if (path.startsWith("kafka:"))
      Some(path.stripPrefix("kafka:").stripPrefix("//"))
    else None

  private def kafkaBrokers(role: String, props: Properties): Either[String, String] =
    Option(props.getProperty("graft.kafka.brokers"))
      .toRight(s"kafka $role needs graft.kafka.brokers=<host:port,...> in -p properties")

  /** Connector options for a Kafka source (reference Plumber.scala:62-65
    * semantics: one subscribed topic, brokers from properties). */
  private[runtime] def kafkaSourceOptions(topic: String,
      props: Properties): Either[String, Map[String, String]] =
    kafkaBrokers("source", props).map(brokers => Map(
      "kafka.bootstrap.servers" -> brokers,
      "subscribe" -> topic,
      "startingOffsets" ->
        Option(props.getProperty("graft.kafka.starting.offsets")).getOrElse("earliest"),
      "failOnDataLoss" ->
        Option(props.getProperty("graft.kafka.fail.on.data.loss")).getOrElse("true")))

  /** Connector options for a Kafka sink (Plumber.scala:71-74). */
  private[runtime] def kafkaSinkOptions(topic: String,
      props: Properties): Either[String, Map[String, String]] =
    kafkaBrokers("sink", props).map(brokers => Map(
      "kafka.bootstrap.servers" -> brokers,
      "topic" -> topic))

  private[runtime] def frameify(raw: DataFrame, serde: Option[KeyValueMapping]): DataFrame =
    serde match {
      case Some(kv) =>
        // Kafka-shaped binary frame expected; absent key column = void key.
        // A frame the serde rejects is dropped ahead of the chain; a
        // tombstone (null value) stays a null value.
        val withKey =
          if (raw.columns.contains("key")) raw
          else raw.withColumn("key", lit(null).cast(BinaryType))
        kv.decode(kv.dropRejected(withKey))
      case None =>
        if (raw.columns.toSeq == Seq("key", "value")) raw
        else if (raw.columns.contains("value") && !raw.columns.contains("key"))
          raw.select(lit(null).cast(StringType).as("key"), col("value"))
        else raw.select(lit(null).cast(StringType).as("key"),
          struct(raw.columns.map(col).toIndexedSeq: _*).as("value"))
    }

  private def formatOf(path: String): String = {
    def byExt(p: String): Option[String] = {
      val l = p.toLowerCase
      if (l.endsWith(".json") || l.endsWith(".jsonl")) Some("json")
      else if (l.endsWith(".csv")) Some("csv")
      else if (l.endsWith(".txt") || l.endsWith(".text")) Some("text")
      else if (l.endsWith(".parquet")) Some("parquet")
      else None
    }
    byExt(path).getOrElse {
      // Directory: sniff the first data file's extension.
      val f = new java.io.File(path)
      val candidates =
        if (f.isDirectory)
          f.listFiles().toSeq.filterNot(_.getName.startsWith(".")).filterNot(_.getName.startsWith("_"))
            .flatMap(c => byExt(c.getName))
        else Nil
      candidates.headOption.getOrElse("parquet")
    }
  }

  /** A source or sink: a Spark data-source format, its options, and a
    * path (`None` for a Kafka topic, whose options name it). */
  private final case class Endpoint(format: String, options: Map[String, String],
      path: Option[String])

  /** Resolve `-i` (`role` input) or `-o` (output): `kafka:<topic>` takes
    * its connector options from `kafkaOptions`; a file takes its format
    * from the `graft.<role>.format` property or the path, with
    * `header=true` for csv. */
  private def endpoint(path: String, role: String, props: Properties,
      kafkaOptions: (String, Properties) => Either[String, Map[String, String]])
      : Either[String, Endpoint] =
    kafkaTopic(path) match {
      case Some(topic) => kafkaOptions(topic, props).map(Endpoint("kafka", _, None))
      case None =>
        val fmt = Option(props.getProperty(s"graft.$role.format")).getOrElse(formatOf(path))
        if (!fileFormats(fmt))
          Left(s"unknown $role format `$fmt` (expected ${fileFormats.mkString("|")})")
        else Right(Endpoint(fmt, if (fmt == "csv") Map("header" -> "true") else Map.empty,
          Some(path)))
    }

  /** Run with an existing session; returns a process exit code: 0 ok,
    * 1 golden mismatch, 2 usage or input error (bad flags, an unreadable
    * script, properties, schema or golden file, a bad serde declaration, an
    * unknown format). A failing Spark job throws. */
  def run(spark: SparkSession, argv: Array[String]): Int =
    parseArgs(argv) match {
      case Left(err) =>
        System.err.println(s"[graft] $err"); 2
      case Right(args) => runParsed(spark, args)
    }

  private def runParsed(spark: SparkSession, args: Args): Int = {
    def usage(msg: String): Int = { System.err.println(s"[graft] $msg"); 2 }

    // Every input is read and parsed here, before any Spark work, so a
    // bad one is a usage error rather than an exception mid-run.
    val (props, pipeline, inSerde, outSerde, golden) =
      try (loadProperties(args.props), GraftScript.parseFile(args.script.get),
        args.inputSerde.map(KeyValueMapping.fromString),
        args.outputSerde.map(KeyValueMapping.fromString),
        args.test.map(path => path -> GoldenFile.read(path)))
      catch {
        case e: java.io.IOException => return usage(s"cannot read ${e.getMessage}")
        case e @ (_: GraftScript.ScriptError | _: IllegalArgumentException |
            _: org.apache.avro.SchemaParseException) => return usage(e.getMessage)
      }
    props.stringPropertyNames().forEach { k =>
      if (k.startsWith("spark.")) spark.conf.set(k, props.getProperty(k))
    }

    // Golden pre-pass gates startup (Plumber.scala:41-55 semantics).
    golden.foreach { case (path, text) =>
      GoldenFile.verifyText(spark, pipeline, path, text) match {
        case Left(msg) =>
          System.err.println(s"[graft] golden verification FAILED:\n$msg")
          return 1
        case Right(n) =>
          System.err.println(s"[graft] golden verification passed ($n records)")
      }
    }
    if (args.dryRun) return 0

    val (src, dst) = (for {
      s <- endpoint(args.input.get, "input", props, kafkaSourceOptions)
      d <- endpoint(args.output.get, "output", props, kafkaSinkOptions)
    } yield (s, d)) match {
      case Left(err) => return usage(err)
      case Right(sd) => sd
    }
    // A kafka:<topic> output is not a filesystem path — deriving a
    // default checkpoint from it would crash at start with a scheme
    // error; require an explicit one instead.
    if (args.stream && dst.path.isEmpty && args.checkpoint.isEmpty)
      return usage("streaming to a kafka sink needs --checkpoint <dir>")

    // Source. A streamed file source takes its schema from a batch read
    // of the same source (the FileStreamSource needs one); the Kafka
    // frame has a fixed schema, of which the chain needs (key, value).
    val batch = spark.read.format(src.format).options(src.options)
    def stream = spark.readStream.format(src.format).options(src.options)
    val raw = src.path match {
      case Some(p) => if (args.stream) stream.schema(batch.load(p).schema).load(p) else batch.load(p)
      case None => (if (args.stream) stream.load() else batch.load()).select(col("key"), col("value"))
    }

    val chained = pipeline.compile(frameify(raw, inSerde))
    val encoded = outSerde.fold(chained)(_.encode(chained))
    val out = if (dst.format == "text") forTextSink(encoded) else encoded

    // Sink. Batch files overwrite; Kafka keeps Spark's default mode.
    if (!args.stream) {
      val writer = out.write.format(dst.format).options(dst.options)
      dst.path.fold(writer.save())(writer.mode("overwrite").save)
      0
    } else {
      // Checkpointed sink, graceful shutdown (Plumber.scala:77-85).
      val writer = out.writeStream.format(dst.format).options(dst.options)
      val query = dst.path.fold(writer)(writer.option("path", _))
        .option("checkpointLocation",
          args.checkpoint.getOrElse(args.output.get.stripSuffix("/") + "_checkpoint"))
        .trigger(if (args.once) Trigger.AvailableNow() else
          Trigger.ProcessingTime(0))
        .start()
      // SIGTERM drains: the hook stops the query before Spark's own
      // shutdown hook stops the SparkContext under it.
      val drained = new java.util.concurrent.CountDownLatch(1)
      val drain: Runnable = () => try query.stop() finally drained.countDown()
      ShutdownHookManager.get().addShutdownHook(drain, DrainHookPriority)
      try { query.awaitTermination(); 0 }
      finally
        // Once SIGTERM has started JVM shutdown the hook is already
        // running and can no longer be removed. The query ends before
        // its stop() returns, so wait for the hook: the caller's
        // spark.stop() must not stop the context under it.
        try ShutdownHookManager.get().removeShutdownHook(drain)
        catch { case _: IllegalStateException => drained.await() }
    }
  }

  /** Hadoop's `ShutdownHookManager` runs hooks one at a time, highest
    * priority first; Spark registers its own (which stops the
    * SparkContext) at `FileSystem.SHUTDOWN_HOOK_PRIORITY + 30`. */
  private val DrainHookPriority = FileSystem.SHUTDOWN_HOOK_PRIORITY + 31

  /** Spark's text sink takes exactly one string column: write `value`
    * (cast to string), mirroring a value-only Kafka producer. */
  private def forTextSink(df: DataFrame): DataFrame = {
    require(df.columns.contains("value"),
      "text output needs a `value` column in the pipeline result")
    df.select(col("value").cast(StringType).as("value"))
  }

  def main(argv: Array[String]): Unit = {
    val builder = SparkSession.builder()
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.session.timeZone", "UTC")
    // spark-submit injects spark.master; default to local[*] when absent
    // so the CLI also runs standalone (sbt runMain / java -cp).
    val spark = (if (sys.props.contains("spark.master")) builder
                 else builder.master("local[*]")).getOrCreate()
    val code = try run(spark, argv) finally spark.stop()
    if (code != 0) sys.exit(code)
  }
}
