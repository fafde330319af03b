package graft.sources

import java.io.BufferedOutputStream
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Topic source/sink adapter — the reference's Kafka ingress/egress
  * re-expressed as a transport-agnostic layer (SURVEY.md §7: "design the
  * source/sink layer as an adapter: Kafka when the connector is on the
  * classpath, file/MemoryStream everywhere in CI").
  *
  * Reference surface covered:
  *   - source scan `builder.stream(topic, Consumed.with(strSerde, jsonSerde))`
  *     (`streamFunctions/AvailableSeatsPerRoute.java:29-32`) →
  *     [[readStreamRaw]] + [[graft.engine.Decode]];
  *   - sink `.to(topic, Produced.with(...))` (every query's tail) →
  *     [[writeStreamRaw]]/[[writeBatchRaw]] over
  *     [[graft.engine.Envelope.wrap]] output; over file topics
  *     [[writeBatchRaw]] writes a frame that is already on the driver (the
  *     published result tables) from the driver, one part file per call
  *     and no Spark job;
  *   - DDL `createTopicIfNotExists(topic, 3, 1)`
  *     (`utils/KafkaTopicUtils.java:25-38`) → [[createTopicIfNotExists]].
  *
  * Both transports expose the SAME raw frame `(key string, value string,
  * ts timestamp)`, so decode, queries, and envelope encode never know which
  * transport is active. The fallback is a JSON-lines directory per topic —
  * append-only like a topic, streamable with Spark's file source. The Kafka
  * option builders are pure functions so the Kafka wiring is unit-testable
  * without a broker.
  */
object StreamAdapters {

  /** The transport-agnostic raw frame: Kafka's (key, value, timestamp)
    * projected to strings, or the fallback file's native schema. */
  val rawSchema: StructType = StructType(Seq(
    StructField("key", StringType),
    StructField("value", StringType),
    StructField("ts", TimestampType)))

  /** A topic address. `fallbackDir` is the parent directory holding one
    * subdirectory per topic when no Kafka connector is on the classpath. */
  final case class TopicRef(
      topic: String,
      bootstrap: String = "localhost:9092",
      fallbackDir: Option[String] = None,
      startingOffsets: String = "earliest")

  /** True when `spark-sql-kafka` is on the classpath (it is NOT in this
    * build — offline coursier; the branch exists for deployments that add
    * the connector jar). */
  lazy val kafkaConnectorPresent: Boolean =
    Try(Class.forName("org.apache.spark.sql.kafka010.KafkaSourceProvider")).isSuccess

  /** Reader options for the Kafka branch (pure; unit-tested brokerless). */
  def kafkaSourceOptions(ref: TopicRef): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> ref.bootstrap,
    "subscribe" -> ref.topic,
    "startingOffsets" -> ref.startingOffsets)

  /** Writer options for the Kafka branch. */
  def kafkaSinkOptions(ref: TopicRef): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> ref.bootstrap,
    "topic" -> ref.topic)

  private def dirOf(ref: TopicRef): String = ref.fallbackDir match {
    case Some(d) => s"$d/${ref.topic}"
    case None => throw new IllegalArgumentException(
      s"topic '${ref.topic}': no Kafka connector on the classpath and no fallbackDir")
  }

  private def projectKafka(df: DataFrame): DataFrame =
    df.select(col("key").cast("string").as("key"),
      col("value").cast("string").as("value"),
      col("timestamp").as("ts"))

  /** The number of paths above which Spark lists files with a Spark job. */
  private val ListingThresholdKey = "spark.sql.sources.parallelPartitionDiscovery.threshold"

  /** Streaming raw (key, value, ts) frame from a topic.
    *
    * The file branch raises that threshold on `spark` for good. A file
    * source's `getBatch` lists its trigger's new files again
    * (`InMemoryFileIndex`), as a Spark job on every core once they are more
    * than 32, and reads the threshold from this session at every trigger,
    * so a set-and-restore around `start()` would not reach it. */
  def readStreamRaw(spark: SparkSession, ref: TopicRef): DataFrame =
    if (kafkaConnectorPresent)
      projectKafka(spark.readStream.format("kafka")
        .options(kafkaSourceOptions(ref)).load())
    else {
      spark.conf.set(ListingThresholdKey, Int.MaxValue.toString)
      spark.readStream.schema(rawSchema).json(dirOf(ref))
    }

  /** Batch raw frame over the same topic (the oracle compares batch runs). */
  def readBatchRaw(spark: SparkSession, ref: TopicRef): DataFrame =
    if (kafkaConnectorPresent)
      projectKafka(spark.read.format("kafka")
        .options(kafkaSourceOptions(ref)).load())
    else spark.read.schema(rawSchema).json(dirOf(ref))

  /** Continuously produce a streaming (key, value[, ts]) frame to a topic. */
  def writeStreamRaw(df: DataFrame, ref: TopicRef, checkpoint: String,
                     queryName: String): StreamingQuery = {
    val w =
      if (kafkaConnectorPresent)
        df.writeStream.format("kafka").options(kafkaSinkOptions(ref))
      else df.writeStream.format("json").option("path", dirOf(ref))
    w.option("checkpointLocation", checkpoint).queryName(queryName).start()
  }

  /** Produce a batch (key, value[, ts]) frame to a topic (append, like a
    * producer).
    *
    * Over file topics, a frame that is already on the driver (its
    * optimized plan is a local relation, as for a result table read from
    * the driver or a frame of local rows) is written by the driver as one
    * part file, with no Spark job. Any other frame goes through Spark's
    * JSON writer. */
  def writeBatchRaw(df: DataFrame, ref: TopicRef): Unit =
    if (kafkaConnectorPresent)
      df.write.format("kafka").options(kafkaSinkOptions(ref)).save()
    else localJsonLines(df) match {
      case Some(lines) => writeLocalPart(Paths.get(dirOf(ref)), lines)
      case None => df.write.mode("append").json(dirOf(ref))
    }

  /** The frame's rows as JSON lines, when Catalyst folds them on the
    * driver. `to_json` of a struct of every column runs the generator and
    * options Spark's JSON writer runs for each row, so the lines are the
    * ones that writer would write. */
  private def localJsonLines(df: DataFrame): Option[Seq[UTF8String]] =
    df.select(to_json(struct(col("*")))).queryExecution.optimizedPlan match {
      case l: LocalRelation => Some(l.data.map(_.getUTF8String(0)))
      case _ => None
    }

  /** Write `lines` as one new part file of `dir`: first to a file whose
    * name starts with `.` (which file listings skip), then renamed
    * atomically to its `part-` name, so a reader sees all of it or none. */
  private def writeLocalPart(dir: Path, lines: Seq[UTF8String]): Unit = {
    Files.createDirectories(dir)
    val name = s"part-00000-${UUID.randomUUID()}-c000.json"
    val tmp = dir.resolve(s".$name.tmp")
    try {
      val out = new BufferedOutputStream(Files.newOutputStream(tmp))
      try lines.foreach { l => l.writeTo(out); out.write('\n') }
      finally out.close()
      Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    } catch {
      case e: Throwable => Try(Files.deleteIfExists(tmp)); throw e
    }
  }

  /** Idempotent topic creation (`utils/KafkaTopicUtils.java:25-38`:
    * 3 partitions, RF 1). Kafka branch: AdminClient reflectively (the class
    * ships with the connector's kafka-clients; reflection keeps it a soft
    * dependency), swallowing TopicExists. Fallback: mkdir -p — partitions/RF
    * have no directory analog, parallelism comes from Spark itself. */
  def createTopicIfNotExists(ref: TopicRef, partitions: Int = 3,
                             replication: Short = 1): Unit =
    if (kafkaConnectorPresent) createKafkaTopic(ref, partitions, replication)
    else { Files.createDirectories(Paths.get(dirOf(ref))); () }

  /** Only reachable when the connector (and thus kafka-clients) is deployed. */
  private def createKafkaTopic(ref: TopicRef, partitions: Int, rf: Short): Unit = {
    val props = new java.util.Properties()
    props.put("bootstrap.servers", ref.bootstrap)
    val client = Class.forName("org.apache.kafka.clients.admin.AdminClient")
      .getMethod("create", classOf[java.util.Properties]).invoke(null, props)
    try {
      val topic = Class.forName("org.apache.kafka.clients.admin.NewTopic")
        .getConstructor(classOf[String], classOf[Int], classOf[Short])
        .newInstance(ref.topic, Int.box(partitions), Short.box(rf))
      val result = client.getClass.getMethod("createTopics", classOf[java.util.Collection[_]])
        .invoke(client, java.util.Collections.singletonList(topic))
      val all = result.getClass.getMethod("all").invoke(result)
      try all.getClass.getMethod("get").invoke(all)
      catch {
        case e: java.lang.reflect.InvocationTargetException
          if e.getCause != null && e.getCause.getCause != null &&
            e.getCause.getCause.getClass.getSimpleName == "TopicExistsException" => ()
      }
    } finally client.getClass.getMethod("close").invoke(client)
  }
}
