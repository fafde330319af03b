package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.StreamAdapters
import graft.sources.StreamAdapters.TopicRef
import graft.streaming.{LocalCheckpointFileManager, ResultPublisher, TransitStreamingJob}

/** The production runner — `MainStreamApp.java:12-44` re-expressed: one
  * Spark application subscribing to `Routes_topic`/`Trips_topic`, running
  * all 13 queries continuously, and publishing every result to its
  * `projeto3_*` topic in Connect-envelope form.
  *
  * Transport selection is the adapter's and is decided by the CLASSPATH:
  * `format("kafka")` when the `spark-sql-kafka` connector jar is deployed,
  * JSON-lines directories under `--topics` otherwise; `--bootstrap` only
  * configures where the Kafka branch points.
  *
  * Usage:
  * {{{
  * sbt "runMain graft.MainApp --topics /data/topics \
  *      --checkpoint /data/ckpt --publish-every 10"
  * }}}
  * Under a plain JVM the session is `local` on every core; under
  * spark-submit it keeps the launcher's master ([[graft.engine.Tuning]]).
  * The checkpoint is the only durable state: restarted over it, the job
  * rebuilds its result tables from the processor's state, resumes the
  * committed offsets, and its first publish sends every table. A
  * checkpoint written by the earlier two-query job is not resumable (its
  * open windows live in `windowed/`), nor is one written before the
  * processor kept its closed windows (no `closed` state variable).
  */
object MainApp {

  final case class Conf(
      topicsDir: Option[String] = None,
      bootstrap: String = "localhost:9092",
      checkpoint: String = "/tmp/graft-ckpt",
      publishEverySec: Long = 10L)

  def parse(args: Array[String]): Conf = {
    require(args.length % 2 == 0,
      s"flags take one value each: ${args.mkString(" ")}")
    val conf = args.sliding(2, 2).foldLeft(Conf()) {
      case (_, Array(flag, v)) if v.startsWith("--") =>
        throw new IllegalArgumentException(s"flag $flag is missing its value (got '$v')")
      case (c, Array("--topics", v))        => c.copy(topicsDir = Some(v))
      case (c, Array("--bootstrap", v))     => c.copy(bootstrap = v)
      case (c, Array("--checkpoint", v))    => c.copy(checkpoint = v)
      case (c, Array("--publish-every", v)) => c.copy(publishEverySec = v.toLong)
      case (_, other) =>
        throw new IllegalArgumentException(s"unknown arguments: ${other.mkString(" ")}")
    }
    require(conf.publishEverySec > 0,
      s"--publish-every must be positive, got ${conf.publishEverySec}")
    conf
  }

  def topicRef(conf: Conf)(topic: String): TopicRef =
    TopicRef(topic, bootstrap = conf.bootstrap, fallbackDir = conf.topicsDir)

  /** Wire the whole app: create the input and the 13 result topics
    * (idempotent, as the reference runner does at startup, and once, not
    * per publish), subscribe, start the job's one query (`union_runner`,
    * all 13 queries), and build one periodic-publish step that writes only
    * the tables changed since the last publish: the first publish writes
    * every table, the rebuilt ones of a restart included. The session
    * writes its checkpoints through [[LocalCheckpointFileManager]] from
    * here on.
    * Returns the job, its queries, and the publish step (testable without
    * blocking). */
  def wire(spark: SparkSession, conf: Conf): (TransitStreamingJob, Seq[StreamingQuery], () => Unit) = {
    val ref = topicRef(conf) _
    (Seq("Routes_topic", "Trips_topic") ++ ResultPublisher.egressTopics)
      .foreach(t => StreamAdapters.createTopicIfNotExists(ref(t)))
    LocalCheckpointFileManager.install(spark)
    val job = TransitStreamingJob.fromTopics(spark, ref("Routes_topic"), ref("Trips_topic"))
    val queries = job.startAll(conf.checkpoint)
    // serialised: the periodic publisher and the final flush may overlap,
    // and two publishes that both read `sent` before either stored its
    // result would each append the same generation of a table
    val lock = new Object
    var sent = Map.empty[String, Long]
    val publish = () => lock.synchronized {
      sent = ResultPublisher.publishChanged(job.store, ref, sent)
    }
    (job, queries, publish)
  }

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    val spark = graft.engine.Tuning.session("graft-transit")
    val (_, queries, publish) = wire(spark, conf)
    // woken by a latch, not Thread.interrupt: an interrupt landing inside
    // a publish would abort its topic writes halfway
    val stop = new CountDownLatch(1)
    val publisher = new Thread(() => {
      while (!stop.await(conf.publishEverySec, TimeUnit.SECONDS) &&
        queries.exists(_.isActive)) {
        try publish()
        catch { case NonFatal(e) => e.printStackTrace() }
      }
    }, "graft-publisher")
    publisher.setDaemon(true)
    publisher.start()
    try spark.streams.awaitAnyTermination()
    finally {
      // one query failing must not leave the others running headless
      queries.foreach(q => try q.stop() catch { case NonFatal(_) => () })
      stop.countDown()
      publisher.join() // let an in-flight periodic publish finish first
      publish() // final flush of the last maintained state
    }
  }
}
