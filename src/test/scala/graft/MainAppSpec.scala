package graft

import java.lang.management.ManagementFactory
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

import graft.TransitFixture
import graft.engine.Encode
import graft.engine.Schemas.{Route, Trip}
import graft.sources.StreamAdapters
import graft.streaming.{ResultPublisher, StateStores, TransitStreamingJob}

/** The runner's wiring: arg parsing, one subscribe→run→publish cycle over
  * the file transport, and a restart over the checkpoint. */
class MainAppSpec extends SparkSpec {

  test("parse: full flag set and rejection of malformed command lines") {
    val c = MainApp.parse(Array("--topics", "/t", "--bootstrap", "b:9092",
      "--checkpoint", "/c", "--publish-every", "5"))
    c shouldBe MainApp.Conf(Some("/t"), "b:9092", "/c", 5L)
    intercept[IllegalArgumentException](MainApp.parse(Array("--bogus", "x")))
    // the checkpoint is the only durable state: no snapshot directory
    intercept[IllegalArgumentException](MainApp.parse(Array("--state", "/s")))
      .getMessage should include("unknown arguments: --state")
    // a flag missing its value must not swallow the next flag
    intercept[IllegalArgumentException](
      MainApp.parse(Array("--topics", "--checkpoint")))
    intercept[IllegalArgumentException](MainApp.parse(Array("--topics")))
    intercept[IllegalArgumentException](
      MainApp.parse(Array("--publish-every", "0")))
  }

  test("wire over an existing checkpoint rebuilds every table and publishes it first") {
    val root = Files.createTempDirectory("graft-main-restart-").toString
    val conf = MainApp.Conf(topicsDir = Some(root), checkpoint = s"$root/ckpt")
    val ref = MainApp.topicRef(conf) _
    def produce(rs: Seq[Route], ts: Seq[Trip]): Unit = {
      StreamAdapters.writeBatchRaw(Encode.routesRaw(routesDf(rs)), ref("Routes_topic"))
      StreamAdapters.writeBatchRaw(Encode.tripsRaw(tripsDf(ts)), ref("Trips_topic"))
    }
    def tables(job: TransitStreamingJob): Map[String, Set[Row]] =
      job.store.names.map(n => n -> job.store.rows(n).toSet).toMap

    // -- incarnation 1: two triggers, which close the 10:00 and the 11:00
    // window; it stops without publishing
    val (job1, q1s, _) = MainApp.wire(spark, conf)
    try {
      produce(TransitFixture.routes, TransitFixture.trips)
      q1s.foreach(_.processAllAvailable())
      produce(Nil, Seq(Trip("t_late", "r3", "b", "c", "Taxi", "P7", ts("2024-01-01 13:05:00"))))
      q1s.foreach(_.processAllAvailable())
    } finally q1s.foreach(_.stop())
    val before = tables(job1)
    before("q11_window_top_type") should have size 2
    before("window_type_counts") should not be empty
    ResultPublisher.egressTopics.foreach(t =>
      StreamAdapters.readBatchRaw(spark, ref(t)).count() shouldBe 0)

    // -- incarnation 2 in a new JVM, as a redeployed job: its first
    // publish, before any new input, sends every rebuilt table
    val log = s"$root/restarted.log"
    val jvm = new ProcessBuilder((Seq(s"${System.getProperty("java.home")}/bin/java") ++
      ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filter(a => a.startsWith("--add-opens") || a.startsWith("-Dspark.sql.session.timeZone")) ++
      Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"),
        "graft.RestartedApp", root, conf.checkpoint)).asJava)
    jvm.environment().put("SPARK_GRAFT_CPUS", "2")
    val restarted = jvm.redirectErrorStream(true).redirectOutput(new java.io.File(log)).start()
    val done = restarted.waitFor(300, TimeUnit.SECONDS)
    if (!done) restarted.destroyForcibly()
    withClue(Files.readString(java.nio.file.Paths.get(log)).takeRight(3000)) {
      done shouldBe true
      restarted.exitValue() shouldBe 0
    }
    ResultPublisher.egress.foreach { case (n, e) =>
      withClue(n) {
        val sent = StreamAdapters.readBatchRaw(spark, ref(e.topic))
        sent.count() should be > 0L
        assertSameRows(sent, ResultPublisher.toWire(n, job1.store(n)))
      }
    }

    // -- incarnation 3 in this JVM, on unchanged session confs
    val confKeys = Seq(StateStores.ProviderKey, "spark.sql.shuffle.partitions")
    val sessionConf = confKeys.map(spark.conf.getOption)
    val t0 = System.nanoTime()
    val (job3, q3s, _) = MainApp.wire(spark, conf)
    info(s"wire over the checkpoint, restore included: ${(System.nanoTime() - t0) / 1000000} ms")
    try {
      confKeys.map(spark.conf.getOption) shouldBe sessionConf
      tables(job3) shouldBe before
      // one new trip counts exactly once
      produce(Nil, Seq(Trip("t_new", "r1", "a", "b", "Bus", "P8", ts("2024-01-01 13:10:00"))))
      q3s.foreach(_.processAllAvailable())
      job3.store.rows("q9_total_passengers").map(_.getLong(0)) shouldBe
        before("q9_total_passengers").toSeq.map(_.getLong(0) + 1)
    } finally q3s.foreach(_.stop())
  }

  test("wire runs the 13 queries from topics and publishes envelopes") {
    val root = Files.createTempDirectory("graft-main-").toString
    val conf = MainApp.Conf(topicsDir = Some(root), checkpoint = s"$root/ckpt")
    val ref = MainApp.topicRef(conf) _
    Seq("Routes_topic", "Trips_topic")
      .foreach(t => StreamAdapters.createTopicIfNotExists(ref(t)))
    StreamAdapters.writeBatchRaw(
      Encode.routesRaw(routesDf(TransitFixture.routes)), ref("Routes_topic"))
    StreamAdapters.writeBatchRaw(
      Encode.tripsRaw(tripsDf(TransitFixture.trips)), ref("Trips_topic"))

    val (job, queries, publish) = MainApp.wire(spark, conf)
    try {
      queries.foreach(_.processAllAvailable())
      // the periodic publisher and the final flush can call publish at the
      // same moment: both must return, and the generation lands once
      val go = new CountDownLatch(1)
      val both = Future.sequence(Seq.fill(2)(Future { go.await(); publish() }))
      go.countDown()
      Await.result(both, 5.minutes)
      val out = StreamAdapters.readBatchRaw(spark, ref("projeto3_total_passengers"))
        .collect()
      out.length shouldBe 1
      out(0).getString(0) shouldBe "totalPassengers"
      out(0).getString(1) should include(""""totalPassengers":9""")

      // an idle cycle publishes nothing new (changed-only publishing)
      publish()
      StreamAdapters.readBatchRaw(spark, ref("projeto3_total_passengers"))
        .count() shouldBe 1
    } finally queries.foreach(_.stop())
    job.store.names should contain("q13_most_occupied_operator")
  }

  test("wire creates the input and the 13 result topics before any publish") {
    val root = Files.createTempDirectory("graft-main-topics-").toString
    val (_, queries, _) = MainApp.wire(spark,
      MainApp.Conf(topicsDir = Some(root), checkpoint = s"$root/ckpt"))
    try {
      val dirs = new java.io.File(root).listFiles().filter(_.isDirectory).map(_.getName).toSet
      dirs.filter(_.startsWith("projeto3_")) shouldBe
        ResultPublisher.egress.values.map(_.topic).toSet
      dirs.count(_.startsWith("projeto3_")) shouldBe 13
      dirs should contain allOf ("Routes_topic", "Trips_topic")
    } finally queries.foreach(_.stop())
  }
}

/** `MainApp` restarted in its own JVM over file topics under `args(0)` and
  * the checkpoint `args(1)`: wire, publish once, stop. */
object RestartedApp {
  def main(args: Array[String]): Unit = {
    val spark = graft.engine.Tuning.session("graft-restarted")
    val (_, queries, publish) =
      MainApp.wire(spark, MainApp.Conf(topicsDir = Some(args(0)), checkpoint = args(1)))
    try publish() finally queries.foreach(_.stop())
    spark.stop()
  }
}
