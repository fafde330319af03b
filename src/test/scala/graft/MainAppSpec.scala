package graft

import java.nio.file.Files
import java.util.concurrent.CountDownLatch

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import graft.TransitFixture
import graft.engine.Encode
import graft.sources.StreamAdapters
import graft.streaming.ResultPublisher

/** The runner's wiring: arg parsing and one subscribe→run→publish cycle
  * over the file transport. */
class MainAppSpec extends SparkSpec {

  test("parse: full flag set and rejection of malformed command lines") {
    val c = MainApp.parse(Array("--topics", "/t", "--bootstrap", "b:9092",
      "--checkpoint", "/c", "--state", "/s", "--publish-every", "5"))
    c shouldBe MainApp.Conf(Some("/t"), "b:9092", "/c", Some("/s"), 5L)
    intercept[IllegalArgumentException](MainApp.parse(Array("--bogus", "x")))
    // a flag missing its value must not swallow the next flag
    intercept[IllegalArgumentException](
      MainApp.parse(Array("--topics", "--checkpoint")))
    intercept[IllegalArgumentException](MainApp.parse(Array("--topics")))
    intercept[IllegalArgumentException](
      MainApp.parse(Array("--publish-every", "0")))
  }

  test("wire refuses an existing checkpoint without durable state") {
    val root = Files.createTempDirectory("graft-main-guard-").toString
    Files.createDirectories(java.nio.file.Paths.get(s"$root/ckpt"))
    val e = intercept[IllegalArgumentException] {
      MainApp.wire(spark, MainApp.Conf(topicsDir = Some(root),
        checkpoint = s"$root/ckpt"))
    }
    e.getMessage should include("--state")
  }

  test("wire runs the 13 queries from topics and publishes envelopes") {
    val root = Files.createTempDirectory("graft-main-").toString
    val conf = MainApp.Conf(topicsDir = Some(root),
      checkpoint = s"$root/ckpt", stateDir = Some(s"$root/state"))
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
