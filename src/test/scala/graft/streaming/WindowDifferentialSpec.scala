package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import scala.collection.concurrent.TrieMap
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.engine.Schemas.{Route, Trip}

/** q11/q12's windows against Spark's own: after every chunk of trips, the
  * union runner's `window_type_counts` must equal what Spark's append-mode
  * window aggregation under `withWatermark("ts", "0 seconds")` has emitted
  * over the same chunks, one trigger each. A window is judged late by its
  * end, closes when the watermark reaches its end, and a trip with a null
  * type advances the watermark without being counted. */
class WindowDifferentialSpec extends SparkSpec {
  import WindowDifferentialSpec._

  /** (window start, type) → trips, as each side has emitted them. */
  private type Windows = Map[(Timestamp, String), Long]

  /** Feed `chunks` to the job and to Spark's aggregation; the closed windows
    * of both after each chunk. */
  private def run(chunks: Seq[Seq[Trip]]): Seq[(Windows, Windows)] = {
    val sp = spark; import sp.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val root = Files.createTempDirectory("graft-windows-").toString
    val (refIn, routesIn, tripsIn) = (MemoryStream[Trip], MemoryStream[Route], MemoryStream[Trip])
    val emitted = TrieMap.empty[(Timestamp, String), Long]
    val reference = refIn.toDF().withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "1 hour"), col("transport_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("transport_type"), col("cnt"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$root/reference")
      .foreachBatch((b: DataFrame, _: Long) =>
        b.filter(col("window_start").isNotNull && col("transport_type").isNotNull).collect()
          .foreach(r => emitted((r.getTimestamp(0), r.getString(1))) = r.getLong(2)))
      .start()
    val job = new TransitStreamingJob(spark, routesIn.toDF(), tripsIn.toDF())
    val queries = reference +: job.startAll(s"$root/job")
    try chunks.map { c =>
      refIn.addData(c)
      tripsIn.addData(c)
      queries.foreach(_.processAllAvailable())
      val closed = job.store.rows("window_type_counts")
        .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
      (closed, emitted.toMap)
    } finally queries.foreach(_.stop())
  }

  private def agree(chunks: Seq[Seq[Trip]]): Seq[Windows] =
    run(chunks).zipWithIndex.map { case ((job, reference), i) =>
      withClue(s"after chunk ${i + 1} of ${chunks.size}: ") { job shouldBe reference }
      job
    }

  test("six probe triggers: lateness is judged by the window's end") {
    val after = agree(Seq(
      Seq(bus("10:10"), bus("10:20")),
      Seq(bus("11:30")),             // closes [10, 11) at 2
      Seq(bus("11:10")),             // older than the watermark, its window open: counted
      Seq(bus("10:30")),             // its window closed: dropped
      Seq(bus("12:00"), bus("11:59")), // both counted; [11, 12) closes at end == watermark
      Seq(bus("11:45"))))            // dropped
    val (w10, w11) = (at("10:00") -> "Bus", at("11:00") -> "Bus")
    after shouldBe Seq(Map(), Map(w10 -> 2L), Map(w10 -> 2L), Map(w10 -> 2L),
      Map(w10 -> 2L, w11 -> 3L), Map(w10 -> 2L, w11 -> 3L))
  }

  test("a null ts is not counted and a null type advances the watermark uncounted") {
    val after = agree(Seq(
      Seq(bus("10:10"), trip("n1", null, "Bus")),
      Seq(trip("n2", at("11:30"), null)), // closes [10, 11) at 1
      Seq(trip("n3", null, "Taxi"), trip("n4", at("11:40"), null))))
    after.last shouldBe Map((at("10:00"), "Bus") -> 1L)
  }

  test("seeded random chunked trip sequences agree after every chunk") {
    (1 to 4).foreach { seed =>
      withClue(s"seed $seed: ")(agree(randomChunks(new Random(seed))))
    }
  }
}

object WindowDifferentialSpec {
  private val Day = "2024-01-01"
  private def at(hm: String): Timestamp = Timestamp.valueOf(s"$Day $hm:00")
  private def trip(id: String, ts: Timestamp, typ: String): Trip =
    Trip(id, "r1", "a", "b", typ, "P1", ts)
  private def bus(hm: String): Trip = trip(s"t$hm", at(hm), "Bus")

  /** Eight chunks of one to six trips around an event-time front that moves
    * 0–40 minutes a chunk: most trips land in open windows, some in closed
    * ones, some on an hour boundary; a few have no type or no ts. */
  private def randomChunks(rnd: Random): Seq[Seq[Trip]] = {
    val base = at("08:00").getTime
    var front = 0L
    (1 to 8).map { c =>
      front += rnd.nextInt(41) * 60000L
      (1 to 1 + rnd.nextInt(6)).map { i =>
        val offset =
          if (rnd.nextInt(8) == 0) (front / 3600000L) * 3600000L
          else front + (rnd.nextInt(101) - 90) * 60000L + rnd.nextInt(60) * 1000L
        val ts = if (rnd.nextInt(20) == 0) null else new Timestamp(base + offset)
        val typ = Seq("Bus", "Taxi", "Train", null)(rnd.nextInt(4))
        trip(s"t$c-$i", ts, typ)
      }
    }
  }
}
