package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.engine.Schemas.{Route, Trip}

/** Multi-day horizon run (VERDICT r6 #8): the streaming job's counters
  * must stay FLAT as event time advances — the union runner moves each
  * window out of its open windows once its 0-second watermark closes it,
  * into `closed`, which grows by one row per closed window and nothing
  * else. A leak passes every semantics test (they run a handful of
  * triggers) and kills a real deployment in week one, so the ceiling is
  * pinned here. */
class LongHorizonSpec extends SparkSpec {

  // one trigger a day for sixteen days
  private val Days = 16
  private val WindowsPerDay = 4

  test("window state evicts closed windows; only the closed-window record grows") {
    val sp = spark; import sp.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val root = Files.createTempDirectory("graft-horizon-").toString

    val routesIn = MemoryStream[Route]
    val tripsIn = MemoryStream[Trip]
    val job = new TransitStreamingJob(spark, routesIn.toDF(), tripsIn.toDF())
    val queries = job.startAll(s"$root/ckpt")
    val union = queries.find(_.name == "union_runner").get
    def stateRows = union.lastProgress.stateOperators.head.numRowsTotal
    var dayOneRows, finalRows = 0L
    val closed = Days * WindowsPerDay - 1

    try {
      routesIn.addData(
        Route("r1", "a", "b", "Bus", 100, "OpA", ts("2024-01-01 00:00:00")),
        Route("r2", "b", "c", "Taxi", 40, "OpB", ts("2024-01-01 00:00:01")))
      // one trigger per day: hours 0..3 of each day, two trips per window
      (1 to Days).foreach { d =>
        val day = f"2024-01-$d%02d"
        val trips = (0 until WindowsPerDay).flatMap { h =>
          Seq(
            Trip(s"t$d-$h-a", "r1", "a", "b", "Bus", s"P$h", ts(f"$day $h%02d:10:00")),
            Trip(s"t$d-$h-b", "r2", "b", "c", "Taxi", s"P$h", ts(f"$day $h%02d:40:00")))
        }
        tripsIn.addData(trips: _*)
        union.processAllAvailable()
        if (d == 1) dayOneRows = stateRows
      }
      finalRows = stateRows

      // ---- Q11/Q12 emitted one row per CLOSED window ----------------------
      // (all but the final still-open window; each is upserted exactly once)
      job.store("q11_window_top_type").count() shouldBe closed.toLong
      job.store("q12_window_least_occupied_type").count() shouldBe closed.toLong
    } finally queries.foreach(_.stop())

    // ---- the union runner's counters are BOUNDED ---------------------------
    // closed windows leave the open windows once the watermark passes them:
    // after many days of windows, the state less its `closed` rows holds no
    // more rows than after day 1, less day 1's closed windows
    val closedRows = spark.read.format("statestore").option("stateVarName", "closed")
      .load(s"$root/ckpt/union").count()
    info(s"union state rows: $dayOneRows after day 1, $finalRows after $closed closed " +
      s"windows, $closedRows of them closed-window rows")
    closedRows shouldBe closed.toLong
    finalRows - closedRows should be <= dayOneRows - (WindowsPerDay - 1)
  }
}
