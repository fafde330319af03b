package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.engine.Schemas.{Route, Trip}

/** Multi-day horizon run (VERDICT r6 #8): the streaming job's state must
  * stay FLAT as event time advances — the union runner drops each window
  * once its 0-second watermark closes it, and the versioned snapshot GC
  * keeps the state directory at O(tables), not O(commits). A leak in
  * either passes every semantics test (they run a handful of triggers) and
  * kills a real deployment in week one, so the ceilings are pinned here. */
class LongHorizonSpec extends SparkSpec {

  // the union runner commits once a day: sixteen days make 16 commits
  private val Days = 16
  private val WindowsPerDay = 4

  test("window state evicts closed windows and snapshot GC keeps the state dir flat") {
    val sp = spark; import sp.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val root = Files.createTempDirectory("graft-horizon-").toString
    val stateDir = s"$root/state"

    val routesIn = MemoryStream[Route]
    val tripsIn = MemoryStream[Trip]
    val job = new TransitStreamingJob(spark, routesIn.toDF(), tripsIn.toDF(),
      Some(stateDir))
    val queries = job.startAll(s"$root/ckpt")
    val union = queries.find(_.name == "union_runner").get
    def stateRows = union.lastProgress.stateOperators.head.numRowsTotal
    var dayOneRows = 0L

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

      // ---- Q11/Q12 emitted one row per CLOSED window ----------------------
      // (all but the final still-open window; each is upserted exactly once)
      val closed = Days * WindowsPerDay - 1
      job.store("q11_window_top_type").count() shouldBe closed.toLong
      job.store("q12_window_least_occupied_type").count() shouldBe closed.toLong

      // ---- the union runner's state is BOUNDED ----------------------------
      // closed windows are dropped once the watermark passes them: after
      // many days of windows, the state holds no more rows than after day 1
      info(s"union state rows: $dayOneRows after day 1, $stateRows after $closed closed windows")
      stateRows should be <= dayOneRows

      // ---- snapshot GC: state dir is O(tables), not O(commits) ------------
      val committed = java.nio.file.Files
        .readString(java.nio.file.Paths.get(s"$stateDir/_committed")).trim.toLong
      val vdirs = Option(new java.io.File(stateDir).listFiles()).get
        .filter(f => f.isDirectory && f.getName.startsWith("v")).length
      info(s"commits: $committed, live version dirs: $vdirs")
      committed should be >= 15L // the horizon actually produced many commits
      vdirs.toLong should be <= 25L          // O(#tables) ceiling
      vdirs.toLong should be < committed / 2 // and decoupled from commit count
    } finally queries.foreach(_.stop())
  }
}
