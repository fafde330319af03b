package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.MainApp
import graft.engine.{Decode, Envelope}
import graft.operators.TransitQueries
import graft.sources.StreamAdapters
import graft.streaming.ResultPublisher

/** The transit_stream workload: the production runner's wiring
  * (`MainApp.wire`) over JSON-lines topic directories, fed by the
  * transit_gen.py process that run.py starts beside this JVM.
  *
  *   1. set-up, three times: a session and the whole wiring over empty
  *      topics (the median is `setup_s`);
  *   2. catch-up: the generator's backlog is already in the topics; wire
  *      the job for real, drain it, publish;
  *   3. live: signal the generator, then publish after every completed
  *      `union_runner` trigger until every chunk is published;
  *   4. a final drain and publish. The generator's last chunk carries a
  *      far-future sentinel trip, so by now the watermark has closed every
  *      window. One sentinel is enough: once the watermark passes a
  *      window's end, the windowed query runs a batch without new data that
  *      emits the window, and `processAllAvailable` returns only after it;
  *   5. check: decode the final publish of every `projeto3_*` topic with
  *      `Envelope.unwrap` and compare it with the batch `TransitQueries`
  *      over the same topic files, as `StreamingParitySpec` does.
  */
object TransitStream {

  private val TotalTopic = "projeto3_total_passengers"
  /** How long the live loop waits, after the live phase, for the last chunk
    * to be published. */
  private val DrainMs = 60000L
  // the payload sits JSON-escaped inside the envelope's value string
  private val TotalRe = "payload[^0-9]*totalPassengers[^0-9]*([0-9]+)".r

  /** New part files of a topic directory since `seen` (updated in place). */
  private def newFiles(dir: File, seen: mutable.Set[String]): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))
      .filterNot(f => seen(f.getName))
      .sortBy(_.getName)
      .map { f => seen += f.getName; f }

  private def lines(fs: Seq[File]): Seq[String] =
    fs.flatMap(f => scala.io.Source.fromFile(f).getLines().toList)

  private def waitFor(path: String, timeoutMs: Long): Unit = {
    val limit = System.currentTimeMillis() + timeoutMs
    while (!new File(path).exists()) {
      require(System.currentTimeMillis() < limit, s"timed out waiting for $path")
      Thread.sleep(5)
    }
  }

  private def drainAll(queries: Seq[StreamingQuery]): Unit = {
    // union runner first so q12's capacity state is current when the
    // windowed query closes windows (StreamingParitySpec's order)
    queries.filter(_.name == "union_runner").foreach(_.processAllAvailable())
    queries.filter(_.name != "union_runner").foreach(_.processAllAvailable())
  }

  /** MainApp's default configuration over file topics under `root`. */
  private def conf(root: String) = MainApp.Conf(topicsDir = Some(s"$root/topics"),
    checkpoint = s"$root/ckpt")

  def run(args: Main.Args, trace: Trace): Seq[(String, Any)] = {
    val work = args("work")
    val live = args("live-dir")
    val seconds = args.double("seconds")

    // ---- 1. set-up -------------------------------------------------------
    var spark: SparkSession = null
    val setupS = (1 to 3).map { i =>
      val t0 = System.nanoTime()
      spark = Main.session(args, s"$work/artifacts")
      val root = s"$work/setup-$i"
      val (_, qs, _) = MainApp.wire(spark, conf(root))
      qs.foreach(_.processAllAvailable())
      qs.foreach(_.stop())
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < 3) spark.stop()
      dt
    }
    trace.attach(spark)

    // ---- 2. catch-up ---------------------------------------------------------
    waitFor(s"$live/ready.json", 120000L)
    val ready = scala.io.Source.fromFile(s"$live/ready.json").mkString
    val c = conf(live)
    val topicsDir = new File(s"$live/topics")
    val seen = mutable.Map.empty[String, mutable.Set[String]]
    def seenOf(t: String) = seen.getOrElseUpdate(t, mutable.Set.empty)
    val published = mutable.Map.empty[(String, String), String]
    var lastPublishFiles = Map.empty[String, Seq[File]]

    val t0 = System.nanoTime()
    val (_, queries, publish) = trace.span("catchup", "wire") { MainApp.wire(spark, c) }
    trace.span("catchup", "drain") { drainAll(queries) }

    /** Publish once; return (start ms, end ms, total passengers published
      * or -1 when the publisher found nothing changed). */
    def publishOnce(kind: String): (Double, Double, Long) = {
      val p0 = System.currentTimeMillis().toDouble
      trace.span("publish", kind) { publish() }
      val p1 = System.currentTimeMillis().toDouble
      val totalFiles = newFiles(new File(topicsDir, TotalTopic), seenOf(TotalTopic))
      val total = lines(totalFiles).flatMap(l => TotalRe.findFirstMatchIn(l))
        .map(_.group(1).toLong).lastOption.getOrElse(-1L)
      if (total >= 0) lastPublishFiles = lastPublishFiles.updated(TotalTopic, totalFiles)
      // the other topics: remember this publish's files for the final
      // check; traced runs also count records and changed values
      ResultPublisher.egress.values.map(_.topic).filter(_ != TotalTopic).foreach { t =>
        val fs = newFiles(new File(topicsDir, t), seenOf(t))
        if (fs.nonEmpty) lastPublishFiles = lastPublishFiles.updated(t, fs)
        if (trace.enabled) {
          var changed = 0
          val recs = lines(fs)
          recs.foreach { l =>
            val k = (t, l.takeWhile(_ != ','))
            if (!published.get(k).contains(l)) changed += 1
            published(k) = l
          }
          trace.event("publish_rows", "topic" -> t, "rows" -> recs.size,
            "changed" -> changed, "end_ms" -> p1)
        }
      }
      (p0, p1, total)
    }

    val catchup = publishOnce("catchup")
    val catchupS = (System.nanoTime() - t0) / 1e9

    // ---- 3. live ---------------------------------------------------------------
    val union = queries.find(_.name == "union_runner").get
    // the last union trigger that read input (an idle trigger's progress
    // carries the id of the next batch)
    def lastDataBatch(): Long =
      union.recentProgress.filter(_.numInputRows > 0).map(_.batchId).maxOption.getOrElse(-1L)
    val catchupBatch = lastDataBatch()
    Files.writeString(Paths.get(s"$live/go"), "go")
    var seenBatch = catchupBatch
    val publishes = mutable.ArrayBuffer.empty[(Double, Double, Long)]
    val liveStart = System.currentTimeMillis()
    val hardStop = liveStart + (seconds * 1000).toLong + DrainMs
    var doneTrips = -1L
    var lastTotal = catchup._3
    var finished = false
    while (!finished && System.currentTimeMillis() < hardStop) {
      queries.find(_.exception.isDefined).foreach(q => throw q.exception.get)
      if (doneTrips < 0 && new File(s"$live/done.json").exists())
        doneTrips = "\"trips\": ([0-9]+)".r
          .findFirstMatchIn(scala.io.Source.fromFile(s"$live/done.json").mkString)
          .map(_.group(1).toLong).get
      val b = lastDataBatch()
      if (b > seenBatch) {
        seenBatch = b
        val p = publishOnce("live")
        if (p._3 >= 0) { publishes += p; lastTotal = p._3 }
      } else Thread.sleep(5)
      finished = doneTrips >= 0 && lastTotal >= doneTrips
    }

    val liveTriggerMs = union.recentProgress.toSeq
      .filter(p => p.batchId > catchupBatch && p.numInputRows > 0)
      .map(_.durationMs.get("triggerExecution").longValue())

    // ---- 4. final publish ---------------------------------------------------------
    drainAll(queries)
    publishOnce("final")
    val stateRows = queries.flatMap(q => Option(q.lastProgress))
      .flatMap(_.stateOperators).map(_.numRowsTotal).sum
    val stateBytes = queries.flatMap(q => Option(q.lastProgress))
      .flatMap(_.stateOperators).map(_.memoryUsedBytes).sum
    queries.foreach(_.stop())

    // ---- 5. check ------------------------------------------------------------------
    val checkStart = System.nanoTime()
    val checks = check(spark, c, lastPublishFiles, args.flag("inject-wrong"))
    val checkS = (System.nanoTime() - checkStart) / 1e9
    val resultRows = lastPublishFiles.values.map(fs => lines(fs).size.toLong).sum

    Seq(
      "workload" -> "transit_stream",
      "setup_s" -> setupS,
      "ready" -> ready,
      "catchup_s" -> catchupS,
      "catchup_publish_ms" -> (catchup._2 - catchup._1),
      "catchup_total" -> catchup._3,
      "live_start_ms" -> liveStart.toDouble,
      "publishes" -> publishes.map { case (a, b, n) => Seq(a, b, n.toDouble) },
      "union_live_trigger_ms" -> liveTriggerMs,
      "state_rows" -> stateRows,
      "state_bytes" -> stateBytes,
      "result_rows" -> resultRows,
      "checks" -> checks,
      "check_s" -> checkS)
  }

  /** Compare the final publish of every result topic with the batch
    * queries over the same topic files. Returns topic → mismatch message
    * ("" when equal). `injectWrong` perturbs one expected value: the
    * negative control of the benchmark's own tests. */
  def check(spark: SparkSession, c: MainApp.Conf, finalFiles: Map[String, Seq[File]],
            injectWrong: Boolean): Map[String, String] = {
    val ref = MainApp.topicRef(c) _
    val routes = Decode.routes(StreamAdapters.readBatchRaw(spark, ref("Routes_topic"))).cache()
    val trips = Decode.trips(StreamAdapters.readBatchRaw(spark, ref("Trips_topic"))).cache()
    val batch: Map[String, DataFrame] = Map(
      "q1_seats_per_route" -> TransitQueries.q1(routes),
      "q2_avg_passengers_per_type" -> TransitQueries.q2(trips),
      "q3_top_passenger" -> TransitQueries.q3(trips),
      "q4_occupancy_per_route" -> TransitQueries.q4(routes, trips),
      "q5_passengers_per_route" -> TransitQueries.q5(trips),
      "q6_least_occupied_route_per_type" -> TransitQueries.q6(routes, trips),
      "q7_total_capacity" -> TransitQueries.q7(routes),
      "q8_total_occupancy_pct" -> TransitQueries.q8(routes, trips),
      "q9_total_passengers" -> TransitQueries.q9(trips),
      "q10_top_transport_type" -> TransitQueries.q10(trips),
      "q11_window_top_type" -> TransitQueries.q11(trips),
      "q12_window_least_occupied_type" -> TransitQueries.q12(routes, trips),
      "q13_most_occupied_operator" -> TransitQueries.q13(routes, trips))
    import spark.implicits._
    // the comparisons are independent and each is a few small jobs: run
    // them on as many threads as the session has cores
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      spark.sparkContext.defaultParallelism)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.traverse(ResultPublisher.egress.toSeq.sortBy(_._1)) {
      case (name, e) => Future {
        // windowed answers in window order (toWire drops the window column)
        val result = if (batch(name).columns.contains("window_start"))
          batch(name).orderBy("window_start") else batch(name)
        val expectedWire = ResultPublisher.toWire(name, result)
        val payload = batch(name).select(e.payload: _*).schema
        val expected = Envelope.unwrap(expectedWire, payload).drop("declared_fields")
          .collect().toSeq.map(rowKey)
        val actualLines = finalFiles.get(e.topic).toSeq.flatten
          .flatMap(f => scala.io.Source.fromFile(f).getLines().toList)
        val actualRaw = spark.read.schema("key string, value string")
          .json(actualLines.toDS())
        val actual = Envelope.unwrap(actualRaw, payload).drop("declared_fields")
          .collect().toSeq.map(rowKey)
        val exp = if (injectWrong && name == "q9_total_passengers")
          expected.map(r => r.replaceAll("[0-9]+$", "-1")) else expected
        // the sentinel has closed every window, so q11 and q12 publish one
        // record per window of the batch answer. A q12 window closed before
        // the last route arrived used the capacity folded so far
        // (TransitStreamingJob.processWindowBatch), so only its window count
        // is comparable
        val msg =
          if (name == "q12_window_least_occupied_type" && actual.size == exp.size) ""
          else if (name != "q12_window_least_occupied_type" && sameRows(exp, actual)) ""
          else s"${actual.size} records differ from the batch's ${exp.size}: " +
            s"${actual.sorted.take(3).mkString(";")} vs ${exp.sorted.take(3).mkString(";")}"
        e.topic -> msg
      }
    }, Duration.Inf).toMap
    finally pool.shutdown()
  }

  /** A record as one string; doubles to nine significant digits, so sums
    * folded in another order compare equal. */
  private def rowKey(r: Row): String = r.toSeq.map {
    case d: Double => "%.9g".format(d)
    case null => "null"
    case x => x.toString
  }.mkString("|")

  private def sameRows(a: Seq[String], b: Seq[String]): Boolean = a.sorted == b.sorted
}
