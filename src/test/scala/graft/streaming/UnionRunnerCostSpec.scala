package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.{MainApp, SparkSpec, TransitFixture}
import graft.engine.Encode
import graft.engine.Schemas.{Route, Trip}
import graft.sources.StreamAdapters
import graft.sources.StreamAdapters.TopicRef

/** The union runner's per-trigger cost is bounded by the trigger, not by
  * the history: after a warm-up, a 3-row trigger runs the same number of
  * Spark jobs when the state holds ten times more keys, and at most 5; a
  * trigger that closes a window runs one. File topics feed the job. The
  * union runner's state settings do not leak into the session. A trigger
  * over many new topic files lists them on the driver, with no Spark job.
  * The job runs one query, whose state keeps one partition on a session
  * sized with Spark's default 200 shuffle partitions. A trigger of the job
  * `MainApp.wire` starts writes its offset, commit and source logs and its
  * state changelog without Hadoop's local file system. Publishing the
  * result tables to file topics runs no Spark job. Wiring the job over a
  * fresh checkpoint reads no state: no Spark job runs before its first
  * trigger. */
class UnionRunnerCostSpec extends SparkSpec {

  /** Spark jobs per (streaming query id, batch id) and in all, and a
    * marker job that tells when the listener bus has delivered every
    * earlier event. */
  private final class JobCounter extends SparkListener {
    val jobs = TrieMap.empty[(String, String), Int]
    val all = new AtomicInteger
    @volatile var marker = new CountDownLatch(1)
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      if (prop(JobCounter.MarkerKey).nonEmpty) marker.countDown() else all.incrementAndGet()
      for (q <- prop("sql.streaming.queryId"); b <- prop("streaming.sql.batchId"))
        jobs.updateWith((q, b))(n => Some(n.getOrElse(0) + 1))
    }
  }
  private object JobCounter { val MarkerKey = "graft.test.marker" }

  /** Every job's description and the task counts of its stages. */
  private final class JobLog extends SparkListener {
    val jobs = new ConcurrentLinkedQueue[(String, Seq[Int])]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.add((Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse(""), e.stageInfos.map(_.numTasks)))
  }

  private def drain(counter: JobCounter): Unit = {
    counter.marker = new CountDownLatch(1)
    val sc = spark.sparkContext
    sc.setLocalProperty(JobCounter.MarkerKey, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(JobCounter.MarkerKey, null)
    counter.marker.await(60, TimeUnit.SECONDS) shouldBe true
  }

  test("a 3-row trigger runs the same few jobs when the state holds 10x more keys") {
    val root = Files.createTempDirectory("graft-cost-").toString
    val Seq(routesT, tripsT) = Seq("Routes_topic", "Trips_topic")
      .map(t => TopicRef(t, fallbackDir = Some(root)))
    Seq(routesT, tripsT).foreach(StreamAdapters.createTopicIfNotExists(_))
    // one file per write, so a trigger never sees half of one
    def addRoutes(rs: Seq[Route]) =
      StreamAdapters.writeBatchRaw(Encode.routesRaw(routesDf(rs)).coalesce(1), routesT)
    def addTrips(ts: Seq[Trip]) =
      StreamAdapters.writeBatchRaw(Encode.tripsRaw(tripsDf(ts)).coalesce(1), tripsT)
    val job = TransitStreamingJob.fromTopics(spark, routesT, tripsT)
    val counter = new JobCounter
    spark.sparkContext.addSparkListener(counter)
    val confKeys = Seq(StateStores.ProviderKey, "spark.sql.shuffle.partitions")
    val sessionConf = confKeys.map(spark.conf.getOption)
    val queries = job.startAll(s"$root/ckpt")
    val union = queries.find(_.name == "union_runner").get
    def processAll(): Unit = queries.foreach(_.processAllAvailable())
    val t0 = Timestamp.valueOf("2024-01-01 09:00:00").getTime
    def ts(s: Int) = new Timestamp(t0 + s * 1000L)
    def routes(from: Int, n: Int) = (from until from + n).map(i =>
      Route(s"r$i", "a", "b", Seq("Bus", "Taxi", "Train")(i % 3), 40 + i % 7, s"Op${i % 5}", ts(i)))
    def trips(from: Int, n: Int, nRoutes: Int) = (from until from + n).map(i =>
      Trip(s"t$i", s"r${i % nRoutes}", "a", "b", Seq("Bus", "Taxi", "Train")(i % 3),
        s"P${i % (nRoutes * 2)}", ts(i)))

    /** Jobs of the union runner's trigger over 3 new trips. */
    def threeRowTrigger(from: Int, nRoutes: Int): Int = {
      addTrips(trips(from, 3, nRoutes))
      processAll()
      // an idle trigger's progress carries the next batch id: skip those
      val last = union.recentProgress.filter(_.numInputRows > 0).last
      last.numInputRows shouldBe 3L
      drain(counter)
      counter.jobs.getOrElse((union.id.toString, last.batchId.toString), 0)
    }

    try {
      // the union runner's RocksDB state and single partition are its own
      confKeys.map(spark.conf.getOption) shouldBe sessionConf
      addRoutes(routes(0, 20))
      addTrips(trips(0, 60, 20))
      processAll()
      threeRowTrigger(1000, 20) // warm-up
      union.recentProgress.filter(_.numInputRows > 0).last
        .stateOperators.head.customMetrics.keySet.asScala
        .exists(_.startsWith("rocksdb")) shouldBe true
      val small = threeRowTrigger(2000, 20)

      addRoutes(routes(20, 180))
      addTrips(trips(3000, 600, 200))
      processAll()
      threeRowTrigger(4000, 200)
      val large = threeRowTrigger(5000, 200)
      // trips at 12:00 close the window [10:00, 11:00) in the same trigger
      val windowsBefore = job.store.rows("window_type_counts").size
      val closing = threeRowTrigger(3 * 3600, 200)

      info(s"jobs of a 3-row trigger: $small with 20 routes, $large with 200, " +
        s"$closing when it closes a window")
      small should be >= 1
      large shouldBe small
      large should be <= 5
      job.store.rows("window_type_counts").size should be > windowsBefore
      closing shouldBe 1
    } finally {
      queries.foreach(_.stop())
      spark.sparkContext.removeSparkListener(counter)
    }
  }

  test("a trigger over 48 new topic files runs no file-listing job; the job runs one query") {
    val root = Files.createTempDirectory("graft-listing-").toString
    val Seq(routesT, tripsT) = Seq("Routes_topic", "Trips_topic")
      .map(t => TopicRef(t, fallbackDir = Some(root)))
    Seq(routesT, tripsT).foreach(StreamAdapters.createTopicIfNotExists(_))
    val t0 = Timestamp.valueOf("2024-01-01 09:00:00").getTime
    val files = 48
    StreamAdapters.writeBatchRaw(Encode.routesRaw(routesDf((0 until 10).map(i =>
      Route(s"r$i", "a", "b", "Bus", 40, "Op", new Timestamp(t0 + i))))).coalesce(1), routesT)
    // every trips file is in place before the queries start: their first
    // trigger reads them all
    StreamAdapters.writeBatchRaw(Encode.tripsRaw(tripsDf((0 until 480).map(i =>
      Trip(s"t$i", s"r${i % 10}", "a", "b", "Bus", s"P$i", new Timestamp(t0 + 1000L * i)))))
      .repartition(files), tripsT)
    new java.io.File(s"$root/Trips_topic").list().count(_.startsWith("part-")) shouldBe files

    val job = TransitStreamingJob.fromTopics(spark, routesT, tripsT)
    val log = new JobLog
    val counter = new JobCounter
    spark.sparkContext.addSparkListener(log)
    spark.sparkContext.addSparkListener(counter)
    val queries = job.startAll(s"$root/ckpt")
    try {
      queries.map(_.name) shouldBe Seq("union_runner")
      val union = queries.head
      union.processAllAvailable()
      union.recentProgress.filter(_.numInputRows > 0).map(_.numInputRows) shouldBe Seq(490L)
      drain(counter)
      val seen = log.jobs.asScala.toSeq
      info(s"${seen.size} jobs; stage task counts: ${seen.flatMap(_._2).sorted.mkString(" ")}")
      seen.map(_._1).filter(_.startsWith("Listing leaf files")) shouldBe empty
      // a listing job runs one task per file; the scans pack the files
      seen.flatMap(_._2).filter(_ >= files / 2) shouldBe empty
    } finally {
      queries.foreach(_.stop())
      spark.sparkContext.removeSparkListener(log)
      spark.sparkContext.removeSparkListener(counter)
    }
  }

  test("on a session with 200 shuffle partitions the job runs one query with one state partition") {
    val sp = spark; import sp.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.getOption(key)
    val routesIn = MemoryStream[Route]
    val tripsIn = MemoryStream[Trip]
    val job = new TransitStreamingJob(spark, routesIn.toDF(), tripsIn.toDF())
    // the deployed session's width (`MainApp.main` keeps Spark's default)
    spark.conf.set(key, "200")
    val queries = try job.startAll(Files.createTempDirectory("graft-width-").toString)
      finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    try {
      val t0 = Timestamp.valueOf("2024-01-01 10:00:00").getTime
      routesIn.addData(Route("r1", "a", "b", "Bus", 40, "Op", new Timestamp(t0)))
      // the second trip closes the first one's window
      tripsIn.addData(Seq(0L, 2L).map(h =>
        Trip(s"t$h", "r1", "a", "b", "Bus", "P", new Timestamp(t0 + h * 3600 * 1000))): _*)
      queries.foreach(_.processAllAvailable())
      val widths = queries.map(q => q.name -> q.recentProgress.toSeq
        .flatMap(_.stateOperators).map(_.numShufflePartitions))
      info(s"state partitions per query: $widths")
      widths.foreach { case (_, ws) => ws should not be empty; ws.toSet shouldBe Set(1L) }
      queries.map(_.name) shouldBe Seq("union_runner")
      job.store.rows("q11_window_top_type") should have size 1
    } finally queries.foreach(_.stop())
  }

  test("a trigger of the wired job writes its checkpoint logs and changelog without Hadoop's FS") {
    val root = Files.createTempDirectory("graft-ckpt-files-").toString
    val conf = MainApp.Conf(topicsDir = Some(root), checkpoint = s"$root/ckpt")
    val ref = MainApp.topicRef(conf) _
    Seq("Routes_topic", "Trips_topic").foreach(t => StreamAdapters.createTopicIfNotExists(ref(t)))
    StreamAdapters.writeBatchRaw(Encode.routesRaw(routesDf(TransitFixture.routes)),
      ref("Routes_topic"))
    StreamAdapters.writeBatchRaw(Encode.tripsRaw(tripsDf(TransitFixture.trips)), ref("Trips_topic"))
    val (job, queries, _) = MainApp.wire(spark, conf)
    try queries.foreach(_.processAllAvailable()) finally queries.foreach(_.stop())
    job.store.rows("q9_total_passengers") should not be empty
    val union = s"${conf.checkpoint}/union"
    def names(d: String) = new java.io.File(s"$union/$d").list().toSeq
    Seq("offsets", "commits", "sources/0", "sources/1")
      .foreach(d => withClue(d)(names(d) should contain("0")))
    names("state/0/0").filter(_.endsWith(".changelog")) should not be empty
    // each `.<name>.crc` marks a write through Hadoop's local file system
    val hadoopWrites = LocalCheckpointFileManagerSpec.hadoopChecksums(union)
    info(s"files Hadoop's local file system wrote: ${hadoopWrites.toSeq.sorted.mkString(" ")}")
    hadoopWrites.filter(p => p.contains(".changelog") ||
      Seq("offsets/", "commits/", "sources/").exists(p.startsWith)) shouldBe empty
  }

  test("wire over a fresh checkpoint runs no Spark job before the first trigger") {
    val root = Files.createTempDirectory("graft-fresh-").toString
    val conf = MainApp.Conf(topicsDir = Some(root), checkpoint = s"$root/ckpt")
    val counter = new JobCounter
    spark.sparkContext.addSparkListener(counter)
    try {
      drain(counter)
      val before = counter.all.get
      val (_, queries, _) = MainApp.wire(spark, conf)
      try {
        queries.foreach(_.processAllAvailable())
        queries.flatMap(_.recentProgress).filter(_.numInputRows > 0) shouldBe empty
      } finally queries.foreach(_.stop())
      drain(counter)
      counter.all.get - before shouldBe 0
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  test("publishing the result tables to file topics runs no Spark job") {
    val root = Files.createTempDirectory("graft-publish-").toString
    def refIn(dir: String)(t: String) = TopicRef(t, fallbackDir = Some(s"$root/$dir"))
    def produceFixture(ref: String => TopicRef): Unit = {
      StreamAdapters.writeBatchRaw(Encode.routesRaw(routesDf(TransitFixture.routes)), ref("Routes_topic"))
      StreamAdapters.writeBatchRaw(Encode.tripsRaw(tripsDf(TransitFixture.trips)), ref("Trips_topic"))
    }
    def partFiles(ref: String => TopicRef, t: String) =
      new java.io.File(ref(t).fallbackDir.get, t).list().count(_.startsWith("part-"))
    val counter = new JobCounter
    spark.sparkContext.addSparkListener(counter)
    /** Spark jobs `f` runs. */
    def jobsOf(f: => Unit): Int = {
      drain(counter)
      val before = counter.all.get
      f
      drain(counter)
      counter.all.get - before
    }
    val topics = ResultPublisher.egress.values.map(_.topic).toSeq
    try {
      val ref = refIn("job") _
      produceFixture(ref)
      val job = TransitStreamingJob.fromTopics(spark, ref("Routes_topic"), ref("Trips_topic"))
      val queries = job.startAll(s"$root/job-ckpt")
      try queries.foreach(_.processAllAvailable()) finally queries.foreach(_.stop())
      val publishAll = jobsOf(ResultPublisher.publishAll(job.store, ref))
      val publishAllParts = topics.map(partFiles(ref, _))

      val conf = MainApp.Conf(topicsDir = Some(s"$root/app"), checkpoint = s"$root/app-ckpt")
      val appRef = MainApp.topicRef(conf) _
      produceFixture(appRef)
      val (_, appQueries, publish) = MainApp.wire(spark, conf)
      try appQueries.foreach(_.processAllAvailable()) finally appQueries.foreach(_.stop())
      val wired = jobsOf(publish())

      info(s"Spark jobs: $publishAll in publishAll, $wired in MainApp's publish")
      publishAll shouldBe 0
      wired shouldBe 0
      // each topic got its table as one part file
      publishAllParts shouldBe Seq.fill(13)(1)
      topics.map(partFiles(appRef, _)) shouldBe Seq.fill(13)(1)
    } finally spark.sparkContext.removeSparkListener(counter)
  }
}
