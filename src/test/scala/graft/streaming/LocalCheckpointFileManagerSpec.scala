package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, Path => NioPath}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.{MainApp, SparkSpec, TransitFixture}
import graft.engine.Encode
import graft.engine.Schemas.{Route, Trip}
import graft.operators.TransitQueries
import graft.sources.StreamAdapters

/** [[LocalCheckpointFileManager]]: the atomic-write contract Spark's
  * checkpoint logs rely on, Spark's default manager for other schemes, and
  * a transit job that resumes, exactly once, a checkpoint written through
  * Hadoop's local file system. */
class LocalCheckpointFileManagerSpec extends SparkSpec {
  import LocalCheckpointFileManagerSpec.hadoopChecksums

  private val hadoopConf = new Configuration()
  private def tempDir(): NioPath = Files.createTempDirectory("graft-cfm-")
  private def manager(d: NioPath) = new LocalCheckpointFileManager(new Path(d.toUri), hadoopConf)
  private def fileIn(d: NioPath, name: String) = new Path(d.resolve(name).toUri)
  private def write(fm: CheckpointFileManager, p: Path, text: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }
  private def read(fm: CheckpointFileManager, p: Path): String =
    Using.resource(fm.open(p))(in => new String(in.readAllBytes(), UTF_8))
  private def names(d: NioPath): Seq[String] = d.toFile.list().toSeq.sorted

  test("a create without overwrite over an existing file throws and keeps the old bytes") {
    val d = tempDir(); val fm = manager(d); val p = fileIn(d, "0")
    write(fm, p, "old", overwrite = false)
    intercept[FileAlreadyExistsException](write(fm, p, "new", overwrite = false))
    read(fm, p) shouldBe "old"
    names(d) shouldBe Seq("0")
  }

  test("an overwrite replaces the file atomically") {
    val d = tempDir(); val fm = manager(d); val p = fileIn(d, "0")
    write(fm, p, "old" * 1000, overwrite = true)
    Using.resource(fm.open(p)) { before =>
      write(fm, p, "new", overwrite = true)
      // the reader keeps the whole old file: it was replaced, not rewritten
      new String(before.readAllBytes(), UTF_8) shouldBe "old" * 1000
    }
    read(fm, p) shouldBe "new"
    names(d) shouldBe Seq("0")
  }

  test("cancel leaves neither the target nor a temp file; list never shows a temp file") {
    val d = tempDir(); val fm = manager(d)
    write(fm, fileIn(d, "0"), "zero", overwrite = false)
    val out = fm.createAtomic(fileIn(d, "1"), overwriteIfPossible = false)
    out.write("one".getBytes(UTF_8))
    names(d) should have size 2 // the temp file is beside its target
    fm.list(new Path(d.toUri)).map(_.getPath.getName).toSeq shouldBe Seq("0")
    out.cancel()
    fm.exists(fileIn(d, "1")) shouldBe false
    names(d) shouldBe Seq("0")
  }

  test("delete of a missing path is a no-op; delete of a directory removes the tree") {
    val d = tempDir(); val fm = manager(d)
    fm.delete(fileIn(d, "missing"))
    write(fm, fileIn(d, "sub/a/0"), "x", overwrite = false)
    fm.delete(fileIn(d, "sub"))
    names(d) shouldBe empty
  }

  test("overwriting a file Hadoop's local file system wrote drops its stale .crc") {
    val d = tempDir(); val fm = manager(d); val p = fileIn(d, "1.changelog")
    Using.resource(FileSystem.getLocal(hadoopConf).create(p))(_.write("hadoop".getBytes(UTF_8)))
    names(d) shouldBe Seq(".1.changelog.crc", "1.changelog")
    write(fm, p, "rewritten, and longer", overwrite = true)
    names(d) shouldBe Seq("1.changelog")
    read(fm, p) shouldBe "rewritten, and longer"
  }

  test("Spark creates it by name; a non-file scheme gets Spark's default manager") {
    val d = tempDir()
    val conf = new Configuration(hadoopConf)
    conf.set(LocalCheckpointFileManager.ConfKey, classOf[LocalCheckpointFileManager].getName)
    val local = CheckpointFileManager.create(new Path(d.toUri), conf)
    local shouldBe a[LocalCheckpointFileManager]
    local.asInstanceOf[LocalCheckpointFileManager].fallback shouldBe None
    // a scheme Hadoop's FileSystem knows and its FileContext does not
    conf.set("fs.graftfs.impl", classOf[org.apache.hadoop.fs.RawLocalFileSystem].getName)
    val other = new LocalCheckpointFileManager(new Path(s"graftfs:${d.toUri.getPath}"), conf)
    other.fallback.get shouldBe a[FileSystemBasedCheckpointFileManager]
  }

  test("the transit job resumes a checkpoint Hadoop's local file system wrote, exactly once") {
    val root = Files.createTempDirectory("graft-cfm-restart-").toString
    val conf = MainApp.Conf(topicsDir = Some(root), checkpoint = s"$root/ckpt")
    val ref = MainApp.topicRef(conf) _
    Seq("Routes_topic", "Trips_topic").foreach(t => StreamAdapters.createTopicIfNotExists(ref(t)))
    def produce(rs: Seq[Route], ts: Seq[Trip]): Unit = {
      if (rs.nonEmpty)
        StreamAdapters.writeBatchRaw(Encode.routesRaw(routesDf(rs)), ref("Routes_topic"))
      if (ts.nonEmpty)
        StreamAdapters.writeBatchRaw(Encode.tripsRaw(tripsDf(ts)), ref("Trips_topic"))
    }
    def batchIds(qs: Seq[StreamingQuery]): Seq[Long] =
      qs.flatMap(_.recentProgress).filter(_.numInputRows > 0).map(_.batchId)
    def total(job: TransitStreamingJob): Long =
      job.store("q9_total_passengers").collect()(0).getLong(0)
    val sentinel = Trip("t_sentinel", "r1", "z", "z", null, "P1", ts("2024-01-02 09:00:00"))

    // -- incarnation 1, on Spark's default manager: two triggers (max event
    // time 10:59:59, so no window closes before the later routes arrive)
    spark.conf.unset(LocalCheckpointFileManager.ConfKey)
    val job1 = TransitStreamingJob.fromTopics(spark, ref("Routes_topic"), ref("Trips_topic"))
    val q1s = job1.startAll(conf.checkpoint)
    try {
      produce(TransitFixture.routes.take(3), TransitFixture.trips.take(2))
      q1s.foreach(_.processAllAvailable())
      produce(Nil, TransitFixture.trips.slice(2, 3))
      q1s.foreach(_.processAllAvailable())
    } finally q1s.foreach(_.stop())
    val ids1 = batchIds(q1s)
    ids1.size should be >= 2
    total(job1) shouldBe 3L
    // a crash after the last trigger's offsets but before its commit: the
    // next incarnation replays it and overwrites the files Hadoop wrote for it
    val commits = Paths.get(s"${conf.checkpoint}/union/commits")
    Files.delete(commits.resolve(ids1.last.toString))
    Files.delete(commits.resolve(s".${ids1.last}.crc"))
    val crc1 = hadoopChecksums(conf.checkpoint)
    crc1 should not be empty // Hadoop wrote this checkpoint

    // the tables are rebuilt from the last committed batch (2 trips); the
    // uncommitted one is the query's to replay
    TransitCounters.restore(spark, s"${conf.checkpoint}/union")
      .filter(_.table == "totals").map(_.cnt) shouldBe Seq(Some(2L))

    // -- produce the rest while the job is DOWN; incarnation 2 through
    // MainApp, which installs the manager
    produce(TransitFixture.routes.drop(3), TransitFixture.trips.drop(3) :+ sentinel)
    val (job2, q2s, _) = MainApp.wire(spark, conf)
    try {
      spark.conf.get(LocalCheckpointFileManager.ConfKey) shouldBe
        classOf[LocalCheckpointFileManager].getName
      q2s.foreach(_.processAllAvailable())
      // the uncommitted batch re-runs first; no committed batch does
      val ids2 = batchIds(q2s)
      ids2.head shouldBe ids1.last
      ids2.filter(ids1.init.contains) shouldBe empty
      val allRoutes = routesDf(TransitFixture.routes)
      val allTrips = tripsDf(TransitFixture.trips :+ sentinel)
      def check(table: String, batch: DataFrame): Unit = assertSameRows(job2.store(table), batch)
      check("q1_seats_per_route", TransitQueries.q1(allRoutes))
      check("q2_avg_passengers_per_type", TransitQueries.q2(allTrips))
      check("q3_top_passenger", TransitQueries.q3(allTrips))
      check("q5_passengers_per_route", TransitQueries.q5(allTrips))
      check("q9_total_passengers", TransitQueries.q9(allTrips))
      check("q11_window_top_type", TransitQueries.q11(allTrips))
      check("q12_window_least_occupied_type", TransitQueries.q12(allRoutes, allTrips))
      check("q13_most_occupied_operator", TransitQueries.q13(allRoutes, allTrips))
    } finally q2s.foreach(_.stop())
    // the replay overwrote files Hadoop wrote and dropped their checksums;
    // the new manager wrote none
    val crc2 = hadoopChecksums(conf.checkpoint)
    (crc1 -- crc2) should not be empty
    crc2.subsetOf(crc1) shouldBe true

    // -- incarnation 3, nothing new: the state the new manager wrote loads,
    // and no trigger reads input again
    val (job3, q3s, _) = MainApp.wire(spark, conf)
    try {
      q3s.foreach(_.processAllAvailable())
      batchIds(q3s) shouldBe empty
      total(job3) shouldBe total(job2)
      produce(Nil, Seq(Trip("t_extra", "r1", "a", "b", "Bus", "P9", ts("2024-01-04 09:00:00"))))
      q3s.foreach(_.processAllAvailable())
      batchIds(q3s) shouldBe Seq(batchIds(q2s).last + 1)
      total(job3) shouldBe total(job2) + 1
    } finally q3s.foreach(_.stop())
  }
}

object LocalCheckpointFileManagerSpec {

  /** The `.<name>.crc` files under `root`, relative to it: each marks a
    * write through Hadoop's local file system. Spark's own state-file
    * checksums are `<name>.crc`. */
  def hadoopChecksums(root: String): Set[String] = {
    val base = Paths.get(root)
    Using.resource(Files.walk(base))(_.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      n.startsWith(".") && n.endsWith(".crc")
    }.map(base.relativize(_).toString).toSet)
  }
}
