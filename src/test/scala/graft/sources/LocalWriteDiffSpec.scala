package graft.sources

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType

import graft.{SparkSpec, TransitFixture}
import graft.engine.Encode
import graft.engine.Schemas.Trip
import graft.sources.StreamAdapters.TopicRef
import graft.streaming.{ResultPublisher, TransitStreamingJob}

/** Over file topics, `writeBatchRaw` writes a frame that is already on the
  * driver from the driver. Spark's JSON writer stays here as the
  * reference: for the 13 published tables of a fixture run, and for frames
  * with null keys, empty payloads, escaped and non-ASCII text, timestamps
  * and no rows, the driver's part file holds the writer's lines byte for
  * byte (as a multiset: the writer spreads rows over several files). */
class LocalWriteDiffSpec extends SparkSpec {

  private lazy val root = Files.createTempDirectory("graft-localwrite-")
  private val seq = new AtomicInteger

  private def files(dir: Path): Seq[Path] =
    Files.list(dir).iterator().asScala.toSeq.sortBy(_.getFileName.toString)
  private def parts(dir: Path): Seq[Path] =
    files(dir).filter(_.getFileName.toString.startsWith("part-"))

  /** Lines of the part files of `dir`, as byte strings with their counts;
    * every file ends its last line. */
  private def lines(dir: Path): Map[Seq[Byte], Int] =
    parts(dir).flatMap { p =>
      val bytes = Files.readAllBytes(p)
      if (bytes.nonEmpty) bytes.last shouldBe '\n'.toByte
      val ends = bytes.indices.filter(bytes(_) == '\n')
      (-1 +: ends).sliding(2).collect { case Seq(a, b) => bytes.slice(a + 1, b).toSeq }
    }.groupBy(identity).map { case (l, ls) => l -> ls.size }

  /** Write `df` through `writeBatchRaw` and through Spark's JSON writer
    * into two new directories; the driver wrote one part file and nothing
    * else. Returns both directories. */
  private def both(df: DataFrame): (Path, Path) = {
    val n = seq.incrementAndGet()
    StreamAdapters.writeBatchRaw(df, TopicRef(s"driver-$n", fallbackDir = Some(root.toString)))
    val driver = root.resolve(s"driver-$n")
    val writer = root.resolve(s"writer-$n")
    df.write.mode("append").json(writer.toString)
    files(driver) shouldBe parts(driver)
    parts(driver) should have size 1
    (driver, writer)
  }

  /** The driver's lines equal the writer's; returns them. */
  private def sameLines(df: DataFrame): Seq[String] = {
    val (driver, writer) = both(df)
    val got = lines(driver)
    got shouldBe lines(writer)
    got.toSeq.flatMap { case (l, k) => Seq.fill(k)(new String(l.toArray, "UTF-8")) }
  }

  private def frame(schema: StructType, rows: Map[String, Any]*): DataFrame =
    spark.createDataFrame(
      rows.map(r => Row.fromSeq(schema.fieldNames.toSeq.map(r.getOrElse(_, null)))).asJava,
      schema)

  /** The result tables of the fixture run through the job from file topics. */
  private lazy val store = {
    val t = (n: String) => TopicRef(n, fallbackDir = Some(root.resolve("in").toString))
    StreamAdapters.writeBatchRaw(Encode.routesRaw(routesDf(TransitFixture.routes)), t("Routes_topic"))
    StreamAdapters.writeBatchRaw(Encode.tripsRaw(tripsDf(TransitFixture.trips)), t("Trips_topic"))
    val job = TransitStreamingJob.fromTopics(spark, t("Routes_topic"), t("Trips_topic"))
    val queries = job.startAll(root.resolve("ckpt").toString)
    try queries.foreach(_.processAllAvailable()) finally queries.foreach(_.stop())
    job.store
  }

  test("the 13 published tables of a fixture run: the driver writes the writer's lines") {
    ResultPublisher.egress.keys.toSeq.sorted.foreach { name =>
      withClue(name) {
        val table = store.get(name)
        table should not be empty
        sameLines(ResultPublisher.toWire(name, table.get)) should not be empty
      }
    }
  }

  test("a null key has no key field; a payload of null columns is {}") {
    val q6 = "q6_least_occupied_route_per_type"
    val nullType = sameLines(ResultPublisher.toWire(q6, frame(store(q6).schema,
      Map("route_id" -> "r1", "occupancy_pct" -> 12.5))))
    nullType should have size 1
    nullType.head should startWith("""{"value":""")

    val q1 = "q1_seats_per_route"
    val noCapacity = sameLines(ResultPublisher.toWire(q1, frame(store(q1).schema,
      Map("route_id" -> "r-null"), Map("route_id" -> "r1", "total_capacity" -> 100L))))
    noCapacity should have size 2
    noCapacity.filter(_.contains("r-null")).head should include("""\"payload\":{}""")
  }

  private val names = Seq("say \"hi\"", "back\\slash", "two\nlines", "Zoë Ωmega 東京 🚌")

  test("quotes, backslashes, newlines and non-ASCII text are escaped as the writer escapes them") {
    val q3 = "q3_top_passenger"
    names.foreach { n =>
      val ls = sameLines(ResultPublisher.toWire(q3, frame(store(q3).schema,
        Map("passenger_name" -> n, "trip_count" -> 2L))))
      ls should have size 1
      ls.head should not include "\n"
    }
  }

  test("an input frame with timestamps: the producer's topic lines") {
    val trips = names.zipWithIndex.map { case (n, i) =>
      Trip(s"t$i", "r1", "a", "b", "Bus", n, ts(s"2024-01-01 10:0$i:00.25"))
    } :+ Trip("t-null", null, null, null, null, null, null)
    val ls = sameLines(Encode.tripsRaw(tripsDf(trips)))
    ls should have size trips.size
    ls.count(_.contains(""""ts":"2024-01-01T10:00:00.250Z"""")) shouldBe 1
  }

  test("an empty table is one empty part file, as the writer writes it") {
    val q9 = "q9_total_passengers"
    val (driver, writer) = both(ResultPublisher.toWire(q9, frame(store(q9).schema)))
    Seq(driver, writer).foreach { d =>
      parts(d) should have size 1
      Files.size(parts(d).head) shouldBe 0L
    }
  }
}
