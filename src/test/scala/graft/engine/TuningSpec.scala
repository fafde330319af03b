package graft.engine

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Pins the wide-start shuffle-sizing default (engine.Tuning, VERDICT r15
  * #1): the conf plumbing, the override contract, and the semantic
  * invariant that the starting width is a pure cost knob — results are
  * bit-identical whatever the initial partition count, because AQE's
  * size-based coalesce only changes the exchange LAYOUT. The measured
  * payoff lives in SCALE_SWEEP §round-16 (sf10 five-query A/B: 530 s at
  * static cores-wide → 137 s under this default). */
class TuningSpec extends SparkSpec {
  private val Key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"

  test("initialPartitions is 8x cores with a 64 floor") {
    Tuning.initialPartitions(32) shouldBe 256
    Tuning.initialPartitions(8) shouldBe 64
    Tuning.initialPartitions(4) shouldBe 64 // floor: small test topologies
    Tuning.initialPartitions(128) shouldBe 1024
  }

  test("ensureWideStart sets the AQE initial width only when unset, and " +
    "defers to a deployment-pinned static width (ADVICE r16)") {
    val prior = spark.conf.getOption(Key)
    try {
      spark.conf.unset(Key)
      // deployment pinned spark.sql.shuffle.partitions → choosing a static
      // width is choosing a layout; the wide start must not widen behind it
      Tuning.ensureWideStart(spark, deploymentPinnedStatic = true)
      spark.conf.getOption(Key) shouldBe None
      Tuning.ensureWideStart(spark, deploymentPinnedStatic = false)
      spark.conf.get(Key) shouldBe
        Tuning.initialPartitions(spark.sparkContext.defaultParallelism).toString
      // an explicit deployment setting always wins
      spark.conf.set(Key, "7")
      Tuning.ensureWideStart(spark, deploymentPinnedStatic = false)
      spark.conf.get(Key) shouldBe "7"
      // the public face reads the pin from the context SparkConf — this
      // test session's builder set shuffle.partitions, so it must no-op
      spark.conf.unset(Key)
      Tuning.ensureWideStart(spark)
      spark.conf.getOption(Key) shouldBe None
    } finally {
      prior match {
        case Some(v) => spark.conf.set(Key, v)
        case None    => spark.conf.unset(Key)
      }
    }
  }

  test("wide start is a pure cost knob: identical results at 4 vs 512") {
    val sp = spark; import sp.implicits._
    val df = (1 to 5000).map(i => (i % 97L, i.toLong, s"v$i")).toDF("k", "n", "s")
    def run(): Seq[(Long, Long, Long)] = df.groupBy("k")
      .agg(sum("n").as("sn"), count(lit(1)).as("c"))
      .join(df.select(col("k"), col("n").as("m")), "k")
      .groupBy("k").agg(max("sn").as("sn"), max("c").as("c"))
      .as[(Long, Long, Long)].collect().toSeq.sorted
    val prior = spark.conf.getOption(Key)
    try {
      spark.conf.set(Key, "4")
      val narrow = run()
      spark.conf.set(Key, "512")
      val wide = run()
      wide shouldBe narrow
    } finally {
      prior match {
        case Some(v) => spark.conf.set(Key, v)
        case None    => spark.conf.unset(Key)
      }
    }
  }

  private def resolve(env: Map[String, String],
                      launcher: Map[String, String] = Map.empty) =
    Tuning.resolve(env, launcher, processors = 6, freshArtifactsRoot = "/fresh")

  test("session without a launcher master: local[cores] with the engine's " +
    "sizing, cores from SPARK_GRAFT_CPUS else the processors") {
    val (master, confs) = resolve(Map.empty)
    master shouldBe Some("local[6]")
    confs("spark.sql.shuffle.partitions") shouldBe "6"
    confs(Key) shouldBe Tuning.initialPartitions(6).toString
    confs("spark.sql.codegen.maxFields") shouldBe "200"
    confs("spark.sql.extensions") shouldBe "graft.GraftExtensions"
    confs(Staging.PolicyKey) shouldBe Staging.LocalCheckpoint
    confs(Artifacts.DirKey) shouldBe "/fresh"
    val (m8, c8) = resolve(Map("SPARK_GRAFT_CPUS" -> "8", "SPARK_GRAFT_STAGING" -> "persist"))
    m8 shouldBe Some("local[8]")
    c8("spark.sql.shuffle.partitions") shouldBe "8"
    c8(Staging.PolicyKey) shouldBe "persist"
    resolve(Map("SPARK_GRAFT_MASTER" -> "local-cluster[2,4,6144]"))._1 shouldBe
      Some("local-cluster[2,4,6144]")
  }

  test("session under spark-submit keeps the launcher's master and sizing") {
    val launcher = Map("spark.master" -> "yarn")
    val (master, confs) = resolve(Map.empty, launcher)
    master shouldBe None
    confs.keySet should contain noneOf ("spark.sql.shuffle.partitions", Key,
      "spark.ui.enabled", Staging.PolicyKey, Artifacts.DirKey)
    confs("spark.sql.session.timeZone") shouldBe "UTC"
    confs("spark.sql.codegen.maxFields") shouldBe "200"
    resolve(Map("SPARK_GRAFT_ARTIFACTS_DIR" -> "/shared"), launcher)._2(
      Artifacts.DirKey) shouldBe "/shared"
    resolve(Map("SPARK_GRAFT_MASTER" -> "local[2]"), launcher)._1 shouldBe
      Some("local[2]")
  }

  test("SPARK_GRAFT_CONF wins over the shuffle defaults") {
    val (_, confs) = resolve(Map("SPARK_GRAFT_CPUS" -> "4", "SPARK_GRAFT_CONF" ->
      s"spark.sql.shuffle.partitions=3; $Key=7;;spark.executor.extraJavaOptions=-Da=b -Dc=d"))
    confs("spark.sql.shuffle.partitions") shouldBe "3"
    confs(Key) shouldBe "7"
    confs("spark.executor.extraJavaOptions") shouldBe "-Da=b -Dc=d"
  }

  test("a malformed SPARK_GRAFT_CONF token or SPARK_GRAFT_CPUS fails loudly") {
    def failure(env: (String, String)) =
      intercept[IllegalArgumentException](resolve(Map(env))).getMessage
    val noEquals = failure("SPARK_GRAFT_CONF" -> "spark.a=1;spark.executor.memory4g")
    noEquals should (include("SPARK_GRAFT_CONF") and include("spark.executor.memory4g"))
    val emptyKey = failure("SPARK_GRAFT_CONF" -> " =4g")
    emptyKey should (include("SPARK_GRAFT_CONF") and include(" =4g"))
    Seq("0", "-2", "four", "").foreach { v =>
      failure("SPARK_GRAFT_CPUS" -> v) should
        (include("SPARK_GRAFT_CPUS") and include(s"'$v'"))
    }
  }

  test("src/main builds a SparkSession in one place, engine.Tuning") {
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    val calls = for {
      f <- files
      line <- java.nio.file.Files.readAllLines(f).asScala
      code = line.trim
      if !code.startsWith("*") && !code.startsWith("//") &&
        code.contains("SparkSession.builder")
    } yield f.toString
    calls shouldBe Seq("src/main/scala/graft/engine/Tuning.scala")
  }
}
