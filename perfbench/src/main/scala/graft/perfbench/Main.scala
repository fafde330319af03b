package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: runs one workload and writes its raw
  * measurements to `<work>/result.json` (and, traced, the span records to
  * `<work>/spans.jsonl`). run.py builds this, generates the inputs, starts
  * it, and turns the raw measurements into metrics.
  *
  * Usage: Main --workload NAME --work DIR --seed N --seconds S --trace 0|1
  *             --cores N [workload flags]
  */
object Main {

  /** Flags as given on the command line (`--key value` pairs). */
  final case class Args(m: Map[String, String]) {
    def apply(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
    def long(k: String): Long = apply(k).toLong
    def double(k: String): Double = apply(k).toDouble
    def flag(k: String): Boolean = m.get(k).contains("1")
  }

  def parse(a: Array[String]): Args = {
    require(a.length % 2 == 0 && a.grouped(2).forall(_(0).startsWith("--")),
      s"expected --key value pairs, got: ${a.mkString(" ")}")
    Args(a.grouped(2).map(p => p(0).drop(2) -> p(1)).toMap)
  }

  /** A local session configured like `graft.Bench`'s: UTC, the graft
    * extensions and the engine's shuffle defaults, with every temporary
    * directory inside the run's work directory. Both workloads use it.
    * `MainApp.main` does not set the shuffle defaults and so keeps Spark's
    * 200 shuffle (and state-store) partitions; with those, a transit_stream
    * run on four cores does not finish within its time limit. */
  def session(args: Args, artifactsDir: String): SparkSession = {
    val work = args("work")
    val cores = args.int("cores")
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${args("workload")}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.maxFields", "200")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config(graft.engine.Staging.PolicyKey, graft.engine.Staging.LocalCheckpoint)
      .config(graft.engine.Artifacts.DirKey, artifactsDir)
    graft.engine.Tuning.applyShuffleDefaults(b, cores)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The JVM's peak resident set (VmHWM), in kB. */
  def peakRssKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val work = args("work")
    Files.createDirectories(Paths.get(work))
    val trace = new Trace(args.flag("trace"), args.m.getOrElse("run-id", "run"))
    val fields: Seq[(String, Any)] = args("workload") match {
      case "transit_stream" => TransitStream.run(args, trace)
      case "batch_suite"    => BatchSuite.run(args, trace)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
    val out = Json.obj(fields ++ Seq(
      "peak_rss_kb" -> peakRssKb(),
      "jvm_flags" -> jvm.getInputArguments.toArray.toSeq.map(_.toString)): _*)
    trace.write(s"$work/spans.jsonl")
    Files.writeString(Paths.get(s"$work/result.json"), out)
    SparkSession.getActiveSession.foreach(_.stop())
  }
}
