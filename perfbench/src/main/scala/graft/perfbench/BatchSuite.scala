package graft.perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkEntry
import graft.sources.Tables

/** The batch_suite workload: a fixed slice of the registered batch queries
  * over generated tables, timed the way `graft.Bench` times a query —
  * frame construction, then a `noop` write of every column.
  *
  *   1. set-up, three times: a session that reads and validates the ten
  *      input tables (the median is `setup_s`);
  *   2. one cold pass over a fresh artifacts root;
  *   3. warm passes until `--seconds` have passed (at least one);
  *   4. run.py compares each query's row count, observed in the cold
  *      pass, with DuckDB over the query's oracle SQL; traced runs also
  *      time the kernels of `graft.functions` called directly on the
  *      documents, after the timed passes.
  */
object BatchSuite {

  final case class Timing(constructS: Double, actionS: Double)

  /** Wall seconds of a pass, its queries' timings, the JIT compile and GC
    * milliseconds the JVM spent during it, and the number of classes Spark
    * generated and compiled in it (run.py records these so a noisy run can
    * be told apart from a slow one). */
  final case class Pass(seconds: Double, timings: Seq[Timing], jitMs: Long, gcMs: Long,
                        codegens: Long)

  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def codegens(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def run(args: Main.Args, trace: Trace): Seq[(String, Any)] = {
    val work = args("work")
    val data = args("data")
    val queries = SparkEntry.queries
    val names = new scala.util.Random(args.long("seed"))
      .shuffle(slice(queries.keys.toSeq)).toVector

    // ---- 1. set-up -------------------------------------------------------
    var spark: SparkSession = null
    val setupS = (1 to 3).map { i =>
      val t0 = System.nanoTime()
      spark = Main.session(args, s"$work/artifacts-$i")
      Tables.ExpectedColumns.keys.toSeq.sorted.foreach(t => Tables.table(spark, data, t).schema)
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < 3) spark.stop()
      dt
    }
    trace.attach(spark)

    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val rows = scala.collection.mutable.Map.empty[String, Long]
    // the cold pass also counts each query's output rows through an
    // observation at the plan's root, so the row-count check needs no pass
    // of its own
    def timeQuery(pass: String, n: String): Timing =
      if (errors.contains(n)) Timing(Double.NaN, Double.NaN)
      else try {
        val t0 = System.nanoTime()
        val df = trace.span("query-construct", n, "pass" -> pass) { queries(n)(spark, data) }
        val t1 = System.nanoTime()
        val obs = if (pass == "cold") Some(Observation(s"rows_$n")) else None
        val out = obs.fold(df)(o => df.observe(o, count(lit(1)).as("rows")))
        trace.span("query-action", n, "pass" -> pass) {
          out.write.format("noop").mode("overwrite").save()
        }
        val t2 = System.nanoTime()
        obs.foreach(o => rows(n) = o.get("rows").asInstanceOf[Long])
        // per-query staged blocks (eager staging) are released as Bench does
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        Timing((t1 - t0) / 1e9, (t2 - t1) / 1e9)
      } catch {
        case e: Exception =>
          errors(n) = e.toString.take(300)
          Timing(Double.NaN, Double.NaN)
      }

    def pass(kind: String): Pass = {
      val (j0, g0, c0, t0) = (jitMs(), gcMs(), codegens(), System.nanoTime())
      val ts = trace.span("pass", kind) { names.map(n => timeQuery(kind, n)) }
      Pass((System.nanoTime() - t0) / 1e9, ts, jitMs() - j0, gcMs() - g0, codegens() - c0)
    }

    // ---- 2. cold pass --------------------------------------------------------
    val builds0 = graft.engine.Artifacts.buildsRun.get()
    val cold = pass("cold")
    val artifactBuilds = graft.engine.Artifacts.buildsRun.get() - builds0
    val artifactBuildS = graft.engine.Artifacts.buildSeconds.values.sum

    // ---- 3. warm passes, as many as fit in --seconds (at least one) ------------
    val warmStart = System.nanoTime()
    val warm = scala.collection.mutable.ArrayBuffer.empty[Pass]
    def elapsed = (System.nanoTime() - warmStart) / 1e9
    while (warm.isEmpty || elapsed + warm.map(_.seconds).sum / warm.size <= args.double("seconds"))
      warm += pass("warm")

    // ---- 4. kernels (traced runs, untimed) ---------------------------------
    val rowsOut = names.map(n => rows.getOrElse(n, -1L))
      .zipWithIndex.map { case (r, i) => if (i == 0 && args.flag("inject-wrong")) r + 1 else r }
    val kernels = if (trace.enabled) kernelNsPerDoc(spark, data) else Map.empty[String, Double]

    def timings(ts: Seq[Timing]) = ts.map(t => Seq(t.constructS, t.actionS))
    Seq(
      "workload" -> "batch_suite",
      "setup_s" -> setupS,
      "queries" -> names,
      "families" -> names.map(family),
      "oracle_sql" -> names.map(n => SparkEntry.oracleSql.getOrElse(n, "")),
      "cold_s" -> cold.seconds,
      "cold" -> timings(cold.timings),
      "cold_jit_ms" -> cold.jitMs,
      "warm_s" -> warm.map(_.seconds),
      "warm" -> warm.map(w => timings(w.timings)),
      "warm_jit_ms" -> warm.map(_.jitMs),
      "warm_gc_ms" -> warm.map(_.gcMs),
      "cold_codegens" -> cold.codegens,
      "warm_codegens" -> warm.map(_.codegens),
      "rows" -> rowsOut,
      "errors" -> errors.toMap,
      "artifact_builds" -> artifactBuilds,
      "artifact_build_s" -> artifactBuildS,
      "kernel_ns_per_doc" -> kernels)
  }

  /** Family of a query: its name up to the first underscore; the fourteen
    * transit queries (q1..q13, latest_per_key) form one family. */
  def family(n: String): String =
    if (n.matches("q[0-9]+_.*") || n.startsWith("latest_")) "transit"
    else n.takeWhile(_ != '_')

  /** Every transit query, plus the first query in name order of each other
    * family. */
  def slice(all: Seq[String]): Seq[String] =
    all.sorted.groupBy(family).toSeq.sortBy(_._1).flatMap {
      case ("transit", ns) => ns
      case (_, ns) => ns.take(1)
    }

  /** Single-thread direct calls of the public per-row kernels of
    * `graft.functions` over the documents' lower-cased text: the median of
    * five timed sweeps after two warm-up sweeps, in ns per document. */
  def kernelNsPerDoc(spark: SparkSession, data: String): Map[String, Double] = {
    import graft.functions._
    val docs: Array[UTF8String] = Tables.documents(spark, data)
      .selectExpr("lower(text)").collect().map(r => UTF8String.fromString(r.getString(0)))
    val bytes = docs.map(_.getBytes)
    val weights = graft.operators.TextAnalysis.ClfWeightTenths.toArray
    var sink = 0L
    val kernels: Seq[(String, () => Unit)] = Seq(
      "gram_counts" -> (() => docs.foreach(d => sink += GramCounts.ofText(d, 2).numElements())),
      "hash_embed" -> (() => docs.foreach(d => sink += HashEmbed.ofText(d, 64).numElements())),
      "clf_stats" -> (() => docs.foreach(d => sink += ClfStats.ofText(d, weights).getLong(0))),
      "dsir_buckets" -> (() => docs.foreach(d => sink += DsirBucketCounts.ofText(d, graft.operators.Corpus.DsirBuckets).numElements())),
      "block_hashes" -> (() => bytes.foreach(b => sink += BlockHashes.ofPayload(b, 32, graft.operators.Dedup.P).numElements())),
      "deflate_length" -> (() => docs.foreach(d => sink += DeflateLength.of(d))))
    val out = kernels.map { case (name, sweep) =>
      (1 to 2).foreach(_ => sweep())
      val ts = (1 to 5).map { _ =>
        val t0 = System.nanoTime(); sweep(); (System.nanoTime() - t0).toDouble / docs.length
      }.sorted
      name -> ts(2)
    }.toMap
    blackhole = sink
    out
  }

  /** Keeps the kernels' results live so the JIT cannot drop the calls. */
  @volatile private var blackhole = 0L
}
