package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR.
  *
  * Harness notes (VERDICT r1 "what's wrong" items, all addressed here):
  *   - the timed action is a `noop`-format write: every output column is
  *     fully evaluated (a bare `.count()` lets Catalyst prune computed
  *     columns) and nothing is collected to the driver;
  *   - one untimed warm-up pass over all queries absorbs JVM/codegen
  *     warm-up so the first timed query isn't penalized;
  *   - a throwing query is reported loudly on stderr, recorded in the
  *     JSON `errors` field, and fails the run with a non-zero exit;
  *   - the JSON line goes to raw stdout (build.sbt sets
  *     `run / outputStrategy := StdoutOutput` so sbt does not wrap it in
  *     `[info]`) and is mirrored to `bench_out.json` in the cwd.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.engine.Tuning.session("graft-bench")

    // Per-query EXECUTOR TASK TIME (VERDICT r17 #2a): at sf0.1 every
    // per-query wall time sits on a fixed driver/AQE latency floor, so
    // the driver's low-core/high-core wall ratio is structurally ≈1 and
    // cannot show parallelism. The sum of task runtimes is the signal
    // that scales with cores: it is emitted per query beside the wall
    // time. Attribution is by the query being timed when the task-end
    // event drains (queries run sequentially; the bus is drained between
    // queries below), and the value recorded is from the LAST timed pass.
    // single writer: custom listeners drain on the shared bus queue's one
    // thread, so read-modify-write on the TrieMap is race-free
    val taskTimeMs = new scala.collection.concurrent.TrieMap[String, Long]()
    @volatile var currentQuery = ""
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val q = currentQuery
          if (q.nonEmpty && te.taskMetrics != null)
            taskTimeMs.put(q,
              taskTimeMs.getOrElse(q, 0L) + te.taskMetrics.executorRunTime)
        }
      })
    // listenerBus.waitUntilEmpty is private[spark]; reflection with a
    // sleep fallback (attribution slop is then bounded by bus lag, ~ms)
    def drainListenerBus(): Unit =
      try {
        val m = spark.sparkContext.getClass.getMethod("listenerBus")
        val bus = m.invoke(spark.sparkContext)
        bus.getClass.getMethods.find(x =>
            x.getName == "waitUntilEmpty" && x.getParameterCount == 0)
          .foreach(_.invoke(bus))
      } catch { case _: Throwable => Thread.sleep(20) }

    // Box-load provenance (VERDICT r15 #5): bench totals are meaningless
    // without knowing whether the box was quiet — the r15 graded total
    // regressed 32% with a broad uniform per-query slowdown (the load
    // signature) and nothing in-repo to attribute it. Record 1/5/15-min
    // loadavg at start and end of the run, in both JSON lines.
    def loadavg(): String =
      try java.nio.file.Files.readString(
          java.nio.file.Paths.get("/proc/loadavg")).trim
        .split(" ").take(3).mkString(",")
      catch { case _: Throwable => "" }
    val loadStart = loadavg()

    def runOnce(fn: (SparkSession, String) => DataFrame): Unit = {
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      // release the query's localCheckpoint blocks: they are per-query
      // scratch state, and letting 30+ queries' blocks accumulate turns
      // the tail of the run into a GC grind (observed 3x inflation)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }

    // Load-reference query (VERDICT r16 #6): a fixed, artifact-free,
    // scan+agg constant timed beside the suite so a graded total can be
    // load-NORMALIZED, not just load-annotated — loadavg says the box was
    // busy, ref_query_s says by how much THIS run was taxed. Shape: one
    // pass over lineitem, a codegen'd group-agg — wide enough to feel CPU
    // and scan contention, no shuffles beyond one exchange, no artifacts,
    // ~1–2 s warm at sf0.1. Timed 3× after the warmup pass (median) and
    // 3× after the timed passes; SCALE_SWEEP §round-17 records the
    // quiet-box base, and normalized total = total × (ref_quiet /
    // ref_measured).
    def refQuery(): Double = {
      val t0 = System.nanoTime()
      graft.sources.Tables.lineitem(spark, sfDir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(org.apache.spark.sql.functions.sum("l_quantity"),
          org.apache.spark.sql.functions.sum("l_extendedprice"),
          org.apache.spark.sql.functions.avg("l_discount"),
          org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def refMedian(): Double = {
      val ts = Seq.fill(3)(refQuery()).sorted
      ts(1)
    }

    // optional comma-separated filter for focused iteration, e.g.
    // SPARK_GRAFT_ONLY=dedup_minhash_lsh
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    var errors = Vector.empty[String]
    // Pass-count knobs for LONG sweeps (the ~sf10 fourth-decade record:
    // single queries run minutes there, so warmup + two timed passes
    // would triple a multi-hour run for noise-reduction the exponent
    // granularity doesn't need). Defaults preserve the sf0.1 discipline:
    // one warmup pass + two timed passes, per-query min.
    val warmup = sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1").toInt > 0
    val passes = math.max(1, sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt)
    if (warmup) names.foreach { n =>
      try runOnce(SparkEntry.queries(n))
      catch { case e: Throwable =>
        errors :+= n
        System.err.println(s"[bench] warmup $n FAILED: $e")
      }
    }
    // Two timed passes, per-query MINIMUM: the box is shared, and roughly
    // once per pass an external ~15 s stall lands on whichever query is
    // running (measured: the slow slot moves between runs, GC log shows
    // <1 s of pauses). The min reflects the plan, not the neighbor's noise.
    def timedPass(): Seq[(String, Double)] =
      names.filterNot(errors.contains).map { n =>
        taskTimeMs.remove(n) // keep only the last pass's task time
        currentQuery = n
        val t0 = System.nanoTime()
        try {
          runOnce(SparkEntry.queries(n))
          val dt = (System.nanoTime() - t0) / 1e9
          drainListenerBus()
          currentQuery = ""
          n -> dt
        }
        catch { case e: Throwable =>
          currentQuery = ""
          errors :+= n
          System.err.println(s"[bench] timed $n FAILED: $e")
          n -> -1.0
        }
      }
    // warm the ref query once (first parquet-footer read), then take its
    // pre-suite median — the box-tax sample the timed passes run under
    val refStart = { refQuery(); refMedian() }
    val earlier = (1 until passes).map(_ => timedPass().toMap)
    val timed = timedPass().map { case (n, tLast) =>
      val ts = earlier.flatMap(_.get(n)) :+ tLast
      n -> (if (ts.exists(_ < 0)) -1.0 else ts.min)
    }
    val refEnd = refMedian()
    val loadEnd = loadavg()
    val qs = timed.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errJson = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = timed.collect { case (_, v) if v >= 0 => v }.sum
    def r3d(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    // per-query executor task time (sum of task runtimes, last timed pass)
    val taskJson = timed.map { case (k, _) =>
      "\"" + k + "\":" + r3d(taskTimeMs.get(k).map(_.toDouble / 1e3)
        .getOrElse(0.0))
    }.mkString("{", ",", "}")
    // durable-artifact build cost (runs in the untimed warmup: VERDICT
    // r17 #2b — amortized builds must stay visible in the record)
    val abuilds = graft.engine.Artifacts.buildsRun.get()
    val abuildMap = graft.engine.Artifacts.buildSeconds.toSeq.sortBy(_._1)
    val abuildJson = abuildMap.map { case (k, v) => "\"" + k + "\":" + r3d(v) }
      .mkString("{", ",", "}")
    val abuildTotal = abuildMap.map(_._2).sum
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","loadavg_start":"$loadStart","loadavg_end":"$loadEnd","ref_query_s_start":${r3d(refStart)},"ref_query_s_end":${r3d(refEnd)},"artifact_builds":$abuilds,"artifact_build_total_s":${r3d(abuildTotal)},"artifact_build_s":$abuildJson,"task_time_s":$taskJson,"queries":$qs,"errors":$errJson,"sf":"$sfDir"}"""
    println(json)
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_out.json"), json)
    catch { case _: Throwable => () }
    spark.stop()
    // The driver's grading harness keeps only the LAST ~2000 chars of
    // stdout and scans them for a parseable JSON line; at 200 queries the
    // full line above is ~7 KB and never fits (VERDICT r13 #3: BENCH_r*
    // carried "parsed": null since r06). Emit a COMPACT final line that
    // always fits the window: totals + per-family subtotals + as many of
    // the slowest per-query timings as a 1500-char budget allows, with
    // the full per-query record pointed at via "detail" (bench_out.json,
    // committed per round). Printed after spark.stop() so no shutdown
    // log line can land behind it.
    def r3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val families = timed.filter(_._2 >= 0)
      .groupBy { case (n, _) => n.takeWhile(_ != '_') }
      .toSeq.sortBy(_._1)
      .map { case (f, qs2) => "\"" + f + "\":" + r3(qs2.map(_._2).sum) }
      .mkString("{", ",", "}")
    val slowest = timed.filter(_._2 >= 0).sortBy(-_._2)
    val budget = 1500
    val taskTotal = timed
      .map { case (k, _) => taskTimeMs.get(k).map(_.toDouble / 1e3)
        .getOrElse(0.0) }.sum
    val sb = new StringBuilder(
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${timed.size},"loadavg_start":"$loadStart","loadavg_end":"$loadEnd","ref_query_s_start":${r3(refStart)},"ref_query_s_end":${r3(refEnd)},"task_time_total_s":${r3(taskTotal)},"artifact_builds":$abuilds,"artifact_build_total_s":${r3(abuildTotal)},"families":$families,"errors":$errJson,"sf":"$sfDir","detail":"bench_out.json","queries_complete":false,"queries":{""")
    var firstQ = true
    slowest.foreach { case (n, v) =>
      val entry = (if (firstQ) "" else ",") + "\"" + n + "\":" + r3(v)
      if (sb.length + entry.length < budget) { sb ++= entry; firstQ = false }
    }
    sb ++= "}}"
    println(sb.toString)
    if (errors.nonEmpty) sys.exit(1)
  }
}
