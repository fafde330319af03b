package graft.engine

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** Engine-default shuffle sizing (VERDICT r15 #1): shuffles start WIDE,
  * AQE's size-based coalesce shrinks the small ones back.
  *
  * The sf10 shuffle-partition A/B (SCALE_SWEEP §round-15) measured what a
  * single static `spark.sql.shuffle.partitions` cannot deliver at the
  * fourth decade: at 32 partitions the shuffle-dense scorers were
  * SPILL-bound (sim_pq_recall 134.6 s, dedup_sig_calibration 151.5 s —
  * multi-hundred-MB reduce partitions at 32-way), while a static 128 made
  * the probe-style pipelines pay ~3× (every tiny probe stage fanned out to
  * 128 tasks). Neither global number is right; the partition count has to
  * track the DATA, per exchange.
  *
  * That is exactly what AQE's coalesce already does — but it can only ever
  * MERGE map-output partitions, never split them, so with the initial
  * partition count pinned at core-count the 64 MB advisory target is
  * unreachable for any exchange larger than cores × 64 MB: the reduce side
  * runs few oversized spilling tasks, and AQE is powerless to help. The
  * engine default therefore raises only the STARTING width
  * (`spark.sql.adaptive.coalescePartitions.initialPartitionNum` =
  * [[InitialFactor]] × cores) and leaves every coalesce knob at its Spark
  * default. With `parallelismFirst` true the per-exchange target stays
  * min(64 MB advisory, max(total/cores, 1 MB)), so:
  *
  *   - big exchanges keep ~total/64 MB partitions — the spill fix: a
  *     12 GB shuffle runs ~200 × 64 MB tasks instead of 32 × 400 MB
  *     spillers (measured: the three sf10 scorers recover 2.5–4.6×);
  *   - small exchanges coalesce to the SAME final layout they had before
  *     (the target formula does not involve the initial count), so the
  *     probe pipelines, the sf0.1 graded bench, and the CPU-dense dedup
  *     stages that round 14 measured regressing under byte-first
  *     coalescing are all unchanged — the only delta is map-side bucket
  *     count, which is noise at these widths;
  *   - explicit `repartition(n, …)` calls (REPARTITION_BY_NUM origin,
  *     e.g. [[graft.sources.Tables.spread]]) are untouched: AQE does not
  *     resize user-pinned exchanges, and this default does not either.
  *
  * Result rows are partition-layout independent (the full oracle suite is
  * proven green under local[8], local[32] and local-cluster[2,4] — the
  * layout already varies across those), so this is a pure cost knob.
  */
object Tuning {
  /** Initial-width multiplier over core count. 8× lets AQE reach the
    * 64 MB advisory for exchanges up to cores × 512 MB (≈16 GB at 32
    * cores) — comfortably past the engine's largest sf10 exchange — while
    * keeping the map-side bucket fan-out trivial. */
  val InitialFactor = 8

  /** The engine-default initial shuffle width for a core count. */
  def initialPartitions(cores: Int): Int = math.max(64, cores * InitialFactor)

  /** The engine's shuffle-sizing defaults for a core count: static
    * `spark.sql.shuffle.partitions` = cores (the non-AQE floor and the
    * width of non-coalescible exchanges) and the wide AQE starting width
    * above. Set BEFORE user-supplied conf overrides (`SPARK_GRAFT_CONF` in
    * [[session]]), so an explicit
    * `spark.sql.adaptive.coalescePartitions.initialPartitionNum` or
    * `spark.sql.shuffle.partitions` setting wins.
    * `adaptive.coalescePartitions.parallelismFirst` stays at its default
    * (true): the dedup pipelines are CPU-dense per row, so coalescing their
    * small shuffles to few tasks serializes real work (20.6 s → 31.3 s on
    * the fuzzy-dedup subset at sf0.1). */
  def shuffleDefaults(cores: Int): Map[String, String] =
    Map(StaticNumKey -> cores.toString,
      InitialNumKey -> initialPartitions(cores).toString)

  /** [[shuffleDefaults]] applied to a session builder. */
  def applyShuffleDefaults(builder: SparkSession.Builder,
                           cores: Int): SparkSession.Builder =
    builder.config(shuffleDefaults(cores))

  private val InitialNumKey =
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum"

  private val StaticNumKey = "spark.sql.shuffle.partitions"

  /** The one session every entry point runs on. The master is
    * `SPARK_GRAFT_MASTER` if set, else the launcher's `spark.master`
    * (spark-submit), else `local[cores]`; see [[resolve]] for the confs.
    * When the launcher chose the master, the wide start is applied after
    * start ([[ensureWideStart]]), so the deployment's own sizing wins. */
  def session(appName: String): SparkSession = {
    val (master, confs) = resolve(sys.env, new SparkConf().getAll.toMap,
      Runtime.getRuntime.availableProcessors, Artifacts.ephemeralRoot())
    val builder = SparkSession.builder().appName(appName).config(confs)
    master.foreach(builder.master)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (master.isEmpty) ensureWideStart(spark)
    spark
  }

  /** The master (None: the launcher's) and the confs of [[session]], from
    * the environment and the launcher's conf, without starting anything.
    *   - Every session: UTC, the graft extensions, and `codegen.maxFields`
    *     200, which keeps the 128-column MinHash signature aggregate inside
    *     whole-stage codegen.
    *   - A master chosen here (`SPARK_GRAFT_MASTER` or `local[cores]`, cores
    *     from `SPARK_GRAFT_CPUS`, else `processors`) also gets the shuffle
    *     defaults, no UI, and the harness defaults for the staging policy
    *     (local-checkpoint) and the artifacts root (a fresh one per run, so
    *     a measurement never reopens an earlier build's artifacts).
    *   - `SPARK_GRAFT_STAGING` and `SPARK_GRAFT_ARTIFACTS_DIR` set those two
    *     under any master; `SPARK_GRAFT_CONF` (`k=v;k=v`) is applied last.
    * A malformed `SPARK_GRAFT_CPUS` or `SPARK_GRAFT_CONF` token throws: a
    * typo must not run silently on other confs than the ones asked for. */
  private[graft] def resolve(env: Map[String, String],
                             launcher: Map[String, String],
                             processors: Int,
                             freshArtifactsRoot: => String)
      : (Option[String], Map[String, String]) = {
    def malformed(name: String, value: String, expected: String) =
      throw new IllegalArgumentException(s"$name: '$value' is not $expected")
    val cores = env.get("SPARK_GRAFT_CPUS").fold(processors) { v =>
      v.trim.toIntOption.filter(_ > 0)
        .getOrElse(malformed("SPARK_GRAFT_CPUS", v, "a positive integer"))
    }
    val overrides = env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(";")).filter(_.trim.nonEmpty).map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) if k.trim.nonEmpty => k.trim -> v
          case _ => malformed("SPARK_GRAFT_CONF", kv, "a key=value token")
        }
      }
    val master = env.get("SPARK_GRAFT_MASTER")
      .orElse(if (launcher.contains("spark.master")) None else Some(s"local[$cores]"))
    val chosenHere = if (master.isEmpty) Map.empty[String, String]
      else shuffleDefaults(cores) ++ Map("spark.ui.enabled" -> "false",
        Staging.PolicyKey -> Staging.LocalCheckpoint,
        Artifacts.DirKey -> freshArtifactsRoot)
    (master, Map(
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.sql.codegen.maxFields" -> "200") ++ chosenHere ++
      env.get("SPARK_GRAFT_STAGING").map(Staging.PolicyKey -> _) ++
      env.get("SPARK_GRAFT_ARTIFACTS_DIR").map(Artifacts.DirKey -> _) ++
      overrides)
  }

  /** Runtime variant for sessions whose master the launcher chose
    * ([[session]] under spark-submit): set the wide starting width only
    * when the deployment has not chosen one — a `--conf` from
    * spark-submit, spark-defaults, or the builder always wins. A
    * deployment that explicitly pinned the STATIC width
    * (`spark.sql.shuffle.partitions` on the deployment channels —
    * spark-submit `--conf` / spark-defaults / the builder's SparkConf)
    * also suppresses the wide start: choosing a static width is choosing
    * a layout, and silently widening the AQE start behind it would
    * surprise exactly the deployments that tuned it (ADVICE r16). Sized
    * from `defaultParallelism` (total cluster cores), the same basis the
    * static `spark.sql.shuffle.partitions` default uses.
    *
    * Dynamic-allocation caveat: `defaultParallelism` is sampled when
    * this runs, and under `spark.dynamicAllocation.enabled` that is the
    * REGISTERED executor count — at app startup often far below the
    * cluster's eventual size, pinning the wide start near the 64 floor
    * for the session's lifetime (ADVICE r16). Deployments using dynamic
    * allocation should set `initialPartitionNum` explicitly from the
    * allocation ceiling (`spark.dynamicAllocation.maxExecutors` ×
    * executor cores × [[InitialFactor]]); this helper intentionally does
    * not guess it. */
  def ensureWideStart(spark: SparkSession): Unit =
    ensureWideStart(spark, spark.sparkContext.getConf.contains(StaticNumKey))

  /** Decision core with the deployment-pinned fact injected — the public
    * face reads it from the context SparkConf (the deployment channels);
    * tests drive both branches without needing a second SparkContext. */
  private[graft] def ensureWideStart(spark: SparkSession,
                                     deploymentPinnedStatic: Boolean): Unit =
    if (!deploymentPinnedStatic && spark.conf.getOption(InitialNumKey).isEmpty)
      spark.conf.set(InitialNumKey,
        initialPartitions(spark.sparkContext.defaultParallelism).toString)
}
