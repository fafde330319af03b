package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{Corpus, Dedup}
import graft.streaming.StreamingGrowth.Ev

/** Durable-restart coverage for the round-10 streaming faces
  * ([[DurableStateSpec]]'s convention): kill the query between batches,
  * produce while it is DOWN, restart from the same checkpoint, and
  *
  *   - [[StreamingGrowth]] (keyed `flatMapGroupsWithState`) restores each
  *     user's last-active-day state, so a cross-restart gap retro-emits
  *     its churned+resurrected pair EXACTLY once and never re-emits the
  *     pre-kill increments — the double-count risk VERDICT r10 named;
  *   - the KL and span-probe faces on [[StreamingScorer]] (stateless)
  *     resume at the next batch id without re-scoring a committed batch,
  *     and the post-restart batch scores exactly as the batch face.
  *
  * MemoryStream survives a same-session query restart (its data lives in
  * the driver; the checkpoint stores the committed offsets), which is
  * precisely the kill-and-resume shape a Kafka source has in production. */
class KeyedStateRestartSpec extends SparkSpec {

  private def dus(day: Long): Long = day * 86400L * 1000000L

  test("growth accounting: cross-restart retro-churn emits once, pre-kill increments never re-emit") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val ckpt = Files.createTempDirectory("graft-growth-restart-").toString

    // user 7: days 0,1 before the kill; day 3 after (gap proven post-restart)
    // user 8: day 1 before; day 2 after (plain retained across the restart)
    // user 9: day 0 before; nothing after (state restored, nothing emitted)
    val chunk1 = Seq(Ev(1L, dus(0), 7L), Ev(2L, dus(1), 7L),
      Ev(3L, dus(1), 8L), Ev(4L, dus(0), 9L))
    val chunk2 = Seq(Ev(5L, dus(3), 7L), Ev(6L, dus(2), 8L))

    val in = MemoryStream[Ev]
    // foreachBatch sink: the memory sink does not support checkpoint
    // recovery, and foreachBatch keyed by batchId IS the documented
    // at-least-once production contract anyway (JdbcUpsertSink pattern)
    var sunk = Map.empty[Long, Seq[(Long, Long, String)]]
    def start() = StreamingGrowth.increments(in.toDS())
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[StreamingGrowth.Inc],
                       id: Long) =>
        sunk += id -> ds.collect().toSeq.map(i => (i.user_id, i.day, i.kind))
      }.start()

    // incarnation 1
    val q1 = start()
    try { in.addData(chunk1); q1.processAllAvailable() } finally q1.stop()
    val inc1 = sunk.values.flatten.toSeq
    inc1.toSet shouldBe Set(
      (7L, 0L, "new"), (7L, 1L, "retained"), (8L, 1L, "new"), (9L, 0L, "new"))
    val idsBefore = sunk.keySet

    // produce while DOWN, then incarnation 2 from the same checkpoint
    in.addData(chunk2)
    sunk = Map.empty
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    // a fresh batch id — the committed chunk-1 batches do not replay
    sunk.keySet.intersect(idsBefore) shouldBe empty
    val inc2 = sunk.values.flatten.toSeq
    // ONLY the post-kill increments — the retro pair exactly once, no
    // replay of chunk 1's rows (user 7's gap classifies off RESTORED
    // state: a lost lastDay would misread day 3 as "new")
    inc2.toSet shouldBe Set(
      (7L, 2L, "churned"), (7L, 3L, "resurrected"), (8L, 2L, "retained"))

    // incarnation 3, nothing new: restored state emits nothing
    sunk = Map.empty
    val q3 = start()
    try { q3.processAllAvailable(); sunk.values.flatten shouldBe empty }
    finally q3.stop()

    // union across incarnations == the batch decomposition of all events
    // MINUS the terminal churns a running stream structurally cannot see
    // (the StreamingGrowthSpec contract): user 9 (last day 0) and user 8
    // (last day 2) never return, so batch's corpus-end anchor churns them
    // at day 1 and day 3 — exactly and only those two cells differ
    val all = (inc1 ++ inc2).groupBy(x => (x._2, x._3))
      .view.mapValues(_.size.toLong).toMap
    val batch = graft.operators.Events.growthAccounting(
      (chunk1 ++ chunk2).map(e => (e.event_id, e.ts, e.user_id, "view", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
      .collect().flatMap { r =>
        Seq("new" -> r.getLong(1), "retained" -> r.getLong(2),
          "resurrected" -> r.getLong(3), "churned" -> r.getLong(4))
          .collect { case (k, n) if n > 0 => (r.getLong(0), k) -> n }
      }.toMap
    val terminal = Map((1L, "churned") -> 1L, (3L, "churned") -> 1L)
    (all.keySet ++ terminal.keySet).map { k =>
      k -> (all.getOrElse(k, 0L) + terminal.getOrElse(k, 0L))
    }.toMap shouldBe batch
  }

  test("kl monitor: restart resumes at the next batch id and scores it exactly as the batch face") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"), col("source")).localCheckpoint(true)
    val isIncoming = col("doc_id") % Dedup.IncomingMod === 0
    val model = Corpus.klModelOf(docs.where(!isIncoming)).localCheckpoint(true)
    val rows = docs.where(isIncoming).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val (b1, b2) = rows.partition(_._1 % 2 == 0)

    val ckpt = Files.createTempDirectory("graft-kl-restart-").toString
    val in = MemoryStream[(Long, String, String)]
    var batches = Vector.empty[(Long, Map[String, (Long, Long, Double)])]
    def keyed(rs: Array[Row]) = rs.map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    def start() = StreamingScorer.run("graft_streaming_kl",
      in.toDF().toDF("doc_id", "text", "source"), ckpt)(
      Corpus.klScoreAgainst(model, _)) { (id, out) =>
      batches :+= (id -> keyed(out.collect()))
    }

    val q1 = start()
    try { in.addData(b1.toSeq); q1.processAllAvailable() } finally q1.stop()
    batches.map(_._1) shouldBe Vector(0L)

    in.addData(b2.toSeq) // while down
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    // the committed batch 0 is NOT re-scored; batch 1 arrives once
    batches.map(_._1) shouldBe Vector(0L, 1L)
    val expected = keyed(Corpus.klScoreAgainst(model,
      b2.toSeq.toDF("doc_id", "text", "source")).collect())
    batches(1)._2.keySet shouldBe expected.keySet
    batches(1)._2.foreach { case (s, (t, m, k)) =>
      (t, m) shouldBe ((expected(s)._1, expected(s)._2))
      k shouldBe expected(s)._3 +- 1e-9
    }
  }

  test("span probe: restart resumes at the next batch id; the post-kill lift flags exactly once") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    def uniq(tag: String, n: Int) = (0 until n).map(i => s"$tag$i")
    val block = uniq("res", 60)
    val resident = Seq(1L -> (uniq("pre", 15) ++ block ++ uniq("post", 10)).mkString(" "))
      .toDF("doc_id", "text")
    val idx = Dedup.buildSpanIndex(resident).localCheckpoint(true)

    val ckpt = Files.createTempDirectory("graft-span-restart-").toString
    val in = MemoryStream[(Long, String)]
    var batches = Vector.empty[(Long, Set[(Long, Long, Long, Long)])]
    def start() = StreamingScorer.run("graft_streaming_span_probe",
      in.toDF().toDF("doc_id", "text"), ckpt)(
      Dedup.probeSpans(idx, _)) { (id, out) =>
      batches :+= (id -> out.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet)
    }

    val q1 = start()
    try {
      in.addData(Seq(10L -> uniq("fresh", 90).mkString(" ")))
      q1.processAllAvailable()
    } finally q1.stop()
    batches shouldBe Vector(0L -> Set.empty)

    // the lifting doc arrives while the gate is DOWN
    in.addData(Seq(11L -> (uniq("a", 20) ++ block ++ uniq("b", 5)).mkString(" ")))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    batches.map(_._1) shouldBe Vector(0L, 1L)
    batches(1)._2 shouldBe Set((11L, 20L, 60L,
      60L - Dedup.MinSpanTokens + 1))
  }
}
