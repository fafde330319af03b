package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.operators.TextAnalysis

object StreamingHeavyHittersSpec {
  case class Doc(text: String)
}

/** The continuous sketch carries the MG guarantee across triggers and a
  * warm restart, and agrees with the batch family's exact answer after a
  * candidate recount. */
class StreamingHeavyHittersSpec extends SparkSpec {
  import StreamingHeavyHittersSpec.Doc

  private def chunk(terms: Seq[String]): Doc = Doc(terms.mkString(" "))

  test("candidates after the full stream cover the exact heavy hitters; est underestimates") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext

    // 40-term near-uniform body + one genuinely heavy term at ~25%
    val body = (1 to 39).flatMap(i => Seq.fill(6)(s"w$i"))
    val hot = Seq.fill(78)("hot") // 78 of 312
    val stream = new scala.util.Random(3).shuffle(body ++ hot)
    val parts = stream.grouped(80).map(chunk).toSeq

    val mon = new StreamingHeavyHitters(capacity = 8)
    val in = MemoryStream[Doc]
    var last: Map[String, Long] = Map.empty
    val dir = java.nio.file.Files.createTempDirectory("hh_ckpt").toString
    val q = mon.run(in.toDF(), dir) { (_, cands) =>
      last = cands.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    try {
      parts.foreach { p => in.addData(p); q.processAllAvailable() }
    } finally q.stop()

    val truth = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = stream.size.toLong
    last.size should be <= 8
    // guarantee: anything above N/(k+1) survives; estimates undercount boundedly
    truth.collect { case (t, c) if c > n / 9 => t }
      .foreach(t => last.keySet should contain(t))
    last.foreach { case (t, est) =>
      est should be <= truth(t)
      (truth(t) - est) should be <= n / 9
    }
    // the close-of-day recount over the candidates equals the exact answer
    val exact = truth.filter { case (_, c) => c * 5 > n }.keySet
    last.keySet.filter(t => truth(t) * 5 > n) shouldBe exact
    mon.state._2 shouldBe n
  }

  test("warm restart from persisted state continues exactly") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val a = Seq.fill(30)("x") ++ (1 to 10).map(i => s"a$i")
    val b = Seq.fill(25)("x") ++ (1 to 10).map(i => s"b$i")

    val m1 = new StreamingHeavyHitters(capacity = 6)
    val in1 = MemoryStream[Doc]
    val d1 = java.nio.file.Files.createTempDirectory("hh1").toString
    val q1 = m1.run(in1.toDF(), d1, queryName = "hh_m1") { (_, _) => () }
    try { in1.addData(chunk(a)); q1.processAllAvailable() } finally q1.stop()

    val m2 = new StreamingHeavyHitters(capacity = 6, initial = Some(m1.state))
    val in2 = MemoryStream[Doc]
    val d2 = java.nio.file.Files.createTempDirectory("hh2").toString
    val q2 = m2.run(in2.toDF(), d2, queryName = "hh_m2") { (_, _) => () }
    try { in2.addData(chunk(b)); q2.processAllAvailable() } finally q2.stop()

    val (sketch, n) = m2.state
    n shouldBe (a.size + b.size).toLong
    sketch.keySet should contain("x") // 55 of 75 — far above N/(k+1)
    sketch("x") should be <= 55L
    (55L - sketch("x")) should be <= n / 7
  }
}
