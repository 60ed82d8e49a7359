package graft.streaming

import graft.SparkSpec
import graft.functions.CorpusPipeline
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graft.ListenerBridge
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.{DataFrame, SaveMode}

import java.nio.file.Files
import scala.collection.mutable

/** The driver round trips of one steady [[CorpusIngestSink.FrozenGate]]
  * batch with side files on: every materialization is one SQL execution,
  * the near-dup funnel's hot set is built on the driver when no delta
  * bucket is a suspect, and the batch's jobs and executions stay within a
  * pinned budget. A new materialization on this path has to move the
  * budget here, on purpose.
  */
class FrozenGateJobBudgetSpec extends SparkSpec {
  import spark.implicits._

  // quality filters opened up so that the gate's dedup stages are what runs
  private val cfg = CorpusPipeline.Config(
    minChars = 10, requireKnownLang = false,
    nearDupThreshold = None, decontamThreshold = None,
    maxDigitRatio = 1.0, maxMeanTokenLen = 100.0, maxPunctRatio = 1.0)

  /** 40 seeded pseudo-words of 3–7 letters. */
  private def text(seed: Int): String = {
    val r = new scala.util.Random(seed)
    Seq.fill(40)(Seq.fill(3 + r.nextInt(5))(('a' + r.nextInt(26)).toChar).mkString)
      .mkString(" ")
  }

  private def docs(rows: Seq[(Long, String)]): DataFrame =
    rows.map { case (id, tx) => (id, tx, "web") }.toDF("doc_id", "text", "source")

  /** Jobs, SQL executions and the names of named executions `body` ran. */
  private def traced[T](body: => T): (T, Int, Int, Seq[String]) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val execs = new java.util.concurrent.atomic.AtomicInteger
    val names = mutable.ArrayBuffer.empty[String]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => execs.incrementAndGet()
        case _ => ()
      }
    }
    val q = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
        names.synchronized(names += funcName)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        names.synchronized(names += funcName)
    }
    ListenerBridge.waitUntilListenerBusEmpty(spark)
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(q)
    try {
      val out = body
      ListenerBridge.waitUntilListenerBusEmpty(spark)
      (out, jobs.get, execs.get, names.synchronized(names.toSeq))
    } finally {
      spark.sparkContext.removeSparkListener(l)
      spark.listenerManager.unregister(q)
    }
  }

  test("a steady side-file batch stays within its job budget, hot set built on the driver") {
    val dir = Files.createTempDirectory("fg_budget").toString
    docs((0 until 40).map(i => i.toLong -> text(i)))
      .write.mode(SaveMode.Overwrite).parquet(dir)
    val g = new CorpusIngestSink.FrozenGate(dir, cfg, refreshEvery = 10, sideFileMinRows = 1L)
    try {
      // the first batch freezes (with side files) and seeds the delta
      assert(g.processBatch(docs((100 until 104).map(i => i.toLong -> text(i)))) == 4L)
      // steady: one exact copy, one near copy, six fresh documents
      val steady = docs(Seq(200L -> text(3), 201L -> (text(5) + " and one more")) ++
        (202 until 208).map(i => i.toLong -> text(i)))
      val (admitted, jobs, execs, names) = traced(g.processBatch(steady))
      info(s"steady batch: $jobs jobs in $execs SQL executions ${names.mkString(", ")}")
      assert(admitted == 6L, "the exact and the near copy are gated, the fresh six admitted")
      def named(n: String) = names.count(_ == n)
      assert(named("collectBounded") == 1, s"one occupancy probe expected: $names")
      assert(named("localize") == 2,
        s"candidate and survivor collects only — no hot-set localize: $names")
      assert(named("localCheckpoint") == 1, s"one counted checkpoint expected: $names")
      assert(execs <= 7, s"steady batch ran $execs SQL executions (budget 7): $names")
      assert(jobs <= 28, s"steady batch ran $jobs jobs (budget 28)")
    } finally g.close()
  }
}
