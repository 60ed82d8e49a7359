package bench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One traced interval. Levels, outermost first: `op` (one closed-loop
  * operation), `call` (the engine entry point the op drives), `query`
  * (a Spark SQL execution), `job`, `stage`. Times are epoch milliseconds.
  */
final case class Span(level: String, name: String, op: Long, start: Double,
                      end: Double, execId: Long = -1L, jobId: Int = -1) {
  def ms: Double = end - start
}

/** Per-op counters of the traced run. Every field is summed over the jobs,
  * stages, tasks and query executions tied to the op.
  */
final class OpLedger {
  var jobs, stages, tasks = 0L
  var taskMs, cpuMs, gcMs, planningMs = 0.0
  var inputBytes, outputBytes, outputRows, shuffleBytes, spillBytes = 0L
  var driverGapMs = 0.0
  var storagePeakMb = 0.0
  def get(k: String): Double = k match {
    case "jobs" => jobs.toDouble
    case "stages" => stages.toDouble
    case "tasks" => tasks.toDouble
    case "task_ms" => taskMs
    case "cpu_ms" => cpuMs
    case "gc_ms" => gcMs
    case "planning_ms" => planningMs
    case "driver_gap_ms" => driverGapMs
    case "input_mb" => inputBytes / 1048576.0
    case "output_mb" => outputBytes / 1048576.0
    case "shuffle_mb" => shuffleBytes / 1048576.0
    case "spill_mb" => spillBytes / 1048576.0
  }
}

object OpLedger {
  val SparkKeys: Seq[String] = Seq("jobs", "stages", "tasks", "task_ms", "cpu_ms",
    "gc_ms", "planning_ms", "driver_gap_ms", "input_mb", "output_mb",
    "shuffle_mb", "spill_mb")
}

/** The traced run's span recorder. It registers one `SparkListener` and one
  * `QueryExecutionListener`; an untraced run never constructs it. Jobs are
  * tied to their op by the `bench.op` local property the workload sets on
  * the thread that runs the op (the stream's own thread for `cdc_stream`);
  * query executions are tied through the jobs they ran, or by time when
  * they ran none.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stageOp = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new ConcurrentHashMap[Int, Integer]()
  private val execOp = new ConcurrentHashMap[Long, java.lang.Long]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, Double, Long)]()
  private val ledgers = new ConcurrentHashMap[Long, OpLedger]()
  private val listenerNs = new LongAdder
  private val opWindows = mutable.ArrayBuffer.empty[(Long, Double, Double)]
  @volatile private var currentOp = -1L
  private val nextOp = new AtomicLong(0L)

  private def ledger(op: Long) = ledgers.computeIfAbsent(op, _ => new OpLedger)
  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally listenerNs.add(System.nanoTime() - t0)
  }
  private def opOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.OpProperty)))
      .map(_.toLong).getOrElse(-1L)

  private val execStart = new ConcurrentHashMap[Long, java.lang.Double]()

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => timed {
        execStart.put(s.executionId, s.time.toDouble)
      }
      case x: SparkListenerSQLExecutionEnd => timed {
        Option(execStart.remove(x.executionId)).foreach { t0 =>
          val op: Long = Option(execOp.get(x.executionId)).map(_.longValue)
            .getOrElse(opAt(t0.doubleValue))
          spans.add(Span("query", s"execution ${x.executionId}", op, t0.doubleValue,
            x.time.toDouble, x.executionId))
        }
      }
      case _ => ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val tagged = opOf(e.properties)
      val op = if (tagged >= 0) tagged else opAt(e.time.toDouble)
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      jobStart.put(e.jobId, (op, e.time.toDouble, exec))
      e.stageIds.foreach { s => stageOp.put(s, op); stageJob.putIfAbsent(s, e.jobId) }
      if (op >= 0 && exec >= 0) execOp.putIfAbsent(exec, op)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(jobStart.remove(e.jobId)).foreach { case (op, t0, exec) =>
        spans.add(Span("job", s"job ${e.jobId}", op, t0, e.time.toDouble, exec, e.jobId))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      val si = e.stageInfo
      val op: Long = Option(stageOp.get(si.stageId)).map(_.longValue).getOrElse(-1L)
      val job: Int = Option(stageJob.get(si.stageId)).map(_.intValue).getOrElse(-1)
      for (s <- si.submissionTime; c <- si.completionTime)
        spans.add(Span("stage", s"stage ${si.stageId} ${si.name}", op,
          s.toDouble, c.toDouble, jobId = job))
      if (op >= 0) ledger(op).synchronized { ledger(op).stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val op: Long = Option(stageOp.get(e.stageId)).map(_.longValue).getOrElse(-1L)
      val m = e.taskMetrics
      if (op >= 0 && m != null) {
        val l = ledger(op)
        l.synchronized {
          l.tasks += 1
          l.taskMs += m.executorRunTime
          l.cpuMs += m.executorCpuTime / 1e6
          l.gcMs += m.jvmGCTime
          l.inputBytes += m.inputMetrics.bytesRead
          l.outputBytes += m.outputMetrics.bytesWritten
          l.outputRows += m.outputMetrics.recordsWritten
          l.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          l.spillBytes += m.diskBytesSpilled
        }
      }
    }
  }

  // planning time (analysis + optimization + physical planning) per query
  // execution; the execution's span comes from the SQL execution events
  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = timed {
      val phases = qe.tracker.phases.values
      val planning = phases.map(_.durationMs).sum.toDouble
      val start = if (phases.isEmpty) System.currentTimeMillis().toDouble
        else phases.map(_.startTimeMs).min.toDouble
      val op: Long = Option(execOp.get(qe.id)).map(_.longValue).getOrElse(opAt(start))
      if (op >= 0) ledger(op).synchronized { ledger(op).planningMs += planning }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private def opAt(t: Double): Long = opWindows.synchronized {
    opWindows.find { case (_, s, e) => t >= s && t <= e }.map(_._1)
      .getOrElse(if (currentOp >= 0) currentOp else -1L)
  }

  // Storage memory in use, sampled while an op runs (peak per op).
  @volatile private var sampling = true
  private val sampler = new Thread(() => {
    while (sampling) {
      val op = currentOp
      if (op >= 0) {
        val mb = Tracer.storageMb(spark)
        val l = ledger(op)
        l.synchronized { if (mb > l.storagePeakMb) l.storagePeakMb = mb }
      }
      try Thread.sleep(50) catch { case _: InterruptedException => () }
    }
  }, "bench-storage-sampler")

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)
  sampler.setDaemon(true)
  sampler.start()

  /** Open an op: returns its id; the caller's thread carries the tag. */
  def begin(): Long = {
    val op = nextOp.getAndIncrement()
    sc.setLocalProperty(Tracer.OpProperty, op.toString)
    currentOp = op
    op
  }

  /** Close an op that ran from `startMs` to `endMs` (epoch ms), drain the
    * listener bus off the clock, and return its ledger.
    */
  def end(op: Long, name: String, startMs: Double, endMs: Double): OpLedger = {
    sc.setLocalProperty(Tracer.OpProperty, null)
    opWindows.synchronized { opWindows += ((op, startMs, endMs)) }
    spans.add(Span("op", name, op, startMs, endMs))
    org.apache.spark.BenchBus.drain(sc)
    currentOp = -1L
    val l = ledger(op)
    val jobIv = spans.asScala.filter(s => s.level == "job" && s.op == op)
      .map(s => (s.start, s.end)).toSeq
    l.synchronized {
      l.jobs = jobIv.size
      l.driverGapMs = math.max(0.0, (endMs - startMs) - Tracer.covered(jobIv, startMs, endMs))
    }
    l
  }

  /** Tag the calling thread with the open op (for ops whose jobs run on
    * another thread than the one that opened the op, as in a stream).
    */
  def tagThread(): Unit =
    if (currentOp >= 0) sc.setLocalProperty(Tracer.OpProperty, currentOp.toString)

  /** A `call` span around one engine entry point inside the current op. */
  def call[T](name: String)(f: => T): T = {
    val op = currentOp
    val t0 = System.currentTimeMillis().toDouble
    try f finally spans.add(Span("call", name, op, t0, System.currentTimeMillis().toDouble))
  }

  def listenerMs: Double = listenerNs.sum() / 1e6

  private val Levels = Seq("op", "call", "query", "job", "stage")

  /** Every span, sorted by start, and the index of its parent (-1 for
    * none): a call's op; a query's enclosing call, else its op; a job's
    * query execution, else its enclosing call, else its op; a stage's job.
    */
  private def tree(): (IndexedSeq[Span], IndexedSeq[Int]) = {
    val all = spans.asScala.toIndexedSeq.sortBy(s => (s.start, Levels.indexOf(s.level)))
    def find(f: Span => Boolean): Option[Int] = all.indices.find(i => f(all(i)))
    def inside(c: Span, p: Span) = c.start >= p.start - 1 && c.end <= p.end + 1
    def opOf(s: Span) = find(p => p.level == "op" && s.op >= 0 && p.op == s.op)
    def callOf(s: Span) = find(p => p.level == "call" && s.op >= 0 && p.op == s.op && inside(s, p))
    val parent = all.map { s =>
      (s.level match {
        case "call" => opOf(s)
        case "query" => callOf(s).orElse(opOf(s))
        case "job" => find(p => p.level == "query" && s.execId >= 0 && p.execId == s.execId)
          .orElse(callOf(s)).orElse(opOf(s))
        case "stage" => find(p => p.level == "job" && p.jobId == s.jobId)
        case _ => None
      }).getOrElse(-1)
    }
    (all, parent)
  }

  /** (level, summed self time in ms, span count) over the given ops; a
    * span's self time is its duration minus the part its children cover.
    */
  def selfTimes(ops: Set[Long]): Seq[(String, Double, Int)] = {
    val (all, parent) = tree()
    val children = all.indices.filter(parent(_) >= 0).groupBy(parent(_))
    Levels.map { l =>
      val ss = all.indices.filter(i => all(i).level == l && ops.contains(all(i).op))
      val self = ss.map { i =>
        val cs = children.getOrElse(i, Nil).map(c => (all(c).start, all(c).end))
        all(i).ms - Tracer.covered(cs, all(i).start, all(i).end)
      }.sum
      (l, self, ss.size)
    }
  }

  /** Every span as one JSON object per line: id, parent id, op, level,
    * name, start and end (epoch ms). Spans outside any op (set-up) have
    * op -1.
    */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val (all, parent) = tree()
    val lines = all.indices.map { i =>
      val s = all(i)
      Json.obj(Seq("id" -> Json.num(i.toDouble), "parent" -> Json.num(parent(i).toDouble),
        "op" -> Json.num(s.op.toDouble), "level" -> Json.str(s.level), "name" -> Json.str(s.name),
        "start_ms" -> Json.num(s.start), "end_ms" -> Json.num(s.end)))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  def close(): Unit = {
    sampling = false
    sampler.interrupt()
    sampler.join()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

object Tracer {
  val OpProperty = "bench.op"

  /** Storage memory in use across block managers, in MB. */
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum / 1048576.0

  /** Length of the union of `iv` clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curS.isNaN) { curS = s; curE = e }
      else if (s <= curE) curE = math.max(curE, e)
      else { total += curE - curS; curS = s; curE = e }
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
