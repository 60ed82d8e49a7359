package bench

import graft.functions.CorpusPipeline
import graft.streaming.{CorpusIngestSink, GraftMetrics}
import org.apache.spark.sql.{DataFrame, SaveMode}

/** `ingest_frozen`: `CorpusIngestSink.FrozenGate` in its design regime, a
  * standing corpus much larger than each batch. `sideFileMinRows` is set
  * below the corpus size so the freeze writes side files and steady
  * batches probe them. A cycle is one refresh window: the first op of each
  * cycle re-freezes, the others are steady batches.
  */
final class IngestFrozen(corpusRows: Long = 8000L, batchRows: Int = 400,
                         refreshEvery: Int = 4) extends Workload {
  val name = "ingest_frozen"
  val cycle: Int = refreshEvery

  // the FrozenGate crossover configuration: quality filters opened up so
  // that the gate's dedup stages are what runs
  private val cfg = CorpusPipeline.Config(
    minChars = 10, requireKnownLang = false,
    nearDupThreshold = None, decontamThreshold = None,
    maxDigitRatio = 1.0, maxMeanTokenLen = 100.0, maxPunctRatio = 1.0)

  private var gen: DocGen = _
  private var root: java.nio.file.Path = _
  private var corpusDir: String = _
  private var gate: CorpusIngestSink.FrozenGate = _
  private var nextBatch = 0
  private var admittedTotal = 0L
  private val mismatches = scala.collection.mutable.ArrayBuffer.empty[String]

  private def batchFrame(ctx: Ctx, b: Int): DataFrame = {
    val g = gen
    ctx.spark.createDataFrame(
      ctx.spark.sparkContext.parallelize(0 until batchRows, ctx.cores).map(j => g.batchRow(b, j)),
      DocGen.batchSchema)
  }

  /** Gate batch `nextBatch`; returns (admitted, expected). */
  private def gateNext(ctx: Ctx, clock: Option[Clock]): (Long, Long) = {
    val b = nextBatch
    nextBatch += 1
    val frame = batchFrame(ctx, b)
    val n = clock match {
      case Some(c) => c("gate batch")(ctx.tracer.fold(gate.processBatch(frame))(
        _.call("FrozenGate.processBatch")(gate.processBatch(frame))))
      case None => gate.processBatch(frame)
    }
    admittedTotal += n
    val expected = gen.expectedAdmitted(b)
    if (n != expected) mismatches += s"batch $b admitted $n, expected $expected"
    (n, expected)
  }

  def prepare(ctx: Ctx, rep: Int): Unit = {
    if (root != null) Files2.deleteTree(root)
    root = java.nio.file.Paths.get(ctx.dir(s"ingest_$rep"))
    corpusDir = root.resolve("corpus").toString
    gen = new DocGen(ctx.seed, corpusRows, batchRows)
    val g = gen
    val spark = ctx.spark
    spark.createDataFrame(
      spark.sparkContext.parallelize(0L until corpusRows, ctx.cores).map(g.corpusRow),
      DocGen.corpusSchema).write.mode(SaveMode.Overwrite).parquet(corpusDir)
  }

  /** The first freeze. Timed cycles are the rest of its refresh window
    * and the re-freeze that closes it.
    */
  def warmup(ctx: Ctx): Unit = {
    gate = new CorpusIngestSink.FrozenGate(corpusDir, cfg, refreshEvery = refreshEvery,
      sideFileMinRows = corpusRows / 4)
    gateNext(ctx, None)
  }

  def op(ctx: Ctx, i: Int, clock: Clock): OpSample = {
    val freezes0 = GraftMetrics.counter(GraftMetrics.IngestFreezes)
    val (n, expected) = gateNext(ctx, Some(clock))
    val froze = GraftMetrics.counter(GraftMetrics.IngestFreezes) > freezes0
    val layer = Map(
      "gate.froze" -> (if (froze) 1.0 else 0.0),
      "gate.admitted" -> n.toDouble,
      "gate.storage_mb" -> Tracer.storageMb(ctx.spark))
    OpSample(s"gate batch ${nextBatch - 1}", clock.seconds, n == expected, batchRows.toDouble,
      clock.ledger, layer)
  }

  def verify(ctx: Ctx, samples: Seq[OpSample]): Seq[String] = {
    val rows = ctx.spark.read.parquet(corpusDir).count()
    val external = GraftMetrics.counter(GraftMetrics.IngestExternalWrites)
    mismatches.toSeq ++ Seq(
      if (rows != corpusRows + admittedTotal)
        Some(s"corpus holds $rows rows, expected ${corpusRows + admittedTotal}") else None,
      if (external != 0L) Some(s"$external external writes detected") else None
    ).flatten
  }

  def layers(ctx: Ctx, samples: Seq[OpSample]): Map[String, Double] = {
    val (freeze, steady) = samples.partition(_.layer("gate.froze") > 0)
    def m(ss: Seq[OpSample], k: String) = Stats.mean(ss.flatMap(_.ledger).map(_.get(k)))
    val offered = samples.size.toDouble * batchRows
    Map(
      "gate.steady_jobs" -> m(steady, "jobs"),
      "gate.steady_tasks" -> m(steady, "tasks"),
      "gate.steady_planning_ms" -> m(steady, "planning_ms"),
      "gate.steady_driver_gap_ms" -> m(steady, "driver_gap_ms"),
      "gate.steady_input_mb" -> m(steady, "input_mb"),
      "gate.freeze_jobs" -> m(freeze, "jobs"),
      "gate.freeze_input_mb" -> m(freeze, "input_mb"),
      "gate.freeze_output_mb" -> m(freeze, "output_mb"),
      "gate.freeze_s" -> Stats.mean(freeze.map(_.seconds)),
      "gate.admit_ratio" -> samples.map(_.layer("gate.admitted")).sum / offered,
      "gate.expected_admit_ratio" -> samples.indices.map(i =>
        gen.expectedAdmitted(nextBatch - samples.size + i)).sum / offered,
      "gate.storage_mb" -> Stats.mean(samples.map(_.layer("gate.storage_mb"))),
      "gate.corpus_files" -> Files2.parquetFiles(java.nio.file.Paths.get(corpusDir))._1.toDouble,
      "gate.freezes" -> freeze.size.toDouble)
  }

  def selfTest(ctx: Ctx): Seq[String] = {
    def sig(s: Long) = {
      val g = new DocGen(s, corpusRows, batchRows)
      val rows = (0 until batchRows).map(g.batchRow(0, _)) ++ (0L until 100L).map(g.corpusRow)
      (rows.size, rows.map(r => r.toString.hashCode.toLong).sum)
    }
    val (a, b, c) = (sig(ctx.seed), sig(ctx.seed), sig(ctx.seed + 1))
    Seq(
      if (a != b) Some("doc generator: same seed gave different rows") else None,
      if (a._2 == c._2 || a._1 != c._1) Some("doc generator: another seed gave identical rows or another size") else None
    ).flatten
  }

  override def close(ctx: Ctx): Unit = if (gate != null) gate.close()
}
