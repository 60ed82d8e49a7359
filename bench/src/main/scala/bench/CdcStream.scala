package bench

import graft.core.{FileWatermarkStore, Watermark, WatermarkStore}
import graft.operators.MsSqlCtDialect
import graft.streaming._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.StreamingQuery

import java.util.concurrent.atomic.{AtomicLong, LongAdder}

/** The benchmark's change source: versions are published by the workload
  * (driver side) and their rows are regenerated from the seed wherever a
  * shard is read.
  */
final class GenChangeSource(gen: CdcGen) extends VersionedChangeSource {
  override def currentVersion(): Long = GenChangeSource.published.get()
  override def fetchChanges(from: Long, to: Long, shard: Int, numShards: Int): Iterator[Row] = {
    val t0 = System.nanoTime()
    val rows = (from + 1 to to).iterator.flatMap(GenChangeSource.rowsOf(gen, _))
      .filter(r => Math.floorMod(r.getInt(0), numShards) == shard).toVector
    GenChangeSource.fetchNs.add(System.nanoTime() - t0)
    rows.iterator
  }
}

object GenChangeSource {
  val published = new AtomicLong(0L)
  // the source runs in executor tasks, which share this JVM in local mode
  val fetchNs = new LongAdder
  // each version's rows are generated once per JVM, not once per shard
  private val cache = new java.util.concurrent.ConcurrentHashMap[(Long, Long), IndexedSeq[Row]]()

  def rowsOf(gen: CdcGen, v: Long): IndexedSeq[Row] = {
    val rows = cache.computeIfAbsent((gen.seed, v), _ => gen.versionRows(v))
    cache.keySet().removeIf(k => k._2 < v - 200)
    rows
  }
}

/** Times every watermark commit the pipeline makes. */
final class TimedWatermarkStore(inner: WatermarkStore) extends WatermarkStore {
  val setNs = new LongAdder
  override def get(target: String): Option[Watermark] = inner.get(target)
  override def set(target: String, wm: Watermark): Unit = {
    val t0 = System.nanoTime()
    try inner.set(target, wm) finally setNs.add(System.nanoTime() - t0)
  }
}

/** `cdc_stream`: an MSSQL change-tracking feed drained through
  * `spark.readStream` → `VersionedStreamProvider` →
  * `foreachBatch(CdcPipeline.runBatch)` into a `ParquetTarget` whose initial
  * snapshot `Backfill.overwrite` loaded. One op publishes one micro-batch
  * worth of versions and waits until the stream has merged and committed
  * them. A cycle is one maintenance period of the pipeline.
  */
final class CdcStream(initialKeys: Int = 30000, rowsPerVersion: Int = 100,
                      versionsPerBatch: Int = 10) extends Workload {
  val name = "cdc_stream"
  private val maintenanceEvery = 10
  val cycle: Int = maintenanceEvery
  private val targetName = "t"

  private var gen: CdcGen = _
  private var root: java.nio.file.Path = _
  private var target: ParquetTarget = _
  private var store: TimedWatermarkStore = _
  private var query: StreamingQuery = _
  private val runBatchNs = new LongAdder
  private val batchesRun = new AtomicLong(0L)

  def prepare(ctx: Ctx, rep: Int): Unit = {
    if (root != null) Files2.deleteTree(root)
    root = java.nio.file.Paths.get(ctx.dir(s"cdc_$rep"))
    gen = new CdcGen(ctx.seed, initialKeys, rowsPerVersion,
      valuesOfFFrom = 3L * versionsPerBatch + 1)
    val g = gen
    val spark = ctx.spark
    val initial = spark.createDataFrame(
      spark.sparkContext.parallelize(0 until initialKeys, ctx.cores).map(g.initialRow),
      CdcGen.baseSchema)
    target = new ParquetTarget(spark, root.resolve("target").toString)
    store = new TimedWatermarkStore(new FileWatermarkStore(root.resolve("wm").toString))
    Backfill.overwrite(target, targetName, initial, "ARCANE_MERGE_KEY", MsSqlCtDialect,
      Watermark.mssql(0L), store)
  }

  private def startStream(ctx: Ctx): Unit = {
    val spark = ctx.spark
    GenChangeSource.published.set(0L)
    val srcName = s"bench-cdc-${ctx.seed}"
    VersionedStreamRegistry.register(srcName, new GenChangeSource(gen))
    val pipeline = new CdcPipeline(spark, MsSqlCtDialect,
      PipelineConfig(maintenanceEvery = maintenanceEvery), store)
    val fn: (DataFrame, Long) => Unit = (batch, batchId) => {
      ctx.tracer.foreach(_.tagThread())
      val wm = Watermark.mssql((batchId + 1) * versionsPerBatch)
      def run(): Unit = pipeline.runBatch(target, targetName, batch, wm)
      val t0 = System.nanoTime()
      ctx.tracer match {
        case Some(t) => t.call("CdcPipeline.runBatch")(run())
        case None => run()
      }
      runBatchNs.add(System.nanoTime() - t0)
      batchesRun.incrementAndGet()
      ()
    }
    query = spark.readStream.format(classOf[VersionedStreamProvider].getName)
      .schema(CdcGen.streamSchema)
      .option("source.name", srcName)
      .option("source.shards", ctx.cores.toString)
      .option("source.maxVersionsPerTrigger", versionsPerBatch.toString)
      .load()
      .writeStream
      .option("checkpointLocation", root.resolve("checkpoint").toString)
      .foreachBatch(fn)
      .start()
  }

  private def publishAndDrain(): Unit = {
    GenChangeSource.published.addAndGet(versionsPerBatch.toLong)
    query.processAllAvailable()
  }

  def warmup(ctx: Ctx): Unit = {
    startStream(ctx)
    // any `maintenanceEvery` consecutive batches hold exactly one
    // maintenance pass, so timed cycles may start anywhere; 15 batches
    // bring the JIT to steady batch times at local[4]
    (0 until 15).foreach(_ => publishAndDrain())
  }

  def op(ctx: Ctx, i: Int, clock: Clock): OpSample = {
    val fetch0 = GenChangeSource.fetchNs.sum()
    val run0 = runBatchNs.sum()
    val wm0 = store.setNs.sum()
    clock("micro-batch")(publishAndDrain())
    val batchId = GenChangeSource.published.get() / versionsPerBatch - 1
    val progress = awaitProgress(batchId)
    val wmOk = store.get(targetName).map(_.version) ==
      Some(Watermark.mssql(GenChangeSource.published.get()).version)
    val maintained = batchesRun.get() % maintenanceEvery == 0
    val (files, bytes) = target.currentVersion
      .map(v => Files2.parquetFiles(root.resolve("target").resolve(f"v_$v%08d")))
      .getOrElse((0, 0L))
    val rows = progress.map(_.numInputRows.toDouble).getOrElse(0.0)
    def dur(k: String) = progress.flatMap(p => Option(p.durationMs.get(k)))
      .map(_.doubleValue).getOrElse(0.0)
    val layer = Map(
      "stream.latest_offset_ms" -> dur("latestOffset"),
      "stream.query_planning_ms" -> dur("queryPlanning"),
      "stream.add_batch_ms" -> dur("addBatch"),
      "stream.wal_commit_ms" -> dur("walCommit"),
      "source.rows_per_batch" -> rows,
      "source.fetch_ms" -> (GenChangeSource.fetchNs.sum() - fetch0) / 1e6,
      "cdc.run_batch_ms" -> (runBatchNs.sum() - run0) / 1e6,
      "cdc.merge_ms" -> GraftMetrics.gaugeValue(GraftMetrics.MergeDuration).getOrElse(0L).toDouble,
      "cdc.maintenance_ms" -> (if (maintained) GraftMetrics
        .gaugeValue(GraftMetrics.TargetSnapshotExpireDuration).getOrElse(0L).toDouble else 0.0),
      "watermark.set_ms" -> (store.setNs.sum() - wm0) / 1e6,
      "target.files_per_commit" -> files.toDouble,
      "target.snapshot_mb" -> bytes / 1048576.0,
      "target.live_snapshots" -> target.versions.size.toDouble)
    OpSample(s"batch $batchId", clock.seconds, wmOk && progress.isDefined, rows, clock.ledger, layer)
  }

  private def awaitProgress(batchId: Long) = {
    var p = query.recentProgress.find(_.batchId == batchId)
    var waited = 0
    while (p.isEmpty && waited < 5000) {
      Thread.sleep(10); waited += 10
      p = query.recentProgress.find(_.batchId == batchId)
    }
    p
  }

  def verify(ctx: Ctx, samples: Seq[OpSample]): Seq[String] = {
    query.stop()
    query.awaitTermination()
    val last = GenChangeSource.published.get()
    val fold = new CdcFold(gen)
    (0L until last by versionsPerBatch.toLong).foreach(v => fold.applyBatch(v, v + versionsPerBatch))
    val cols = CdcGen.streamSchema.fieldNames.toSeq
    val actual = target.read().select(cols.map(org.apache.spark.sql.functions.col): _*).collect()
    var digest = 0L
    actual.foreach(r => digest += CdcGen.rowHash(r))
    val wm = store.get(targetName).map(_.version)
    Seq(
      if (actual.length != fold.rows) Some(s"target has ${actual.length} rows, the fold ${fold.rows}") else None,
      if (digest != fold.digest) Some("target content digest differs from the fold of the change log") else None,
      if (wm != Some(Watermark.mssql(last).version)) Some(s"final watermark $wm, last source version $last") else None
    ).flatten
  }

  def layers(ctx: Ctx, samples: Seq[OpSample]): Map[String, Double] = {
    def mean(k: String) = Stats.mean(samples.map(_.layer.getOrElse(k, 0.0)))
    val keys = samples.headOption.map(_.layer.keySet).getOrElse(Set.empty)
    val written = samples.flatMap(_.ledger).map(_.outputRows.toDouble).sum
    val rows = samples.map(_.layer.getOrElse("source.rows_per_batch", 0.0)).sum
    val wmVersion = store.get(targetName).map(_.version.toLong).getOrElse(0L)
    keys.map(k => k -> mean(k)).toMap ++ Map(
      "target.write_amplification" -> (if (rows > 0) written / rows else 0.0),
      "source.backlog_versions" -> (GenChangeSource.published.get() - wmVersion).toDouble,
      "watermark.lag_versions" -> (GenChangeSource.published.get() - wmVersion).toDouble)
  }

  def selfTest(ctx: Ctx): Seq[String] = {
    def sig(s: Long) = {
      val g = new CdcGen(s, initialKeys, rowsPerVersion, 3L * versionsPerBatch + 1)
      val initial = (0 until 100).map(g.initialRow)
      val changes = (1L to 3L).flatMap(g.versionRows)
      // change rows per version vary with the seed (key dedup); the
      // initial snapshot's size does not
      (initial.size, (initial ++ changes).map(CdcGen.rowHash).sum)
    }
    val (a, b, c) = (sig(ctx.seed), sig(ctx.seed), sig(ctx.seed + 1))
    Seq(
      if (a != b) Some("cdc generator: same seed gave different rows") else None,
      if (a._2 == c._2 || a._1 != c._1)
        Some("cdc generator: another seed gave identical rows or another size") else None
    ).flatten
  }

  override def close(ctx: Ctx): Unit = if (query != null && query.isActive) query.stop()
}
