package graft.streaming

import graft.functions.CorpusPipeline
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Streaming corpus ingestion with the day-2 dedup gate: each micro-batch
  * runs [[CorpusPipeline.prepareIncremental]] against the CURRENT standing
  * corpus (the target directory itself) and appends only the survivors —
  * the streaming face of the batch ingest funnel (in-batch prepare, exact
  * against-corpus dedup behind the Bloom prefilter, near-dup LSH gate).
  * Shaped for `writeStream.foreachBatch` like [[Scd2Sink]].
  *
  * Replay safety comes from the gate itself, not a transaction log: a
  * parquet batch write commits all-or-nothing (FileOutputCommitter), so a
  * retried micro-batch either (a) finds none of its rows in the corpus
  * (prior write never committed) and re-processes, or (b) finds ALL of them
  * (write committed, checkpoint didn't) and admits nothing — the
  * replay-idempotence property `CorpusPipelineSpec` pins at the batch
  * level. Either way the corpus ends correct.
  *
  * Cache lifecycle: [[CorpusPipeline.prepareIncrementalManaged]] holds the
  * frozen corpus state as a lineage-truncated localCheckpoint (r19: any
  * CacheManager-registered plan that READS the target path is invalidated
  * by the sink's own appends via refreshByPath — see [[CorpusPipeline.freezeCorpus]])
  * plus per-call cached frames, and hands back a release handle; the sink
  * invokes it once the batch's write has committed, so state is flat
  * across any number of micro-batches (spec-asserted). Cached-PLAN frames
  * release through Dataset.unpersist (CacheManager — the entries die with
  * the blocks); checkpointed frames through Checkpoints.release. Scoped to
  * this call's own frames, never a global cache diff, so concurrent
  * queries on the same session are untouched.
  *
  * 100 TB posture: per batch the standing corpus contributes one keys-only
  * scan (Bloom build) and one signature scan (the banded funnel) — its text
  * never shuffles; everything batch-sided is bounded by the batch. For
  * corpora where even those two scans dominate, freeze the filter and
  * signatures between batches ([[graft.functions.BloomDedup]] /
  * `MinHashLsh.dedupAgainst`'s own building blocks) and refresh on a cadence
  * — the classic trade of staleness for scan count.
  */
object CorpusIngestSink {

  /** What a [[FrozenGate]] does when it detects that some OTHER writer
    * changed the corpus directory between refreshes (the gate's frozen
    * state would silently ignore the co-written rows and re-admit their
    * duplicates).
    */
  sealed trait ExternalWriterPolicy
  object ExternalWriterPolicy {
    /** Force an immediate re-freeze from the target (default): the batch
      * gates against the co-written rows at the cost of one extra corpus
      * scan. Counted under `arcane.stream.ingest.external_writes`.
      */
    case object Refresh extends ExternalWriterPolicy
    /** Fail loudly — for deployments where a co-writer is a bug. */
    case object Fail extends ExternalWriterPolicy
    /** Pre-r16 behavior: trust the single-writer contract, skip the
      * per-batch listing. The documented blind spot, now opt-in.
      */
    case object Ignore extends ExternalWriterPolicy
  }

  /** Driver-heap budget (bytes) for one delta fold's `collect()` — the
    * [[FrozenGate]] folds each admitted batch's keys/signatures/embeddings
    * into a driver-local relation only while the COLLECTED rows fit this
    * budget; larger batches stay executor-resident as a localCheckpoint.
    * 256 MB: small next to any realistic driver heap, large enough that
    * the steady-state regime (batch ≪ corpus) never takes the fallback.
    */
  private[streaming] val DefaultFoldDriverBytes: Long = 256L << 20

  /** Estimated DRIVER bytes for one collected delta row. `collect()`
    * materializes GenericRows whose array elements are BOXED, so a
    * signature/embedding element costs ~32 B on the heap (16 B box +
    * 8 B ref + amortized array/Seq headers), not its 8 B columnar width —
    * a numHashes=64 signature is ~2 KB and a dim-768 embedding ~25 KB,
    * which is why a row-count cap alone (r15's 2²² rows) was a driver-OOM
    * hazard the moment the semantic arm widened the row.
    */
  private[streaming] def estimatedDeltaRowBytes(
      withSignatures: Boolean, numHashes: Int,
      withEmbeddings: Boolean, embeddingDim: Int, bands: Int = 16): Long = {
    val rowShell = 64L // GenericRow + field refs + boxed id/key
    // a signature row also carries its band-bucket array (one long per
    // band), collected in the same fold so the delta's banding and bucket
    // occupancy stay driver-resident without extra jobs
    val sig = if (withSignatures) 96L + 32L * (numHashes + bands) else 8L
    val emb = if (withEmbeddings) 48L + 32L * embeddingDim else 0L
    rowShell + sig + emb
  }

  /** The byte-aware row cap for the delta fold's driver collect: budget /
    * estimated row width, floored at 1 row and ceiled at the old 2²² row
    * guard (the row term still bounds GenericRow object-count overheads
    * the width estimate doesn't model).
    */
  private[streaming] def foldCollectMaxRows(
      foldDriverBytes: Long, withSignatures: Boolean, numHashes: Int,
      withEmbeddings: Boolean, embeddingDim: Int, bands: Int = 16): Long =
    math.min(1L << 22, math.max(1L, foldDriverBytes /
      estimatedDeltaRowBytes(withSignatures, numHashes, withEmbeddings,
        embeddingDim, bands)))

  /** The corpus directory's data-file listing — (relative path, length,
    * mtime) of every `.parquet` file, RECURSIVE: `spark.read.parquet` does
    * partition discovery, so a co-writer landing rows in a subdirectory
    * (a `partitionBy` append) changes what the next refresh reads and must
    * change the listing too. One FS metadata call, no data read.
    */
  private[streaming] def listingEntries(spark: SparkSession, dir: String)
      : Seq[(String, Long, Long)] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return Seq.empty
    val base = fs.makeQualified(path).toString
    val out = Seq.newBuilder[(String, Long, Long)]
    val it = fs.listFiles(path, true)
    while (it.hasNext) {
      val s = it.next()
      val p = s.getPath.toString
      val rel = p.stripPrefix(base)
      // mirror Spark's hidden-file rule (InMemoryFileIndex): any path
      // COMPONENT starting with `_` or `.` is invisible to the corpus
      // read — a concurrent committer's in-flight `_temporary/**` or
      // `.spark-staging-*` files (or stale residue of an aborted job)
      // must not fingerprint as an external write, let alone escalate to
      // the unsurvivable-nested error while a co-writer is mid-commit
      if (p.endsWith(".parquet") &&
          !rel.split('/').exists(c => c.startsWith("_") || c.startsWith(".")))
        out += ((rel, s.getLen, s.getModificationTime))
    }
    out.result()
  }

  /** Order-independent fingerprint of a [[listingEntries]] listing. */
  private[streaming] def fingerprintOf(entries: Seq[(String, Long, Long)]): Long = {
    val sorted = entries.sortBy(_._1)
    scala.util.hashing.MurmurHash3.orderedHash(sorted).toLong ^
      (sorted.size.toLong << 32)
  }

  /** True for a listing entry that sits in a SUBDIRECTORY of the corpus
    * dir. Nested files get their own fingerprint because they are not a
    * survivable co-write: with plain subdirectories Spark's parquet read
    * silently IGNORES the nested files (a re-freeze would still miss
    * them), and with partition-style (`k=v`) subdirectories partition
    * discovery reads ONLY the nested files and DROPS the gate's own
    * top-level data (empirically checked on Spark 4.1). Neither can be
    * absorbed by a refresh, so a nested change throws under any policy
    * except Ignore.
    */
  private[streaming] def isNested(relPath: String): Boolean =
    relPath.count(_ == '/') > 1

  /** (top-level fingerprint, nested fingerprint) of a listing. */
  private[streaming] def fingerprintsOf(entries: Seq[(String, Long, Long)]): (Long, Long) = {
    val (nested, top) = entries.partition(e => isNested(e._1))
    (fingerprintOf(top), fingerprintOf(nested))
  }

  /** Output-file sizing for one admitted batch's append: the survivor
    * frame carries its gate pipeline's partitioning (cores-wide once the
    * batch-side kernels are fanned out), and appending one file PER
    * PARTITION decays the corpus into thousands of tiny files — every
    * later freeze/read then pays listing + per-file open overhead (guide
    * §6: small files hurt twice). The admitted count is already known
    * (the sink counts before writing), so the append coalesces to
    * ⌈n / 250k⌉ files (≈ hundreds of MB of doc text each at warehouse
    * row widths), floor 1, cap 256 — coalesce reads the batch's cached
    * partitions, no shuffle.
    */
  private[streaming] def appendFiles(n: Long): Int =
    math.min(256L, math.max(1L, (n + 249999L) / 250000L)).toInt

  /** Process one micro-batch: gate against the standing corpus at
    * `targetDir`, append survivors, release the funnel's caches. Returns
    * the number of admitted rows.
    */
  def processBatch(spark: SparkSession, targetDir: String, batch: DataFrame,
                   cfg: CorpusPipeline.Config = CorpusPipeline.Config(),
                   againstThreshold: Option[Double] = Some(0.8)): Long = {
    val standing = standingOf(spark, targetDir, batch)
    val (accepted, _, release) = CorpusPipeline.prepareIncrementalManaged(
      batch, standing, cfg, againstThreshold)
    try {
      // the count runs over the funnel's cached candidate frame, so the
      // second action (the write) re-reads cache, not the raw scan
      val n = accepted.count()
      if (n > 0) accepted.coalesce(appendFiles(n))
        .write.mode(SaveMode.Append).parquet(targetDir)
      n
    } finally release()
  }

  /** The `(DataFrame, Long) => Unit` foreachBatch function. */
  def foreachBatchFn(targetDir: String,
                     cfg: CorpusPipeline.Config = CorpusPipeline.Config(),
                     againstThreshold: Option[Double] = Some(0.8))
      : (DataFrame, Long) => Unit =
    (batch, _) => { processBatch(batch.sparkSession, targetDir, batch, cfg,
      againstThreshold); () }

  /** The standing corpus: the target as written so far, or an empty frame
    * with the batch's schema before the first commit (prepare adds a
    * `split` column on write, so later reads carry it — `unionByName`
    * inside the funnel is name-based and indifferent to the extra column).
    */
  private[streaming] def standingOf(spark: SparkSession, targetDir: String,
                                    batch: DataFrame): DataFrame = {
    healCompaction(spark, targetDir)
    val path = new org.apache.hadoop.fs.Path(targetDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path) && fs.listStatus(path).exists(
        s => s.isFile && s.getPath.getName.endsWith(".parquet")))
      spark.read.parquet(targetDir)
    else batch.limit(0)
  }

  private def stagedDirOf(targetDir: String) = targetDir.stripSuffix("/") + "__staged"
  private def retiredDirOf(targetDir: String) = targetDir.stripSuffix("/") + "__retired"

  /** Small-file COMPACTION for the append-only ingest target: every
    * micro-batch append adds files, and after thousands of batches the
    * freeze/read cost is dominated by file-open overhead, not bytes — the
    * classic streaming-ingest decay (the X1 maintenance discipline
    * [[ParquetTarget.compact]] applies to its versioned layout, re-expressed
    * here for the plain directory the ingest sink owns).
    *
    * Staged swap, never rewrite-in-place: the compacted copy is written
    * completely to `<dir>__staged`, then the swap is two renames
    * (live → `<dir>__retired`, staged → live) and a delete. Every crash
    * window leaves a complete copy durable under a deterministic name, and
    * [[healCompaction]] (invoked by every [[standingOf]] read) rolls the
    * swap forward on the next entry — same recovery contract as
    * [[BucketedTarget]]'s staged swap. Single-writer assumption: the sink
    * owns the directory (the FrozenGate/foreachBatch execution model);
    * rename is atomic on HDFS/local — object stores should compact through
    * their catalog instead.
    */
  def compact(spark: SparkSession, targetDir: String, partitions: Int): Unit = {
    require(partitions >= 1, "compaction needs at least one output file")
    healCompaction(spark, targetDir)
    val live = new org.apache.hadoop.fs.Path(targetDir)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // no data files → nothing to compact (read.parquet of a fileless dir
    // would fail schema inference, and an empty corpus needs no layout)
    if (!fs.exists(live) || !fs.listStatus(live).exists(
        s => s.isFile && s.getPath.getName.endsWith(".parquet"))) return
    val staged = new org.apache.hadoop.fs.Path(stagedDirOf(targetDir))
    val retired = new org.apache.hadoop.fs.Path(retiredDirOf(targetDir))
    fs.delete(staged, true) // stale staging from an aborted compaction
    spark.read.parquet(targetDir).repartition(partitions)
      .write.mode(SaveMode.Overwrite).parquet(staged.toString)
    fs.delete(retired, true)
    if (!fs.rename(live, retired))
      throw new java.io.IOException(s"compaction swap: cannot retire $live")
    if (!fs.rename(staged, live))
      throw new java.io.IOException(s"compaction swap: cannot promote $staged")
    fs.delete(retired, true)
  }

  /** Roll an interrupted [[compact]] swap forward. Windows:
    *   - live present, staged present → compaction died before the swap:
    *     the staging is incomplete-or-unpromoted, live is authoritative —
    *     drop the staging (compact() also clears it defensively);
    *   - live MISSING, staged present → died between the two renames: the
    *     staged copy is complete by construction — promote it, then drop
    *     the retired copy;
    *   - live present, retired present → died before the final delete —
    *     drop the retired copy.
    * Idempotent; called from every [[standingOf]] so a restarted process
    * (or a fresh [[FrozenGate]]) self-heals before its first read.
    */
  def healCompaction(spark: SparkSession, targetDir: String): Unit = {
    val live = new org.apache.hadoop.fs.Path(targetDir)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = new org.apache.hadoop.fs.Path(stagedDirOf(targetDir))
    val retired = new org.apache.hadoop.fs.Path(retiredDirOf(targetDir))
    if (!fs.exists(live)) {
      if (fs.exists(staged)) {
        if (!fs.rename(staged, live))
          throw new java.io.IOException(s"compaction heal: cannot promote $staged")
        fs.delete(retired, true)
      } else if (fs.exists(retired)) {
        // staged lost mid-promote is impossible (rename is atomic), but a
        // manually-removed staging must not strand the data: restore retired
        if (!fs.rename(retired, live))
          throw new java.io.IOException(s"compaction heal: cannot restore $retired")
      }
    } else {
      if (fs.exists(retired)) fs.delete(retired, true)
      // live + staged: unpromoted staging, live authoritative — leave it to
      // compact()'s own defensive clear (deleting here would race a
      // concurrent compact() between its write and its swap)
    }
  }

  /** FREEZE-AND-REFRESH ingestion: the 100 TB posture [[processBatch]]'s
    * doc promises, made real. Per-batch gating scans the standing corpus
    * once per micro-batch (the [[CorpusPipeline.freezeCorpus]] keys+
    * signatures pass); when the corpus dwarfs the batches, that scan IS
    * the ingest cost. This gate freezes the corpus's gate state once,
    * gates `refreshEvery` batches against it, and re-freezes on the
    * cadence — K batches touch corpus storage ⌈K/N⌉ times instead of K.
    *
    * The staleness trade costs NOTHING here, because the only writer of
    * the corpus is this gate: rows admitted since the freeze are folded
    * into a DELTA (their exact keys and MinHash signatures, localized via
    * [[graft.core.Checkpoints.localize]] so no lineage can silently
    * recompute against a mutated target — above the row guard the frames
    * stay as lineage-truncated checkpoints for the same reason), and every
    * batch gates against frozen + delta, which IS the current corpus. So
    * admissions are bit-identical to per-batch re-freezing at ANY cadence
    * (`FrozenGateSpec` pins equality and the scan count). Candidate
    * VERIFY text still reads the target — but only for batches with
    * estimate survivors, and only the candidate rows' shingles
    * ([[graft.functions.MinHashLsh.bipartitePairsPrecomputedLeft]]'s
    * zero-candidate short-circuit never touches storage at all). An
    * EXTERNAL writer appending to the target between refreshes is the one
    * thing the frozen STATE cannot see — so the gate fingerprints the
    * target's RECURSIVE file listing (relative path/length/mtime, one
    * metadata call) at every freeze, re-checks it before each gated batch
    * AND immediately before each own append (closing the gate-to-append
    * race: a mid-batch co-write re-freezes and re-gates the batch under
    * Refresh, throws under Fail), and derives the next expected value
    * from the last VALIDATED listing plus the files the append added —
    * so even a co-write landing inside a re-gated attempt's skipped
    * re-check is caught by the next batch. On a
    * TOP-LEVEL mismatch it re-freezes (default) or fails, per
    * [[ExternalWriterPolicy]]; a co-write landing in a SUBDIRECTORY
    * throws under every policy except Ignore, because no re-freeze can
    * absorb it ([[isNested]] — the corpus read either ignores nested
    * files or, for partition-style ones, drops the top-level data).
    * Two documented blind windows remain: a writer that bypasses the
    * listing entirely (an in-place same-size same-mtime overwrite), and a
    * NEW external file landing during the gate's own append
    * (indistinguishable from the append's own files until the next
    * scheduled refresh) — co-writers needing stronger guarantees need
    * per-batch gating.
    *
    * WHEN TO USE — the trade is scan avoidance vs fixed bookkeeping. A
    * steady batch is a chain of driver round trips, each one SQL
    * execution: with side files, the Bloom sliver collect, the banded
    * occupancy probe, the candidate and survivor collects, one counted
    * checkpoint of the admitted rows (the funnel's remaining joins run in
    * its job), the append and the delta fold's collect — seven executions
    * (a batch with estimate survivors adds one schema-listing job for the
    * verify read). The funnel's hot-bucket set costs no job while no
    * delta bucket can cross the cap; the fold's driver-resident
    * rows rebuild into ONE LocalRelation per side, so the gate plan stays
    * flat across the refresh window. In exchange the gate skips the
    * per-batch corpus scan. Measured at sf0.1/local[32] (corpus ≈ 4k
    * docs) the bookkeeping DOMINATES — per-batch gating is ~2× faster —
    * because scanning a few thousand cached rows is cheaper than any
    * fixed job overhead. The gate is for the regime it was built for:
    * standing corpus ≫ batch (millions of rows and up), where one
    * freeze scan costs minutes and the delta fold stays seconds. Below
    * that crossover, use [[processBatch]] (which since r15 also runs a
    * single fused freeze scan per batch).
    *
    * Not thread-safe (one gate per sink, the foreachBatch execution
    * model); `close()` releases all frozen + delta state.
    *
    * The reference amortizes source work across polls the same way
    * (its stream graph caches the provider across micro-batches,
    * DefaultStreamDataProvider.scala:15-113); re-expressed here as frozen
    * gate STATE because in Spark the per-batch cost center is the corpus
    * scan, not the poll.
    */
  final class FrozenGate(targetDir: String,
                         cfg: CorpusPipeline.Config = CorpusPipeline.Config(),
                         againstThreshold: Option[Double] = Some(0.8),
                         refreshEvery: Int = 8,
                         numHashes: Int = 64, bands: Int = 16,
                         bloomFpp: Double = 0.01,
                         corpusReader: (SparkSession, String, DataFrame) => DataFrame =
                           (s, dir, donor) => standingOf(s, dir, donor),
                         compactEvery: Int = 0,
                         compactPartitions: Int = 8,
                         semanticAgainstThreshold: Option[Double] = None,
                         onExternalWrite: ExternalWriterPolicy = ExternalWriterPolicy.Refresh,
                         foldDriverBytes: Long = DefaultFoldDriverBytes,
                         /** write freeze-time SIDE FILES (sorted keys /
                           * sigs / banded copies under
                           * `<targetDir>__gatestate/`) and serve each
                           * batch's corpus-side probes from them pruned
                           * to the batch's own probe set — steady-state
                           * corpus IO ∝ probes, decoupled from corpus
                           * size ([[CorpusPipeline.FrozenCorpus]]).
                           */
                         sideFiles: Boolean = true,
                         /** corpus rows below which the freeze skips the
                           * side files — at small corpora the cached
                           * frames beat any fixed per-batch job overhead
                           * (the gate's own crossover argument applied to
                           * its probes)
                           */
                         sideFileMinRows: Long = 200000L,
                         /** prefix-partition count for the keys/banded
                           * side files; 0 = auto from corpus rows
                           * ([[CorpusPipeline.freezeCorpus]])
                           */
                         sideFilePartitions: Int = 0,
                         /** key-space shard count for the freeze's Bloom
                           * filter; 0 = auto (monolithic until the corpus
                           * crosses [[CorpusPipeline.shardAutoKeys]] keys,
                           * then one ~300 MB-max filter per shard —
                           * executors fetch only the shards they probe)
                           */
                         bloomShards: Int = 0) {
    require(refreshEvery >= 1, "refresh cadence must admit at least one batch")
    require(compactEvery >= 0, "compaction cadence is counted in refreshes; 0 disables")
    require(semanticAgainstThreshold.isEmpty || cfg.embeddings.isDefined,
      "the semantic arm needs cfg.embeddings (id-keyed vectors) on both sides")
    require(foldDriverBytes >= 1L, "the delta fold needs a positive driver-byte budget")

    private var frozen: CorpusPipeline.FrozenCorpus = null
    private var sinceRefresh = 0
    private var refreshes = 0L
    private[streaming] var deltaKeys: Option[DataFrame] = None
    private[streaming] var deltaSigs: Option[DataFrame] = None
    private[streaming] var deltaEmbs: Option[DataFrame] = None
    /** the delta's banded rows, built DRIVER-SIDE at fold time (the fold's
      * collect already carries each row's band buckets) — zero extra jobs,
      * and the funnel's hot-bucket check gets exact per-bucket delta
      * occupancy without ever re-banding the delta distributively
      */
    private[streaming] var deltaBanded: Option[DataFrame] = None
    private val deltaBucketCounts = scala.collection.mutable.HashMap.empty[(Int, Long), Long]
    /** false once any fold took the checkpoint path (delta no longer fully
      * driver-resident) — the funnel then falls back to plan-derived
      * delta banding until the next refresh
      */
    private var deltaDriverResident = true
    /** The driver-resident delta: every in-budget fold's collected rows,
      * accumulated across the refresh window and REBUILT into exactly ONE
      * LocalRelation per side after each fold (the rows are already on the
      * driver — concatenating arrays is free next to the collect that
      * produced them). A `unionByName` chain of per-batch LocalRelations
      * would instead serialize refreshEvery LocalTableScans into EVERY job
      * that touches the gate — plan weight and task-serialization cost
      * linear in the refresh window, a driver/scheduler tax at long
      * windows. `FrozenGateFlatDeltaSpec` pins the one-scan shape.
      */
    private val deltaDriverRows = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    private var deltaSchema: org.apache.spark.sql.types.StructType = null
    private val deltaBandedRows = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    /** over-budget folds only: executor-resident localCheckpoint frames
      * (released on close). The rare fallback — the combined delta plan
      * grows only with THESE, never with in-budget admissions.
      */
    private[streaming] val deltaParts = scala.collection.mutable.ListBuffer.empty[DataFrame]
    /** the listing the gate last VALIDATED — the refresh-time snapshot
      * plus the files its own appends added since. The expected
      * fingerprints derive from THESE entries, never from a raw
      * pre-append listing: on a re-gated attempt the pre-append listing
      * may already contain a second co-writer's files, and folding them
      * into "expected" would absorb that write until the scheduled
      * refresh (the r17 advisory's blind window) — kept outside, the
      * NEXT batch's pre-gate check detects it
      */
    private var expectedEntries: Seq[(String, Long, Long)] = Seq.empty
    private var expectedFingerprint = 0L
    private var expectedNestedFingerprint = 0L
    private def setExpected(entries: Seq[(String, Long, Long)]): Unit = {
      expectedEntries = entries
      val fps = fingerprintsOf(entries)
      expectedFingerprint = fps._1
      expectedNestedFingerprint = fps._2
    }
    /** Test seam: applied to the delta projection right before it is
      * materialized, so specs can inject a fold-stage failure and pin the
      * recovery contract (gate invalidation after a committed append).
      */
    private[streaming] var foldTap: DataFrame => DataFrame = identity
    /** Test seam: runs right before the pre-append external-writer
      * re-check — i.e. inside the gate-to-append window that check closes.
      */
    private[streaming] var preAppendTap: () => Unit = () => ()
    private[streaming] def isFrozen: Boolean = frozen != null

    /** Rebuild the combined delta frames after a fold: the driver-resident
      * rows become exactly ONE LocalRelation (each side a column slice of
      * it), regardless of how many batches the refresh window admitted;
      * over-budget checkpointed parts (the rare fallback) union behind it.
      */
    private def rebuildDelta(spark: SparkSession): Unit = {
      import org.apache.spark.sql.functions.{col => c}
      val local: Option[DataFrame] =
        if (deltaDriverRows.isEmpty) None
        else Some(spark.createDataFrame(
          java.util.Arrays.asList(deltaDriverRows.toArray: _*), deltaSchema))
      val all = (local.toSeq ++ deltaParts).reduceOption(_.unionByName(_))
      deltaKeys = all.map(_.select(c("__ck")))
      deltaSigs =
        if (againstThreshold.isDefined)
          all.map(_.select(c("__id"), c("__sig")).filter(c("__sig").isNotNull))
        else None
      deltaEmbs =
        if (semanticAgainstThreshold.isDefined)
          all.map(_.select(c("__id"), c("__emb")).filter(c("__emb").isNotNull))
        else None
      deltaBanded =
        if (deltaDriverResident && deltaBandedRows.nonEmpty) {
          val bandedSchema = org.apache.spark.sql.types.StructType(Seq(
            deltaSchema("__id").copy(name = "__id"),
            org.apache.spark.sql.types.StructField("__band",
              org.apache.spark.sql.types.IntegerType, nullable = false),
            org.apache.spark.sql.types.StructField("__bucket",
              org.apache.spark.sql.types.LongType, nullable = false)))
          Some(spark.createDataFrame(
            java.util.Arrays.asList(deltaBandedRows.toArray: _*), bandedSchema))
        } else None
    }

    /** Gate one micro-batch against frozen + delta state, append survivors,
      * fold them into the delta. Returns the number of admitted rows.
      */
    def processBatch(batch: DataFrame): Long = {
      val spark = batch.sparkSession
      if (frozen == null || sinceRefresh >= refreshEvery) refresh(spark, batch)
      else if (onExternalWrite != ExternalWriterPolicy.Ignore) {
        val (topFp, nestedFp) = fingerprintsOf(listingEntries(spark, targetDir))
        if (nestedFp != expectedNestedFingerprint)
          throw nestedWriteError("since the last freeze")
        if (topFp != expectedFingerprint) {
          // somebody else wrote the corpus since the freeze: frozen + delta
          // no longer IS the corpus, and gating against it would re-admit
          // the co-writer's duplicates
          externalWriteDetected(spark, batch, "since the last freeze")
        }
      }
      gateAndAppend(spark, batch, reGated = false)
    }

    private def externalWriteDetected(spark: SparkSession, batch: DataFrame,
                                      when: String): Unit = onExternalWrite match {
      case ExternalWriterPolicy.Fail => throw new IllegalStateException(
        s"external writer detected under $targetDir $when; FrozenGate " +
        "admissions would ignore the co-written rows (set " +
        "onExternalWrite=Refresh to re-freeze instead)")
      case _ =>
        GraftMetrics.inc(GraftMetrics.IngestExternalWrites)
        refresh(spark, batch)
    }

    /** A nested co-write is detected but NOT survivable ([[isNested]]):
      * a re-freeze reads the same broken layout, so Refresh cannot help —
      * every policy except Ignore escalates to this error until an
      * operator reconciles the directory.
      */
    private def nestedWriteError(when: String) = new IllegalStateException(
      s"external writer landed files in a SUBDIRECTORY of $targetDir $when; " +
      "the corpus's top-level parquet layout cannot absorb nested files " +
      "(plain subdirectories are ignored by the corpus read; partition-style " +
      "ones make partition discovery drop the top-level data) — remove the " +
      "nested files or re-ingest them through the gate")

    private def gateAndAppend(spark: SparkSession, batch: DataFrame,
                              reGated: Boolean): Long = {
      val (accepted0, releaseBatch) = CorpusPipeline.prepareIncrementalFrozen(
        batch, frozen, corpusReader(spark, targetDir, batch), cfg,
        againstThreshold, numHashes, bands, deltaKeys, deltaSigs,
        semanticAgainstThreshold, deltaEmbs,
        extraBanded = if (deltaDriverResident) deltaBanded else None,
        extraBucketCounts =
          if (deltaDriverResident) Some(deltaBucketCounts.toMap) else None)
      // the batch's survivors feed the write AND the delta fold — and the
      // fold runs AFTER the gate's own append, whose refreshByPath
      // invalidates every CacheManager entry whose plan reads the target
      // (r19: a persisted `accepted` made the post-append fold re-execute
      // the whole gate funnel INCLUDING the corpus-side scans — ~430 s of
      // task time per admitted batch at 400k docs). A localCheckpoint has
      // no CacheManager entry, so the append cannot invalidate it, and it
      // pins the gated snapshot the way the fold semantically requires.
      // Checkpoint and count are ONE job, inside the try: the gate's
      // funnel runs in that job, so a failure there must still release
      // the batch's cached frames.
      var accepted: DataFrame = null
      try {
        val (checkpointed, n) = graft.core.Checkpoints.checkpointCounted(accepted0)
        accepted = checkpointed
        if (n > 0L) {
          preAppendTap()
          // pre-append re-check: the pre-gate fingerprint check and this
          // append are not atomic, and a co-write landing BETWEEN them used
          // to be absorbed into the post-append expected fingerprint —
          // detected by nothing until the scheduled refresh (the r16
          // verdict's TOCTOU finding). Re-checking against a listing taken
          // immediately before the append shrinks the blind window to the
          // append itself; on mismatch the batch's admissions are stale, so
          // Refresh re-freezes and re-gates THIS batch once (Fail throws).
          // A second mid-batch race in the same batch proceeds — but the
          // expected value below is derived from the last VALIDATED
          // listing plus own files, never this one, so the NEXT batch's
          // pre-gate check detects it.
          val preEntries = listingEntries(spark, targetDir)
          if (onExternalWrite != ExternalWriterPolicy.Ignore) {
            val (topFp, nestedFp) = fingerprintsOf(preEntries)
            if (nestedFp != expectedNestedFingerprint)
              throw nestedWriteError("between gate and append")
            if (topFp != expectedFingerprint && !reGated) {
              externalWriteDetected(spark, batch, "between gate and append")
              // release THIS attempt's caches before re-gating (the
              // enclosing finally would only run after the retry returns,
              // overlapping two attempts' cached frames; both releases
              // are idempotent unpersists, so the finally stays harmless)
              releaseBatch()
              graft.core.Checkpoints.release(accepted)
              return gateAndAppend(spark, batch, reGated = true)
            }
          }
          // sized append off the already-counted cache ([[appendFiles]]):
          // per-partition files would decay the corpus the freeze re-reads
          accepted.coalesce(appendFiles(n))
            .write.mode(SaveMode.Append).parquet(targetDir)
          // next expected = the last VALIDATED listing ∪ the files this
          // append added (post-append names not in the pre-append
          // listing). Using the validated base — not preEntries — keeps a
          // co-write that landed between a Refresh-policy re-freeze and
          // this (re-gated, check-skipped) append OUT of the expected
          // set, so the next batch's pre-gate check detects and absorbs
          // it. An external file landing DURING the append itself is
          // still misattributed as our own (the one remaining blind
          // window); an in-place MODIFICATION of a validated file is
          // still caught, because the expected set keeps the validated
          // attributes for pre-existing names.
          val preNames = preEntries.iterator.map(_._1).toSet
          val ownEntries = expectedEntries ++
            listingEntries(spark, targetDir).filterNot(e => preNames(e._1))
          try {
          // delta fold: ONE localized projection carries the admitted
          // rows' exact keys, signatures, and (when the semantic arm is
          // on) embeddings together — key/sig/emb frames are then free
          // column slices of the same local relation, so the per-batch
          // bookkeeping is a single collect job, not three (the
          // fixed-overhead term that dominates the gate below the
          // corpus-size crossover; see the FrozenGate scaladoc)
          import org.apache.spark.sql.functions.{col => c}
          val text = c(cfg.textCol)
          val sigExpr = graft.functions.MinHashLsh.signatureOfHashes(
            graft.functions.TextFunctions.shingleHashes(text, 5), numHashes)
          val nullArr = org.apache.spark.sql.functions.lit(null)
            .cast("array<bigint>")
          val base = accepted.select(c(cfg.idCol).as("__id"),
            graft.functions.TextFunctions.md5Hash60(
              graft.functions.TextFunctions.normalized(text)).as("__ck"),
            (if (againstThreshold.isDefined) sigExpr else nullArr).as("__sig"),
            // the row's band buckets ride the same projection — the
            // driver-side delta banding below costs zero extra jobs
            (if (againstThreshold.isDefined)
               graft.functions.MinHashLsh.bandBuckets(sigExpr, bands,
                 numHashes / bands)
             else nullArr).as("__bb"))
          val withEmb =
            if (semanticAgainstThreshold.isDefined)
              base.join(cfg.embeddings.get.select(c(cfg.idCol).as("__id"),
                c(cfg.embCol).as("__emb")), Seq("__id"), "left")
            else base
          // `accepted` is checkpointed and already counted, so when the batch
          // is driver-safe the fold is ONE collect off the cache into a
          // local relation. The collect guard is BYTE-aware, not row-count:
          // a collected row costs rowShell + ~32 B per boxed signature/
          // embedding element ([[estimatedDeltaRowBytes]]), so the cap is
          // foldDriverBytes (default 256 MB) over that width — ~120k rows
          // with a 64-hash signature, ~10k with a dim-768 embedding
          // attached. Above it the fold stays executor-resident as an
          // eager localCheckpoint (lineage-truncated for the same
          // mutated-target reason, released through deltaParts on close).
          val maxFoldRows = foldCollectMaxRows(foldDriverBytes,
            againstThreshold.isDefined, numHashes,
            semanticAgainstThreshold.isDefined, cfg.embeddingDim, bands)
          val folded = foldTap(withEmb)
          val collected = if (n <= maxFoldRows) folded.collect() else null
          if (collected != null) {
            if (deltaSchema == null) deltaSchema = folded.schema
            deltaDriverRows ++= collected
            if (deltaDriverResident && againstThreshold.isDefined) {
              // driver-side banding of the admitted rows: the collected
              // __bb arrays become (id, band, bucket) rows plus an exact
              // per-bucket occupancy map — the funnel uses the map to
              // prove most batches cannot push any bucket over the hot cap
              // and to probe frozen counts for exactly the touched buckets
              // when one might
              val idIdx = folded.schema.fieldIndex("__id")
              val bbIdx = folded.schema.fieldIndex("__bb")
              collected.foreach { r =>
                if (!r.isNullAt(bbIdx)) {
                  val bb = r.getSeq[Long](bbIdx)
                  var b = 0
                  while (b < bb.length) {
                    deltaBandedRows += org.apache.spark.sql.Row(r.get(idIdx), b, bb(b))
                    val k = (b, bb(b))
                    deltaBucketCounts.update(k, deltaBucketCounts.getOrElse(k, 0L) + 1L)
                    b += 1
                  }
                }
              }
            }
          } else {
            // a checkpointed fold means the delta is no longer fully
            // driver-resident: drop the driver-side banding state and let
            // the funnel re-derive delta banding from the sig frames
            deltaParts += folded.localCheckpoint()
            deltaDriverResident = false
            deltaBandedRows.clear()
            deltaBucketCounts.clear()
          }
          rebuildDelta(spark)
          // the append itself moved the listing — own writes must not trip
          // the external-writer check on the next batch
          setExpected(ownEntries)
          } catch {
            case t: Throwable =>
              // the append COMMITTED but the delta didn't absorb it:
              // frozen + delta is now behind the target, and a retry
              // through this same instance would see its own rows as
              // proven-new and append duplicates. Drop all gate state —
              // the next batch re-freezes from the target, restoring
              // replay idempotence for in-instance retries.
              close()
              throw t
          }
        }
        sinceRefresh += 1
        GraftMetrics.inc(GraftMetrics.IngestBatches)
        GraftMetrics.inc(GraftMetrics.IngestRowsAdmitted, n)
        n
      } finally {
        releaseBatch()
        if (accepted != null) graft.core.Checkpoints.release(accepted)
      }
    }

    /** The `(DataFrame, Long) => Unit` foreachBatch function over this
      * gate's state.
      */
    def foreachBatchFn: (DataFrame, Long) => Unit =
      (batch, _) => { processBatch(batch); () }

    private def refresh(spark: SparkSession, schemaDonor: DataFrame): Unit = {
      close()
      // compaction sits at the refresh boundary ON PURPOSE: no frozen frame
      // is alive, so no cached plan pins the pre-compaction file listing,
      // and the freeze right after reads the compacted layout — the
      // small-file decay of thousands of appends is paid down exactly when
      // the corpus is re-scanned anyway
      if (compactEvery > 0 && refreshes > 0 && refreshes % compactEvery == 0) {
        compact(spark, targetDir, compactPartitions)
        GraftMetrics.inc(GraftMetrics.IngestCompactions)
      }
      frozen = CorpusPipeline.freezeCorpus(
        corpusReader(spark, targetDir, schemaDonor), cfg,
        withSignatures = againstThreshold.isDefined, numHashes, bloomFpp,
        embeddings =
          if (semanticAgainstThreshold.isDefined) cfg.embeddings else None,
        // banded freeze state: the corpus-side banding explode + hot-bucket
        // shuffle amortize over the refresh window instead of recurring per
        // batch — the O(corpus)-shuffle-per-batch term the r16 crossover
        // measurement exposed (BENCH_VARIANCE_r16.md)
        withBanded = againstThreshold.isDefined, bands = bands,
        sideFileDir =
          if (sideFiles) Some(targetDir.stripSuffix("/") + "__gatestate")
          else None,
        sideFileMinRows = sideFileMinRows,
        sideFilePartitions = sideFilePartitions,
        bloomShardCount = bloomShards)
      sinceRefresh = 0
      refreshes += 1
      // recorded AFTER the freeze materialized (freezeCorpus counts the
      // slim frame eagerly): a writer landing between the scan and this
      // listing is a benign race — the next batch's check catches it
      setExpected(listingEntries(spark, targetDir))
      GraftMetrics.inc(GraftMetrics.IngestFreezes)
      GraftMetrics.gauge(GraftMetrics.IngestCorpusRows, frozen.rows)
    }

    /** Release every frozen + delta resource. The gate re-freezes on the
      * next batch, so close() mid-stream is safe (just wasteful).
      */
    def close(): Unit = {
      if (frozen != null) { frozen.release(); frozen = null }
      deltaParts.foreach(graft.core.Checkpoints.release)
      deltaParts.clear()
      deltaKeys = None
      deltaSigs = None
      deltaEmbs = None
      deltaBanded = None
      deltaDriverRows.clear()
      deltaBandedRows.clear()
      deltaSchema = null
      deltaBucketCounts.clear()
      deltaDriverResident = true
    }
  }
}
