package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import graft.core.Checkpoints
import graft.functions.expressions.MinHashSignatureExpr

/** MinHash + LSH near-duplicate detection at corpus scale.
  *
  * Shape: shingle-hash each document (fused expression, no shingle strings)
  * → k-family MinHash signature as a NARROW per-row projection (a signature
  * is a closed-form function of the shingle set, so no explode and no
  * shuffle) → band the signature → one shuffle on (band, bucket-hash) to
  * find candidate pairs → estimate via signature agreement → verify the few
  * survivors with exact Jaccard. Only candidate pairs are ever compared, so
  * cost is O(corpus + collisions), never O(n²) — the property that lets this
  * run over a 100 TB document set.
  *
  * Measured history (sf0.1, 5k docs): the original explode → groupBy(id)
  * with k=64 separate `min(xxhash64(i,h))` aggregates shuffled ~1M exploded
  * shingle rows and compiled a 64-column generated aggregate; it was the
  * largest stage of the funnel. [[MinHashSignatureExpr]] computes identical
  * signatures (same xxhash64 family, bit-for-bit) in one pass per row,
  * removing that shuffle entirely.
  */
object MinHashLsh {

  /** Max candidate ids inlined as a pushed IN filter on the verify-stage
    * source scan (both funnels); above it the semi-join fallback runs.
    * 8K long literals keep the predicate and the pushed parquet filter
    * cheap while covering any plausible per-call near-dup survivor set.
    */
  private val CandidateIdPushdownCap = 8192

  /** Max batch (band, bucket) occupancy rows driver-collected per frozen-
    * banded funnel call (matches FrozenCorpus.sideProbeCap — the pruned
    * read itself refuses larger probe sets); above it the funnel streams
    * the cached banded frame and localizes the hot set as a query.
    */
  private val BucketProbeCap = 1 << 16

  /** Distinct values of `colNames` read DRIVER-SIDE from an
    * already-localized survivor frame — zero Spark jobs: after
    * [[Checkpoints.localize]] (one bounded collect job) the frame is a
    * LocalRelation whose rows sit on the driver, so extracting the
    * candidate ids must not cost a LocalTableScan job of its own. None
    * when the frame took the >4M-row checkpoint fallback (not local) or
    * the id set exceeds the cap — callers then keep the semi-join, which
    * never needed the ids.
    */
  private def localizedIds(df: DataFrame, colNames: Seq[String],
                           cap: Int): Option[Seq[Any]] = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    df.queryExecution.analyzed match {
      case lr: LocalRelation =>
        val idx = colNames.map(n => lr.output.indexWhere(_.name == n))
        if (idx.exists(_ < 0)) None
        else {
          val types = idx.map(i => lr.output(i).dataType)
          val out = scala.collection.mutable.LinkedHashSet.empty[Any]
          val it = lr.data.iterator
          while (it.hasNext) {
            val row = it.next()
            var j = 0
            while (j < idx.length) {
              if (!row.isNullAt(idx(j)))
                out += CatalystTypeConverters.convertToScala(
                  row.get(idx(j), types(j)), types(j))
              j += 1
            }
            if (out.size > cap) return None
          }
          Some(out.toSeq)
        }
      case _ => None
    }
  }

  /** The (band, bucket) pairs of a driver-local hot set, read with zero
    * jobs — None unless `hot` is a (`__band` int, `__bucket` long)
    * LocalRelation, the shape a [[Checkpoints.localize]]d hot set has.
    */
  private def localHotPairs(hot: DataFrame): Option[Seq[(Int, Long)]] = {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.types.{IntegerType, LongType}
    hot.queryExecution.analyzed match {
      case lr: LocalRelation =>
        val b = lr.output.indexWhere(a => a.name == "__band" && a.dataType == IntegerType)
        val k = lr.output.indexWhere(a => a.name == "__bucket" && a.dataType == LongType)
        if (b < 0 || k < 0) None
        else Some(lr.data.map(r => (r.getInt(b), r.getLong(k))))
      case _ => None
    }
  }

  /** A driver-local (`__band`, `__bucket`) relation over `pairs` — no job. */
  private def hotFrame(spark: org.apache.spark.sql.SparkSession,
                       pairs: Seq[(Int, Long)]): DataFrame = {
    import org.apache.spark.sql.types._
    org.apache.spark.sql.graft.ExecutionBridge.ofLocalRows(spark,
      StructType(Seq(StructField("__band", IntegerType, nullable = false),
        StructField("__bucket", LongType, nullable = false))),
      pairs.map { case (b, bkt) => org.apache.spark.sql.catalyst.InternalRow(b, bkt) })
  }

  /** k-element MinHash signature over a pre-hashed shingle column
    * (`array<long>`), as one `array<long>` column. Narrow, codegen'd,
    * identical values to `min(xxhash64(i, h))` per family i.
    */
  def signatureOfHashes(shingleHashes: Column, k: Int): Column =
    ColumnBridge.column(MinHashSignatureExpr(ColumnBridge.expression(shingleHashes), k))

  /** k-element MinHash signature over an array-of-string shingle column:
    * base-hash each shingle with xxhash64, then [[signatureOfHashes]].
    */
  def signature(shingles: Column, k: Int): Column =
    signatureOfHashes(transform(shingles, s => xxhash64(s)), k)

  /** Per-band bucket keys: hash of each r-length signature slice. Two
    * documents collide in a band iff that slice matches exactly.
    */
  def bandBuckets(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      xxhash64(lit(b), slice(sig, b * rowsPerBand + 1, rowsPerBand))
    }: _*)

  /** Candidate near-duplicate pairs (idA < idB) from banded LSH, verified
    * against exact shingle-set Jaccard >= `threshold`.
    *
    * Three-stage funnel, measured on a corpus whose background similarity
    * (~0.3) sits uncomfortably close to banding noise:
    *   1. band collision in >= `minBands` bands (keys-only self-join; two
    *      collisions cut background candidates ~15× while keeping recall at
    *      j>=threshold ≈ 0.999);
    *   2. signature-agreement estimate (fraction of equal minhashes) within
    *      0.2 of the threshold — 64 long compares per pair, no text touched;
    *   3. exact Jaccard on the surviving few, which is what the caller gets.
    * The wide shingle arrays enter only at stage 3, so the shuffles move
    * kilobytes of keys/signatures per document, never the corpus text.
    *
    * Resource lifecycle: the signature frame feeds three plan branches
    * (banding + both sides of the estimate join), so it is persisted for the
    * duration of the candidate search — ~0.5 KB/doc, ~50 GB cluster-wide for
    * a 100M-doc corpus — then explicitly unpersisted once the (small)
    * estimate-survivor set has been materialized into a driver-local
    * relation ([[graft.core.Checkpoints.localize]], one bounded collect
    * that writes no blocks).
    * The returned frame therefore holds no cached state: downstream actions
    * re-read only the candidate documents' shingles (semi-join pushdown),
    * never the full corpus. The call does eager work proportional to
    * corpus + collisions; the exact-verify stage stays lazy.
    */
  def nearDupPairs(df: DataFrame, idCol: String, shingles: Column,
                   numHashes: Int = 64, bands: Int = 16,
                   threshold: Double = 0.8, minBands: Int = 2,
                   maxBucketSize: Long = 4096L): DataFrame =
    nearDupPairsHashed(df, idCol, transform(shingles, s => xxhash64(s)),
      numHashes, bands, threshold, minBands, maxBucketSize)

  /** [[nearDupPairs]] over pre-hashed shingles (`array<long>` from
    * [[TextFunctions.shingleHashes]]): the signature aggregation consumes
    * hash longs directly (no per-shingle string allocation anywhere) and
    * exact verification intersects long arrays. Jaccard equals the
    * string-set value up to 64-bit collisions.
    */
  def nearDupPairsHashed(df: DataFrame, idCol: String, shingleHashes: Column,
                         numHashes: Int = 64, bands: Int = 16,
                         threshold: Double = 0.8, minBands: Int = 2,
                         maxBucketSize: Long = 4096L): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val sigs = df
      .select(col(idCol).as("__id"), signatureOfHashes(shingleHashes, numHashes).as("__sig"))
      // null shingle arrays never produced exploded rows in the aggregate
      // formulation; keep those documents out of the banding here too
      .filter(col("__sig").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val estimated = {
      val banded0 = sigs.select(col("__id"),
        posexplode(bandBuckets(col("__sig"), bands, r)).as(Seq("__band", "__bucket")))
      // Hot-bucket guard: a bucket of B documents emits B²/2 candidate rows,
      // so ONE boilerplate cluster (licenses, templated pages) in a 100 TB
      // corpus can dominate the whole join. Buckets above the cap are
      // excluded via anti-join against the (small by construction) hot set.
      // Recall-safe for genuine near-dups: a pair at j >= threshold collides
      // in ~j^r · bands independent bands (≈6.6 of 16 at the defaults), so
      // it still meets `minBands` unless EVERY shared bucket is a
      // mega-cluster — i.e. the pair is boilerplate, which exact/fingerprint
      // dedup upstream catches at a fraction of the cost. 0 disables.
      val banded =
        if (maxBucketSize <= 0L) banded0
        else {
          val hot = banded0.groupBy(col("__band"), col("__bucket"))
            .agg(count(lit(1)).as("__bsz"))
            .filter(col("__bsz") > maxBucketSize)
            .select(col("__band"), col("__bucket"))
          banded0.join(hot, Seq("__band", "__bucket"), "left_anti")
        }
      val cand = banded.as("l").join(banded.as("r"),
          col("l.__band") === col("r.__band") &&
          col("l.__bucket") === col("r.__bucket") &&
          col("l.__id") < col("r.__id"))
        .groupBy(col("l.__id").as("id_a"), col("r.__id").as("id_b"))
        .agg(count(lit(1)).as("__nbands"))
        .filter(col("__nbands") >= math.min(minBands, bands))
        .select(col("id_a"), col("id_b"))
      val survivors = cand
        .join(sigs.select(col("__id").as("id_a"), col("__sig").as("sig_a")), "id_a")
        .join(sigs.select(col("__id").as("id_b"), col("__sig").as("sig_b")), "id_b")
        .withColumn("__est",
          size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), p => p))
            .cast("double") / numHashes)
        .filter(col("__est") >= threshold - 0.2)
        .select(col("id_a"), col("id_b"))
      // materialize the survivor set (∝ near-dup pairs, tiny vs corpus) so
      // the signature cache can be released now instead of leaking past the
      // call; `localize` hands back a driver-local relation with ZERO
      // block-store footprint (one bounded collect job), falling back to a
      // checkpoint only above its 4M-pair guard
      try Checkpoints.localize(survivors)
      finally sigs.unpersist(false)
    }
    // Exact verification touches only candidate documents: the id
    // restriction lands ON THE SCAN as a pushed IN filter when the
    // survivor set is small (read driver-side off the localized frame —
    // zero extra jobs; row groups then prune by id statistics instead of
    // a full text pass), with the semi-join as the over-cap /
    // checkpoint-fallback path — identical rows either way, shingling
    // cost ∝ candidates regardless.
    val candSh = localizedIds(estimated, Seq("id_a", "id_b"), CandidateIdPushdownCap)
      .map(ids => df.filter(SetFilters.probeFilter(col(idCol), ids)))
      .getOrElse {
        val candIds = estimated
          .select(explode(array(col("id_a"), col("id_b"))).as("__cid")).distinct()
        df.join(candIds, col(idCol) === col("__cid"), "left_semi")
      }
      .select(col(idCol).as("__id"), shingleHashes.as("__sh"))
    estimated
      .join(candSh.select(col("__id").as("id_a"), col("__sh").as("sh_a")), "id_a")
      .join(candSh.select(col("__id").as("id_b"), col("__sh").as("sh_b")), "id_b")
      .withColumn("jaccard", round(TextFunctions.jaccard(col("sh_a"), col("sh_b")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Cross-corpus near-duplicate pairs — the increment-vs-existing shape:
    * every (id_left, id_right) with exact shingle Jaccard >= `threshold`,
    * candidates from banded LSH ACROSS the two frames (left and right meet
    * only through shared band buckets, never left × right). Same
    * three-stage funnel, recall math, and lifecycle as [[nearDupPairsHashed]];
    * the hot-bucket cap excludes a bucket when EITHER side exceeds it (a
    * bucket hot on one side alone already multiplies the join). This is
    * how a new crawl is deduplicated against the corpus already ingested
    * without re-pairing the existing corpus with itself.
    */
  def bipartitePairsHashed(left: DataFrame, right: DataFrame, idCol: String,
                           shingleHashes: Column, numHashes: Int = 64,
                           bands: Int = 16, threshold: Double = 0.8,
                           minBands: Int = 2, maxBucketSize: Long = 4096L): DataFrame = {
    val sl = signatureFrame(left, idCol, shingleHashes, numHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sr = signatureFrame(right, idCol, shingleHashes, numHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    bipartiteCore(sl, sr,
      () => { sl.unpersist(false); sr.unpersist(false) },
      left, right, idCol, shingleHashes, numHashes, bands, threshold,
      minBands, maxBucketSize)
  }

  /** The signature projection [[bipartitePairsHashed]] builds internally:
    * (`__id`, `__sig`) with null-signature documents dropped. Exposed so a
    * standing corpus's signatures can be computed ONCE (per refresh
    * cadence) and fed to [[bipartitePairsPrecomputedLeft]] across many
    * micro-batches — the freeze-and-refresh trade of staleness for scan
    * count. Persistence is the caller's.
    */
  def signatureFrame(df: DataFrame, idCol: String, shingleHashes: Column,
                     numHashes: Int = 64): DataFrame = df
    .select(col(idCol).as("__id"), signatureOfHashes(shingleHashes, numHashes).as("__sig"))
    .filter(col("__sig").isNotNull)

  /** [[bipartitePairsHashed]] with a PRECOMPUTED left-side signature frame
    * ([[signatureFrame]]-shaped; persistence caller-managed — it outlives
    * this call by design). `leftDocs` supplies the left-side TEXT for the
    * exact-verify stage and is evaluated only when estimate survivors
    * exist: at zero candidates the localized empty relation propagates and
    * the source is never scanned — the property that lets a frozen-corpus
    * ingest gate run whole batches without touching corpus storage.
    * Identical output to [[bipartitePairsHashed]] when `leftSigs` equals
    * the left frame's own signatures (spec-pinned).
    */
  def bipartitePairsPrecomputedLeft(leftSigs: DataFrame, leftDocs: => DataFrame,
                                    right: DataFrame, idCol: String,
                                    shingleHashes: Column, numHashes: Int = 64,
                                    bands: Int = 16, threshold: Double = 0.8,
                                    minBands: Int = 2,
                                    maxBucketSize: Long = 4096L): DataFrame = {
    val sr = signatureFrame(right, idCol, shingleHashes, numHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    bipartiteCore(leftSigs, sr, () => sr.unpersist(false),
      leftDocs, right, idCol, shingleHashes, numHashes, bands, threshold,
      minBands, maxBucketSize)
  }

  /** The banded (id, band, bucket) frame of a [[signatureFrame]]-shaped
    * sigs frame — 16× row expansion, narrow columns. Freezable: computing
    * this ONCE per refresh and reusing it across micro-batches removes the
    * per-batch corpus-side explode (and, with [[hotBucketsOf]], the
    * per-batch O(corpus) hot-bucket shuffle) from the frozen ingest gate.
    */
  private[functions] def bandedFrame(sigs: DataFrame, bands: Int,
                                     numHashes: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    sigs.select(col("__id"),
      posexplode(bandBuckets(col("__sig"), bands, numHashes / bands))
        .as(Seq("__band", "__bucket")))
  }

  /** (band, bucket) pairs whose occupancy exceeds `cap` — one groupBy
    * shuffle over the banded frame.
    */
  private[functions] def hotBucketsOf(banded: DataFrame, cap: Long): DataFrame =
    banded.groupBy(col("__band"), col("__bucket"))
      .agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") > cap)
      .select(col("__band"), col("__bucket"))

  private def bipartiteCore(sl: DataFrame, sr: DataFrame,
                            releaseSigs: () => Unit, leftDocs: => DataFrame,
                            right: DataFrame, idCol: String,
                            shingleHashes: Column, numHashes: Int, bands: Int,
                            threshold: Double, minBands: Int,
                            maxBucketSize: Long): DataFrame = {
    val bl0 = bandedFrame(sl, bands, numHashes)
    val br0 = bandedFrame(sr, bands, numHashes)
    val (bl, br) =
      if (maxBucketSize <= 0L) (bl0, br0)
      else {
        val hot = hotBucketsOf(bl0, maxBucketSize)
          .union(hotBucketsOf(br0, maxBucketSize)).distinct()
        (bl0.join(hot, Seq("__band", "__bucket"), "left_anti"),
         br0.join(hot, Seq("__band", "__bucket"), "left_anti"))
      }
    bipartiteTail(bl, br, sl, sr, releaseSigs, leftDocs, right, idCol,
      shingleHashes, numHashes, threshold, minBands, bands)
  }

  /** [[bipartiteCore]] with the LEFT side's banded frame and hot-bucket
    * set PRECOMPUTED (frozen at refresh time) plus an optional admitted
    * DELTA: candidates come from (frozenBanded ∪ banded(delta)) ⋈ batch,
    * and the hot set is reconstructed EXACTLY as the unfrozen path would
    * compute it over (frozen ∪ delta) — frozen-hot pairs are static
    * ([[hotBucketsOf]] at freeze), and the only buckets whose occupancy
    * can have changed are those the delta touches, so the per-batch check
    * is one broadcast-semi count over the cached frozen banding instead of
    * a full O(corpus) groupBy shuffle. Admissions stay bit-identical to
    * the per-batch path at any cadence (FrozenGateSpec pins the equality;
    * `MinHashLshSpec` pins the hot-bucket crossing case).
    */
  private def bipartiteCoreFrozenBanded(
      slFrozen: DataFrame, frozenBanded: DataFrame, frozenHot: DataFrame,
      deltaSigs: Option[DataFrame], deltaBanded: Option[DataFrame],
      deltaBucketCounts: Option[Map[(Int, Long), Long]],
      frozenMaxNonHot: Option[Long],
      sr: DataFrame, releaseSigs: () => Unit,
      leftDocs: => DataFrame, right: DataFrame, idCol: String,
      shingleHashes: Column, numHashes: Int, bands: Int, threshold: Double,
      minBands: Int, maxBucketSize: Long,
      prunedBandedFor: Option[Seq[Any] => Option[DataFrame]] = None,
      prunedSigsFor: Option[Seq[Any] => Option[DataFrame]] = None): DataFrame = {
    val spark = frozenBanded.sparkSession
    // the delta's banded rows: caller-precomputed (driver-built at fold
    // time, zero jobs) when available, else derived from the delta sigs
    val blD = deltaBanded.orElse(deltaSigs.map(d => bandedFrame(d, bands, numHashes)))
    val br0 = bandedFrame(sr, bands, numHashes)
    // the batch's (band, bucket, count) occupancy, driver-collected in ONE
    // bounded job off the already-persisted batch signatures (≤ rows ×
    // bands rows; None above the cap). It serves two consumers:
    //   - PRUNED frozen banding: the candidate join only ever matches
    //     frozen rows in the batch's buckets — so when the freeze wrote a
    //     bucket-sorted side file, read it pruned to those bucket values
    //     instead of streaming the whole cached banded frame through the
    //     join; identical candidates by construction;
    //   - the batch side of the hot set (buckets whose batch count alone
    //     exceeds the cap), read off the counts with no groupBy job.
    val batchOcc: Option[IndexedSeq[(Int, Long, Long)]] =
      if (prunedBandedFor.isEmpty && maxBucketSize <= 0L) None
      else Checkpoints.collectBounded(
          br0.groupBy(col("__band"), col("__bucket")).agg(count(lit(1))),
          BucketProbeCap)
        .map(_.map(r => (r.getInt(0), r.getLong(1), r.getLong(2))))
    val frozenBandedEff = (for {
      f <- prunedBandedFor
      occ <- batchOcc
      pruned <- f(occ.map(o => o._2: Any).distinct)
    } yield pruned).getOrElse(frozenBanded)
    val bl0 = blD.fold(frozenBandedEff)(frozenBandedEff.unionByName(_))
    val (bl, br, releaseHot) =
      if (maxBucketSize <= 0L) (bl0, br0, () => ())
      else {
        // buckets hot over frozen ∪ delta = {frozen count > cap} ∪
        // {delta-touched: frozen + delta count > cap} — the second term is
        // the only one needing fresh counts, and only for delta's buckets
        val crossing: Option[DataFrame] = deltaBucketCounts match {
          case Some(counts) =>
            // driver-resident delta occupancy: a bucket can cross the cap
            // only if its delta count stacked on the frozen side's densest
            // NON-hot bucket exceeds it (per-bucket frozen counts are ≤
            // that max by definition; already-hot buckets are in frozenHot
            // regardless) — so the probe ships only the SUSPECT buckets,
            // and the steady state (no suspects) skips the corpus-side
            // count probe entirely
            val suspects = frozenMaxNonHot.fold(counts)(m =>
              counts.filter { case (_, dc) => dc + m > maxBucketSize })
            if (suspects.isEmpty) None
            else {
              val touched = spark.createDataFrame(suspects.toSeq.map {
                case ((b, bkt), dc) => (b, bkt, dc)
              }).toDF("__band", "__bucket", "__dc")
              // suspect bucket values are driver-resident — probe the
              // side file pruned to exactly them when available
              val crossingSource = prunedBandedFor.flatMap(f =>
                f(suspects.keysIterator.map(_._2).toSeq.distinct))
                .getOrElse(frozenBanded)
              val fCnt = crossingSource.join(
                  touched.select("__band", "__bucket"),
                  Seq("__band", "__bucket"), "left_semi")
                .groupBy(col("__band"), col("__bucket"))
                .agg(count(lit(1)).as("__fc"))
              Some(touched.join(fCnt, Seq("__band", "__bucket"), "left")
                .filter(col("__dc") + coalesce(col("__fc"), lit(0L)) > maxBucketSize)
                .select(col("__band"), col("__bucket")))
            }
          case None => blD.map { d =>
            val touched = d.groupBy(col("__band"), col("__bucket"))
              .agg(count(lit(1)).as("__dc"))
            val fCnt = frozenBanded.join(touched.select("__band", "__bucket"),
                Seq("__band", "__bucket"), "left_semi")
              .groupBy(col("__band"), col("__bucket"))
              .agg(count(lit(1)).as("__fc"))
            touched.join(fCnt, Seq("__band", "__bucket"), "left")
              .filter(col("__dc") + coalesce(col("__fc"), lit(0L)) > maxBucketSize)
              .select(col("__band"), col("__bucket"))
          }
        }
        // the full hot set is tiny (pathological buckets only) and both
        // anti-joins consume it, so it must be a driver-local relation —
        // re-running the crossing/count subplans once per consuming join
        // measured 2× the whole funnel's cost. The steady state builds it
        // on the driver with ZERO jobs: no suspect bucket (crossing None),
        // the frozen hot set already local, and the batch side read off
        // the occupancy counts. Any other case localizes the union (one
        // bounded collect), with the batch side still driver-built when
        // the occupancy collect stayed under its cap.
        val batchHot = batchOcc.map(_.collect {
          case (b, bkt, n) if n > maxBucketSize => (b, bkt)
        })
        val hot = (for {
          bh <- batchHot if crossing.isEmpty
          fh <- localHotPairs(frozenHot)
        } yield hotFrame(spark, (fh ++ bh).distinct)).getOrElse(
          Checkpoints.localize(
            crossing.fold(frozenHot)(frozenHot.union(_))
              .union(batchHot.fold(hotBucketsOf(br0, maxBucketSize))(hotFrame(spark, _)))
              .distinct()))
        (bl0.join(hot, Seq("__band", "__bucket"), "left_anti"),
         br0.join(hot, Seq("__band", "__bucket"), "left_anti"),
         // localize falls back to a checkpoint above its row guard
         // (pathological corpora where most buckets are hot) — those
         // blocks must die with this call, not with the session. The hot
         // frame is fully consumed by bipartiteTail's eager survivor
         // materialization; the frame it RETURNS references only the
         // localized survivors and the candidate text scans.
         () => Checkpoints.release(hot))
      }
    val sl = deltaSigs.fold(slFrozen)(slFrozen.unionByName(_))
    // the estimate stage's corpus-side sigs, pruned to the candidate ids
    // (delta sigs union behind the pruned frozen read — a candidate id is
    // always in one of the two)
    val slSelect = prunedSigsFor.map(f => (ids: Seq[Any]) =>
      f(ids).map(fp => deltaSigs.fold(fp)(fp.unionByName(_))))
    try bipartiteTail(bl, br, sl, sr, releaseSigs, leftDocs, right, idCol,
      shingleHashes, numHashes, threshold, minBands, bands, slSelect)
    finally releaseHot()
  }

  /** The funnel's shared tail: banded collision candidates → signature-
    * agreement estimate → exact-Jaccard verify with candidate-id pushdown.
    */
  private def bipartiteTail(bl: DataFrame, br: DataFrame, sl: DataFrame,
                            sr: DataFrame, releaseSigs: () => Unit,
                            leftDocs: => DataFrame, right: DataFrame,
                            idCol: String, shingleHashes: Column,
                            numHashes: Int, threshold: Double,
                            minBands: Int, bands: Int,
                            slSelect: Option[Seq[Any] => Option[DataFrame]] = None)
      : DataFrame = {
    val estimated = {
      val cand = bl.as("l").join(br.as("r"),
          col("l.__band") === col("r.__band") &&
          col("l.__bucket") === col("r.__bucket"))
        .groupBy(col("l.__id").as("id_left"), col("r.__id").as("id_right"))
        .agg(count(lit(1)).as("__nbands"))
        .filter(col("__nbands") >= math.min(minBands, bands))
        .select(col("id_left"), col("id_right"))
      // When the corpus-side sigs can be read PRUNED (freeze-time side
      // file), materialize the candidate pairs first — they are bounded
      // by collisions — and push their left ids into the sig read: the
      // estimate stage then reads ∝ candidates instead of streaming the
      // whole cached sig frame through the join. One extra action; the
      // over-cap / checkpoint-fallback path keeps the full sl join.
      var candLocal: Option[DataFrame] = None
      val (candEff, slEff) = slSelect match {
        case Some(f) =>
          val cl = Checkpoints.localize(cand)
          candLocal = Some(cl)
          val pruned = localizedIds(cl, Seq("id_left"), CandidateIdPushdownCap)
            .flatMap(f)
          (cl, pruned.getOrElse(sl))
        case None => (cand, sl)
      }
      val survivors = candEff
        .join(slEff.select(col("__id").as("id_left"), col("__sig").as("sig_l")), "id_left")
        .join(sr.select(col("__id").as("id_right"), col("__sig").as("sig_r")), "id_right")
        .withColumn("__est",
          size(filter(zip_with(col("sig_l"), col("sig_r"), (x, y) => x === y), p => p))
            .cast("double") / numHashes)
        .filter(col("__est") >= threshold - 0.2)
        .select(col("id_left"), col("id_right"))
      try Checkpoints.localize(survivors)
      finally { releaseSigs(); candLocal.foreach(Checkpoints.release) }
    }
    // No estimate survivors → return the (empty) result WITHOUT evaluating
    // `leftDocs`: even constructing the verify join would touch the left
    // source (file listing / schema read), and the frozen-corpus ingest
    // path's contract is that a clean batch gates with zero corpus I/O.
    // `estimated` is already materialized (localize), so the probe reads
    // its driver-local rows — no job and no execution.
    if (Checkpoints.isEmpty(estimated))
      return estimated.withColumn("jaccard", lit(0.0))
        .select(col("id_left"), col("id_right"), col("jaccard"))
    // Left-side candidate fetch: a semi-join restricts the ROWS shingled
    // but still SCANS the whole left source — at corpus scale the verify
    // stage's IO would be a full text-column pass for a handful of
    // candidates. The survivor set is already driver-local (localize), so
    // when the distinct candidate-id list is small it becomes an IN
    // predicate on the scan itself — pushed to the parquet reader
    // (PushedFilters: In(id, ...)), pruning row groups by id statistics —
    // read off the local relation with zero extra jobs; the semi-join
    // stays as the over-cap / checkpoint-fallback path. Identical rows
    // either way: filter-by-ids == semi-join on those ids.
    val shL = localizedIds(estimated, Seq("id_left"), CandidateIdPushdownCap)
      .map(ids => leftDocs.filter(SetFilters.probeFilter(col(idCol), ids)))
      .getOrElse(
        leftDocs.join(estimated.select(col("id_left").as("__cid")).distinct(),
          col(idCol) === col("__cid"), "left_semi"))
      .select(col(idCol).as("__id"), shingleHashes.as("__sh"))
    val shR = right.join(estimated.select(col("id_right").as("__cid")).distinct(),
        col(idCol) === col("__cid"), "left_semi")
      .select(col(idCol).as("__id"), shingleHashes.as("__sh"))
    estimated
      .join(shL.select(col("__id").as("id_left"), col("__sh").as("sh_l")), "id_left")
      .join(shR.select(col("__id").as("id_right"), col("__sh").as("sh_r")), "id_right")
      .withColumn("jaccard", round(TextFunctions.jaccard(col("sh_l"), col("sh_r")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("id_left"), col("id_right"), col("jaccard"))
  }

  /** Keep only the incoming documents with NO near-duplicate in the
    * existing corpus — the incremental-ingest gate built on
    * [[bipartitePairsHashed]] (within-increment dedup composes separately
    * via [[dedupKeepFirst]]).
    */
  def dedupAgainst(existing: DataFrame, incoming: DataFrame, idCol: String,
                   shingleHashes: Column, numHashes: Int = 64, bands: Int = 16,
                   threshold: Double = 0.8): DataFrame = {
    val dupIds = bipartitePairsHashed(existing, incoming, idCol, shingleHashes,
        numHashes, bands, threshold)
      .select(col("id_right").as(idCol)).distinct()
    incoming.join(dupIds, Seq(idCol), "left_anti")
  }

  /** [[dedupAgainst]] with the existing corpus supplied as precomputed
    * signatures plus a lazy text source — the frozen-corpus ingest shape
    * ([[bipartitePairsPrecomputedLeft]] for the funnel mechanics). Same
    * output as [[dedupAgainst]] when the signatures match the corpus.
    */
  def dedupAgainstPrecomputed(existingSigs: DataFrame, existingDocs: => DataFrame,
                              incoming: DataFrame, idCol: String,
                              shingleHashes: Column, numHashes: Int = 64,
                              bands: Int = 16, threshold: Double = 0.8): DataFrame = {
    val dupIds = bipartitePairsPrecomputedLeft(existingSigs, existingDocs,
        incoming, idCol, shingleHashes, numHashes, bands, threshold)
      .select(col("id_right").as(idCol)).distinct()
    incoming.join(dupIds, Seq(idCol), "left_anti")
  }

  /** [[bipartitePairsPrecomputedLeft]] with the corpus side's BANDED frame
    * and hot-bucket set also precomputed (one banding explode + one
    * hot-bucket shuffle per REFRESH instead of per batch — the per-batch
    * corpus-side work drops from an O(corpus) groupBy shuffle to cached
    * probes), plus the admitted-since-freeze delta as separate signatures.
    * Output is identical to feeding (frozen ∪ delta) signatures through
    * [[bipartitePairsPrecomputedLeft]] — including hot-bucket semantics:
    * a bucket that crosses `maxBucketSize` only once the delta lands is
    * re-detected per batch from the frozen counts of exactly the buckets
    * the delta touches (spec-pinned, `MinHashLshSpec`).
    */
  def bipartitePairsFrozenBanded(frozenSigs: DataFrame, frozenBanded: DataFrame,
                                 frozenHot: DataFrame,
                                 deltaSigs: Option[DataFrame],
                                 leftDocs: => DataFrame, right: DataFrame,
                                 idCol: String, shingleHashes: Column,
                                 numHashes: Int = 64, bands: Int = 16,
                                 threshold: Double = 0.8, minBands: Int = 2,
                                 maxBucketSize: Long = 4096L,
                                 deltaBanded: Option[DataFrame] = None,
                                 deltaBucketCounts: Option[Map[(Int, Long), Long]] = None,
                                 frozenMaxNonHot: Option[Long] = None,
                                 prunedBandedFor: Option[Seq[Any] => Option[DataFrame]] = None,
                                 prunedSigsFor: Option[Seq[Any] => Option[DataFrame]] = None)
      : DataFrame = {
    val sr = signatureFrame(right, idCol, shingleHashes, numHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    bipartiteCoreFrozenBanded(frozenSigs, frozenBanded, frozenHot, deltaSigs,
      deltaBanded, deltaBucketCounts, frozenMaxNonHot,
      sr, () => sr.unpersist(false), leftDocs, right, idCol, shingleHashes,
      numHashes, bands, threshold, minBands, maxBucketSize,
      prunedBandedFor, prunedSigsFor)
  }

  /** [[dedupAgainstPrecomputed]] over frozen banded state — the ingest
    * gate's steady-state path ([[bipartitePairsFrozenBanded]]).
    */
  def dedupAgainstFrozenBanded(frozenSigs: DataFrame, frozenBanded: DataFrame,
                               frozenHot: DataFrame,
                               deltaSigs: Option[DataFrame],
                               existingDocs: => DataFrame, incoming: DataFrame,
                               idCol: String, shingleHashes: Column,
                               numHashes: Int = 64, bands: Int = 16,
                               threshold: Double = 0.8,
                               maxBucketSize: Long = 4096L,
                               deltaBanded: Option[DataFrame] = None,
                               deltaBucketCounts: Option[Map[(Int, Long), Long]] = None,
                               frozenMaxNonHot: Option[Long] = None,
                               prunedBandedFor: Option[Seq[Any] => Option[DataFrame]] = None,
                               prunedSigsFor: Option[Seq[Any] => Option[DataFrame]] = None)
      : DataFrame = {
    val dupIds = bipartitePairsFrozenBanded(frozenSigs, frozenBanded,
        frozenHot, deltaSigs, existingDocs, incoming, idCol, shingleHashes,
        numHashes, bands, threshold, maxBucketSize = maxBucketSize,
        deltaBanded = deltaBanded, deltaBucketCounts = deltaBucketCounts,
        frozenMaxNonHot = frozenMaxNonHot,
        prunedBandedFor = prunedBandedFor, prunedSigsFor = prunedSigsFor)
      .select(col("id_right").as(idCol)).distinct()
    incoming.join(dupIds, Seq(idCol), "left_anti")
  }

  /** Dedup a corpus by near-duplicate clustering: drop every document that
    * has a near-dup with a smaller id (cheap transitive-lite survivor rule —
    * one pass, no iterative connected components; adequate for dedup where
    * any representative is acceptable).
    */
  def dedupKeepFirst(df: DataFrame, idCol: String, shingles: Column,
                     numHashes: Int = 64, bands: Int = 16,
                     threshold: Double = 0.8): DataFrame = {
    val dupIds = nearDupPairs(df, idCol, shingles, numHashes, bands, threshold)
      .select(col("id_b").as(idCol)).distinct()
    df.join(dupIds, Seq(idCol), "left_anti")
  }

  /** Near-dup cluster dedup with a QUALITY-RANKED survivor: transitive-close
    * the near-dup pairs into clusters ([[graft.operators.ConnectedComponents]])
    * and keep, per cluster, the row with the highest `keep` score (ties →
    * smallest id) — the production rule when the BEST document should
    * represent each duplicate cluster, vs [[dedupKeepFirst]]'s pair-local
    * any-representative rule (which can drop a long original in favor of a
    * lower-id fragment, and is not transitive). `keep` must be numeric
    * (cast to double for ranking); ids must be long-castable (the
    * [[graft.operators.ConnectedComponents.minLabel]] contract).
    *
    * Scale shape: the pair funnel and the label propagation are the
    * existing bounded paths; the survivor pick is one `min_by` aggregate
    * over (cluster, score) — keys-only shuffle of the clustered subset,
    * which is minuscule relative to the corpus that produced it.
    */
  def dedupClustersKeepBest(df: DataFrame, idCol: String, shingleHashes: Column,
                            keep: Column, numHashes: Int = 64, bands: Int = 16,
                            threshold: Double = 0.8): DataFrame = {
    val pairs = nearDupPairsHashed(df, idCol, shingleHashes, numHashes, bands, threshold)
    val labels = graft.operators.ConnectedComponents.minLabel(pairs)
    val clustered = df
      // a NULL keep score must LOSE to any real score: struct ordering puts
      // null first, so an un-coalesced null key would otherwise be the
      // min_by minimum and a scoreless row would silently WIN its cluster —
      // -Infinity makes it the worst candidate instead (all-null clusters
      // fall back to the id tiebreak)
      .select(col(idCol).as("__cid"),
        coalesce(keep.cast("double"), lit(Double.NegativeInfinity)).as("__keep"))
      .join(labels.select(col("id").as("__cid"), col("comp").as("__comp")), "__cid")
    // max keep, ties to the smaller id: min_by over the (−score, id) struct
    // (the same ordering device as semanticClusters' tiebreak)
    val winners = clustered.groupBy(col("__comp"))
      .agg(min_by(col("__cid"),
        struct(negate(col("__keep")).as("k"), col("__cid").as("i"))).as("__win"))
    val drops = clustered.join(winners, "__comp")
      .filter(col("__cid") =!= col("__win"))
      .select(col("__cid").as(idCol))
    df.join(drops, Seq(idCol), "left_anti")
  }
}
