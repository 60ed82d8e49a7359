package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Checkpoints

/** One-call training-corpus preparation: the canonical chain a 100 TB text
  * pipeline runs before tokenization, composed from the engine's oracle-
  * checked primitives in the order that minimizes work at scale —
  *
  *   1. quality gate (map-side, cheapest first: shrinks everything after),
  *   2. exact/fingerprint dedup keep-first (one hash-key shuffle; removes
  *      the boilerplate mega-clusters the near-dup caps assume are gone),
  *   3. optional MinHash near-dup dedup (LSH funnel, candidate-bounded),
  *   4. deterministic split assignment (map-side, partition-independent),
  *   5. optional decontamination: drop train docs with n-gram overlap
  *      against the held-out test split (bipartite posting-list funnel),
  *      and/or SEMANTIC decontamination over a supplied embeddings frame
  *      (bipartite hyperplane-LSH funnel — catches paraphrased test
  *      material the n-gram rule can't see),
  *   6. optional per-source mixture re-weighting (map-side filter).
  *
  * Every stage is a narrow projection or a keys-only shuffle; corpus text
  * never moves except into the candidate-bounded verify joins.
  */
object CorpusPipeline {

  /** Gopher-style repetition caps (Rae et al. 2021, table A1) over the
    * fused [[TextFunctions.repetitionStats]] struct. A document is dropped
    * when ANY signal exceeds its cap.
    */
  final case class RepetitionThresholds(
      maxDupLineFrac: Double = 0.30,
      maxDupLineCharFrac: Double = 0.20,
      maxTop2Frac: Double = 0.20,
      maxTop3Frac: Double = 0.18,
      maxTop4Frac: Double = 0.16,
      maxDup5Frac: Double = 0.15)

  /** Keep-predicate for the repetition caps — one fused map-side pass
    * ([[expressions.RepetitionGateExpr]]: kernel + compares in a single
    * boolean), the same Column under batch and Structured Streaming
    * (stateless, so continuous ingest gets identical gate semantics row
    * by row). Prefer this in filters: see [[repetitionGateOn]]'s caveat.
    */
  def repetitionGate(text: Column, th: RepetitionThresholds = RepetitionThresholds()): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(expressions.RepetitionGateExpr(
      ColumnBridge.expression(text), th.maxDupLineFrac, th.maxDupLineCharFrac,
      th.maxTop2Frac, th.maxTop3Frac, th.maxTop4Frac, th.maxDup5Frac))
  }

  /** Same predicate over an already-computed repetition-stats struct.
    * CAVEAT: in a `filter`, predicate pushdown substitutes the struct
    * alias into EVERY conjunct and filter codegen does no cross-conjunct
    * subexpression elimination — the kernel runs six times per row
    * (measured 4× slower at sf0.1). Use [[repetitionGate]] for filters;
    * this form is for queries that genuinely project the struct fields.
    */
  def repetitionGateOn(stats: Column, th: RepetitionThresholds = RepetitionThresholds()): Column =
    stats.getField("dup_line_frac") <= th.maxDupLineFrac &&
      stats.getField("dup_line_char_frac") <= th.maxDupLineCharFrac &&
      stats.getField("top2_frac") <= th.maxTop2Frac &&
      stats.getField("top3_frac") <= th.maxTop3Frac &&
      stats.getField("top4_frac") <= th.maxTop4Frac &&
      stats.getField("dup5_frac") <= th.maxDup5Frac

  /** @param nearDupThreshold       MinHash-LSH Jaccard threshold; None skips
    * @param decontamThreshold      bipartite n-gram Jaccard threshold vs the
    *                               test split; None skips
    * @param mixtureRates           per-source keep rates; empty skips
    * @param maxGramDocFreq         stop-gram cap for the decontamination join
    * @param mixtureTokenBudget     with [[mixtureTargetWeights]]: derive the
    *                               per-source rates from a TOKEN budget
    *                               instead of hand-tuned row rates —
    *                               rate(s) = min(1, budget·w(s)/tokens(s))
    *                               over the measured post-decontamination
    *                               totals (see [[Sampling.mixtureWeights]]);
    *                               takes precedence over [[mixtureRates]]
    * @param mixtureTokens          per-row token-count column for the budget
    *                               measurement, e.g. `Bpe.tokenCount(text,
    *                               vocab)`; defaults to the BPE base-byte
    *                               count of [[Config.textCol]]
    * @param fixMojibake            repair UTF-8-as-Latin-1 mojibake in
    *                               textCol before any other stage
    * @param stripHtml              strip markup from textCol before any gate
    *                               ([[HtmlStrip.stripHtml]])
    * @param nfcNormalize           Unicode-NFC-canonicalize textCol before
    *                               any gate (after the HTML strip)
    * @param urlCol                 provenance column: enables canonical-URL
    *                               keep-first dedup (+ [[Config.blockedHosts]])
    * @param blockedHosts           registered hosts to drop when urlCol is set
    * @param minCompressionRatio    Gopher compression arm: drop docs whose
    *                               deflate ratio falls below this
    * @param dedupAgainstBloom      standing-corpus Bloom filter over
    *                               `md5Hash60(normalized(text))` keys; drops
    *                               every might-contain (stateless, fpp false
    *                               drops — the streaming-compatible trade)
    * @param c4LineRules            apply the C4 line retention + page bans
    *                               ([[C4Rules]]) after the markup strip,
    *                               rewriting textCol to the kept lines
    * @param gopherQuality          add the Gopher document-shape quality
    *                               arm ([[GopherQuality.gate]]) to the gate
    *                               conjunction
    */
  final case class Config(
      idCol: String = "doc_id",
      textCol: String = "text",
      sourceCol: String = "source",
      minChars: Int = 20,
      maxChars: Int = 20000,
      maxPunctRatio: Double = 0.2,
      maxDigitRatio: Double = 0.25,
      minMeanTokenLen: Double = 2.0,
      maxMeanTokenLen: Double = 12.0,
      requireKnownLang: Boolean = true,
      nearDupThreshold: Option[Double] = Some(0.8),
      splits: Seq[(String, Double)] = Seq("test" -> 0.05, "val" -> 0.05),
      decontamThreshold: Option[Double] = Some(0.8),
      maxGramDocFreq: Long = 100L,
      mixtureRates: Map[String, Double] = Map.empty,
      defaultRate: Double = 1.0,
      repetition: Option[RepetitionThresholds] = None,
      mixtureTokenBudget: Option[Long] = None,
      mixtureTargetWeights: Map[String, Double] = Map.empty,
      mixtureTokens: Option[Column] = None,
      dsirTarget: Option[Column] = None,
      dsirTopK: Int = 0,
      dsirBuckets: Int = 4096,
      embeddings: Option[DataFrame] = None,
      embCol: String = "embedding",
      embeddingDim: Int = 64,
      semanticDecontamThreshold: Option[Double] = None,
      fixMojibake: Boolean = false,
      stripHtml: Boolean = false,
      nfcNormalize: Boolean = false,
      urlCol: Option[String] = None,
      blockedHosts: Seq[String] = Nil,
      minCompressionRatio: Option[Double] = None,
      dedupAgainstBloom: Option[org.apache.spark.util.sketch.BloomFilter] = None,
      c4LineRules: Boolean = false,
      gopherQuality: Option[GopherQuality.Thresholds] = None)

  /** Fused numeric quality gate ([[expressions.QualityGateExpr]]: one
    * stats pass + band checks in a single boolean). Prefer this in
    * filters — a filter over the stats struct multi-evaluates the kernel
    * per conjunct (same pushdown caveat as [[repetitionGateOn]]).
    */
  def qualityGate(text: Column, minChars: Int, maxChars: Int,
                  maxPunctRatio: Double, maxDigitRatio: Double,
                  minMeanTokenLen: Double, maxMeanTokenLen: Double): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(expressions.QualityGateExpr(
      ColumnBridge.expression(text), minChars, maxChars,
      maxPunctRatio, maxDigitRatio, minMeanTokenLen, maxMeanTokenLen))
  }

  /** Prepared corpus: the input rows that survive every configured stage,
    * plus a `split` column. Deterministic end to end — same input, same
    * output, on any partitioning.
    */
  def prepare(docs: DataFrame, cfg: Config = Config()): DataFrame = {
    val id = col(cfg.idCol)
    val text = col(cfg.textCol)

    // 0. optional raw-crawl cleanup, applied IN PLACE to textCol so every
    // later stage (gates, fingerprints, shingles, decontamination) sees the
    // cleaned text: encoding repair first (mojibake garbles the markup
    // too), then markup strip, then Unicode NFC so entity-decoded
    // characters canonicalize. All map-side, zero shuffle.
    val cleanedEnc =
      if (cfg.fixMojibake) docs.withColumn(cfg.textCol, TextFunctions.fixMojibake(text))
      else docs
    val cleaned0 =
      if (cfg.stripHtml) cleanedEnc.withColumn(cfg.textCol, HtmlStrip.stripHtml(text))
      else cleanedEnc
    val cleanedNfc =
      if (cfg.nfcNormalize)
        cleaned0.withColumn(cfg.textCol, TextFunctions.nfcNormalize(col(cfg.textCol)))
      else cleaned0

    // 0.75 optional C4 line/page rules (Raffel 2020 §2.2) — after the
    // markup strip (the rules assume visible text), before any gate: line
    // retention rewrites textCol in place, the page bans filter. All
    // map-side array HOFs, zero shuffle.
    val cleaned =
      if (cfg.c4LineRules) {
        cleanedNfc.withColumn("__c4", C4Rules.cleanText(col(cfg.textCol)))
          .filter(C4Rules.keepPage(col(cfg.textCol), col("__c4")))
          .withColumn(cfg.textCol, col("__c4")).drop("__c4")
      } else cleanedNfc

    // 0.5 optional provenance stage: host blocklist gate (map-side), then
    // canonical-URL keep-first dedup — the RefinedWeb "one document per
    // URL" rule on 16-byte-normalized keys, one keys-only agg + semi-join.
    // Rows whose URL is null/unparseable (no scheme, javascript:, relative
    // path — normalizeUrl yields null/empty) carry NO provenance identity
    // and are EXEMPT from this stage: grouping them would collapse every
    // such document into one "" key and keep a single survivor — silent
    // mass deletion on corpora with partial URL coverage. Text-level dedup
    // (the fingerprint stage below) still covers them.
    val provenanced = cfg.urlCol.fold(cleaned) { uc =>
      val notBlocked =
        if (cfg.blockedHosts.nonEmpty)
          cleaned.filter(!UrlFunctions.urlHost(col(uc)).isin(cfg.blockedHosts: _*))
        else cleaned
      val norm = UrlFunctions.normalizeUrl(col(uc))
      val hasUrl = norm.isNotNull && length(norm) > 0
      val keep = notBlocked.filter(hasUrl)
        .groupBy(norm.as("__url"))
        .agg(min(id).as(cfg.idCol)).select(cfg.idCol)
        .unionByName(notBlocked.filter(!coalesce(hasUrl, lit(false)))
          .select(id.as(cfg.idCol)))
      notBlocked.join(keep, Seq(cfg.idCol), "left_semi")
    }

    // 1. quality gate — fused map-side predicates, one kernel pass each
    val numericGate = qualityGate(text, cfg.minChars, cfg.maxChars,
      cfg.maxPunctRatio, cfg.maxDigitRatio, cfg.minMeanTokenLen,
      cfg.maxMeanTokenLen)
    val langGate =
      if (cfg.requireKnownLang) numericGate && TextFunctions.langId(text) =!= "und"
      else numericGate
    val gate0 = cfg.repetition.fold(langGate)(th => langGate && repetitionGate(text, th))
    // Gopher's compression arm: drop what deflate collapses (templated /
    // repetitive), same fused-predicate shape as the other gates
    val gate1 = cfg.minCompressionRatio.fold(gate0)(v =>
      gate0 && TextFunctions.compressionRatio(text) >= v)
    // Gopher's document-shape arm (table A1 quality half): word bounds,
    // word-length band, symbol/bullet/ellipsis ratios, alpha fraction,
    // stop-word floor — one let-bound tokenize pass ([[GopherQuality.gate]])
    val gate = cfg.gopherQuality.fold(gate1)(th =>
      gate1 && GopherQuality.gate(text, th))
    val qualityPreBloom = provenanced.filter(gate)

    // 1.5 optional incremental-ingest membership probe vs a standing
    // corpus's Bloom filter (built once, batch-side): the stateless
    // zero-join deployment — drops every might-contain, accepting the
    // filter's fpp of false drops (BloomDedup.newKeysExact is the exact
    // alternative when an anti-join is affordable)
    val quality = cfg.dedupAgainstBloom.fold(qualityPreBloom)(bf =>
      qualityPreBloom.filter(!BloomDedup.mightContain(bf,
        TextFunctions.md5Hash60(TextFunctions.normalized(text)))))

    // 2. fingerprint dedup keep-first: min id per md5(normalized text)
    val fp = TextFunctions.fingerprint(text)
    val keepIds = quality.groupBy(fp.as("__fp")).agg(min(id).as(cfg.idCol))
      .select(cfg.idCol)
    val exactDeduped = quality.join(keepIds, Seq(cfg.idCol), "left_semi")

    // 3. optional near-dup dedup (keep-first survivor rule). Cached while
    // the small dropped-id set materializes — the LSH funnel reads its
    // input from three branches (signatures, candidate shingles, anti-join)
    val deduped = cfg.nearDupThreshold.fold(exactDeduped) { th =>
      val cached = exactDeduped
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val dupIds = try {
        Checkpoints.localize(
          MinHashLsh.nearDupPairs(cached, cfg.idCol,
              TextFunctions.charShingles(text, 5), threshold = th)
            .select(col("id_b").as(cfg.idCol)).distinct())
      } finally cached.unpersist(false)
      exactDeduped.join(dupIds, Seq(cfg.idCol), "left_anti")
    }

    // 3.5 optional DSIR selection toward a target domain — the paper's
    // placement: select from the deduplicated raw pool BEFORE splitting.
    // The resample funnel reads its input from several branches (two
    // tokenize passes + the id join-back), each of which would re-derive
    // gate + dedup from the raw scan, so the intermediate is cached only
    // while the k selected ids materialize (the established lifecycle).
    val selected = cfg.dsirTarget match {
      case Some(tgt) if cfg.dsirTopK > 0 =>
        val cached = deduped
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val keep = try {
          Checkpoints.localize(
            Dsir.resample(cached, cfg.idCol, text, tgt, cfg.dsirTopK,
                cfg.dsirBuckets)
              .select(col(cfg.idCol)))
        } finally cached.unpersist(false)
        deduped.join(keep, Seq(cfg.idCol), "left_semi")
      case _ => deduped
    }

    // 4. deterministic split assignment
    val withSplit = selected.withColumn("split", Sampling.assignSplit(id, cfg.splits))

    // 5. optional decontamination of train against the test split. The
    // bipartite funnel reads the prepared corpus from several plan branches
    // (train grams, test grams, per-doc counts), each of which would
    // re-derive gate + dedup from the raw scan — so the intermediate is
    // cached only while the (tiny) contaminated-id set is materialized,
    // then released; the final anti-join holds no cached state
    // (same lifecycle as MinHashLsh's signature cache).
    val decontaminated = cfg.decontamThreshold.fold(withSplit) { th =>
      val cached = withSplit
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val contaminated = try {
        Checkpoints.localize(
          NgramJaccard.bipartitePairs(
              cached.filter(col("split") === "train"),
              cached.filter(col("split") === "test"), cfg.idCol,
              TextFunctions.wordNgramHashes(text, 3), th, cfg.maxGramDocFreq,
              // the inputs are persisted right above: every funnel branch
              // reads the cache, so a pinned gram exchange would only add
              // a full re-shuffle (round 8 measured +35% for exactly this)
              pinExchange = false)
            .select(col("id_left").as(cfg.idCol)).distinct())
      } finally cached.unpersist(false)
      withSplit.join(contaminated, Seq(cfg.idCol), "left_anti")
    }

    // 5.5 optional SEMANTIC decontamination of train against the test
    // split — catches paraphrased/reformatted test material the n-gram
    // stage can't see. Embeddings arrive as a separate frame keyed by
    // idCol; only (id, split) ⋈ embedding rows enter the bipartite LSH
    // funnel, so corpus text stays out of it entirely. Same bounded cache
    // lifecycle as the lexical stage: the slim joined frame is persisted
    // while the (tiny) contaminated-id set localizes, then released.
    val semDecontaminated = (cfg.embeddings, cfg.semanticDecontamThreshold) match {
      case (Some(embFrame), Some(th)) =>
        val slim = decontaminated.select(id, col("split"))
          .join(embFrame.select(col(cfg.idCol), col(cfg.embCol)), cfg.idCol)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val contaminated = try {
          Checkpoints.localize(
            VectorSimilarity.bipartiteThresholdLsh(
                slim.filter(col("split") === "train"),
                slim.filter(col("split") === "test"),
                th, cfg.embeddingDim, idCol = cfg.idCol, vecCol = cfg.embCol)
              .select(col("id_left").as(cfg.idCol)).distinct())
        } finally slim.unpersist(false)
        decontaminated.join(contaminated, Seq(cfg.idCol), "left_anti")
      case _ => decontaminated
    }

    // 6. optional mixture re-weighting. Budgeted form first: the rates are
    // derived from per-source token totals of the PREPARED corpus, so the
    // measurement aggregation (|sources| rows to the driver) runs over the
    // cached intermediate, then only the rate map survives — same bounded
    // lifecycle as the dedup/decontamination stages.
    cfg.mixtureTokenBudget match {
      case Some(budget) if cfg.mixtureTargetWeights.nonEmpty =>
        val tok = cfg.mixtureTokens.getOrElse(
          Bpe.tokenCount(text, BpeVocab.bytes).cast("long"))
        val src = col(cfg.sourceCol)
        val inMix = semDecontaminated
          .filter(src.isin(cfg.mixtureTargetWeights.keySet.toSeq: _*))
        val cached = inMix
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val rates = try {
          Sampling.mixtureWeights(Sampling.tokensBySource(cached, src, tok),
            cfg.mixtureTargetWeights, budget)
        } finally cached.unpersist(false)
        Sampling.mixtureSample(inMix, id, src, rates, defaultRate = 0.0)
      case _ if cfg.mixtureRates.nonEmpty =>
        Sampling.mixtureSample(semDecontaminated, id, col(cfg.sourceCol),
          cfg.mixtureRates, cfg.defaultRate)
      case _ => semDecontaminated
    }
  }

  /** Day-2 ingest, one call: prepare a NEW batch against a STANDING corpus.
    *
    *   1. the full [[prepare]] chain over the new batch (cleanup, gates,
    *      in-batch dedup, splits — whatever `cfg` enables),
    *   2. EXACT dedup against the standing corpus, Bloom-prefiltered:
    *      the corpus's normalized-text fingerprints build a filter once
    *      (distributed, driver holds bits only), definitely-new rows skip
    *      the anti-join entirely, and the candidate sliver is resolved
    *      exactly ([[BloomDedup.newKeysExact]] — bit-identical to the plain
    *      anti-join, so the stage is invisible to an oracle),
    *   3. near-dup dedup against the corpus (cross-side-only bipartite LSH
    *      funnel, [[MinHashLsh.dedupAgainst]] — new-vs-new pairs are stage
    *      1's job, corpus-vs-corpus pairs are day-1's),
    *   4. a snapshot-diff audit frame: per-status counts of
    *      corpus → corpus ∪ accepted (every accepted row must surface as
    *      `added`, the corpus as `unchanged` — the regression check an
    *      ingest round commits next to its output).
    *
    * Returns (accepted rows, audit). Scale posture: the corpus contributes
    * one keys-only filter-build pass, one distinct-key sliver join, and the
    * banded signature pass — its text never moves; each stage is the
    * already-bounded primitive it names.
    *
    * CACHE LIFETIME: the funnel persists two frames the returned frames
    * reference, and THIS convenience wrapper discards the release handle —
    * one corpus-keys-sized cache entry outlives every call. Fine for a
    * one-shot batch job whose session ends; a repeated/batch-loop caller
    * (an ingest service, a test harness, anything calling per micro-batch)
    * must use [[prepareIncrementalManaged]] and invoke the handle once the
    * returned frames have materialized.
    */
  def prepareIncremental(newDocs: DataFrame, standingCorpus: DataFrame,
                         cfg: Config = Config(),
                         againstThreshold: Option[Double] = Some(0.8),
                         numHashes: Int = 64, bands: Int = 16,
                         bloomFpp: Double = 0.01): (DataFrame, DataFrame) = {
    val (accepted, audit, _) = prepareIncrementalManaged(newDocs, standingCorpus,
      cfg, againstThreshold, numHashes, bands, bloomFpp)
    (accepted, audit)
  }

  /** [[prepareIncremental]] with an explicit cache-release handle — the
    * [[graft.operators.PageRank.runManaged]] pattern. The funnel persists
    * two frames (the corpus's 8-byte key projection and the batch's
    * accepted-candidate rows) that the RETURNED frames reference; a
    * long-lived ingest service must release them once `accepted`/`audit`
    * have materialized, or one corpus-keys-sized entry accumulates per
    * batch. `release()` unpersists them AT THE DATASET LEVEL — going
    * through Spark's CacheManager, which also removes the cached-plan
    * entries; a raw RDD-level unpersist would leave those entries alive and
    * later structurally-identical reads (the next batch's scan of the same
    * corpus path) would be rewritten to the STALE cached snapshot.
    */
  def prepareIncrementalManaged(newDocs: DataFrame, standingCorpus: DataFrame,
                                cfg: Config = Config(),
                                againstThreshold: Option[Double] = Some(0.8),
                                numHashes: Int = 64, bands: Int = 16,
                                bloomFpp: Double = 0.01,
                                semanticAgainstThreshold: Option[Double] = None)
      : (DataFrame, DataFrame, () => Unit) = {
    val text = col(cfg.textCol)
    // one-shot freeze: the corpus's keys + signatures (+ embeddings when
    // the semantic arm is on) materialize in a SINGLE scan (previously the
    // key projection and the funnel's signature pass each re-read the
    // corpus — two scans per call)
    val frozen = freezeCorpus(standingCorpus, cfg,
      withSignatures = againstThreshold.isDefined, numHashes, bloomFpp,
      embeddings = if (semanticAgainstThreshold.isDefined) cfg.embeddings else None)
    try {
      val (accepted, releaseBatch) = prepareIncrementalFrozen(
        newDocs, frozen, standingCorpus, cfg, againstThreshold, numHashes, bands,
        semanticAgainstThreshold = semanticAgainstThreshold)

      // ingest audit: old corpus vs composed corpus, per-status counts
      val composed = standingCorpus
        .unionByName(accepted.select(standingCorpus.columns.map(col): _*))
      val audit = graft.operators.SnapshotDiff
        .diff(standingCorpus, composed, cfg.idCol, TextFunctions.fingerprint(text))
        .groupBy(col("status")).agg(count(lit(1)).cast("long").as("n"))
      (accepted, audit, () => { releaseBatch(); frozen.release() })
    } catch {
      case t: Throwable => frozen.release(); throw t
    }
  }

  /** A standing corpus's gate state, frozen at one point in time: the
    * 8-byte exact-dedup keys, the MinHash signature frame (when near-dup
    * gating is on), and the Bloom prefilter over the keys — everything the
    * incremental gate needs from the corpus EXCEPT candidate-verify text.
    * One persisted slim frame backs both projections, built in a SINGLE
    * corpus scan; `release()` drops it (Dataset-level unpersist — the
    * CacheManager rule [[prepareIncrementalManaged]] documents).
    *
    * This is the freeze-and-refresh device for streaming ingest: freeze
    * once, gate many batches against (frozen + admitted-delta) state, and
    * re-freeze on a cadence — corpus scans per K batches drop from O(K) to
    * ⌈K/N⌉ ([[graft.streaming.CorpusIngestSink.FrozenGate]]).
    */
  final class FrozenCorpus private[functions] (
      slim: DataFrame,
      /** corpus rows at freeze time */
      val rows: Long,
      /** MONOLITHIC Bloom filter over the frozen exact-dedup keys; None
        * when the freeze sharded the key space ([[bloomShardsBcast]]) —
        * no single object then holds the whole corpus's bits, which is
        * the point of sharding
        */
      private[functions] val bloomMono: Option[org.apache.spark.util.sketch.BloomFilter],
      withSignatures: Boolean,
      withEmbeddings: Boolean,
      /** banded (__id, __band, __bucket) frame of the frozen signatures,
        * persisted — present when frozen `withBanded`: the corpus-side
        * banding explode + hot-bucket shuffle happen once per refresh,
        * and every gated batch reuses them (cached probes instead of an
        * O(corpus) shuffle per micro-batch)
        */
      private[functions] val bandedSlim: Option[DataFrame] = None,
      /** hot (band, bucket) pairs of the frozen banding, driver-localized */
      private[functions] val bandedHot: Option[DataFrame] = None,
      /** band count the frozen banding was built with */
      val bandedBands: Int = 16,
      /** signature width the freeze was built with — the frozen-banded
        * dispatch checks it alongside [[bandedBands]], because a caller
        * gating with a different numHashes would get silently inconsistent
        * bucket semantics between the cached frozen banding and the
        * batch-side banded frame
        */
      val bandedNumHashes: Int = 64,
      /** hot-bucket occupancy cap the frozen hot set was built with */
      val bandedMaxBucketSize: Long = 4096L,
      /** max occupancy among the frozen side's NON-hot buckets — lets the
        * gate prove a delta cannot push any bucket over the cap
        * (maxDeltaOccupancy + this ≤ cap) and skip the per-batch count
        * probe entirely; None when frozen without banding
        */
      val bandedMaxNonHot: Option[Long] = None,
      /** directory holding the freeze-time SIDE FILES (`keys/` sorted by
        * __ck, `sigs/` sorted by __id, `banded/` sorted by __bucket; small
        * parquet row groups) — present when the freeze wrote them. They
        * are the PRUNED-PROBE fast path: a gated batch's probe sets
        * (bloom-positive keys, touched band buckets, candidate ids) are
        * driver-collected and pushed as In filters into these sorted
        * scans, so per-batch corpus-side IO is bounded by the PROBES
        * (row-group statistics skip everything else), not the corpus —
        * the property that decouples steady-state batch cost from corpus
        * size. The cached frames stay authoritative as the fallback for
        * over-cap probe sets.
        */
      private[functions] val sideDir: Option[String] = None,
      /** the Bloom filter's serialized bytes as a BROADCAST handle: probes
        * built from it ship the handle in the task binary, not the bits
        * (~1.2 MB per million keys at 1% fpp — plan-embedded bytes would
        * re-ship per stage per batch); unpersisted on [[release]]
        */
      val bloomBcast: Option[org.apache.spark.broadcast.Broadcast[Array[Byte]]] = None,
      /** prefix-partition count of the keys/banded side files (`__pfx =
        * pmod(value, sidePfx)` directory column). Directory-level
        * partition pruning evaluates an In set EXACTLY at listing time
        * regardless of its size — the first pruning stage that cannot
        * silently degrade the way parquet's >threshold In-to-range
        * row-group rewrite does over uniform-hash domains. 0 = the
        * unpartitioned layout (sigs always; a legacy keys/banded dir).
        */
      private[functions] val sidePfx: Int = 0,
      /** KEY-SPACE-SHARDED Bloom filter: one broadcast handle per
        * `floorMod(key, n)` shard class, present when the freeze sharded
        * ([[freezeCorpus]]'s `bloomShardCount`, or auto above the
        * monolithic-filter partition point). Executors fetch/deserialize
        * only the shards their rows probe — per-executor resident filter
        * bytes are bounded by shardBytes × touched shards, closing the
        * last gate component that was O(corpus) in one JVM object.
        */
      val bloomShardsBcast: Option[Array[org.apache.spark.broadcast.Broadcast[Array[Byte]]]] = None,
      /** banded (id, band, bucket) rows at freeze time — the sum of the
        * bucket occupancies; fewer than rows × bands when some docs carry
        * no signature (no text). 0 without banding.
        */
      val bandedRows: Long = 0L) {
    /** the monolithic filter (probe via [[bloomBcast]] where possible);
      * defined iff the freeze did NOT shard the key space
      */
    def bloom: org.apache.spark.util.sketch.BloomFilter =
      bloomMono.getOrElse(throw new IllegalStateException(
        "sharded freeze holds no monolithic Bloom filter — probe via bloomShardsBcast"))
    /** max probe values inlined into one pruned side-file read; above it
      * callers fall back to the cached frames (the In filter's literal
      * set and the per-row-group evaluation stay bounded)
      */
    private[functions] val sideProbeCap: Int = 1 << 16
    /** one DataFrame per side-file sub-dir, memoized for the freeze's
      * lifetime: a fresh `read.parquet` per probe re-lists the directory
      * tree and re-reads a footer for schema EVERY batch — per-batch
      * driver work that grows with the prefix-partition count. The cached
      * relation's file index is built once per refresh; per-batch probe
      * filters still prune partitions/row groups at query planning.
      */
    @transient private lazy val sideReadCache =
      scala.collection.mutable.Map.empty[String, DataFrame]
    private def sideRead(sub: String): DataFrame = sideReadCache.synchronized {
      sideReadCache.getOrElseUpdate(sub,
        slim.sparkSession.read.parquet(sideDir.get + "/" + sub))
    }
    // How the value-level In reaches parquet (verified against Spark
    // 4.1.2 bytecode, ParquetFilters — the r17 verdict's premise is
    // INVERTED on this version): a pushed In with MORE values than
    // spark.sql.parquet.pushdown.inFilterThreshold (default 10) becomes
    // parquet's NATIVE set-based FilterApi.in — exact at row-group-stats
    // and dictionary level, so the sorted side files prune correctly at
    // any probe size. At or BELOW the threshold Spark instead builds a
    // recursive OR-chain of equalities; raising the threshold to "help"
    // large probe sets therefore forces a probe-set-deep OR chain whose
    // recursive visitor StackOverflowErrors around ~2k values (hit
    // empirically at sf0.01) — the threshold must be left ALONE.
    private def pruned(sub: String, keyName: String, probes: Seq[Any]): Option[DataFrame] =
      if (sideDir.isEmpty || probes.size > sideProbeCap) None
      else Some(sideRead(sub).filter(SetFilters.probeFilter(col(keyName), probes)))
    /** [[pruned]] plus the prefix-partition filter: the probe values'
      * `__pfx` classes are computed driver-side (same `floorMod` as the
      * write's `pmod`) and pushed as a partition-column In — file listing
      * then touches only the probed directories, an exact prune with no
      * row-group-statistics dependence at any probe-set size.
      */
    private def prunedPfx(sub: String, keyName: String, probes: Seq[Any]): Option[DataFrame] =
      if (sidePfx <= 0) pruned(sub, keyName, probes)
      else if (sideDir.isEmpty || probes.size > sideProbeCap) None
      else if (probes.exists(p => !p.isInstanceOf[java.lang.Number])) None
      else {
        val pfx = probes.iterator
          .map(p => java.lang.Math.floorMod(p.asInstanceOf[java.lang.Number].longValue, sidePfx.toLong).toInt)
          .toSet.toSeq
        Some(sideRead(sub)
          .filter(col("__pfx").isin(pfx: _*) &&
            SetFilters.probeFilter(col(keyName), probes))
          .drop("__pfx"))
      }
    /** frozen keys restricted to `probes` — IO ∝ probes, or None */
    def prunedKeys(probes: Seq[Any]): Option[DataFrame] =
      prunedPfx("keys", "__ck", probes)
    /** frozen signatures restricted to the given ids, or None. Not prefix-
      * partitioned: ids are caller-typed (strings included), and candidate
      * ids arrive append-ordered, so the id-sorted row groups already
      * carry tight min/max ranges.
      */
    def prunedSigs(probes: Seq[Any]): Option[DataFrame] =
      pruned("sigs", "__id", probes)
    /** frozen banded rows restricted to the given bucket values, or None */
    def prunedBanded(probes: Seq[Any]): Option[DataFrame] =
      prunedPfx("banded", "__bucket", probes)
    /** [[prunedBanded]] only when the prune can actually WIN: every probe
      * reads at least its row group, and bucket values are uniform hashes,
      * so once probes × rowGroupRows reaches the banded row count the
      * "pruned" read IS a full disk scan of the side file plus a listing —
      * strictly worse than the resident cached frame it replaces. Measured
      * (r19 crossover, 1000-doc batches × 16 bands ≈ 15k distinct bucket
      * probes): steady batches read the ENTIRE banded side file — 994 MB
      * per batch at 4M docs, 1967 MB at 8M — i.e. the read bytes DOUBLED
      * with the corpus instead of staying ∝ probes. The pruned read's
      * asymptotic cost is probes × rowGroupBytes (corpus-decoupled), so it
      * pays exactly when that is below the banded rows; the estimate uses
      * the banded writer's ~128 KB row groups at ~13 B/row (~10k rows).
      * Probe-count-driven and corpus-size-driven — no cluster-shape
      * constant involved.
      */
    def prunedBandedProfitable(probes: Seq[Any]): Option[DataFrame] =
      if (probes.size.toLong * CorpusPipeline.BandedRowGroupRows >= bandedRows) None
      else prunedBanded(probes)
    /** whether the pruned-probe fast path is available at all */
    def hasSideFiles: Boolean = sideDir.isDefined
    /** the frozen banded frame + hot set, when frozen `withBanded` */
    def banded: Option[(DataFrame, DataFrame)] = bandedSlim.zip(bandedHot)
    /** (`__ck`) — frozen exact-dedup keys, read from the shared cache. */
    def keys: DataFrame = slim.select(col("__ck"))
    /** (`__id`, `__sig`) — frozen signatures; None when frozen without. */
    def sigs: Option[DataFrame] =
      if (withSignatures)
        Some(slim.select(col("__id"), col("__sig")).filter(col("__sig").isNotNull))
      else None
    /** (`__id`, `__emb`) — frozen embeddings (semantic gate); None when
      * frozen without. Corpus rows lacking an embedding carry none and are
      * invisible to the semantic arm — by design, on BOTH sides.
      */
    def embs: Option[DataFrame] =
      if (withEmbeddings)
        Some(slim.select(col("__id"), col("__emb")).filter(col("__emb").isNotNull))
      else None
    def release(): Unit = {
      // slim is a localCheckpoint (no CacheManager entry — Dataset.unpersist
      // would no-op); free its blocks at the RDD level
      graft.core.Checkpoints.release(slim)
      bandedSlim.foreach(_.unpersist(blocking = false))
      // the hot set is normally a driver-local relation (release no-ops),
      // but a pathological freeze (most buckets hot) can leave it as a
      // lineage-truncated checkpoint whose blocks must not outlive the gate
      bandedHot.foreach(graft.core.Checkpoints.release)
      // executor copies die now; the driver-side value stays reachable
      // until this FrozenCorpus is dropped, so a straggling lazy consumer
      // re-fetches instead of crashing (unpersist, deliberately not
      // destroy — same contract as the cached frames)
      bloomBcast.foreach(_.unpersist(blocking = false))
      bloomShardsBcast.foreach { h =>
        h.foreach(_.unpersist(blocking = false))
        // drop the JVM-wide deserialized copies too (local mode: driver and
        // executor share the JVM; cluster executors drop theirs when the
        // unpersisted broadcast blocks are re-requested — never, post-close)
        graft.functions.expressions.ShardedBloomRuntime.clear(h(0).id)
      }
    }
  }

  /** Freeze a standing corpus's gate state in ONE scan: project
    * (id, exact-key, signature) together — plus the embedding via one
    * keyed left join when the semantic arm is on — persist the slim
    * frame, build the Bloom filter from the cached keys. Day-0 (empty
    * corpus) gets an explicitly empty filter — Spark's `stat.bloomFilter`
    * NPEs on zero rows, and every probe of the empty filter correctly
    * answers "proven new".
    */
  /** Keys per Bloom shard above which a freeze auto-shards the filter's
    * key space: 2.5e8 keys ≈ 300 MB of bits at 1% fpp — comfortably under
    * the ~1.2 GB-at-1e9-keys monolithic cliff, and never reached by the
    * local fixtures (auto stays monolithic below 250M corpus rows, so the
    * bench path is byte-identical; `bloomShardCount` pins it for tests
    * and scale runs).
    */
  private[graft] val shardAutoKeys: Long = 250000000L

  /** estimated rows per banded side-file row group (~128 KB blocks at
    * ~13 B/row) — the [[FrozenCorpus.prunedBandedProfitable]] break-even
    * constant
    */
  private[functions] val BandedRowGroupRows: Long = 10000L

  def freezeCorpus(standingCorpus: DataFrame, cfg: Config = Config(),
                   withSignatures: Boolean = true, numHashes: Int = 64,
                   bloomFpp: Double = 0.01,
                   embeddings: Option[DataFrame] = None,
                   withBanded: Boolean = false, bands: Int = 16,
                   maxBucketSize: Long = 4096L,
                   sideFileDir: Option[String] = None,
                   sideFileMinRows: Long = 200000L,
                   sideFilePartitions: Int = 0,
                   bloomShardCount: Int = 0): FrozenCorpus = {
    require(!withBanded || withSignatures,
      "banded freeze state derives from signatures")
    val text = col(cfg.textCol)
    val key = TextFunctions.md5Hash60(TextFunctions.normalized(text))
    val sig =
      if (withSignatures)
        MinHashLsh.signatureOfHashes(TextFunctions.shingleHashes(text, 5), numHashes)
      else lit(null).cast("array<bigint>")
    // NO parallelism floor on the freeze scan: an interleaved min-of-2 A/B
    // (r19) measured FanOut(standingCorpus) at 1.29× on ingest_lifecycle
    // (which freezes per batch) and 1.09× on ingest_semantic_gate — the
    // payload exchange plus wider tiny-task stages cost more than the
    // serialized md5/minhash pass saves at micro-corpus scale, and at
    // warehouse scale the scan already plans more partitions than cores.
    val base = standingCorpus
      .select(col(cfg.idCol).as("__id"), key.as("__ck"), sig.as("__sig"))
    // LOCALCHECKPOINT, not persist — and not for lineage reasons: a
    // persisted plan that READS the corpus path is registered with the
    // CacheManager, and Spark's own parquet INSERT into that path calls
    // refreshByPath, which invalidates every such entry — so the frozen
    // gate's OWN per-batch appends were re-executing the whole corpus
    // signature scan from raw text on the next touch (measured r19:
    // frozen.sigs.count 0.77 s cached → 16.3 s after one append at 400k
    // docs; ~430 s of task time per gated batch in the crossover). A
    // localCheckpoint truncates to block-store RDDs with no CacheManager
    // entry — immune to the refresh, and semantically the truer FREEZE: a
    // recompute-after-append would silently read the mutated target
    // mid-window. Blocks die with their executor; a lost block fails the
    // batch and the next one re-freezes (same recovery story as the delta
    // checkpoint parts). The checkpoint job counts the rows on the way.
    val (slim, rows) = Checkpoints.checkpointCounted(embeddings.fold(base)(e =>
      base.join(e.select(col(cfg.idCol).as("__id"), col(cfg.embCol).as("__emb")),
        Seq("__id"), "left")))
    try {
      // the Bloom prefilter: monolithic below the shard point, KEY-SPACE
      // SHARDED above it (or when the caller pins a shard count) — a
      // monolithic filter is one driver/executor object that grows with
      // the corpus (~1.2 GB at 1e9 keys / 1% fpp), the documented last
      // O(corpus)-in-one-JVM-object gate component; sharding bounds every
      // single filter object at ~shardAutoKeys bits and lets executors
      // fetch only the shards their rows probe
      val shards =
        if (rows == 0L) 1
        else if (bloomShardCount > 0) bloomShardCount
        else math.max(1L, (rows + shardAutoKeys - 1) / shardAutoKeys).toInt
      val (bloomOpt, bloomBcOpt, shardsBcOpt) =
        if (shards > 1) {
          val built = BloomDedup.buildShardedLongNonEmpty(
            slim, col("__ck"), rows, bloomFpp, shards)
          (None, None, Some(BloomDedup.broadcastShards(slim.sparkSession, built)))
        } else {
          val bloom =
            if (rows == 0L) org.apache.spark.util.sketch.BloomFilter.create(1L, bloomFpp)
            else BloomDedup.buildLongNonEmpty(slim, col("__ck"), rows, bloomFpp)
          // broadcast BEFORE the banded block: were it built after, a
          // broadcast failure would leak the banded cache and the
          // localized hot set (only slim rides the outer catch)
          (Some(bloom), Some(BloomDedup.broadcastFilter(slim.sparkSession, bloom)), None)
        }
      val (bnd, hot, maxNonHot, bandedRows) =
        if (!withBanded) (None, None, None, 0L)
        else {
          // the refresh-amortized banding: explode once, persist; the hot
          // set's groupBy shuffle (the per-batch cost center the frozen
          // gate removes) runs here, once per refresh, and materializes
          // the banded cache as a side effect. Failure releases both via
          // the outer catch (bandedSlim rides the same guard as slim).
          // persist stays correct here: banded's plan reads slim's
          // CHECKPOINT (a LogicalRDD, no file-source path), so
          // refreshByPath cannot match this cache entry, and the columnar
          // cache format keeps the 16×-exploded frame ~3× smaller than
          // row-format checkpoint blocks would be
          val banded = MinHashLsh.bandedFrame(
              slim.select(col("__id"), col("__sig")).filter(col("__sig").isNotNull),
              bands, numHashes)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            val occ = banded.groupBy(col("__band"), col("__bucket"))
              .agg(count(lit(1)).as("__bsz"))
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            try {
              val hotLocal = graft.core.Checkpoints.localize(
                occ.filter(col("__bsz") > maxBucketSize)
                  .select(col("__band"), col("__bucket")))
              // one pass over the occupancy: the densest non-hot bucket,
              // and the banded row count (docs without a signature have
              // no banded rows, so it is not rows × bands)
              val stats = occ.agg(
                max(when(col("__bsz") <= maxBucketSize, col("__bsz"))),
                sum(col("__bsz"))).head()
              // null max: every bucket hot (or none)
              def orZero(i: Int) = if (stats.isNullAt(i)) 0L else stats.getLong(i)
              (Some(banded), Some(hotLocal), Some(orZero(0)), orZero(1))
            } finally occ.unpersist(blocking = false)
          } catch {
            case t: Throwable => banded.unpersist(blocking = false); throw t
          }
        }
      // SIDE FILES: sorted, small-row-group copies of the frozen keys /
      // signatures / banded rows, written once per refresh so every gated
      // batch can read them PRUNED to its probe set. Written only above
      // the row threshold: below it the cached frames are faster than any
      // fixed job overhead (the same crossover argument as the gate
      // itself). Cost: three write jobs off the already-cached frames,
      // amortized over the refresh window.
      //
      // TWO pruning stages (r18, re-derived from Spark 4.1.2 bytecode —
      // see the [[FrozenCorpus.pruned]] note):
      //   1. keys/banded carry a `__pfx = pmod(value, P)` DIRECTORY
      //      partition — partition pruning evaluates the probe In set
      //      exactly at listing time, any size, no statistics involved,
      //      bounding even the LISTING and footer reads by the probes'
      //      pfx classes;
      //   2. within a directory, per-file sort gives narrow row-group
      //      min/max ranges, and any probe set larger than the default
      //      inFilterThreshold (10) reaches parquet as the NATIVE
      //      set-based In predicate — exact row-group and dictionary
      //      pruning at any probe size, no conf changes needed (and none
      //      wanted: raising the threshold forces the OR-chain path,
      //      which stack-overflows around 2k values).
      // Together: a probe touches its pfx directory, and inside it only
      // the row groups whose range holds its value — per-batch side IO
      // ∝ probes × rowGroupRows, independent of corpus size.
      try {
        val (side, pfxParts) =
          if (sideFileDir.isEmpty || rows == 0L || rows < sideFileMinRows) (None, 0)
          else {
            val dir = sideFileDir.get
            val blockOpt = "parquet.block.size"
            val blockSz = (1L << 20).toString // ~50k narrow rows per group
            // P scales with the corpus so directories stay coarse enough
            // to list cheaply but fine enough that a steady batch's probe
            // set touches a strict subset of them
            val p =
              if (sideFilePartitions > 0) sideFilePartitions
              else math.max(8L, math.min(1024L, rows / 500000L)).toInt
            def pfxOf(c: Column): Column = pmod(c, lit(p.toLong)).cast("int")
            // HASH repartition on __pfx + sort-within-partitions, NOT
            // repartitionByRange: range partitioning's boundary sampling
            // was a measured super-linear term in the freeze; each pfx
            // class lands whole in one task, so every directory gets ~one
            // file, internally sorted for stage-2 row-group pruning
            slim.select(col("__ck"), pfxOf(col("__ck")).as("__pfx"))
              .repartition(p, col("__pfx"))
              .sortWithinPartitions(col("__pfx"), col("__ck"))
              .write.option(blockOpt, blockSz).partitionBy("__pfx")
              .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dir + "/keys")
            // sigs stay UNPARTITIONED: ids are caller-typed (strings
            // included, no driver-replicable pfx), and candidate ids are
            // append-ordered so the id-sorted groups already prune tightly
            if (withSignatures)
              slim.select(col("__id"), col("__sig")).filter(col("__sig").isNotNull)
                .repartition(math.max(4L, math.min(256L, rows / 4000000L)).toInt, col("__id"))
                .sortWithinPartitions(col("__id"))
                .write.option(blockOpt, blockSz)
                .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dir + "/sigs")
            // banded rows are ~20 B wide and probed by UNIFORM bucket
            // hashes: finer row groups (~6k rows) than the other side
            // files keep the per-probe read floor small
            bnd.foreach(_.withColumn("__pfx", pfxOf(col("__bucket")))
              .repartition(p, col("__pfx"))
              .sortWithinPartitions(col("__pfx"), col("__bucket"))
              .write.option(blockOpt, (128L << 10).toString)
              .option("parquet.page.size", (64L << 10).toString)
              .partitionBy("__pfx")
              .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dir + "/banded"))
            (Some(dir), p)
          }
        new FrozenCorpus(slim, rows, bloomOpt, withSignatures, embeddings.isDefined,
          bnd, hot, bands, numHashes, maxBucketSize, maxNonHot, side,
          bloomBcOpt, pfxParts, shardsBcOpt, bandedRows)
      } catch {
        // a failed side write (or constructor) must not leak the banded
        // cache, the localized hot set, or the broadcast filter (slim's
        // own unpersist rides the outer catch)
        case t: Throwable =>
          bnd.foreach(_.unpersist(blocking = false))
          hot.foreach(graft.core.Checkpoints.release)
          bloomBcOpt.foreach(_.unpersist(blocking = false))
          shardsBcOpt.foreach(_.foreach(_.unpersist(blocking = false)))
          throw t
      }
    } catch {
      // the filter build and the banded pass are real actions — a
      // transient failure there must not pin corpus-keys-sized checkpoint
      // blocks nobody holds a handle to
      case t: Throwable => graft.core.Checkpoints.release(slim); throw t
    }
  }

  /** The day-2 gate against FROZEN corpus state: in-batch [[prepare]],
    * exact dedup vs the frozen keys (Bloom prefilter + exact sliver join),
    * near-dup dedup vs the frozen signatures. `corpusDocs` supplies
    * candidate-verify TEXT lazily — with zero candidates it is never
    * scanned, so a whole micro-batch can gate without touching corpus
    * storage.
    *
    * `extraKeys` / `extraSigs` are the DELTA admitted since the freeze
    * (caller-managed frames in the same shapes): rows the Bloom filter
    * proves new against the FROZEN corpus may still duplicate the delta,
    * so the exact stage anti-joins the delta keys after the frozen split,
    * and the delta signatures ride into the near-dup funnel's corpus side.
    * With the delta maintained faithfully, admissions are IDENTICAL to
    * re-freezing every batch — the equality [[graft.streaming]]'s
    * FrozenGateSpec pins — because frozen + delta IS the corpus.
    *
    * Returns (accepted, release) — release drops this call's own caches
    * (the batch's candidate frame), not the frozen state.
    */
  def prepareIncrementalFrozen(newDocs: DataFrame, frozen: FrozenCorpus,
                               corpusDocs: => DataFrame,
                               cfg: Config = Config(),
                               againstThreshold: Option[Double] = Some(0.8),
                               numHashes: Int = 64, bands: Int = 16,
                               extraKeys: Option[DataFrame] = None,
                               extraSigs: Option[DataFrame] = None,
                               semanticAgainstThreshold: Option[Double] = None,
                               extraEmbs: Option[DataFrame] = None,
                               extraBanded: Option[DataFrame] = None,
                               extraBucketCounts: Option[Map[(Int, Long), Long]] = None)
      : (DataFrame, () => Unit) = {
    val text = col(cfg.textCol)
    val key = TextFunctions.md5Hash60(TextFunctions.normalized(text))
    val cached = scala.collection.mutable.ListBuffer.empty[DataFrame]
    def releaseAll(): Unit = cached.foreach(_.unpersist(blocking = false))
    try {
      // 1. in-batch preparation
      val prepared = prepare(newDocs, cfg)

      // 2. exact dedup: Bloom split + sliver join against the FROZEN keys
      // first (the filter covers exactly those), then a plain anti-join
      // against the small delta — a delta row is never "proven new" by the
      // frozen filter's fast path because that path skips only the frozen
      // join, not this one. With freeze-time side files the sliver's keys
      // are driver-collected and pushed into the key-sorted side scan —
      // the exact check then reads ∝ sliver, never a corpus-keys pass.
      val afterFrozen =
        if (frozen.hasSideFiles) {
          // the keyed batch feeds the split's two branches AND the sliver
          // collect — persist the slim projection so none re-derives the
          // in-batch prepare chain (BloomDedup.newKeysExact's plan note)
          val keyed = prepared.withColumn("__ck", key)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          cached += keyed
          BloomDedup.newKeysExactPruned(keyed, frozen.prunedKeys,
            frozen.keys, "__ck", frozen.bloom,
            filterBcast = frozen.bloomBcast,
            shardedBcast = frozen.bloomShardsBcast)
        } else BloomDedup.newKeysExact(
          prepared.withColumn("__ck", key), frozen.keys, "__ck", frozen.bloom,
          filterBcast = frozen.bloomBcast,
          shardedBcast = frozen.bloomShardsBcast)
      // exactNew feeds several plan branches downstream (both sides of the
      // against-corpus signature funnel, the exact-verify shingle scan, the
      // final anti-join), and each would otherwise re-derive the ENTIRE
      // in-batch prepare chain from the raw scan (measured 1.6× on the warm
      // pipeline at sf0.1). Persisted, not localized: it carries the
      // batch's surviving TEXT rows, which must not land on the driver.
      val exactNew = extraKeys.fold(afterFrozen)(dk =>
          afterFrozen.join(dk.select(col("__ck")).distinct(), Seq("__ck"), "left_anti"))
        .drop("__ck")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      cached += exactNew

      // 3. near-dup against frozen signatures ∪ delta signatures — through
      // the frozen BANDED state when the freeze carried it (per-batch
      // corpus-side work becomes cached probes; the banding explode and
      // hot-bucket shuffle were paid once at freeze), identical admissions
      // either way
      val lexAccepted = againstThreshold.fold(exactNew) { th =>
        val corpusSigs = frozen.sigs.getOrElse(throw new IllegalStateException(
          "near-dup gating requested but the corpus was frozen without signatures"))
        frozen.banded match {
          case Some((bnd, hot)) if frozen.bandedBands == bands &&
              frozen.bandedNumHashes == numHashes =>
            MinHashLsh.dedupAgainstFrozenBanded(corpusSigs, bnd, hot,
              extraSigs, corpusDocs, exactNew, cfg.idCol,
              TextFunctions.shingleHashes(text, 5), numHashes, bands, th,
              maxBucketSize = frozen.bandedMaxBucketSize,
              deltaBanded = extraBanded,
              deltaBucketCounts = extraBucketCounts,
              frozenMaxNonHot = frozen.bandedMaxNonHot,
              prunedBandedFor =
                if (frozen.hasSideFiles) Some(frozen.prunedBandedProfitable _)
                else None,
              prunedSigsFor =
                if (frozen.hasSideFiles) Some(frozen.prunedSigs _) else None)
          case _ =>
            val allSigs = extraSigs.fold(corpusSigs)(d => corpusSigs.unionByName(d))
            MinHashLsh.dedupAgainstPrecomputed(allSigs, corpusDocs, exactNew,
              cfg.idCol, TextFunctions.shingleHashes(text, 5), numHashes, bands, th)
        }
      }

      // 4. SEMANTIC near-dup against frozen embeddings ∪ delta embeddings —
      // the paraphrase arm the lexical funnel can't see (same motivation as
      // the train/test semantic decontamination stage). Batch rows join
      // their embeddings from cfg.embeddings by id; rows without one are
      // invisible to this arm on both sides, by design. LSH-prefiltered
      // threshold join (bipartiteThresholdLsh) — candidates from cross-side
      // bucket collisions only, exact cosine verifies, miss probability
      // ~9e-8 per qualifying pair at the defaults.
      val accepted = semanticAgainstThreshold.fold(lexAccepted) { th =>
        val corpusEmb = frozen.embs.getOrElse(throw new IllegalStateException(
          "semantic gating requested but the corpus was frozen without embeddings"))
        val embFrame = cfg.embeddings.getOrElse(throw new IllegalStateException(
          "semantic gating requires cfg.embeddings for the batch side"))
        val allEmb = extraEmbs.fold(corpusEmb)(d => corpusEmb.unionByName(d))
        val batchEmb = lexAccepted.select(col(cfg.idCol).as("__id"))
          .join(embFrame.select(col(cfg.idCol).as("__id"),
            col(cfg.embCol).as("__emb")), "__id")
        val dupIds = VectorSimilarity.bipartiteThresholdLsh(
            allEmb, batchEmb, th, cfg.embeddingDim,
            idCol = "__id", vecCol = "__emb")
          .select(col("id_right").as(cfg.idCol)).distinct()
        lexAccepted.join(dupIds, Seq(cfg.idCol), "left_anti")
      }
      (accepted, () => releaseAll())
    } catch {
      case t: Throwable => releaseAll(); throw t
    }
  }
}
