package graft.streaming

import graft.SparkSpec
import graft.functions.CorpusPipeline
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.{DataFrame, SaveMode}

import java.nio.file.Files

/** Round-16 hardening of [[CorpusIngestSink.FrozenGate]]: the byte-aware
  * delta-fold collect guard (driver heap, not row count), external-writer
  * detection between refreshes, and gate invalidation when the fold fails
  * AFTER a committed append (replay idempotence for reused instances).
  */
class FrozenGateHardeningSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = CorpusPipeline.Config(
    minChars = 10, requireKnownLang = false,
    nearDupThreshold = None, decontamThreshold = None)

  private val baseA = "the quick brown fox jumps over the lazy dog again and again today"
  private val baseB = "completely different content about spark query engines operating at corpus scale"
  private val baseC = "an entirely new document mentioning benchmarks and shuffles in the third batch"
  private val baseD = "watermark discipline and checkpoint hygiene for long running streaming ingestion"

  private def df(rows: (Long, String)*): DataFrame =
    rows.map { case (id, tx) => (id, tx, "web") }.toDF("doc_id", "text", "source")

  private def corpusIds(dir: String): Seq[Long] =
    spark.read.parquet(dir).select("doc_id").as[Long].collect().toSeq.sorted

  test("fold guard math: the collect cap is sized in driver bytes, embedding width included") {
    import CorpusIngestSink.{estimatedDeltaRowBytes, foldCollectMaxRows, DefaultFoldDriverBytes}
    // a dim-768 embedding costs ~25 KB boxed on the driver — the row-width
    // estimate must grow with it, and the cap must shrink accordingly
    val slim = estimatedDeltaRowBytes(withSignatures = true, numHashes = 64,
      withEmbeddings = false, embeddingDim = 768)
    val wide = estimatedDeltaRowBytes(withSignatures = true, numHashes = 64,
      withEmbeddings = true, embeddingDim = 768)
    assert(wide - slim >= 768L * 32, "embedding width must be priced per boxed element")
    val capSlim = foldCollectMaxRows(DefaultFoldDriverBytes, true, 64, false, 768)
    val capWide = foldCollectMaxRows(DefaultFoldDriverBytes, true, 64, true, 768)
    assert(capSlim * slim <= DefaultFoldDriverBytes &&
      capWide * wide <= DefaultFoldDriverBytes, "cap × width must fit the budget")
    assert(capWide * 10 < capSlim,
      s"the semantic arm must shrink the cap ~width-proportionally ($capWide vs $capSlim)")
    // guard rails: never below one row, never above the legacy 2^22 rows
    assert(foldCollectMaxRows(1L, true, 64, true, 1 << 20) == 1L)
    assert(foldCollectMaxRows(Long.MaxValue / 4, false, 64, false, 0) == (1L << 22))
  }

  test("oversized batches fold executor-side (localCheckpoint), never a driver collect") {
    // a 1-byte budget forces EVERY admitted batch over the cap (its floor
    // is ONE row, so each batch must admit ≥2) — the fold must take the
    // checkpoint path (LogicalRDD parts), and admissions must stay
    // bit-identical to the driver-resident path on the same batches
    val batches = Seq(df(1L -> baseA, 2L -> baseB),
      df(10L -> baseA, 12L -> baseC, 13L -> baseD))
    def run(budget: Long): (Seq[Long], Seq[Long], Seq[Boolean]) = {
      val dir = Files.createTempDirectory(s"fg_bytes_$budget").toString
      val g = new CorpusIngestSink.FrozenGate(dir, cfg, refreshEvery = 8,
        foldDriverBytes = budget)
      try {
        val admitted = batches.map(g.processBatch)
        val localized = g.deltaParts.toSeq.map(_.queryExecution.analyzed match {
          case _: LocalRelation => true
          case _: LogicalRDD => false
          case other => fail(s"unexpected delta plan node: ${other.getClass}")
        })
        (admitted, corpusIds(dir), localized)
      } finally g.close()
    }
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val (aTiny, cTiny, lTiny) = run(budget = 1L)
    val (aBig, cBig, lBig) = run(budget = CorpusIngestSink.DefaultFoldDriverBytes)
    assert(aTiny == Seq(2L, 2L) && aBig == aTiny, "both fold paths must admit identically")
    assert(cTiny == Seq(1L, 2L, 12L, 13L) && cBig == cTiny)
    assert(lTiny == Seq(false, false), "over-budget folds must stay executor-resident")
    assert(lBig == Seq.empty,
      "in-budget folds accumulate driver-resident rows, never checkpoint parts")
    // the checkpointed delta blocks die with close()
    assert((spark.sparkContext.getPersistentRDDs.keySet.toSet -- rddsBefore).isEmpty,
      "closed gates must release checkpointed delta blocks")
  }

  test("external writer between refreshes: detected, re-frozen, duplicates gated (default policy)") {
    val dir = Files.createTempDirectory("fg_ext_refresh").toString
    val extBefore = GraftMetrics.counter(GraftMetrics.IngestExternalWrites)
    val g = new CorpusIngestSink.FrozenGate(dir, cfg, refreshEvery = 10)
    try {
      assert(g.processBatch(df(1L -> baseA, 2L -> baseB)) == 2L)
      // out-of-band co-writer lands doc 100 directly in the corpus dir
      df(100L -> baseC).withColumn("split",
        org.apache.spark.sql.functions.lit("train"))
        .write.mode(SaveMode.Append).parquet(dir)
      // doc 30 duplicates the co-written text: only a re-freeze can see it
      assert(g.processBatch(df(30L -> baseC)) == 0L,
        "the forced refresh must gate the external row's duplicate")
      assert(GraftMetrics.counter(GraftMetrics.IngestExternalWrites) - extBefore == 1L)
      // the gate's own appends must NOT re-trip the check
      assert(g.processBatch(df(40L -> baseD)) == 1L)
      assert(GraftMetrics.counter(GraftMetrics.IngestExternalWrites) - extBefore == 1L)
    } finally g.close()
    assert(corpusIds(dir) == Seq(1L, 2L, 40L, 100L))
  }

  test("external writer: Fail policy throws, Ignore policy documents the blind spot") {
    val dirF = Files.createTempDirectory("fg_ext_fail").toString
    val gF = new CorpusIngestSink.FrozenGate(dirF, cfg, refreshEvery = 10,
      onExternalWrite = CorpusIngestSink.ExternalWriterPolicy.Fail)
    try {
      assert(gF.processBatch(df(1L -> baseA)) == 1L)
      df(100L -> baseC).withColumn("split",
        org.apache.spark.sql.functions.lit("train"))
        .write.mode(SaveMode.Append).parquet(dirF)
      val e = intercept[IllegalStateException](gF.processBatch(df(30L -> baseC)))
      assert(e.getMessage.contains("external writer"))
    } finally gF.close()

    // Ignore = pre-r16 behavior: the co-written duplicate IS re-admitted —
    // exactly the hazard the default policy exists to close
    val dirI = Files.createTempDirectory("fg_ext_ignore").toString
    val gI = new CorpusIngestSink.FrozenGate(dirI, cfg, refreshEvery = 10,
      onExternalWrite = CorpusIngestSink.ExternalWriterPolicy.Ignore)
    try {
      assert(gI.processBatch(df(1L -> baseA)) == 1L)
      df(100L -> baseC).withColumn("split",
        org.apache.spark.sql.functions.lit("train"))
        .write.mode(SaveMode.Append).parquet(dirI)
      assert(gI.processBatch(df(30L -> baseC)) == 1L,
        "Ignore must reproduce the documented blind spot (duplicate admitted)")
    } finally gI.close()
  }

  test("fold failure after a committed append invalidates the gate; replay admits nothing") {
    val dir = Files.createTempDirectory("fg_foldfail").toString
    val g = new CorpusIngestSink.FrozenGate(dir, cfg, refreshEvery = 10)
    try {
      assert(g.processBatch(df(1L -> baseA, 2L -> baseB)) == 2L)
      assert(g.isFrozen)
      // the fold dies AFTER the parquet append committed: without
      // invalidation, frozen + delta would now lag the target and a retry
      // through this same instance would re-append its own rows
      g.foldTap = _ => throw new RuntimeException("fold boom")
      val e = intercept[RuntimeException](g.processBatch(df(12L -> baseC)))
      assert(e.getMessage == "fold boom")
      assert(!g.isFrozen, "a post-append fold failure must drop all gate state")
      assert(corpusIds(dir) == Seq(1L, 2L, 12L), "the append itself committed")
      // in-instance retry of the same batch: the re-freeze sees the
      // committed rows, so the replay admits nothing and nothing duplicates
      g.foldTap = identity
      assert(g.processBatch(df(12L -> baseC)) == 0L)
      assert(g.processBatch(df(22L -> baseD)) == 1L, "the gate keeps working after recovery")
    } finally g.close()
    assert(corpusIds(dir) == Seq(1L, 2L, 12L, 22L))
  }

  test("a failure inside the gate's checkpoint job still releases the batch's caches") {
    // the verify stage scans the corpus text only for estimate survivors,
    // and it runs inside the job that checkpoints the admitted rows: a
    // corpus frame that throws when scanned fails exactly that job
    val dir = Files.createTempDirectory("fg_cpfail").toString
    @volatile var armed = false
    val boom = org.apache.spark.sql.functions.udf((t: String) => {
      if (t != null) throw new IllegalStateException("verify scan failed"); t
    })
    val reader = (s: org.apache.spark.sql.SparkSession, d: String, donor: DataFrame) => {
      val standing = CorpusIngestSink.standingOf(s, d, donor)
      if (armed) standing.withColumn("text", boom(standing("text"))) else standing
    }
    val g = new CorpusIngestSink.FrozenGate(dir, cfg, refreshEvery = 10, corpusReader = reader)
    try {
      assert(g.processBatch(df(1L -> baseA, 2L -> baseB)) == 2L)
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      armed = true
      val e = intercept[Exception](g.processBatch(df(30L -> (baseA + " quietly"))))
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(causes.exists(c => String.valueOf(c.getMessage).contains("verify scan failed")),
        s"the batch must fail in the verify scan, got $e")
      assert(spark.sparkContext.getPersistentRDDs.keySet.toSet == before,
        "a failed checkpoint job must not leave the batch's frames persisted")
    } finally g.close()
  }
}
