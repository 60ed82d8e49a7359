package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Round-18: the pruned-probe side reads must ACTUALLY prune at any probe
  * size, with the mechanism pinned rather than assumed. Two findings
  * shape these specs. (1) The keys/banded side files now carry a
  * `__pfx = pmod(value, P)` DIRECTORY partition, and the probe read
  * pushes the probes' pfx classes as a partition-column In — evaluated
  * exactly at LISTING time, no statistics involved, so the scan's
  * selected partitions/files shrink with the probe set (the r17 layout
  * relied on row-group statistics alone, whose reach at large probe
  * counts was an open question — the r17 verdict's #1). (2) On Spark
  * 4.1.2 the value-level In is SAFE above the pushdown threshold and
  * DANGEROUS below it — the inverse of the verdict's premise: more than
  * `spark.sql.parquet.pushdown.inFilterThreshold` (10) values become
  * parquet's native set-based FilterApi.in (exact stats + dictionary
  * pruning), while at-or-below the threshold Spark builds a recursive
  * OR-chain whose visitor stack-overflows around 2k values if the
  * threshold is raised to "help". The large-probe test here is the
  * regression guard against anyone re-introducing that raise.
  */
class SideFilePruningSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = CorpusPipeline.Config(
    minChars = 10, requireKnownLang = false,
    nearDupThreshold = None, decontamThreshold = None)

  private def corpus(n: Int): DataFrame =
    spark.range(n.toLong).select(col("id").as("doc_id"),
      concat(lit("distinct document number "), col("id"),
        lit(" discussing topic "), col("id") * 7919L,
        lit(" at some length for shingling")).as("text"),
      lit("web").as("source"))

  /** The single parquet scan of a pruned read, AFTER execution. */
  private def scanOf(df: DataFrame): (FileSourceScanExec, Long) = {
    val rows = df.count()
    val scans = df.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.size == 1, s"expected one parquet scan, got ${scans.size}")
    (scans.head, rows)
  }

  private def dataFiles(dir: String): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) f.listFiles.map(walk).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    walk(new java.io.File(dir))
  }

  test("keys side file: prefix directories prune exactly, at ANY probe-set size") {
    val dir = Files.createTempDirectory("sfp_keys").toString
    val frozen = CorpusPipeline.freezeCorpus(corpus(4000), cfg,
      withBanded = true, sideFileDir = Some(dir), sideFileMinRows = 0L,
      sideFilePartitions = 8)
    try {
      val keyDirs = new java.io.File(dir + "/keys").listFiles
        .filter(_.isDirectory).map(_.getName).toSeq
      assert(keyDirs.nonEmpty && keyDirs.forall(_.startsWith("__pfx=")),
        s"keys must be written under __pfx= partition directories, got $keyDirs")
      val allKeys = frozen.keys.as[Long].collect()

      // one pfx class, 20 probes (> the 10-value In-to-range cliff): the
      // scan must list ONLY that class's directory
      val oneClass = allKeys.filter(k => java.lang.Math.floorMod(k, 8L) == 3L)
        .take(20).toSeq
      assert(oneClass.size == 20, "fixture drifted: class 3 too small")
      val pruned1 = frozen.prunedKeys(oneClass).get
      val (scan1, rows1) = scanOf(pruned1)
      assert(rows1 == oneClass.size.toLong,
        "every probed key is a real frozen key and must come back exactly once")
      assert(scan1.partitionFilters.nonEmpty,
        "the pfx In must reach the scan as a PARTITION filter")
      assert(scan1.selectedPartitions.partitionCount == 1,
        s"20 probes of one pfx class must touch exactly one directory, " +
        s"got ${scan1.selectedPartitions.partitionCount}")
      val totalFiles = dataFiles(dir + "/keys")
      val files1 = scan1.selectedPartitions.totalNumberOfFiles
      assert(files1 < totalFiles,
        s"pruned file count ($files1) must shrink below the layout's total ($totalFiles)")

      // three classes → exactly three directories: selected partitions
      // scale with the PROBES' classes, not the corpus
      val threeClasses = Seq(0L, 3L, 5L).flatMap(c =>
        allKeys.filter(k => java.lang.Math.floorMod(k, 8L) == c).take(8))
      val (scan3, rows3) = scanOf(frozen.prunedKeys(threeClasses).get)
      assert(rows3 == threeClasses.size.toLong)
      assert(scan3.selectedPartitions.partitionCount == 3,
        s"probes from 3 pfx classes must list 3 directories, " +
        s"got ${scan3.selectedPartitions.partitionCount}")

      // exactness across classes at >10 values: same rows as the cached
      // frozen keys filtered driver-side
      val mixed = allKeys.take(64).toSeq
      val got = frozen.prunedKeys(mixed).get.as[Long].collect().toSet
      assert(got == mixed.toSet, "pruned read must be bit-identical to the probe set")
    } finally frozen.release()
  }

  test("banded side file: bucket probes prune directories; pruned rows equal cached rows") {
    val dir = Files.createTempDirectory("sfp_banded").toString
    val frozen = CorpusPipeline.freezeCorpus(corpus(2000), cfg,
      withBanded = true, sideFileDir = Some(dir), sideFileMinRows = 0L,
      sideFilePartitions = 8)
    try {
      val (bnd, _) = frozen.banded.get
      val buckets = bnd.select("__bucket").distinct().as[Long].collect()
      val oneClass = buckets.filter(b => java.lang.Math.floorMod(b, 8L) == 2L)
        .take(32).toSeq
      val pruned = frozen.prunedBanded(oneClass).get
      val (scan, _) = scanOf(pruned)
      assert(scan.selectedPartitions.partitionCount == 1,
        s"one bucket class must touch one banded directory, " +
        s"got ${scan.selectedPartitions.partitionCount}")
      // schema and content parity with the cached banded frame
      assert(pruned.columns.sorted.toSeq == bnd.columns.sorted.toSeq,
        "the __pfx partition column must not leak into the pruned frame")
      val expect = bnd.filter(col("__bucket").isin(oneClass: _*))
        .select("__id", "__band", "__bucket").as[(Long, Int, Long)].collect().toSet
      val got = pruned.select("__id", "__band", "__bucket")
        .as[(Long, Int, Long)].collect().toSet
      assert(got == expect, "pruned banded rows must equal the cached frame's")
    } finally frozen.release()
  }

  test("banded probe reads fall back to the cached frame when the prune cannot win") {
    // r19 crossover measurement: ~15k uniform bucket probes (1000-doc
    // batches × 16 bands) read the ENTIRE banded side file — 994 MB/batch
    // at 4M docs, 1967 MB at 8M, i.e. O(corpus) disk IO per batch where
    // the resident cached frame serves the same join from memory. The
    // profitability gate must route large probe sets to the cached frame
    // (None) and keep the pruned read for probe sets small enough that
    // row-group pruning actually skips data.
    val dir = Files.createTempDirectory("sfp_profit").toString
    val frozen = CorpusPipeline.freezeCorpus(corpus(2000), cfg,
      withBanded = true, sideFileDir = Some(dir), sideFileMinRows = 0L,
      sideFilePartitions = 8)
    try {
      val (bnd, _) = frozen.banded.get
      val buckets = bnd.select("__bucket").distinct().as[Long].collect()
      // 2000 docs × 16 bands = 32k banded rows; break-even at ~10k rows
      // per probed row group → ≤3 probes profitable, 32 probes not
      assert(frozen.prunedBandedProfitable(buckets.take(2).toSeq).isDefined,
        "a probe set far under the row-group break-even must stay pruned")
      assert(frozen.prunedBandedProfitable(buckets.take(32).toSeq).isEmpty,
        "a probe set past the break-even must fall back to the cached frame")
    } finally frozen.release()
  }

  test("the break-even counts banded rows, not rows × bands, when docs lack a signature") {
    // 1900 of 2000 docs carry no text (the shape of an embeddings-only
    // share of a corpus): no signature, so no banded rows — text shorter
    // than one shingle still hashes as one shingle and is signed. 100
    // signed docs × 16 bands = 1600 banded rows, so even one probe (≈ one
    // 10k-row group) reads more than the whole side file
    val dir = Files.createTempDirectory("sfp_unsigned").toString
    val mixed = corpus(2000).withColumn("text",
      when(col("doc_id") < 1900L, lit(null).cast("string")).otherwise(col("text")))
    val frozen = CorpusPipeline.freezeCorpus(mixed, cfg,
      withBanded = true, sideFileDir = Some(dir), sideFileMinRows = 0L,
      sideFilePartitions = 8)
    try {
      val (bnd, _) = frozen.banded.get
      assert(frozen.rows == 2000L)
      assert(frozen.bandedRows == bnd.count(), "the freeze records the banded row count")
      assert(frozen.bandedRows == 100L * 16L)
      val bucket = bnd.select("__bucket").as[Long].head()
      assert(frozen.prunedBandedProfitable(Seq(bucket)).isEmpty,
        "one probe already reads past 1600 banded rows — the cached frame must serve it")
    } finally frozen.release()
  }

  test("thousands of probes survive and stay exact (native parquet In, no OR-chain)") {
    // regression guard for the r18 finding: with the default threshold,
    // >10 values push as parquet's NATIVE set-based In — raising
    // spark.sql.parquet.pushdown.inFilterThreshold instead routes the
    // probe set through a recursive OR-chain of equalities that
    // StackOverflowErrors around 2k values (hit at sf0.01). A 3000-probe
    // pruned read must execute and return exactly the probed keys.
    val key = "spark.sql.parquet.pushdown.inFilterThreshold"
    val dir = Files.createTempDirectory("sfp_large").toString
    val frozen = CorpusPipeline.freezeCorpus(corpus(4000), cfg,
      withBanded = false, sideFileDir = Some(dir), sideFileMinRows = 0L)
    try {
      assert(spark.conf.get(key).toInt <= 10,
        "the pruned reads must NOT touch the In pushdown threshold " +
        "(large sets already push as native parquet In; a raised " +
        "threshold forces the stack-overflowing OR-chain path)")
      val probes = frozen.keys.as[Long].collect().take(3000).toSeq
      val got = frozen.prunedKeys(probes).get.as[Long].collect()
      assert(got.length == 3000 && got.toSet == probes.toSet,
        "a 3000-value probe set must read back exactly, once each")
    } finally frozen.release()
  }

  test("auto partition count scales with corpus rows and floors at 8") {
    val dir = Files.createTempDirectory("sfp_auto").toString
    val frozen = CorpusPipeline.freezeCorpus(corpus(300), cfg,
      withBanded = false, sideFileDir = Some(dir), sideFileMinRows = 0L)
    try {
      val keyDirs = new java.io.File(dir + "/keys").listFiles
        .filter(_.isDirectory).map(_.getName).toSet
      assert(keyDirs.subsetOf((0 until 8).map(i => s"__pfx=$i").toSet) &&
        keyDirs.nonEmpty,
        s"auto layout below 4M rows must use the 8-partition floor, got $keyDirs")
      // admissions through the partitioned layout still work end to end
      val probes = frozen.keys.as[Long].collect().take(5).toSeq
      assert(frozen.prunedKeys(probes).get.count() == 5L)
    } finally frozen.release()
  }
}
