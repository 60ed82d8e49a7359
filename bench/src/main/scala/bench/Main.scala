package bench

import org.apache.spark.sql.SparkSession

import java.nio.file.Paths

/** Benchmark entry point (started by `bench/run.py`, which builds the
  * classpath and owns the scratch directory).
  *
  *   --workload cdc_stream|ingest_frozen|query_mix  --seed N  --seconds S
  *   --trace 0|1  --cores C  --work-dir DIR  --bench-dir DIR  [--trace-out FILE]
  *
  * Prints progress lines and, last, one JSON object:
  * {"correct", "attempted", "failed", "metrics"}; the metrics are the
  * end-to-end set untraced and the per-layer set traced.
  */
object Main {

  /** The per-layer metrics of the traced run of every gated workload (the
    * `per_layer` list of BENCHMARK.json); a layer a workload never enters
    * reports 0. `query_mix` adds its `query.*` metrics.
    */
  val PerLayer: Seq[String] =
    OpLedger.SparkKeys.map("spark." + _) ++ Seq("spark.storage_peak_mb", "spark.listener_ms") ++
    Seq("stream.latest_offset_ms", "stream.query_planning_ms", "stream.add_batch_ms",
      "stream.wal_commit_ms",
      "source.rows_per_batch", "source.fetch_ms", "source.backlog_versions",
      "cdc.run_batch_ms", "cdc.merge_ms", "cdc.maintenance_ms",
      "watermark.set_ms", "watermark.lag_versions",
      "target.write_amplification", "target.files_per_commit", "target.snapshot_mb",
      "target.live_snapshots",
      "gate.steady_jobs", "gate.steady_tasks", "gate.steady_planning_ms",
      "gate.steady_driver_gap_ms", "gate.steady_input_mb", "gate.freeze_jobs",
      "gate.freeze_input_mb", "gate.freeze_output_mb", "gate.freeze_s", "gate.admit_ratio",
      "gate.expected_admit_ratio", "gate.storage_mb", "gate.corpus_files", "gate.freezes")

  private def unitOf(m: String): String = m match {
    case x if x.endsWith("_ms") => "ms"
    case x if x.endsWith("_mb") => "MB"
    case x if x.endsWith("_s") => "s"
    case x if x.endsWith("_ratio") || x.endsWith("amplification") => "ratio"
    case x if x.endsWith("_versions") => "versions"
    case "source.rows_per_batch" => "rows"
    case _ => "count"
  }

  private def say(s: String): Unit = { println(s"[bench] $s"); Console.out.flush() }

  def main(args: Array[String]): Unit = {
    val t00 = System.nanoTime()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val cores = opts.getOrElse("cores", "4").toInt
    val workDir = Paths.get(opts("work-dir"))
    val benchDir = Paths.get(opts("bench-dir"))
    opts.get("code-rev").foreach(r => say(s"code revision $r"))

    val wl: Workload = workload match {
      case "cdc_stream" => new CdcStream()
      case "ingest_frozen" => new IngestFrozen()
      case "query_mix" => new QueryMix(QueryRecord.load(benchDir.resolve("record/query_mix.tsv")))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"bench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val ctx = Ctx(spark, seed, cores, workDir, tracer)
    say(f"workload=$workload seed=$seed seconds=$seconds%.0f trace=${if (trace) 1 else 0} " +
      s"cores=$cores session_s=${f"${(System.nanoTime() - t00) / 1e9}%.2f"}")

    var exit = 0
    try {
      // set-up: the repeatable part runs three times, the median counts
      val reps = (0 until 3).map { r =>
        val t0 = System.nanoTime(); wl.prepare(ctx, r); (System.nanoTime() - t0) / 1e9
      }
      val w0 = System.nanoTime()
      wl.warmup(ctx)
      val warmS = (System.nanoTime() - w0) / 1e9
      val setupS = (System.nanoTime() - t00) / 1e9 - reps.sum + Stats.median(reps)
      say(f"setup_s=$setupS%.3f prepare=[${reps.map(r => f"$r%.2f").mkString(" ")}] warmup=$warmS%.2f")

      // timed: whole cycles until the budget is spent
      val samples = scala.collection.mutable.ArrayBuffer.empty[OpSample]
      val t0 = System.nanoTime()
      do {
        (0 until wl.cycle).foreach { _ =>
          val s = wl.op(ctx, samples.size, new Clock(ctx))
          samples += s
          say(f"op ${samples.size}%3d ${s.name}%-32s ${s.seconds}%8.3f s${if (s.ok) "" else "  FAILED"}")
        }
      } while ((System.nanoTime() - t0) / 1e9 < seconds)

      val checks = wl.verify(ctx, samples.toSeq) ++ wl.selfTest(ctx)
      checks.foreach(c => say(s"CHECK FAILED: $c"))
      val attempted = samples.size
      val failed = math.min(attempted, samples.count(!_.ok) + checks.size)

      val secs = samples.map(_.seconds).toSeq
      val e2e = Map(
        "setup_s" -> setupS,
        "op_p50_s" -> Stats.median(secs),
        "rows_per_s" -> samples.map(_.rows).sum / secs.sum) ++ wl.endToEnd(samples.toSeq)
      val metrics: Seq[(String, Double, String)] = tracer match {
        case None => wl.endToEndNames.map { case (m, u) => (m, e2e(m), u) }
        case Some(t) =>
          wl.endToEndNames.foreach { case (m, u) => say(f"traced $m=${e2e(m)}%.6f $u") }
          val ledgers = samples.flatMap(_.ledger).toSeq
          val spark0 = OpLedger.SparkKeys.map(k => s"spark.$k" -> Stats.mean(ledgers.map(_.get(k)))).toMap ++
            Map("spark.storage_peak_mb" -> (if (ledgers.isEmpty) 0.0 else ledgers.map(_.storagePeakMb).max),
              "spark.listener_ms" -> t.listenerMs / math.max(1, samples.size))
          val layer = spark0 ++ wl.layers(ctx, samples.toSeq)
          val names = PerLayer ++ wl.extraLayers
          val missing = names.filterNot(layer.contains)
          if (missing.nonEmpty) say(s"layers not entered by $workload (reported as 0): ${missing.mkString(" ")}")
          val opIds = samples.indices.map(_.toLong).toSet
          t.selfTimes(opIds).foreach { case (level, self, n) =>
            say(f"self time $level%-6s spans=$n%5d self_ms=$self%10.1f") }
          val out = opts.get("trace-out").map(Paths.get(_))
          out.foreach { p => t.writeSpans(p); say(s"spans written to $p") }
          names.map(m => (m, layer.getOrElse(m, 0.0), unitOf(m)))
      }
      tracer.foreach(_.close())
      val json = Json.obj(Seq(
        "correct" -> (if (failed == 0) "true" else "false"),
        "attempted" -> attempted.toString,
        "failed" -> failed.toString,
        "metrics" -> Json.obj(metrics.map { case (m, v, u) =>
          m -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })))
      println(json)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        exit = 1
    } finally {
      try wl.close(ctx) catch { case _: Throwable => () }
      spark.stop()
    }
    System.exit(exit)
  }
}
