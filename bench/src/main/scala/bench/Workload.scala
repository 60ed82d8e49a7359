package bench

import org.apache.spark.sql.SparkSession

/** What one run knows: the session, its seed, the cores Spark runs on, a
  * scratch directory that the runner deletes at exit, and the tracer when
  * traced.
  */
final case class Ctx(spark: SparkSession, seed: Long, cores: Int,
                     workDir: java.nio.file.Path, tracer: Option[Tracer]) {
  def dir(name: String): String = {
    val d = workDir.resolve(name)
    java.nio.file.Files.createDirectories(d)
    d.toString
  }
}

/** One timed op: its clocked seconds, the input rows it handled, and
  * whether its own check passed.
  */
final case class OpSample(name: String, seconds: Double, ok: Boolean, rows: Double,
                          ledger: Option[OpLedger], layer: Map[String, Double] = Map.empty)

/** A closed-loop workload. The runner times `prepare` (repeated; the median
  * repetition counts in `setup_s`) and `warmup`, then runs whole cycles of
  * `cycle` ops until the time budget is spent. `op` returns the clocked part
  * through `clock`; everything else it does is off the clock.
  */
trait Workload {
  def name: String
  /** Ops per cycle: the workload's natural period, so every run measures
    * the same mix of ordinary and periodic (maintenance, refresh) ops.
    */
  def cycle: Int
  def prepare(ctx: Ctx, rep: Int): Unit
  def warmup(ctx: Ctx): Unit
  /** Run op `i`; `clock` wraps exactly the part that is measured. */
  def op(ctx: Ctx, i: Int, clock: Clock): OpSample
  /** Final checks; one description per failed check. */
  def verify(ctx: Ctx, samples: Seq[OpSample]): Seq[String]
  /** The generator's self-test: the same seed must regenerate identical
    * inputs, another seed different inputs of the same size.
    */
  def selfTest(ctx: Ctx): Seq[String]
  /** The end-to-end metrics this workload reports, by name and unit. */
  def endToEndNames: Seq[(String, String)] =
    Seq("setup_s" -> "s", "op_p50_s" -> "s", "rows_per_s" -> "rows/s")
  /** End-to-end metrics beyond the runner's own. */
  def endToEnd(samples: Seq[OpSample]): Map[String, Double] = Map.empty
  /** Per-layer metrics of this workload (the runner adds `spark.*`). */
  def layers(ctx: Ctx, samples: Seq[OpSample]): Map[String, Double]
  /** Per-layer metrics only this workload reports. */
  def extraLayers: Seq[String] = Nil
  def close(ctx: Ctx): Unit = ()
}

/** Times one region of an op and ties it to the tracer's op span. */
final class Clock(ctx: Ctx) {
  var seconds: Double = Double.NaN
  var ledger: Option[OpLedger] = None
  def apply[T](name: String)(f: => T): T = {
    val op = ctx.tracer.map(_.begin())
    val w0 = System.currentTimeMillis().toDouble
    val t0 = System.nanoTime()
    try f
    finally {
      seconds = (System.nanoTime() - t0) / 1e9
      val w1 = w0 + seconds * 1000
      ledger = for (t <- ctx.tracer; o <- op) yield t.end(o, name, w0, w1)
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Files2 {
  import java.nio.file.{Files, Path}
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }
  /** (files, bytes) of the parquet data files under `p`. */
  def parquetFiles(p: Path): (Int, Long) = if (!Files.exists(p)) (0, 0L) else {
    val s = Files.walk(p)
    try {
      val fs = s.filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
        .toArray.map(_.asInstanceOf[Path])
      (fs.length, fs.map(f => Files.size(f)).sum)
    } finally s.close()
  }
}
