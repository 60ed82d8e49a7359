package bench

import graft.SparkEntry
import org.apache.spark.sql.Row

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}

/** `query_mix`: `SparkEntry` queries one at a time, each timed into a noop
  * sink with cached and checkpointed state reset off the clock. A cycle is
  * one pass over the mix, in an order the seed shuffles. The input tables
  * are fixed (data seed [[QueryMix.DataSeed]]), so that the results can be
  * checked against a record that was cross-checked against
  * `SparkEntry.oracleSql` in DuckDB (`bench/tools/make_record.py`).
  */
final class QueryMix(record: QueryRecord) extends Workload {
  val name = "query_mix"
  val queries: Seq[String] = QueryMix.Queries
  val cycle: Int = queries.size

  private var dataDir: String = _
  private var order: IndexedSeq[String] = _
  private val checkFailures = scala.collection.mutable.ArrayBuffer.empty[String]

  def prepare(ctx: Ctx, rep: Int): Unit = {
    if (dataDir != null) Files2.deleteTree(java.nio.file.Paths.get(dataDir))
    dataDir = ctx.dir(s"tables_$rep")
    Tables.write(ctx.spark, QueryMix.DataSeed, dataDir)
  }

  /** One cold pass, results collected and checked against the record. */
  def warmup(ctx: Ctx): Unit = {
    order = new scala.util.Random(ctx.seed).shuffle(queries).toIndexedSeq
    order.foreach { q =>
      val df = SparkEntry.queries(q)(ctx.spark, dataDir)
      checkFailures ++= record.check(q, df.columns.toSeq, df.collect().toSeq)
      QueryMix.resetState(ctx.spark)
    }
  }

  def op(ctx: Ctx, i: Int, clock: Clock): OpSample = {
    val q = order(i % order.size)
    val ok =
      try {
        clock(q) {
          def run(): Unit = SparkEntry.queries(q)(ctx.spark, dataDir)
            .write.format("noop").mode("overwrite").save()
          ctx.tracer match {
            case Some(t) => t.call(s"SparkEntry.queries($q)")(run())
            case None => run()
          }
        }
        true
      } catch {
        case e: Exception =>
          System.err.println(s"[bench] $q failed: $e")
          false
      }
    QueryMix.resetState(ctx.spark)
    OpSample(q, clock.seconds, ok, 0.0, clock.ledger)
  }

  def verify(ctx: Ctx, samples: Seq[OpSample]): Seq[String] = checkFailures.toSeq

  override def endToEndNames: Seq[(String, String)] =
    Seq("setup_s" -> "s", "op_p50_s" -> "s", "op_geomean_s" -> "s")

  /** Per-query medians, then their geometric mean. */
  override def endToEnd(samples: Seq[OpSample]): Map[String, Double] = Map(
    "op_geomean_s" -> Stats.geomean(samples.groupBy(_.name).values
      .map(ss => Stats.median(ss.map(_.seconds))).toSeq))

  override def extraLayers: Seq[String] =
    QueryMix.Domains.map(_._1).flatMap(d => Seq(s"query.${d}_s", s"query.${d}_tasks"))

  def layers(ctx: Ctx, samples: Seq[OpSample]): Map[String, Double] =
    QueryMix.Domains.flatMap { case (d, qs) =>
      val ss = samples.filter(s => qs.contains(s.name))
      val rounds = math.max(1, ss.size / math.max(1, qs.size))
      Seq(s"query.${d}_s" -> ss.map(_.seconds).sum / rounds,
        s"query.${d}_tasks" -> ss.flatMap(_.ledger).map(_.tasks.toDouble).sum / rounds)
    }.toMap

  def selfTest(ctx: Ctx): Seq[String] = {
    val a = Tables.signature(QueryMix.DataSeed, "customer")
    val b = Tables.signature(QueryMix.DataSeed, "customer")
    val c = Tables.signature(QueryMix.DataSeed + 1, "customer")
    def shuffled(s: Long) = new scala.util.Random(s).shuffle(queries)
    Seq(
      if (a != b) Some("table generator: same seed gave different rows") else None,
      if (a._2 == c._2 || a._1 != c._1) Some("table generator: another seed gave identical rows or another size") else None,
      if (shuffled(ctx.seed) != shuffled(ctx.seed)) Some("query order: same seed, different order") else None
    ).flatten
  }
}

object QueryMix {
  val DataSeed = 42L

  /** Query → domain. Two queries or fewer per domain, chosen from the
    * heaviest per domain and the ones the roadmap's FanOut and
    * `localCheckpoint` items name, trimmed to fit one pass in a run.
    */
  val Domains: Seq[(String, Seq[String])] = Seq(
    "tpch_events" -> Seq("q_top_customers_per_segment", "graph_pagerank"),
    "cdc_merge" -> Seq("s1_merge_key_hex"),
    "dedup" -> Seq("dedup_winnow"),
    "text_doc" -> Seq("doc_strip_boilerplate"),
    "ingest" -> Seq("corpus_prepare_incremental"),
    "ann_vector" -> Seq("ann_ivfpq_exhaustive", "ann_ivf_exhaustive"),
    "multimodal" -> Seq("mm_audio_features"))
  val Queries: Seq[String] = Domains.flatMap(_._2)
  /** Approximate-by-construction rows, checked by recall against the oracle. */
  val RecallChecked: Set[String] = Set("ann_ivfpq_exhaustive", "ann_ivf_exhaustive")

  /** Drop cached frames, persisted RDDs (localCheckpoint blocks included)
    * and let the context cleaner release broadcasts, as `graft.Bench` does
    * between queries.
    */
  def resetState(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
    System.gc()
  }
}

/** The checked results of the mix: per query the row count and the
  * canonical content hash of `scripts/local_gate.py` (cells rendered as
  * Python renders them, floats to 9 significant digits, lines sorted), and
  * for the approximate rows the oracle's top-k pairs and a recall floor.
  */
final case class QueryRecord(rows: Map[String, Long], hashes: Map[String, String],
                             topk: Map[String, Set[(Long, Long)]], recallFloor: Double) {

  def check(q: String, cols: Seq[String], result: Seq[Row]): Seq[String] =
    if (QueryMix.RecallChecked.contains(q)) {
      val want = topk.getOrElse(q, Set.empty)
      val qi = cols.indexOf("query_id")
      val ci = cols.indexOf("corpus_id")
      val got = result.map(r => (r.getAs[Number](qi).longValue, r.getAs[Number](ci).longValue)).toSet
      val recall = if (want.isEmpty) 0.0 else (got & want).size.toDouble / want.size
      if (recall + 1e-9 < recallFloor) Seq(f"$q recall $recall%.3f below $recallFloor%.2f") else Nil
    } else {
      val h = QueryRecord.frameHash(cols, result)
      Seq(
        if (!rows.get(q).contains(result.size.toLong))
          Some(s"$q returned ${result.size} rows, record ${rows.getOrElse(q, -1L)}") else None,
        if (!hashes.get(q).contains(h)) Some(s"$q content hash differs from the record") else None
      ).flatten
    }
}

object QueryRecord {
  /** Parse the record: tab-separated lines `query rows <n> <hash>` and
    * `query topk <query_id>:<corpus_id>,...`, plus one `recall_floor <x>`.
    */
  def load(path: java.nio.file.Path): QueryRecord = {
    val lines = scala.io.Source.fromFile(path.toFile, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\t")).toSeq
    val rows = lines.collect { case Array(q, "rows", n, _) => q -> n.toLong }.toMap
    val hashes = lines.collect { case Array(q, "rows", _, h) => q -> h }.toMap
    val topk = lines.collect { case Array(q, "topk", ps) =>
      q -> ps.split(",").map { p => val Array(a, b) = p.split(":"); (a.toLong, b.toLong) }.toSet
    }.toMap
    val floor = lines.collectFirst { case Array("recall_floor", x) => x.toDouble }.getOrElse(0.9)
    QueryRecord(rows, hashes, topk, floor)
  }

  /** `format(x, ".9g")` as Python renders it. */
  def pyG9(x: Double): String = {
    if (x.isNaN) return "nan"
    if (x.isInfinite) return if (x > 0) "inf" else "-inf"
    if (x == 0.0) return if (1.0 / x < 0) "-0" else "0"
    val bd = new JBigDecimal(x).round(new MathContext(9, RoundingMode.HALF_EVEN))
    val exp = bd.precision - bd.scale - 1
    def strip(s: String) =
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse else s
    if (exp >= -4 && exp < 9) strip(bd.setScale(math.max(0, 8 - exp), RoundingMode.HALF_EVEN).toPlainString)
    else {
      val mant = strip(bd.movePointLeft(exp).setScale(8, RoundingMode.HALF_EVEN).toPlainString)
      val e = math.abs(exp)
      s"${mant}e${if (exp < 0) "-" else "+"}${if (e < 10) "0" + e else e.toString}"
    }
  }

  private def pyDateTime(t: java.time.LocalDateTime): String = {
    val base = f"${t.getYear}%04d-${t.getMonthValue}%02d-${t.getDayOfMonth}%02d " +
      f"${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d"
    val us = t.getNano / 1000
    if (us == 0) base else base + f".$us%06d"
  }

  /** A cell rendered as `local_gate.canon` renders the Python value. */
  def canon(v: Any): String = v match {
    case null => ""
    case d: Double => pyG9(d)
    case f: Float => pyG9(f.toDouble)
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case b: Boolean => if (b) "True" else "False"
    case t: java.time.LocalDateTime => pyDateTime(t)
    case t: java.sql.Timestamp => pyDateTime(t.toLocalDateTime) + "+00:00"
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case d: JBigDecimal => d.toPlainString
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case o => o.toString
  }

  def frameHash(cols: Seq[String], rows: Seq[Row]): String = {
    val order = cols.indices.sortBy(cols(_))
    val lines = rows.map(r => order.map(i => canon(r.get(i))).mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { ln => md.update(ln.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
