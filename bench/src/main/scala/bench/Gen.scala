package bench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import java.time.LocalDateTime

/** Seeded, stateless value hashing shared by the generators: every value
  * is a pure function of (seed, coordinates), so any slice of any input
  * can be regenerated anywhere (driver, executor, expected-result fold)
  * without coordination.
  */
object Mix {
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def h(seed: Long, a: Long, b: Long = 0L, c: Long = 0L): Long =
    mix64(mix64(mix64(seed ^ 0x5DEECE66DL) ^ a) * 31 + mix64(b) * 17 + c)
  /** uniform in [0, n) */
  def below(x: Long, n: Long): Long = java.lang.Long.remainderUnsigned(x, n)
  def unit(x: Long): Double = (x >>> 11) * (1.0 / (1L << 53))
}

/** The `cdc_stream` change feed: an MSSQL change-tracking table with the
  * FIXTURES §1 schema plus one column `f` that the source starts sending
  * after the initial load (the target gains it by schema evolution).
  *
  * Version v (v ≥ 1) is one transaction of `rowsPerVersion` slots. A slot
  * is an update of a Zipf-skewed existing key, an insert of a fresh key or
  * a `'D'` delete of a Zipf-skewed key; stale replays (verbatim copies of
  * rows earlier versions emitted) ride along. A key appears at most once per
  * version, as change tracking reports it; hot keys appear in many versions
  * of one micro-batch.
  */
final class CdcGen(val seed: Long, val initialKeys: Int, val rowsPerVersion: Int,
                   val valuesOfFFrom: Long) extends Serializable {
  import CdcGen._

  private def zipfKey(x: Long): Int = {
    // log-uniform rank over [1, initialKeys]: P(rank ≤ r) ∝ log r (Zipf s=1)
    val r = math.exp(Mix.unit(x) * math.log(initialKeys.toDouble)).toInt
    math.min(initialKeys - 1, math.max(0, r - 1))
  }

  private def values(key: Int, v: Long, x: Long, op: String): Row = {
    def hx(i: Int) = Mix.h(seed, x, i)
    val live = op != "D"
    val bytes = Array.tabulate[Byte](16)(i => (hx(10 + i / 8) >>> ((i % 8) * 8)).toByte)
    Row(key, v, op,
      if (live) Mix.below(hx(1), 1000000L).toInt else null,
      if (live) java.math.BigDecimal.valueOf(Mix.below(hx(2), 1000000000000L), 6) else null,
      if (live) bytes else null,
      if (live) Base.plusSeconds(Mix.below(hx(3), 86400L * 365)) else null,
      if (live) Mix.below(hx(4), 1000L).toInt else null,
      if (live) java.lang.Float.valueOf((Mix.below(hx(5), 1000000L) / 1000.0).toFloat) else null,
      v, mergeKey(key),
      if (live && v >= valuesOfFFrom) "f" + Mix.below(hx(6), 100000L) else null)
  }

  /** The first-draw row of slot j of version v (never a replay). */
  private def primary(v: Long, j: Int): Row = {
    val x = Mix.h(seed, v, j)
    Mix.below(x, 100L) match {
      case k if k < 10 => values(initialKeys + ((v - 1) * rowsPerVersion + j).toInt, v, x, "I")
      case k if k < 18 => values(zipfKey(Mix.h(seed, x, 99)), v, x, "D")
      case _ => values(zipfKey(Mix.h(seed, x, 99)), v, x, "U")
    }
  }

  /** First-draw rows of version v, first occurrence of each key kept. */
  private def primaries(v: Long): IndexedSeq[Row] = {
    val seen = scala.collection.mutable.HashSet.empty[Int]
    (0 until rowsPerVersion).map(primary(v, _)).filter(r => seen.add(r.getInt(0)))
  }

  /** Rows version v emits: its first-draw rows, then about one stale
    * replay per 20 slots — a verbatim copy of a row that one of the
    * previous 40 versions emitted, carrying its original version.
    */
  def versionRows(v: Long): IndexedSeq[Row] = {
    val prim = primaries(v)
    val seen = scala.collection.mutable.HashSet.empty[Int]
    prim.foreach(r => seen.add(r.getInt(0)))
    val replays =
      if (v <= 1) IndexedSeq.empty
      else (0 until rowsPerVersion / 20).flatMap { j =>
        val x = Mix.h(seed, v, j, 7)
        val u = v - 1 - Mix.below(Mix.h(seed, x, 1), math.min(v - 1, 40L))
        val prior = primaries(u)
        val r = prior(Mix.below(Mix.h(seed, x, 2), prior.size.toLong).toInt)
        if (seen.add(r.getInt(0))) Some(r) else None
      }
    prim ++ replays
  }

  /** The initial load: every key 0..initialKeys-1 inserted at version 0,
    * in the base schema (no `f`).
    */
  def initialRow(key: Int): Row = {
    val r = values(key, 0L, Mix.h(seed, -1L, key), "I")
    Row.fromSeq(r.toSeq.dropRight(1))
  }
}

object CdcGen {
  private val Base = LocalDateTime.of(2024, 1, 1, 0, 0)

  val baseSchema: StructType = StructType(Seq(
    StructField("x", IntegerType, nullable = false),
    StructField("SYS_CHANGE_VERSION", LongType),
    StructField("SYS_CHANGE_OPERATION", StringType),
    StructField("y", IntegerType),
    StructField("z", DecimalType(30, 6)),
    StructField("a", BinaryType),
    StructField("b", TimestampNTZType),
    StructField("cd", IntegerType),
    StructField("e", FloatType),
    StructField("ChangeTrackingVersion", LongType),
    StructField("ARCANE_MERGE_KEY", StringType)))
  val streamSchema: StructType = baseSchema.add(StructField("f", StringType))

  /** Lower-hex SHA-256 of the primary key, as the change query emits it. */
  def mergeKey(key: Int): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(key.toString.getBytes("UTF-8"))
    d.map(b => f"${b & 0xff}%02x").mkString
  }

  /** Order-insensitive digest of a set of rows in the stream schema: the
    * sum of a 64-bit hash of each row's canonical text.
    */
  def canonical(r: Row): String = (0 until r.length).map { i =>
    r.get(i) match {
      case null => "∅"
      case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
      case d: java.math.BigDecimal => d.setScale(6).toPlainString
      case o => o.toString
    }
  }.mkString("|")

  def rowHash(r: Row): Long = {
    val s = canonical(r)
    val a = scala.util.hashing.MurmurHash3.stringHash(s, 0x1234)
    val b = scala.util.hashing.MurmurHash3.stringHash(s, 0x4321)
    (a.toLong << 32) ^ (b.toLong & 0xffffffffL)
  }
}

/** The engine-free fold of the change log: what the target must hold after
  * the initial load and every merged batch. Semantics follow the MSSQL
  * change-tracking merge contract: per batch keep each key's highest
  * version; a delete removes the key whatever its version; any other row
  * replaces the target row only when the key is absent or the row is newer.
  */
final class CdcFold(gen: CdcGen) {
  private val state = new java.util.HashMap[Int, Row]()
  (0 until gen.initialKeys).foreach { k =>
    state.put(k, Row.fromSeq(gen.initialRow(k).toSeq :+ null))
  }

  def applyBatch(fromExclusive: Long, toInclusive: Long): Unit = {
    val latest = new java.util.HashMap[Int, Row]()
    (fromExclusive + 1 to toInclusive).foreach { v =>
      gen.versionRows(v).foreach { r =>
        val k = r.getInt(0)
        val cur = latest.get(k)
        if (cur == null || r.getLong(1) > cur.getLong(1)) latest.put(k, r)
      }
    }
    latest.forEach { (k, r) =>
      if (r.getString(2) == "D") state.remove(k)
      else {
        val t = state.get(k)
        if (t == null || r.getLong(1) > t.getLong(1)) state.put(k, r)
      }
    }
  }

  def rows: Int = state.size
  def digest: Long = {
    var d = 0L
    state.values().forEach(r => d += CdcGen.rowHash(r))
    d
  }
}

/** The `ingest_frozen` corpus and batches, in the FrozenGate crossover
  * shape: every document is 40 pseudo-words drawn from a seeded hash, so
  * distinct documents share no 5-shingle. Batch rows are fresh documents,
  * except that 1 in 20 is an exact copy of a corpus document's text and 1
  * in 25 of the rest is a near copy (corpus text plus a short suffix,
  * Jaccard ≈ 0.88 over 5-shingles). The gate must reject exactly those.
  */
final class DocGen(val seed: Long, val corpusRows: Long, val batchRows: Int) extends Serializable {
  def text(docKey: Long): String =
    (0 until 40).map(k => java.lang.Long.toHexString(Mix.h(seed, docKey, k, 3))).mkString(" ")

  def batchId(batch: Int, j: Int): Long = corpusRows * 2 + 10000000L + batch.toLong * batchRows + j
  def isExact(id: Long): Boolean = Mix.below(Mix.h(seed, id, 1, 5), 20L) == 0L
  def isNear(id: Long): Boolean = !isExact(id) && Mix.below(Mix.h(seed, id, 2, 5), 25L) == 1L
  private def corpusDocOf(id: Long): Long = Mix.below(Mix.h(seed, id, 3, 5), corpusRows)

  def corpusRow(id: Long): Row = Row(id, text(id), "web", "train")
  def batchRow(batch: Int, j: Int): Row = {
    val id = batchId(batch, j)
    val t =
      if (isExact(id)) text(corpusDocOf(id))
      else if (isNear(id)) text(corpusDocOf(id)) + " extra trailing suffix words appended"
      else text(id)
    Row(id, t, "web")
  }

  /** What the gate must admit from batch `batch`. */
  def expectedAdmitted(batch: Int): Long =
    (0 until batchRows).count { j => val id = batchId(batch, j); !isExact(id) && !isNear(id) }.toLong
}

object DocGen {
  val corpusSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("text", StringType),
    StructField("source", StringType), StructField("split", StringType)))
  val batchSchema: StructType = StructType(corpusSchema.fields.take(3))
}
