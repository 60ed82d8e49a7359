package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.ExecutionBridge

/** Materialization primitives for the small scratch frames iterative and
  * funnel operators emit, each ONE tracked SQL execution (the wrapper every
  * Dataset action runs in, so query listeners and planning-time trackers
  * see it like any collect):
  *
  *   - [[localize]] brings a small frame to the driver in one bounded
  *     collect job and returns it as a driver-local relation — zero
  *     block-store footprint, broadcast-joinable downstream. Only above its
  *     row guard does it fall back to a checkpoint.
  *   - [[collectBounded]] is that bounded collect on its own, for callers
  *     that read the rows on the driver (probe sets, occupancy counts).
  *   - [[checkpointCounted]] is an eager `localCheckpoint` that returns the
  *     row count of the same job — the checkpoint+`count()` pair in one job.
  *   - [[release]] drops the blocks behind a checkpointed frame once every
  *     consumer has materialized (after which the frame must NOT be
  *     recomputed — its lineage is gone).
  *
  * `localCheckpoint` blocks live until the RDD is garbage collected, which
  * in a long-lived session effectively means "forever", so every checkpoint
  * these helpers hand out must be released by its owner. At cluster scale
  * `localCheckpoint` blocks also die with their executor (no replication),
  * so frames that must survive node churn should use reliable
  * `checkpoint()` to a checkpoint dir instead; these helpers are for the
  * intra-operator scratch frames where the checkpoint is only a
  * lineage-truncation device.
  */
object Checkpoints {

  /** Release the block-store blocks behind a `localCheckpoint()`ed frame.
    * No-op for frames that are not checkpoint results. After this call the
    * frame cannot be recomputed (lineage was truncated when it was
    * checkpointed), so call it only once every consumer has materialized.
    */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case l: LogicalRDD => l.rdd.unpersist(blocking = false)
    case _ => ()
  }

  /** Materialize `df` eagerly and return it with no cluster-side state: if
    * it has at most `maxDriverRows` rows it comes back as a driver-local
    * relation (broadcastable, zero block-store footprint) from ONE bounded
    * collect job; above the bound the collect stops early and the frame is
    * returned as a [[checkpointCounted]] checkpoint — bounded, documented
    * leak in preference to an unbounded driver collect, released by the
    * caller through [[release]].
    *
    * Meant for the "small survivor set" frames iterative/funnel operators
    * emit (near-dup pairs, dropped-id sets): ∝ findings, not corpus, so the
    * bound is a guard rail rather than the expected path.
    */
  def localize(df: DataFrame, maxDriverRows: Long = 1L << 22): DataFrame =
    boundedRows(df, maxDriverRows, "localize") match {
      case Some(rows) => ExecutionBridge.ofLocalRows(df.sparkSession, df.schema, rows)
      case None => checkpointCounted(df)._1
    }

  /** Whether `df` has no rows: read off the rows of a [[localize]]d
    * (driver-local) frame with no job and no execution; any other frame
    * runs `Dataset.isEmpty`.
    */
  def isEmpty(df: DataFrame): Boolean = df.queryExecution.analyzed match {
    case l: LocalRelation => l.data.isEmpty
    case _ => df.isEmpty
  }

  /** `df`'s rows on the driver from ONE job when there are at most
    * `maxRows` of them, else None. Above the bound no task ships more than
    * the bound, the driver drops what it holds as soon as the total passes
    * it and cancels the job, so an oversized frame costs at most about one
    * bound of driver rows. Tasks also keep the job's total result bytes
    * under half of `spark.driver.maxResultSize`: a frame too wide to
    * collect answers None instead of aborting the job.
    */
  def collectBounded(df: DataFrame, maxRows: Long): Option[IndexedSeq[InternalRow]] =
    boundedRows(df, maxRows, "collectBounded")

  /** Eager `localCheckpoint` of `df` plus its row count, from ONE job: the
    * job that fills the checkpoint blocks counts them on the way (a
    * `localCheckpoint()` followed by `count()` runs the checkpoint job and
    * then a second, shuffling count over the blocks). Lineage is truncated
    * when the job ends, as with `localCheckpoint()`; if the job fails, the
    * blocks it already wrote are dropped before the failure propagates.
    * Release the frame with [[release]].
    */
  def checkpointCounted(df: DataFrame): (DataFrame, Long) =
    ExecutionBridge.withAction(df, "localCheckpoint") { plan =>
      val rdd = plan.execute().map(_.copy())
      rdd.localCheckpoint()
      // SparkContext.runJob checkpoints the RDD once its job has ended —
      // every partition is already cached, so that adds no job
      val n = try rdd.count() catch {
        case t: Throwable => rdd.unpersist(blocking = false); throw t
      }
      (ExecutionBridge.ofRdd(df, rdd), n)
    }

  /** One partition's rows as length-prefixed UnsafeRow bytes, or null once
    * the partition passes `maxRows` rows or `maxBytes` bytes.
    */
  private def encodePartition(it: Iterator[InternalRow], maxRows: Long,
                              maxBytes: Long): (Long, Array[Byte]) = {
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bytes)
    val buffer = new Array[Byte](4096)
    var n = 0L
    while (it.hasNext) {
      val row = it.next().asInstanceOf[UnsafeRow]
      n += 1
      if (n > maxRows || bytes.size + 4L + row.getSizeInBytes > maxBytes) return null
      out.writeInt(row.getSizeInBytes)
      row.writeToStream(out, buffer)
    }
    out.flush()
    (n, bytes.toByteArray)
  }

  private def decodePartition(n: Long, bytes: Array[Byte], numFields: Int,
                              into: scala.collection.mutable.ArrayBuffer[InternalRow]): Unit = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    var i = 0L
    while (i < n) {
      val b = new Array[Byte](in.readInt())
      in.readFully(b)
      val row = new UnsafeRow(numFields)
      row.pointTo(b, b.length)
      into += row
      i += 1
    }
  }

  /** The bounded collect behind [[localize]] and [[collectBounded]]: one
    * job in one SQL execution named `name`.
    */
  private def boundedRows(df: DataFrame, maxRows: Long,
                          name: String): Option[IndexedSeq[InternalRow]] =
    ExecutionBridge.withAction(df, name) { plan =>
      val rdd = plan.execute()
      val numFields = plan.output.length
      val sc = rdd.sparkContext
      val resultLimit = sc.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
      val parts = rdd.getNumPartitions
      val perTaskBytes =
        if (resultLimit <= 0L) Long.MaxValue else resultLimit / (2L * math.max(1, parts))
      val results = new Array[(Long, Array[Byte])](parts)
      val state = new Object
      var held = 0L
      var over = false
      var job: org.apache.spark.SimpleFutureAction[Unit] = null
      val submitted = sc.submitJob[InternalRow, (Long, Array[Byte]), Unit](rdd,
        (it: Iterator[InternalRow]) => encodePartition(it, maxRows, perTaskBytes),
        0 until parts,
        (i: Int, r: (Long, Array[Byte])) => state.synchronized {
          if (!over) {
            if (r == null || held + r._1 > maxRows) {
              over = true
              results.indices.foreach(results(_) = null)
              if (job != null) job.cancel()
            } else {
              results(i) = r
              held += r._1
            }
          }
        },
        ())
      state.synchronized { job = submitted; if (over) submitted.cancel() }
      scala.concurrent.Await.ready(submitted, scala.concurrent.duration.Duration.Inf)
      if (state.synchronized(over)) None
      else {
        submitted.value.get.get // rethrows the job's failure
        val rows = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
        results.foreach(r => if (r != null) decodePartition(r._1, r._2, numFields, rows))
        Some(rows.toIndexedSeq)
      }
    }
}
