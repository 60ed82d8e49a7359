package graft.core

import graft.SparkSpec
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ListenerBridge

import scala.collection.mutable

class CheckpointsSpec extends SparkSpec {
  import spark.implicits._

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Job ends (job id → succeeded) and successful task counts per job of
    * everything `body` runs, read after the listener bus has drained.
    */
  private def jobsOf[T](body: => T): (T, Seq[(Int, Boolean)], Map[Int, Int]) = {
    val ends = mutable.ArrayBuffer.empty[(Int, Boolean)]
    val stageJob = mutable.Map.empty[Int, Int]
    val okTasks = mutable.Map.empty[Int, Int].withDefaultValue(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        e.stageIds.foreach(stageJob(_) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
        ends += (e.jobId -> (e.jobResult == JobSucceeded))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        if (e.taskInfo.successful) stageJob.get(e.stageId).foreach(j => okTasks(j) += 1)
      }
    }
    ListenerBridge.waitUntilListenerBusEmpty(spark)
    spark.sparkContext.addSparkListener(l)
    try {
      val out = body
      ListenerBridge.waitUntilListenerBusEmpty(spark)
      l.synchronized((out, ends.sortBy(_._1).toSeq, okTasks.toMap))
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def isLocal(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LocalRelation]

  /** A 4-partition frame with no shuffle: one job computes it. */
  private def fourParts = spark.range(0L, 400L, 1L, 4)
    .select(col("id").as("a"), (col("id") * 3L).as("b"))

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.as[(Long, Long)].collect().toSet

  test("localize returns identical rows as a driver-local relation and frees the blocks") {
    val before = persisted
    val df = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("a", "b")
    val local = Checkpoints.localize(df)
    assert(local.as[(Long, Long)].collect().toSet == Set((1L, 2L), (3L, 4L), (5L, 6L)))
    assert(persisted == before, "localize must not leave block-store state behind")
    assert(!local.queryExecution.analyzed.isInstanceOf[LogicalRDD],
      "small frames come back as a local relation, not a checkpoint")
  }

  test("localize falls back to a checkpoint above the driver-row bound") {
    val before = persisted
    val df = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("a", "b")
    val big = Checkpoints.localize(df, maxDriverRows = 1L)
    assert(big.as[(Long, Long)].collect().toSet == Set((1L, 2L), (3L, 4L), (5L, 6L)))
    assert((persisted -- before).size == 1, "above the bound the checkpoint is kept")
    Checkpoints.release(big)
    assert(persisted == before)
  }

  test("localize runs ONE job under its bound and leaves no persisted RDD") {
    val before = persisted
    val expect = rowsOf(fourParts)
    val (local, jobs, _) = jobsOf(Checkpoints.localize(fourParts))
    assert(jobs.map(_._2) == Seq(true), s"one bounded collect job expected, got $jobs")
    assert(isLocal(local), "small frames come back as a local relation")
    assert(rowsOf(local) == expect)
    assert(persisted == before, "the small path must not touch the block store")
  }

  test("localize of an empty frame is an empty local relation") {
    val local = Checkpoints.localize(fourParts.filter(col("a") < 0L))
    assert(isLocal(local))
    assert(local.count() == 0L)
    assert(local.columns.toSeq == Seq("a", "b"))
  }

  test("a bound below one partition, or between one partition and the total, checkpoints") {
    // 4 partitions of 100 rows: 50 trips inside the first partition's task,
    // 250 only once the driver has summed three partitions
    val expect = rowsOf(fourParts)
    Seq(50L, 250L).foreach { bound =>
      val before = persisted
      val big = Checkpoints.localize(fourParts, maxDriverRows = bound)
      assert(big.queryExecution.analyzed.isInstanceOf[LogicalRDD],
        s"bound $bound: an over-bound frame falls back to a checkpoint")
      assert(rowsOf(big) == expect, s"bound $bound: the checkpoint holds every row")
      assert((persisted -- before).size == 1)
      Checkpoints.release(big)
      assert(persisted == before, s"bound $bound: release frees the checkpoint")
    }
  }

  test("over the bound the collect job is cancelled, not run to the end") {
    // 64 partitions of 100 rows, each task slowed down; the driver passes
    // the 150-row bound after two partitions and cancels the rest
    val slow = udf((x: Long) => { if (x % 100L == 0L) Thread.sleep(40L); x })
    val df = spark.range(0L, 6400L, 1L, 64).select(slow(col("id")).as("a"))
    val before = persisted
    val (big, jobs, okTasks) = jobsOf(Checkpoints.localize(df, maxDriverRows = 150L))
    assert(jobs.size == 2, s"bounded collect + checkpoint expected, got $jobs")
    val (collectJob, collectOk) = jobs.head
    assert(!collectOk, "the over-bound collect job must end cancelled")
    assert(okTasks(collectJob) < 64,
      s"the cancelled collect must not run every task (${okTasks(collectJob)} of 64 did)")
    assert(jobs(1)._2, "the checkpoint fallback succeeds")
    assert(big.count() == 6400L)
    Checkpoints.release(big)
    assert(persisted == before)
  }

  test("a frame too wide for spark.driver.maxResultSize checkpoints instead of aborting") {
    // 40k rows of ~130 B (~5 MB) in 8 partitions, a 1 MB result limit and
    // a 10k-row bound: the row count is over the bound (so the checkpoint
    // path succeeds), but every partition's 5k rows are under it — a
    // collect that shipped them would pass 1 MB and abort the job
    val wide = spark.range(0L, 40000L, 1L, 8)
      .select(col("id"), repeat(lit("x"), 100).as("pad"))
    val before = persisted
    val big = org.apache.spark.DriverConfBridge.withConf(spark.sparkContext,
        "spark.driver.maxResultSize", "1m") {
      Checkpoints.localize(wide, maxDriverRows = 10000L)
    }
    assert(big.queryExecution.analyzed.isInstanceOf[LogicalRDD])
    assert(big.count() == 40000L)
    assert(big.agg(sum("id")).head().getLong(0) == 39999L * 40000L / 2L)
    Checkpoints.release(big)
    assert(persisted == before)
  }

  test("checkpointCounted counts in the checkpoint job and truncates lineage") {
    val before = persisted
    val ((cp, n), jobs, _) = jobsOf(Checkpoints.checkpointCounted(fourParts))
    assert(n == 400L)
    assert(jobs.map(_._2) == Seq(true), s"one job expected, got $jobs")
    assert(cp.queryExecution.analyzed.isInstanceOf[LogicalRDD])
    assert(rowsOf(cp) == rowsOf(fourParts))
    assert((persisted -- before).size == 1)
    Checkpoints.release(cp)
    assert(persisted == before)
  }

  test("a failing checkpointCounted job leaves no persisted RDD behind") {
    val boom = udf((x: Long) => { if (x == 123L) throw new IllegalStateException("boom"); x })
    val before = persisted
    intercept[Exception](Checkpoints.checkpointCounted(
      spark.range(0L, 400L, 1L, 4).select(boom(col("id")).as("a"))))
    assert(persisted == before, "the partly written checkpoint must be dropped")
  }

  test("release is a no-op on frames that are not checkpoints") {
    val df = Seq(1, 2, 3).toDF("x")
    Checkpoints.release(df) // must not throw
    assert(df.count() == 3)
  }
}
