package bench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}

/** Spark side of the `query_mix` record (`bench/tools/make_record.py`
  * drives it and runs the DuckDB side): writes the mix's input tables, its
  * oracle SQL, and each query's row count, content hash and top-k pairs.
  *
  *   bench.Record <out-dir> <cores>
  */
object Record {
  def main(args: Array[String]): Unit = {
    val out = Paths.get(args(0))
    val cores = args.lift(1).getOrElse("4")
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val data = out.resolve("data").toString
    Tables.write(spark, QueryMix.DataSeed, data)
    val oracle = QueryMix.Queries.map(q => q -> SparkEntry.oracleSql(q))
    Files.write(out.resolve("oracle_sql.json"),
      Json.obj(oracle.map { case (q, sql) => q -> Json.str(sql) }).getBytes("UTF-8"))
    val lines = QueryMix.Queries.map { q =>
      val df = SparkEntry.queries(q)(spark, data)
      val rows = df.collect().toSeq
      val cols = df.columns.toSeq
      val pairs =
        if (QueryMix.RecallChecked.contains(q)) {
          val qi = cols.indexOf("query_id")
          val ci = cols.indexOf("corpus_id")
          rows.map(r => s"${r.getAs[Number](qi).longValue}:${r.getAs[Number](ci).longValue}")
            .mkString(",")
        } else ""
      QueryMix.resetState(spark)
      Seq(q, rows.size.toString, QueryRecord.frameHash(cols, rows), pairs).mkString("\t")
    }
    Files.write(out.resolve("spark.tsv"), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
