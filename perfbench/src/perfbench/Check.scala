package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Reads a job's written reports back and compares them with the oracle.
  * Returns one message per disagreement; empty means the job is correct.
  */
object Check {
  def apply(spark: SparkSession, jobDir: Path, expects: Seq[Expect]): Seq[String] = {
    def read(report: String) = spark.read.parquet(jobDir.resolve(report).toString)
    val errors = Seq.newBuilder[String]
    def same(what: String, got: Any, want: Any): Unit =
      if (got != want) errors += s"$what: got $got, want $want"

    val overall = read("overall_test_report").collect()
      .map(r => r.getAs[String]("dataset_name") -> r).toMap
    val colLvl = read("col_lvl_test_report").collect()
      .map(r => (r.getAs[String]("dataset_name"), r.getAs[String]("column_name")) ->
        r.getAs[Long]("unmatched_rows_count")).toMap
    val rowLvl = read("row_lvl_test_report")
      .groupBy("dataset_name")
      .agg(
        count(lit(1)).as("rows"),
        sum("duplicate_count").as("dups"),
        sum(when(col("all_rows_matched"), 1L).otherwise(0L)).as("matched"),
        sum(when(col("missing_row_status") === "MISSING_AT_SOURCE", 1L).otherwise(0L)).as("miss_src"),
        sum(when(col("missing_row_status") === "MISSTING_AT_TARGET", 1L).otherwise(0L)).as("miss_tgt"))
      .collect().map(r => r.getString(0) -> r).toMap
    same("datasets in overall report", overall.keySet, expects.map(_.name).toSet)
    same("row-level report datasets", rowLvl.keySet, expects.map(_.name).toSet)

    for (e <- expects; o <- overall.get(e.name)) {
      def side(c: String) = o.getAs[scala.collection.Map[String, Long]](c).toMap
      same(s"${e.name} count", side("count"), Map("source" -> e.srcCount, "target" -> e.tgtCount))
      same(s"${e.name} matched_count", o.getAs[Long]("matched_count"), e.matched)
      same(s"${e.name} duplicate_count", side("duplicate_count"),
        Map("source" -> 0L, "target" -> e.dupTgt))
      same(s"${e.name} missing_rows", side("missing_rows"),
        Map("source" -> e.dropSrc, "target" -> e.dropTgt))
      same(s"${e.name} test_status", o.getAs[String]("test_status"), e.status)
    }
    for (e <- expects)
      same(s"${e.name} column counts",
        colLvl.collect { case ((d, c), n) if d == e.name => c -> n }, e.colCounts)
    for (e <- expects; r <- rowLvl.get(e.name)) {
      same(s"${e.name} row-level rows", r.getAs[Long]("rows"), e.keys)
      same(s"${e.name} row-level matched", r.getAs[Long]("matched"), e.matched)
      same(s"${e.name} row-level duplicate sum", r.getAs[Long]("dups"), e.dupTgt)
      same(s"${e.name} row-level missing at source", r.getAs[Long]("miss_src"), e.dropSrc)
      same(s"${e.name} row-level missing at target", r.getAs[Long]("miss_tgt"), e.dropTgt)
    }

    val extractRoot = jobDir.resolve("unmatched_rows")
    val written: Map[(String, String), Path] =
      if (!Files.isDirectory(extractRoot)) Map.empty
      else (for {
        ds <- list(extractRoot) if Files.isDirectory(ds)
        c <- list(ds) if Files.isDirectory(c)
      } yield (ds.getFileName.toString, c.getFileName.toString) -> c).toMap
    val wanted = expects.flatMap(e => e.extracts.map { case (c, n) => (e.name, c) -> n }).toMap
    same("extracts written", written.keySet, wanted.keySet)
    for ((k, n) <- wanted; p <- written.get(k))
      same(s"extract ${k._1}/${k._2} rows", parquetRows(p), n)
    errors.result()
  }

  private def list(dir: Path): Seq[Path] = Using.resource(Files.list(dir))(_.iterator().asScala.toList)

  private val hadoopConf = new Configuration()

  /** Row count of a parquet directory, from the file footers alone. */
  private def parquetRows(dir: Path): Long =
    list(dir).filter(_.getFileName.toString.endsWith(".parquet")).map { f =>
      val in = HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.toUri), hadoopConf)
      Using.resource(ParquetFileReader.open(in))(_.getRecordCount)
    }.sum
}
