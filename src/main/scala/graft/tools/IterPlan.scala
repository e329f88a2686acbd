package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Dump the PageRank IN-ITERATION physical plan (the frame each loop round
  * materializes), so the zero-adjacency-exchange claim is checkable from a
  * committed file instead of a quoted trace. Uses the operator's own
  * `buildPrGraph`/`prInit`/`prStep` (what the loop runs).
  *
  * Usage: `IterPlan <sfDir> [outFile]`
  */
object IterPlan {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) Some(args(1)) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val g = graft.operators.Graphs.buildPrGraph(
      graft.Queries.partEdges(spark, sfDir), "pa", "pb", 1000000000000L)
    val step = graft.operators.Graphs.prStep(
      graft.operators.Graphs.prInit(g), g, 850000L)
    val plan = step.queryExecution.explainString(ExplainMode.fromString("formatted"))
    out match {
      case Some(f) => java.nio.file.Files.writeString(java.nio.file.Paths.get(f), plan)
      case None => println(plan)
    }
    spark.stop()
  }
}
