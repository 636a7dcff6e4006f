package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Plan-quality audit: prints the formatted physical plan of each bench
  * query so scan pushdown (PushedFilters/ReadSchema), broadcast joins and
  * WholeStageCodegen spans can be inspected per round.
  *
  * Run: sbt "runMain graft.PlanAudit [sfDir]"; SPARK_GRAFT_BENCH_ONLY=q1,q2
  * restricts it to the named queries, which may be any registered query,
  * not only the bench set.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    only.fold(Registry.benchQueries)(names => Registry.all.filter(q => names(q.name)))
      .sortBy(_.name).foreach { q =>
      println(s"\n===== ${q.name} =====")
      try println(q.fn(spark, sfDir).queryExecution
        .explainString(ExplainMode.fromString("formatted")))
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
