package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Writes `explain("formatted")` of named `SparkEntry.queries` to
  * `<outDir>/<query>_<tag>.txt`, in the session `graft.Verify` uses, so a
  * change's before/after plans are dumped the same way on both commits:
  *
  * {{{
  * sbt "Test/runMain graft.tools.PlanDump <sfDir> <outDir> <tag> q1 q2 ..."
  * }}}
  *
  * Building a query's frame may itself run Spark jobs (an operator that
  * leaves the plan eagerly); the dump records the plan as built. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: PlanDump <sfDir> <outDir> <tag> <query> [<query> ...]")
    val Array(sfDir, outDir, tag) = args.take(3)
    val names = args.drop(3).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val out = Paths.get(outDir, s"${name}_$tag.txt")
      Files.write(out, plan.getBytes(StandardCharsets.UTF_8))
      println(s"[plandump] $out")
    }
    spark.stop()
  }
}
