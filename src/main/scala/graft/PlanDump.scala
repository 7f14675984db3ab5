package graft

import java.nio.file.{Files, Paths}

/** Dumps the formatted physical plan of every declared query to PLANS.md —
  * the reviewable artifact for pushdown/pruning/join-strategy auditing.
  * Usage: runMain graft.PlanDump [sfDir] [outFile]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outFile = if (args.length > 1) args(1) else "PLANS.md"
    val spark = Session.local("4")
    spark.sparkContext.setLogLevel("ERROR")

    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of every declared query\n\n")
    sb.append(s"Generated by `graft.PlanDump` on `$sfDir`. Regenerate with:\n")
    sb.append("`sbt \"runMain graft.PlanDump\"`.\n")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      sb.append(s"\n## $name\n\n```\n")
      try {
        val df = fn(spark, sfDir)
        sb.append(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      } catch {
        case e: Throwable => sb.append(s"ERROR: ${e.getMessage}\n")
      }
      sb.append("```\n")
    }
    Files.writeString(Paths.get(outFile), sb.toString)
    println(s"[plandump] wrote $outFile (${SparkEntry.queries.size} plans)")
    spark.stop()
  }
}
