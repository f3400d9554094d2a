package graft.tools

import scala.util.control.NonFatal

import org.apache.spark.sql.execution.FileSourceScanExec

import graft.SparkEntry

/** Scan-shape survey: for every registered query, list each parquet
  * scan's table, read-schema width vs on-disk width, and pushed
  * filters. The widths this prints are the evidence behind
  * PlanAuditSpec's pruning assertions.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 runMain graft.tools.ScanAudit
  */
object ScanAudit {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    // Session.build keeps the production dialect (ANSI off, UTC,
    // nanosAsLong); AQE is the one deliberate departure — it wraps the
    // plan in AdaptiveSparkPlanExec, whose inner tree is invisible to
    // TreeNode.collect, and scan shape (pruning, pushdown) is decided
    // before AQE anyway.
    val spark = graft.core.Session.build(
      "graft-scan-audit",
      Some(s"local[$cpus]"),
      Map(
        "spark.sql.shuffle.partitions" -> cpus,
        "spark.sql.adaptive.enabled" -> "false",
        "spark.ui.enabled" -> "false"))
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, dir).queryExecution.executedPlan
        val scans = plan.collect { case s: FileSourceScanExec => s }
        scans.foreach { s =>
          val table = s.relation.location.rootPaths.headOption
            .map(_.getName.stripSuffix(".parquet")).getOrElse("?")
          val width = s.requiredSchema.size
          val disk = s.relation.dataSchema.size
          val pushed = s.dataFilters.size
          println(f"[scan-audit] $name%-34s $table%-10s read=$width%2d/of=$disk%2d pushedDataFilters=$pushed")
        }
      } catch {
        case NonFatal(e) => println(s"[scan-audit] $name FAILED: ${e.getClass.getSimpleName}")
      }
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
