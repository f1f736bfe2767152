package graft.tools

import graft.{GraftExtensions, GraftSession, Tables}
import org.apache.spark.sql.SparkSession

/** Dump `.explain("formatted")` for selected queries to files — the
  * plan evidence behind OPTIMIZATION_r14.md (plans/r14/<query>_*.txt).
  *
  * Usage: SPARK_GRAFT_ONLY=q1,q2 SPARK_GRAFT_PLAN_SUFFIX=after \
  *   sbt "runMain graft.tools.PlanDump plans/r14"
  *
  * Queries that eagerly materialize inside fn (persist/localCheckpoint
  * iterations) return LogicalRDD-rooted frames; their dumped plan
  * covers the final assembly only — the changed SUBPLAN is dumped by
  * the companion helpers below when named via SPARK_GRAFT_PLAN_PART.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r14")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "after")
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    val selected = GraftSession.selected(ifUnset = Map.empty)
    selected.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), plan)
        println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
      } catch { case e: Throwable =>
        println(s"[plandump] $name FAILED: $e")
      }
    }
    // named internal subplans for eagerly-materializing queries
    sys.env.get("SPARK_GRAFT_PLAN_PART").foreach { parts =>
      parts.split(",").map(_.trim).foreach {
        case "copurchase_pairs" =>
          val plan = graft.queries.Graphs.coPurchasePairs(spark, sfDir)
            .queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(outDir, s"copurchase_pairs_$suffix.txt"), plan)
          println(s"[plandump] wrote $outDir/copurchase_pairs_$suffix.txt")
        case "copurchase_pairs_old" =>
          // the pre-r14 pair builder shape, kept here so the before/
          // after plan diff is reproducible: self-join the FULL fact
          // on l_orderkey, then join the high-value cut
          import org.apache.spark.sql.functions._
          val hv = Tables(spark, sfDir, "orders")
            .filter(col("o_totalprice") > 490000).select("o_orderkey")
          val l = Tables(spark, sfDir, "lineitem")
            .select("l_orderkey", "l_suppkey")
          val a = l.toDF("ok", "u")
          val b = l.toDF("ok2", "v")
          val old = a.join(b, col("ok") === col("ok2") && col("u") < col("v"))
            .join(hv, col("ok") === col("o_orderkey"))
            .select("u", "v").distinct()
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(outDir, s"copurchase_pairs_$suffix.txt"),
            old.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode))
          println(s"[plandump] wrote $outDir/copurchase_pairs_$suffix.txt")
        case other => println(s"[plandump] unknown part: $other")
      }
    }
    spark.stop()
  }
}
