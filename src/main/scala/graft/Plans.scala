package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Physical-plan snapshot tool: dumps `explain("formatted")` for every
  * query key into PLANS.md — the plan-shape audit trail (pushdown,
  * broadcast choices, codegen spans, shuffle count) that the per-operator
  * scale comments claim. Regenerate after plan-affecting changes:
  * `sbt "runMain graft.Plans"`; `sbt "runMain graft.Plans <dir> <outDir>
  * <key>..."` writes one `<key>.txt` per named key instead. */
object Plans {

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // Per-query snapshot mode (r19 optimization round): args = dir, outDir,
    // query names — writes one `<query>.txt` per name instead of PLANS.md.
    if (args.length >= 3) {
      val outDir = java.nio.file.Paths.get(args(1))
      Files.createDirectories(outDir)
      val stageRoot = Paths.get(sys.props("java.io.tmpdir"),
        s"graft-stage-plans-${ProcessHandle.current().pid()}").toString
      spark.conf.set("graft.stage.dir", stageRoot)
      args.drop(2).foreach { name =>
        val df = SparkEntry.queries(name)(spark, dir)
        Files.writeString(outDir.resolve(s"$name.txt"),
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        println(s"[plans] wrote $outDir/$name.txt")
      }
      Tables.deleteRecursively(stageRoot)
      spark.stop()
      return
    }
    val sb = new StringBuilder
    sb ++= "# PLANS — physical-plan snapshots (generated by `graft.Plans`)\n\n"
    sb ++= s"Scale dir: `$dir`. `*(n)` prefixes mark whole-stage-codegen stages;\n"
    sb ++= "look for `PushedFilters`/pruned `ReadSchema` at scans, `BroadcastHashJoin`\n"
    sb ++= "on dimension joins, and partial→final `HashAggregate` pairs around single\n"
    sb ++= "`Exchange`s.\n"
    val keys = SparkEntry.queries.keys.toSeq.sorted
    keys.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb ++= s"\n## $name\n\n```\n$plan```\n"
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"[plans] wrote PLANS.md (${keys.size} queries)")
    spark.stop()
  }
}
