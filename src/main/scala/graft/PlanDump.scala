package graft

/** Optimization-round aid: dump `.explain("formatted")` for named
  * declared queries to `<outDir>/<name>.txt` — the plan evidence files
  * committed under the per-round plans directory (the judge checks
  * plan claims against these without running Spark). Not part of the
  * driver contract.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <name1,name2,...>
  *
  * Note: for queries that run maintenance ACTIONS before returning a
  * serving frame (the MV/snapshot families), the dumped plan is the
  * serving read's plan; the action-side evidence is the code plus the
  * measured seconds in the round's OPTIMIZATION notes. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, names) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Graft.session(master = s"local[$cpus]", shufflePartitions = cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val wanted = names.split(",").map(_.trim).filter(_.nonEmpty)
    val qs = SparkEntry.queries
    wanted.foreach { n =>
      qs.get(n) match {
        case Some(fn) =>
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$outDir/$n.txt"), plan)
          System.err.println(s"[plandump] wrote $outDir/$n.txt")
        case None =>
          System.err.println(s"[plandump] unknown query: $n")
      }
    }
    spark.stop()
  }
}
