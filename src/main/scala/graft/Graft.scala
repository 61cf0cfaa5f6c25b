package graft

import org.apache.spark.sql.SparkSession

/** Library entry point: the one session factory, configured the way
  * every graft component expects (SCALING.md §7) — what a user switching
  * from the reference stack starts from.
  *
  * {{{
  * val spark = Graft.session("my-pipeline", master = "local[32]")
  * val routed = graft.ingest.ValidateRoute.planSinglePass(raw, graft.schema.Schemas.specs)
  * }}}
  */
object Graft {

  /** Build (or get) a session with graft defaults:
    *  - AQE on (partition coalescing, skew-join splitting);
    *  - UTC session timezone (oracle/warehouse determinism);
    *  - nanos-as-long parquet reads (ns-timestamp sources);
    *  - graft native functions registered (graft_cosine_sim, …).
    *
    * `shufflePartitions` defaults to 2× available cores — at cluster
    * scale pass ~2-3× total executor cores and let AQE coalesce down.
    */
  def session(appName: String = "graft",
              master: String = "local[*]",
              shufflePartitions: Int = Runtime.getRuntime.availableProcessors * 2,
              ui: Boolean = false): SparkSession = {
    val spark = SparkSession.builder()
      .appName(appName)
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", ui.toString)
      .getOrCreate()
    graft.functions.GraftFunctions.register(spark)
    spark
  }
}
