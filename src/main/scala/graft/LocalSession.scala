package graft

import org.apache.spark.sql.SparkSession

/** The local[`cpus`] session every driver-facing main (Verify, Bench,
  * SkewAudit) and the test suites run on — one definition, so a config
  * change cannot drift between the correctness, timing and test surfaces.
  *
  * `canChangeCachedPlanOutputPartitioning` (off by default) lets AQE
  * re-coalesce shuffles feeding cached plans: the iterative operators
  * persist per step and would otherwise pin full-width shuffles.
  *
  * The warehouse is a fresh temp directory unless the JVM names one
  * (`-Dspark.sql.warehouse.dir`), so `saveAsTable` never writes into the
  * working directory. */
object LocalSession {
  def build(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", sys.props.getOrElse(
        "spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString))
      .getOrCreate()
    // the already-running-session counterpart of GraftExtensions'
    // injectOptimizerRule (getOrCreate can return a prior session, so
    // guard against appending the rule twice)
    if (!spark.experimental.extraOptimizations
          .contains(graft.plans.LevenshteinBandGuard))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.LevenshteinBandGuard
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
