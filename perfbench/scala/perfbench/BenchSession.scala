package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's Spark session. Mirrors `graft.Bench`'s session config
  * (shuffle partitions = cores, the ObjectHashAggregate fallback threshold,
  * the `InferFiltersFromGenerate` exclusion), with `local[nproc]` and every
  * scratch directory kept under the benchmark's build directory.
  */
object BenchSession {
  val cores: Int = Runtime.getRuntime.availableProcessors()

  def create(scratch: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "16777216")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$scratch/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$scratch/rdd-checkpoints")
    spark
  }
}
