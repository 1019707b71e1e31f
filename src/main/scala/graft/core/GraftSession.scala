package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Local-mode defaults tuned for the test harness (`local[32]`, 32 shuffle
  * partitions); on a real cluster the same builder is used without `master`
  * and with cluster-sized `spark.sql.shuffle.partitions` (AQE coalesces at
  * runtime, so oversizing is safe).
  */
object GraftSession {
  /** `rocksDbState = true` switches streaming state to the RocksDB
    * provider — the production choice once per-key state exceeds heap
    * (bounded memory, incremental checkpoints). Semantics identical;
    * `StreamOpsSpec` exercises both providers. `master` overrides the
    * default `local[cores]` (a cluster submit); `cores` still sizes the
    * shuffle partitions.
    */
  def local(cores: Int = 32, appName: String = "graft",
            rocksDbState: Boolean = false,
            master: Option[String] = None): SparkSession = {
    val builder = SparkSession
      .builder()
      .master(master.getOrElse(s"local[$cores]"))
      .appName(appName)
    if (rocksDbState) builder.config(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val spark = builder
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.core.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // spark.graft.checkpointDir (opt-in): wires the context checkpoint
    // dir so iterative operators (ConnectedComponents) truncate lineage
    // with RELIABLE checkpoints — round files survive executor loss,
    // making the persisted component pins recomputable (PinRecoverySpec).
    // A cluster points it at HDFS/S3; unset (the local default) keeps
    // localCheckpoint: no per-round file I/O.
    sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR")
      .orElse(spark.conf.getOption("spark.graft.checkpointDir"))
      .foreach(spark.sparkContext.setCheckpointDir)
    spark
  }
}
