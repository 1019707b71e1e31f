package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Local-mode defaults tuned for the test harness (`local[32]`, 32 shuffle
  * partitions); on a real cluster the same builder is used without `master`
  * and with cluster-sized `spark.sql.shuffle.partitions` (AQE coalesces at
  * runtime, so oversizing is safe).
  *
  * The builder also sizes Spark's generated-class cache
  * ([[CodegenCacheEntries]]). That conf is static: Spark reads it once,
  * when the first class of the JVM is compiled, so it must be set in the
  * builder before the SparkContext starts. A later `spark.conf.set` is
  * refused, and a session that `getOrCreate` returns from an earlier
  * builder keeps that builder's value. Generated class names carry no
  * stage id (`spark.sql.codegen.useIdInClassName=false`): AQE numbers
  * the codegen stages in the order it plans them, which varies from run
  * to run when a pin materializes inside another query, and the same
  * code under a new number is a new cache key and a new compile.
  */
object GraftSession {
  /** `spark.sql.codegen.cache.maxEntries`: how many compiled whole-stage
    * and expression classes the JVM keeps. Spark's default of 100 is far
    * below this engine's working set: one pass over the 165-query
    * registry compiles 1,501 classes (`graft.Verify`'s `codegen.total` at
    * sf0.01; 2,545 under Spark's defaults, where evicted and renumbered
    * classes recompile within the pass). At 100 every class is evicted
    * before its next use, so each pass re-runs Janino on every stage and
    * the JIT restarts on the fresh classes. 4096 holds the whole registry
    * twice over; keeping them costs ~13 MB of metaspace.
    */
  val CodegenCacheEntries: Int = 4096

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
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .config("spark.sql.codegen.useIdInClassName", "false")
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
