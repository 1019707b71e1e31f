package graft.core

import com.sun.management.HotSpotDiagnosticMXBean
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import scala.util.Try

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

  /** Size of Spark's on-heap memory pages (`spark.buffer.pageSize`) and
    * broadcast blocks (`spark.broadcast.blockSize`): a quarter of a G1
    * heap region, the largest power of two G1 still allocates as an
    * ordinary object. Spark's own sizes (pages of up to 64 MB, blocks of
    * 4 MB) are at least half a region, so G1 makes each one a humongous
    * object: whole regions of its own, reclaimed only by a young GC. Every
    * broadcast (each stage's task binary is one) serializes into a fresh
    * 4 MB buffer that is garbage at once, and pooled pages die at each GC
    * and are allocated anew. How many such dead regions lie in the heap
    * when a GC falls depends on its timing, so the heap's high-water mark,
    * and with it the resident memory of the process, moved by up to
    * ~750 MB between identical runs (registry-mix, 3 GB heap, 2 MB
    * regions). At G1's default region size a quarter region still lets a
    * task's page table (8,192 pages) span the whole heap. None when the
    * JVM does not run G1: Spark's sizes stay.
    */
  val HeapBufferBytes: Option[Long] =
    Try(ManagementFactory.getPlatformMXBean(classOf[HotSpotDiagnosticMXBean])
      .getVMOption("G1HeapRegionSize").getValue.toLong).toOption
      .filter(_ > 0).map(_ / 4)

  /** `master` overrides the default `local[cores]` (a cluster submit);
    * `cores` still sizes the shuffle partitions. Streaming state uses
    * Spark's default provider; a session that needs the RocksDB provider
    * sets `spark.sql.streaming.stateStore.providerClass` itself, as
    * `StreamOpsSpec`'s RocksDB tests do.
    */
  def local(cores: Int = 32, appName: String = "graft",
            master: Option[String] = None): SparkSession = {
    val builder = SparkSession
      .builder()
      .master(master.getOrElse(s"local[$cores]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.core.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .config("spark.sql.codegen.useIdInClassName", "false")
    for (b <- HeapBufferBytes) builder
      .config("spark.buffer.pageSize", s"${b}b")
      .config("spark.broadcast.blockSize", s"${b}b")
    val spark = builder.getOrCreate()
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
