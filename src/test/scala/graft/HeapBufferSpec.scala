package graft

import com.sun.management.HotSpotDiagnosticMXBean
import graft.core.GraftSession

import java.lang.management.ManagementFactory

/** The session's on-heap memory pages and broadcast blocks are sized by
  * `GraftSession.HeapBufferBytes`: below half a G1 heap region, so G1
  * allocates them as ordinary objects, never as humongous ones.
  */
class HeapBufferSpec extends SparkSpec {
  test("pages and broadcast blocks are a quarter of a G1 heap region") {
    val region = ManagementFactory.getPlatformMXBean(
      classOf[HotSpotDiagnosticMXBean]).getVMOption("G1HeapRegionSize")
      .getValue.toLong
    assert(region > 0, "the test JVM runs G1")
    assert(GraftSession.HeapBufferBytes.contains(region / 4))
    val conf = spark.sparkContext.getConf
    for (key <- Seq("spark.buffer.pageSize", "spark.broadcast.blockSize"))
      assert(conf.getSizeAsBytes(key) == region / 4, key)
  }
}
