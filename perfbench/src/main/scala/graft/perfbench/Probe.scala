package graft.perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Process-level probes that need no listener: CPU time, GC time, the
  * heap left after a full collection, and the fixed CPU canary of
  * `graft.Bench` (a data-independent codegen'd range sum) that tells a
  * slow host from slow code.
  */
object Probe {

  private val os = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => Some(b)
    case _ => None
  }

  /** CPU seconds used by every thread of this process so far. */
  def cpuSeconds(): Double = os.map(_.getProcessCpuTime / 1e9).getOrElse(0.0)

  def gcMillis(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap in use right after a full collection, in MB: the live set at
    * this moment.
    */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Seconds for `graft.Bench`'s canary workload, at a quarter of its
    * row count to keep it short on few cores. A small untimed run first
    * compiles its code, so the first reading is not a cold JVM's.
    */
  def canary(spark: SparkSession): Double = {
    def run(rows: Long) = spark.range(rows).selectExpr("sum(id * 3 + 1)").collect()
    run(5000000L)
    val t0 = System.nanoTime()
    run(50000000L)
    (System.nanoTime() - t0) / 1e9
  }
}
