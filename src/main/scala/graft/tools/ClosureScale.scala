package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

import graft.operators.Graph

/** Scale proof for the iterative-closure frontier compaction (r19
  * verdict item #5: "prove the compaction at scale and kill the
  * anti-scaling inversion question"). Builds K chains of length L
  * (closure = K * L*(L+1)/2 pairs — defaults give ~12.5M, well past
  * the 10M bar), runs [[Graph.transitiveClosure]], and prints total
  * wall, TASK COUNT and summed task time from a listener. The default
  * closure passes the driver path's pair cap at every driver heap up
  * to 8 GB (4,194,304 pairs there), so this measures the distributed
  * loop, after a driver walk that stops at the cap.
  *
  * The inversion diagnosis: at fixture scale the per-round frontier
  * scans fanned out to (shuffle partitions = cpus) tasks each, so task
  * count — and with it fixed per-task cost — grew with CORES, not
  * data; 8 cores beat 32. With byte-sized compaction the task count is
  * a function of frontier BYTES: run this main at SPARK_GRAFT_CPUS=8
  * and =32 and compare — task counts should be ~equal and 32c wall
  * at-or-below 8c at this size.
  *
  * Usage: runMain graft.tools.ClosureScale [nChains] [chainLen]
  * Env: SPARK_GRAFT_CPUS (default 32).
  */
object ClosureScale {
  def main(args: Array[String]): Unit = {
    val nChains = args.headOption.map(_.toInt).getOrElse(100)
    val chainLen = args.drop(1).headOption.map(_.toInt).getOrElse(500)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Session.driverLocal(cpus, "graft-closure-scale")
    spark.sparkContext.setLogLevel("WARN")

    val tasks = new AtomicInteger(0)
    val taskMs = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) {
          tasks.incrementAndGet()
          taskMs.addAndGet(e.taskMetrics.executorRunTime)
        }
    })

    // K chains laid out on the id line: node i links to i+1 unless it
    // ends a chain. Closure of one chain of L edges (L+1 nodes) is
    // (L+1)*L/2 ancestor pairs.
    val n = nChains.toLong * (chainLen + 1)
    val edges = spark.range(n)
      .filter(pmod(col("id"), lit(chainLen + 1)) =!= chainLen)
      .select(col("id").as("child"), (col("id") + 1).as("parent"))

    val t0 = System.nanoTime()
    val closure = Graph.transitiveClosure(edges, maxRounds = 20)
    val pairs = closure.count()
    val sec = (System.nanoTime() - t0) / 1e9
    // wait for the listener bus to drain the last stage's task events
    Thread.sleep(500)
    val expected = nChains.toLong * chainLen * (chainLen + 1) / 2
    println(f"[closure-scale] cpus=$cpus%s chains=$nChains%d len=$chainLen%d " +
      f"pairs=$pairs%d tasks=${tasks.get()}%d taskTime=${taskMs.get() / 1e3}%.1f s " +
      f"wall=$sec%.1f s")
    require(pairs == expected, s"closure size $pairs != expected $expected")
    spark.stop()
  }
}
