package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

final case class OpRec(pass: Int, name: String, cls: String, ms: Double, cpuS: Double,
    ok: Boolean, layers: Map[String, Double])

final case class PassRec(index: Int, cold: Boolean, traced: Boolean, layers: Map[String, Double])

/** State of one benchmark run: the session, the recorded operations
  * and the check tally. One closed-loop client: operations run one
  * after another on the calling thread. */
final class Ctx(val inputs: String, val out: String, val cores: String, val tracer: Tracer) {
  var spark: SparkSession = _
  var pass = 0
  var probe: Option[LayerProbe] = None
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]

  private def counters(): Map[String, Double] = {
    probe.foreach(_.drain(spark))
    Counters.read(probe)
  }

  /** Time one operation, then check its output outside the timed
    * window. A throw counts as a failed operation. Returns the output,
    * None when it threw. */
  def op[T](name: String, cls: String, layer: String)(body: => T)(check: T => Boolean): Option[T] = {
    val before = if (probe.isDefined) counters() else Map.empty[String, Double]
    val c0 = Jvm.cpuNs()
    val t0 = System.nanoTime()
    val out =
      try Some(tracer(name, layer)(body))
      catch {
        case NonFatal(e) =>
          System.err.println(s"perfbench: $name failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
          None
      }
    val ms = (System.nanoTime() - t0) / 1e6
    val cpu = (Jvm.cpuNs() - c0) / 1e9
    val layers = if (probe.isDefined) Counters.delta(before, counters()) else Map.empty[String, Double]
    val ok = out.exists { o =>
      try check(o)
      catch { case NonFatal(e) => System.err.println(s"perfbench: checking $name threw $e"); false }
    }
    ops += OpRec(pass, name, cls, ms, cpu, ok, layers)
    if (out.isDefined && !ok) System.err.println(s"perfbench: $name (pass $pass) failed its output check")
    out
  }

  /** An untimed output check made after the measured passes. */
  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    checks += ((name, ok, detail))
    if (!ok) System.err.println(s"perfbench: check $name failed: $detail")
  }

  /** Drop cached blocks and checkpoints between operations. */
  def hygiene(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

trait Workload {
  /** Part of set-up, inside its timing. By default the synthetic
    * warm-up graft.Bench runs before its first query. */
  def init(ctx: Ctx): Unit = Main.warmUp(ctx.spark)
  /** Warm passes every run makes, whatever `--seconds` says. */
  def minWarm: Int = 2
  def pass(ctx: Ctx): Unit
  /** Untimed checks after the measured passes. */
  def finish(ctx: Ctx): Unit
}

/** Runs one workload: set-up (timed from JVM start), one cold pass,
  * then warm passes until `--seconds` have been measured (at least the
  * workload's `minWarm`), then the output checks.
  *
  *   perfbench.Main --workload <name> --inputs <dir> --out <dir>
  *                  --seconds <s> --trace <0|1> --cores <n> --seed <n>
  *
  * Writes `<out>/result.json` (raw samples; run.py derives the metrics)
  * and, traced, `<out>/spans.jsonl`. */
object Main {
  val Json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
  val MaxPasses = 40

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val traced = a("trace") == "1"
    val seconds = a("seconds").toDouble
    val tracer = new Tracer(traced, s"$workload-seed${a("seed")}")
    val ctx = new Ctx(a("inputs"), a("out"), a("cores"), tracer)
    val w: Workload = workload match {
      case "etl_registry" => new EtlRegistry
      case "table_rw" => new TableRw
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Files.createDirectories(Paths.get(ctx.out))
    var setupS, sessionS = 0.0
    val passes = mutable.ArrayBuffer.empty[PassRec]
    val probeAll = if (traced) Some(new LayerProbe(tracer)) else None
    tracer("run", "core") {
      tracer("setup", "core") {
        val s0 = System.nanoTime()
        ctx.spark = graft.core.Session.driverLocal(ctx.cores, "perfbench")
        ctx.spark.sparkContext.setLogLevel("ERROR")
        sessionS = (System.nanoTime() - s0) / 1e9
        w.init(ctx)
      }
      setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
      val start = System.nanoTime()
      def elapsed = (System.nanoTime() - start) / 1e9
      var p = 0
      // a traced run needs an untraced warm pass to measure its overhead
      val minWarm = if (traced) w.minWarm + 1 else w.minWarm
      while (p < 1 + minWarm || (elapsed < seconds && p < MaxPasses)) {
        // traced runs alternate traced and untraced warm passes, so the
        // listener's cost is measured inside one process
        val on = traced && (p == 0 || p % 2 == 1)
        ctx.pass = p
        val probe = if (on) probeAll else None
        tracer.active = on
        probe.foreach(_.register(ctx.spark))
        ctx.probe = probe
        val before = Counters.read(probe)
        if (on) tracer(s"pass $p", "bench")(w.pass(ctx)) else w.pass(ctx)
        probe.foreach(_.drain(ctx.spark))
        passes += PassRec(p, p == 0, on, Counters.delta(before, Counters.read(probe)))
        probe.foreach(_.unregister(ctx.spark))
        ctx.probe = None
        System.gc()
        p += 1
      }
      tracer.active = traced
      w.finish(ctx)
    }
    val heap = Jvm.heapRetainedMb()
    val result = Map(
      "workload" -> workload,
      "traced" -> traced,
      "cores" -> ctx.cores.toInt,
      "setup_s" -> setupS,
      "session_s" -> sessionS,
      "passes" -> passes.map(p => Map("index" -> p.index, "cold" -> p.cold, "traced" -> p.traced,
        "layers" -> p.layers)),
      "ops" -> ctx.ops.map(o => Map("pass" -> o.pass, "name" -> o.name, "cls" -> o.cls,
        "ms" -> o.ms, "cpu_s" -> o.cpuS, "ok" -> o.ok, "layers" -> o.layers)),
      "checks" -> ctx.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "heap_retained_mb" -> heap,
      "code_cache_mb" -> Jvm.codeCacheMb(),
      "info" -> ctx.info.toMap)
    if (traced) {
      val stageJob = (s: Int) => probeAll.map(_.stageJob(s)).getOrElse(-1)
      val lines = tracer.resolve(stageJob).map(s => Json.writeValueAsString(Map("id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer, "start_ms" -> s.start,
        "end_ms" -> s.end, "run" -> tracer.runId)))
      Files.write(Paths.get(ctx.out, "spans.jsonl"), (lines.mkString("\n") + "\n").getBytes(UTF_8))
    }
    Files.write(Paths.get(ctx.out, "result.json"), Json.writeValueAsBytes(result))
    ctx.spark.stop()
  }

  /** graft.Bench's synthetic warm-up: JIT and codegen on generated
    * rows, no input reads. */
  def warmUp(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    val r = spark.range(100000).select(col("id"), (col("id") % 97).as("k"))
    r.groupBy(col("k")).agg(sum(col("id")), count(lit(1)))
      .join(r.limit(100).withColumnRenamed("id", "id2"), "k")
      .write.mode("overwrite").format("noop").save()
  }
}
