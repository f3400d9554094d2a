package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame

import graft.operators.Graph

/** `etl_registry`: one pass is the reference's ETL on the seeded sf0.01
  * tables — registry queries through `graft.SparkEntry.queries`, each
  * written to the noop sink as `graft.Bench` does, then the ontology
  * step as a direct call into the iterative closure operator on seeded
  * chains.
  *
  * After the timed passes each query runs once more, untimed, and its
  * result is written as parquet next to its oracle SQL; run.py compares
  * the two in DuckDB. The closure is checked after every call against
  * the chains' known closure size. */
final class EtlRegistry extends Workload {
  private var chains: (Long, Long) = _

  private def noop(df: DataFrame): DataFrame = {
    df.write.mode("overwrite").format("noop").save()
    df
  }

  def pass(ctx: Ctx): Unit = {
    EtlRegistry.Queries.foreach { name =>
      ctx.op(name, "query", "queries")(noop(graft.SparkEntry.queries(name)(ctx.spark, ctx.inputs)))(
        _ => true)
      ctx.hygiene()
    }
    if (chains == null) {
      val meta = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new File(s"${ctx.inputs}/chains.json"))
      chains = (meta.get("chains").asLong, meta.get("length").asLong)
    }
    val edges = ctx.spark.read.parquet(s"${ctx.inputs}/chains.parquet")
    ctx.op("closure", "operator", "operators")(noop(Graph.transitiveClosure(edges))) { df =>
      EtlRegistry.closureOk(df.count(), chains._1, chains._2)
    }
    ctx.hygiene()
  }

  def finish(ctx: Ctx): Unit = {
    val results = Files.createDirectories(Paths.get(ctx.out, "results"))
    val oracle = EtlRegistry.Queries.map { name =>
      // a query that throws leaves no result, which run.py's check fails
      try graft.SparkEntry.queries(name)(ctx.spark, ctx.inputs).coalesce(1)
        .write.mode("overwrite").parquet(results.resolve(name).toString)
      catch { case NonFatal(e) => System.err.println(s"perfbench: $name result not written: $e") }
      name -> graft.SparkEntry.oracleSql.get(name)
    }.toMap
    Files.write(results.resolve("oracle_sql.json"), Main.Json.writeValueAsBytes(oracle))
  }
}

object EtlRegistry {
  /** K disjoint chains of L edges close to exactly K*L(L+1)/2 pairs. */
  def closureOk(pairs: Long, k: Long, l: Long): Boolean = pairs == k * l * (l + 1) / 2

  /** ETL steps (grounding, association scoring) and the relational kit
    * they are built from. */
  val Queries: Seq[String] = Seq(
    "q_join_inner_shipping", "q_window_running_sum", "q_setop_intersect", "q_text_grounding",
    "q_score_harmonic")
}
