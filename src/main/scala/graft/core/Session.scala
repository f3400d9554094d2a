package graft.core

import org.apache.spark.sql.SparkSession

/** Config-driven SparkSession factory.
  *
  * Mirrors the reference's pattern of building the session from a flat
  * key/value map plus an optional master URI
  * (reference: etl/backend/spark/Helpers.scala:72-102,
  * etl/backend/ETLSessionContext.scala:17-29) — but with defaults tuned
  * for Spark 4 + AQE rather than hand-set shuffle sizing.
  */
object Session {

  /** Defaults that hold from local[32] up to a large cluster: AQE handles
    * runtime partition coalescing and skew-join splitting; the static
    * shuffle partition count is only the pre-AQE upper bound.
    */
  val defaultConf: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.parquet.filterPushdown" -> "true",
    // The reference relies on permissive (non-ANSI) casts, e.g.
    // string->int in target/GeneticConstraints.scala:58-90.
    "spark.sql.ansi.enabled" -> "false",
    // events.parquet stores ts as TIMESTAMP(NANOS), which Spark 4
    // rejects outright (PARQUET_TYPE_ILLEGAL); read nanos as raw longs
    // session-wide (Tables truncates ns->us to match DuckDB). Set here
    // — not inside query functions — so queries stay side-effect-free.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // Generated-class cache (static conf, default 100 entries): a
    // 100+-query session churns it, so a query whose plan shares
    // codegen units with an earlier one (the search-cascade pair)
    // sometimes re-compiles AND re-JITs the identical source — the
    // r15 bimodal-cpu mechanism (tools/CascadeProfile: first execution
    // of the cascade's generated code costs ~46 s of JIT-compiler CPU
    // on top of interpreted task time; a cache hit costs none). The
    // entries are weak-ref'd source->class pairs — metaspace-light —
    // so a roomy cache is pure win for any long-lived session.
    "spark.sql.codegen.cache.maxEntries" -> "5000",
    // Engine extensions session-wide: the custom SQL functions, the
    // native as-of join strategy, and the INSERT-INTO-graft guard
    // (an analyzer check rule — see GraftExtensions.guardGraftInsert:
    // a SQL insert into a graft catalog table would otherwise write
    // files the manifest never commits, a silent no-op for readers).
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    // `file://` without a forked `chmod` per create and mkdirs (see
    // GraftLocalFileSystem). Hadoop's FileSystem cache ignores conf: a
    // `file` FS built in this JVM before the session stays the default
    // one — slower, still correct.
    "spark.hadoop.fs.file.impl" -> classOf[GraftLocalFileSystem].getName
  )

  def build(
      appName: String = "graft",
      master: Option[String] = None,
      extraConf: Map[String, String] = Map.empty
  ): SparkSession = {
    val b = SparkSession.builder().appName(appName)
    val withMaster = master.fold(b)(b.master)
    (defaultConf ++ extraConf).foldLeft(withMaster) { case (bb, (k, v)) =>
      bb.config(k, v)
    }.getOrCreate()
  }

  /** Local session for tests / CLI runs. `cores` also sizes the static
    * shuffle partition count so local runs don't pay 200-partition
    * scheduling overhead (AQE would coalesce anyway, but the upper
    * bound still costs task launches).
    */
  def local(cores: Int = 4, appName: String = "graft-local"): SparkSession =
    build(
      appName,
      Some(s"local[$cores]"),
      Map(
        "spark.sql.shuffle.partitions" -> cores.toString,
        "spark.ui.enabled" -> "false"
      )
    )

  /** The config every driver-run entry point (Verify, Bench) must use.
    *
    * One source of truth for the SEMANTICS-BEARING keys: before round
    * 10, Verify/Bench built raw sessions that inherited Spark 4's
    * ANSI-on default while `graft.Main` ran ANSI-off via [[defaultConf]]
    * — so a permissive-cast-dependent query could pass one gate and
    * fail the other. Now all three builders agree (pinned by
    * SessionConfSpec). `SPARK_GRAFT_ANSI=true` flips ANSI on for
    * hostile-data gates (tools/chaos_check.py) that deliberately probe
    * the stricter mode; the driver never sets it.
    */
  def driverConf(cpus: String): Map[String, String] =
    defaultConf ++ Map(
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.ui.enabled" -> "false",
      "spark.sql.ansi.enabled" ->
        sys.env.getOrElse("SPARK_GRAFT_ANSI", defaultConf("spark.sql.ansi.enabled"))
    )

  /** Session for the driver's Verify/Bench mains: local[cpus] with
    * [[driverConf]] — i.e. exactly [[defaultConf]] semantics.
    */
  def driverLocal(cpus: String, appName: String): SparkSession =
    build(appName, Some(s"local[$cpus]"), driverConf(cpus))
}
