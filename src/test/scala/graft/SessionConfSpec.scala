package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Session

/** All entry points must run the SAME SQL dialect.
  *
  * Round-9 latent bug class: `graft.Main` built its session through
  * `Session.defaultConf` (ANSI off — the reference relies on permissive
  * casts) while `Verify`/`Bench` built raw sessions that inherited
  * Spark 4's ANSI-on default. Any permissive-cast-dependent query would
  * then pass the app and fail the driver's correctness gate (or vice
  * versa), and a runtime `0.0/0.0` crashed only under the gate. Both
  * mains now route through [[Session.driverLocal]]; this spec pins the
  * semantics-bearing keys so the builders can't silently diverge again.
  */
class SessionConfSpec extends AnyFunSuite {

  /** Conf keys that change query RESULTS (not just performance). */
  private val semanticsKeys = Seq(
    "spark.sql.ansi.enabled",
    "spark.sql.session.timeZone",
    "spark.sql.legacy.parquet.nanosAsLong"
  )

  test("driverConf carries every semantics-bearing defaultConf key unchanged") {
    val driver = Session.driverConf("7")
    for (k <- semanticsKeys) {
      assert(Session.defaultConf.contains(k), s"defaultConf no longer pins $k")
      assert(driver.get(k).contains(Session.defaultConf(k)),
        s"driver sessions would run $k=${driver.get(k)} but graft.Main runs " +
          s"$k=${Session.defaultConf(k)} — the correctness gate would verify a " +
          "different dialect than the product")
    }
  }

  test("every session's file:// FileSystem is the chmod-free one") {
    val impl = "spark.hadoop.fs.file.impl"
    val name = classOf[graft.core.GraftLocalFileSystem].getName
    assert(Session.defaultConf.get(impl).contains(name))
    assert(Session.driverConf("7").get(impl).contains(name))
  }

  test("driverConf sizes shuffle partitions to the worker count and disables the UI") {
    val driver = Session.driverConf("7")
    assert(driver.get("spark.sql.shuffle.partitions").contains("7"))
    assert(driver.get("spark.ui.enabled").contains("false"))
  }

  test("ANSI default is OFF (reference permissive-cast semantics), not Spark 4's ON") {
    // sys.env can't be stubbed from a spec; assert the default path
    // (the driver never sets SPARK_GRAFT_ANSI — chaos_check.py alone
    // opts into the strict dialect).
    assume(!sys.env.contains("SPARK_GRAFT_ANSI"))
    assert(Session.driverConf("4").get("spark.sql.ansi.enabled").contains("false"))
  }
}
