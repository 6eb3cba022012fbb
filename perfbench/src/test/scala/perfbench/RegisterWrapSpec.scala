package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.TableState
import graft.streaming.TableState.CompleteTable

/** The live register's handling of a PMT version wrap, and the schedule
  * `live_mux` keeps away from it. */
class RegisterWrapSpec extends AnyFunSuite {

  private def pmt(version: Int): CompleteTable =
    CompleteTable(Gen.pmtPid(1), 2, 1, version,
      Seq(Gen.pmtSection(1, version)))

  // Known engine defect: `composeToRegister` orders a batch's tables by
  // version number, not by arrival, so 31 wins over the 0 that followed
  // it. The test is pending while the defect stands and fails once it is
  // fixed, as the sign to drop `pendingUntilFixed`.
  test("a version wrap inside one micro-batch reaches the register") {
    val work = Files.createTempDirectory("perfbench-wrap").toString
    val s = Session.start(1, work)
    try {
      import s.implicits._
      implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
      val in = MemoryStream[CompleteTable]
      val q = TableState.composeToRegister(in.toDS(), s"$work/register")
      try {
        in.addData(pmt(30))
        q.processAllAvailable()
        in.addData(pmt(31), pmt(0))
        q.processAllAvailable()
        val registered = SparkSession.active.read
          .parquet(s"$work/register").select("versionNumber").as[Int]
          .collect().toSeq
        info(s"registered versions: $registered")
        assert(registered.length == 1)
        pendingUntilFixed { assert(registered == Seq(0)) }
      } finally q.stop()
    } finally Session.stop(s)
  }

  test("a live_mux run never bumps a program past version 31") {
    for (seconds <- Seq(1, 20); trace <- Seq(false, true)) {
      val bound = LiveMux.versionBound(seconds, trace)
      val perProgram =
        (LiveMux.maxBumps(seconds, trace) + LiveMux.Programs - 1) /
          LiveMux.Programs
      assert(bound - 1 + perProgram <= 31)
      assert(Gen.initialVersions(seconds.toLong, LiveMux.Programs, bound)
        .forall(_ < bound))
    }
    assert(LiveMux.maxBumps(20, trace = false) >= 100)
    assertThrows[IllegalArgumentException](
      LiveMux.versionBound(60, trace = true))
  }
}
