package graft

import graft.operators.DriverReplay

/** The driver-replay gate: what it admits, and how many Spark jobs each
  * decision costs (counted by a SparkListener).
  */
class DriverReplaySpec extends SparkSpec {

  private def jobsOf[T](body: => T): (T, Int) = {
    val (out, jobs) = jobDescriptionsOf(body)
    (out, jobs.size)
  }

  /** `n` rows in ONE partition, so a limit collect takes exactly one job. */
  private def rows(n: Long) = spark.range(0, n, 1, 1).toDF("id")

  test("one probed input costs exactly one job, admitted or not") {
    val (admitted, jobsIn) = jobsOf(DriverReplay.probe(rows(50), 100))
    assert(admitted.map(_.length) === Some(50))
    assert(jobsIn === 1)
    val (refused, jobsOut) = jobsOf(DriverReplay.probe(rows(150), 100))
    assert(refused === None)
    assert(jobsOut === 1)
  }

  test("bound rows give Some with every row; bound + 1 rows give None") {
    val got = DriverReplay.probe(rows(10), 10)
    assert(got.map(_.map(_.getLong(0)).toSeq) === Some(0L until 10L))
    assert(DriverReplay.probe(rows(11), 10) === None)
    assert(DriverReplay.admits(spark, 10L, 10))
    assert(!DriverReplay.admits(spark, 11L, 10))
  }

  test("with the switch off the gate returns None and runs zero jobs") {
    assert(spark.conf.getOption(DriverReplay.Switch) === None)
    val (got, jobs) = jobsOf(DriverReplay.distributedOnly(spark) {
      (DriverReplay.probe(rows(5), 10), DriverReplay.admits(spark, 5L, 10))
    })
    assert(got === ((None, false)))
    assert(jobs === 0)
    // the scoped switch restores the session's previous state
    assert(spark.conf.getOption(DriverReplay.Switch) === None)
    assert(DriverReplay.probe(rows(5), 10).isDefined)
  }

  test("a false schema predicate returns None and runs zero jobs") {
    val (got, jobs) = jobsOf(DriverReplay.probe(rows(5), 10, schemaOk = false))
    assert(got === None)
    assert(jobs === 0)
    assert(!DriverReplay.admits(spark, 5L, 10, schemaOk = false))
  }

  test("probeAll admits only when every input fits; the first misfit stops the probing") {
    val (both, jobsBoth) = jobsOf(DriverReplay.probeAll(Seq(rows(3), rows(4)), 10))
    assert(both.map(_.map(_.length)) === Some(Seq(3, 4)))
    assert(jobsBoth === 2)
    val (none, jobsNone) = jobsOf(DriverReplay.probeAll(Seq(rows(20), rows(4)), 10))
    assert(none === None)
    assert(jobsNone === 1)
  }

  test("the route counter moves only on admission") {
    val before = DriverReplay.runs.get()
    DriverReplay.probe(rows(20), 10)
    DriverReplay.probe(rows(5), 10, schemaOk = false)
    DriverReplay.distributedOnly(spark)(DriverReplay.probe(rows(5), 10))
    assert(DriverReplay.runs.get() === before)
    DriverReplay.probe(rows(5), 10)
    DriverReplay.admits(spark, 5L, 10)
    assert(DriverReplay.runs.get() === before + 2)
  }
}
