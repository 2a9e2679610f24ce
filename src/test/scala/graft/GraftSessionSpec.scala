package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {
  import SparkTestSession._

  test("par2 runs each thunk under the caller's active session") {
    val other = spark.newSession()
    def actives() = GraftSession.par2(SparkSession.active, SparkSession.active)
    try {
      // the pool's threads are created (and inherit an active session)
      // while `spark` is active
      SparkSession.setActiveSession(spark)
      (1 to 3).foreach(_ => actives())
      SparkSession.setActiveSession(other)
      val (a, b) = actives()
      assert((a eq other) && (b eq other), "a thunk ran under a stale session")
      SparkSession.setActiveSession(spark)
      val (c, d) = actives()
      assert((c eq spark) && (d eq spark), "a thunk ran under a stale session")
    } finally SparkSession.setActiveSession(spark)
  }

  test("ScaleDataGen rejects more copies than its 26-letter rotation keeps distinct") {
    val e = intercept[IllegalArgumentException](
      ScaleDataGen.main(Array("/nonexistent/src", "/nonexistent/out", "27")))
    assert(e.getMessage.contains("1..26"))
  }
}
