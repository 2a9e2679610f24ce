package graft

import org.scalatest.funsuite.AnyFunSuite

class QueryProfileSpec extends AnyFunSuite {
  import SparkTestSession._

  test("construction and execution jobs are counted exactly, with no leak across queries") {
    val profile = QueryProfile.install(spark)
    // one eager checkpoint job while the frame is built, one noop write
    def once(): QueryLayers = profile.measure(
      spark.range(0, 1000, 1, 4).localCheckpoint())(
      _.write.format("noop").mode("overwrite").save())._2
    val first = once()
    assert(first.constructJobs == 1, first)
    assert(first.jobs == 2, first)
    assert(first.tasks == 8, first)
    assert(first.constructMs > 0 && first.execMs > 0, first)
    assert(first.executorBusyMs >= 0 && first.shuffleWriteBytes == 0, first)
    // back to back: nothing of the first query lands in the second
    val second = once()
    assert((second.jobs, second.constructJobs, second.tasks) ==
      (first.jobs, first.constructJobs, first.tasks), second)
  }
}
