package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class StageCensusSpec extends AnyFunSuite with Matchers with SparkFixture {

  test("census of one fixed query reads the same non-zero counts twice") {
    val query = SparkEntry.queries("a5_rollup")
    val census = new StageCensus(spark.sparkContext)
    try {
      Bench.evaluate(query(spark, sf0001))
      val runs = (1 to 2).map { _ =>
        val (_, c) = census.measure(Bench.evaluate(query(spark, sf0001)))
        spark.catalog.clearCache()
        c
      }
      val counts = runs.map(c => (c.jobs, c.stages, c.tasks))
      counts(0) shouldBe counts(1)
      runs(0).jobs should be > 0
      runs(0).stages should be > 0
      runs(0).tasks should be > 0L
      // the bus was drained, so every submitted stage has completed too
      runs.foreach(c => c.completed.size shouldBe c.stages)
    } finally census.close()
  }
}
