package graft.tools

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Bench, GraftSession, SparkEntry, StageCensus}

/** Where one query's time goes, under the bench session profile:
  *
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.Inspect [names…]"
  *
  * With no names it covers every sf-scaled query (not
  * [[SparkEntry.fixedInputQueries]]). Per query: one warm pass (JIT, page
  * cache, memos), then one evaluation via [[Bench.evaluate]], then
  *   - the executed plan of that evaluation, AQE-final (exchange and stage
  *     reuse are only visible there),
  *   - its stage table: id, tasks, wall ms, call site,
  *   - last, one JSON line `{"query","jobs","stages","tasks","sec"}` — the
  *     census `tools/floor_model.py --census` joins against
  *     BENCH_ORACLE.json (`grep '^{'` keeps just these lines).
  */
object Inspect {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.create(GraftSession.benchProfile)
    // the noop write runs its own QueryExecution (not the DataFrame's); keep
    // the last one that succeeded — its plan is final once it has run
    @volatile var lastRun: Option[QueryExecution] = None
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        lastRun = Some(qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    val census = new StageCensus(spark.sparkContext)
    val names = if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.filterNot(SparkEntry.fixedInputQueries).sorted
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      try {
        Bench.evaluate(fn(spark, sfDir))
        spark.catalog.clearCache()
        val (sec, c) = census.measure {
          val t0 = System.nanoTime()
          Bench.evaluate(fn(spark, sfDir))
          (System.nanoTime() - t0) / 1e9
        }
        println(s"\n========== $name (executed) ==========")
        lastRun.foreach(qe => println(qe.executedPlan))
        println("--- stages (id, tasks, ms, name) ---")
        c.completed.sortBy(_.id).foreach { s =>
          println(f"  stage ${s.id}%4d  tasks=${s.tasks}%4d  ${s.ms}%6d ms  ${s.name}")
        }
        println(s"""{"query":"$name","jobs":${c.jobs},"stages":${c.stages},""" +
          s""""tasks":${c.tasks},"sec":${"%.3f".formatLocal(java.util.Locale.ROOT, sec)}}""")
      } catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        println(s"""{"query":"$name","err":"${msg.linesIterator.nextOption.getOrElse("").take(120).replace("\"", "'")}"}""")
      }
      spark.catalog.clearCache()
    }
    census.close()
    spark.stop()
  }
}
