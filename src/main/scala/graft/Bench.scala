package graft
import org.apache.spark.sql.DataFrame
object Bench {
  /** Forces FULL evaluation of every output row via the no-op sink.
    * `count()` is NOT a valid evaluation driver for a benchmark that is
    * paired against DuckDB's `fetchall`: Catalyst prunes projections that
    * count() doesn't need, so a map-only query (a wide projection, a
    * scoring pass) collapses to a parquet-metadata row count and times
    * the scheduler, not the work (measured at sf0.1: text_profile 0.12 s
    * under count() vs 0.97 s fully evaluated). The noop sink evaluates
    * every expression and discards rows executor-side — the honest
    * analogue of the oracle side's fetchall.
    */
  private[graft] def evaluate(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.create(GraftSession.benchProfile)
    // the FIXED-INPUT set reads the reference 514-game sample, not the sf
    // dir — excluded so bench numbers reflect sf scaling only. ONE
    // canonical set (SparkEntry.fixedInputQueries, r13 ADVICE) shared
    // with Inspect and published in the bench JSON for
    // tools/bench_oracle.py. Sorted-name execution
    // order: deterministic run-to-run (a Map's hash order is not), and it
    // fixes WHICH query pays any shared-subtree build cost (the dedup
    // family persists one hash-array/pair subtree; in sorted order
    // dedup_clusters, the family's first, builds it).
    // SPARK_GRAFT_ONLY=a,b,c restricts the run to a named subset (the
    // scale harness times just the heavy tail); unset = the full board
    val fixedInput = SparkEntry.fixedInputQueries
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val benched = SparkEntry.queries.filterNot(q => fixedInput(q._1))
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .toSeq.sortBy(_._1)
    // one untimed pass first: JVM/codegen/JIT, shuffle system, parquet
    // footers and OS page cache all warm, so the timed pass measures
    // steady-state query cost rather than whichever query runs first
    benched.foreach { case (_, fn) =>
      try evaluate(fn(spark, sfDir)) catch { case _: Throwable => }
    }
    // drop warm-pass persisted intermediates: the timed pass should pay
    // each query's real cost, not fight the leftovers for executor memory
    spark.catalog.clearCache()
    // two timed passes, best-of per query: the host environment shows
    // intermittent multi-second contention spikes; min-of-N is the standard
    // way to measure the query rather than the noise
    def timedPass(): Map[String, Double] = {
      val r = benched.map { case (name, fn) =>
        val t0 = System.nanoTime()
        // a failure must NOT masquerade as a fast timing: report -1 (same
        // contract as the fixed-input block below)
        val ok = try { evaluate(fn(spark, sfDir)); true } catch { case _: Throwable => false }
        name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
      }.toMap
      spark.catalog.clearCache()
      r
    }
    // stage census of the timed region (VERDICT r15 #8): published in the
    // JSON line so host/session drift is diagnosable from the artifact
    // alone — the stage count is structural (same plans → same count), so
    // seconds-per-stage separates "the host was slow" from "a query grew
    // stages"
    val census = new StageCensus(spark.sparkContext)
    val ((p1, p2), timedCensus) = census.measure((timedPass(), timedPass()))
    census.close()
    val results = p1.map { case (k, v) => k -> math.min(v, p2(k)) }
    def f(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    // fixed-input queries (they read the reference sample, not the sf dir)
    // timed once, reported on their own line and excluded from the
    // sf-scaled total so round-over-round totals stay comparable
    val fixed = SparkEntry.queries.filter(q => fixedInput(q._1)).map { case (name, fn) =>
      val t0 = System.nanoTime()
      // a failure must NOT masquerade as a fast timing: report -1
      val ok = try { evaluate(fn(spark, sfDir)); true } catch { case _: Throwable => false }
      name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
    }
    // The driver snapshots only the LAST ~2 KB of stdout; the full
    // per-query map no longer fits that window (118 sf-scaled queries ≈
    // 3 KB — round 6's snapshot already lost the line head, including the
    // total). Print order puts the expendable detail FIRST and a compact,
    // SELF-CONTAINED line LAST: the full map (head may be eaten — it is
    // also written whole to BENCH_FULL.json), the fixed-input line, then
    // a ≤1.5 KB line carrying the total, every failure, the slowest 30
    // queries, and an aggregate of the remaining floor queries.
    def fq(v: Double): String =
      if (v >= 0.01) "%.2f".formatLocal(java.util.Locale.ROOT, v) else f(v)
    val qs = results.toSeq.sortBy(_._1).map { case (k, v) => s"\"" + k + "\":" + fq(v) }
      .mkString("{", ",", "}")
    // the total sums SURVIVING queries only: a -1 failure sentinel must
    // not subtract from the total and make a failing round read faster
    val total = results.values.filter(_ >= 0).sum
    val sfLabel = new java.io.File(sfDir).getName
    // fixed_input published so downstream tools (bench_oracle.py) read the
    // canonical set from the bench artifact instead of hardcoding a copy
    val fixedJson = fixedInput.toSeq.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val fullLine =
      s"""{"metric":"total","value":${f(total)},"unit":"sec","queries":$qs,"fixed_input":$fixedJson,"sf":"$sfLabel","passes":2,"eval":"noop"}"""
    // the full line goes to the file ONLY (stderr as the read-only-cwd
    // fallback): the driver parses the LAST stdout line as the bench JSON,
    // and a second {"metric":"total"...} line above it is exactly what
    // broke the parse in r01-r15 (VERDICT r15 #1) — stdout carries ONE
    // JSON line, printed last below
    val fullOut = sys.env.getOrElse("SPARK_GRAFT_FULL_OUT", "BENCH_FULL.json")
    val fullWritten =
      try {
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(fullOut), fullLine + "\n")
        true
      } catch {
        case _: Throwable => Console.err.println(fullLine); false
      }
    println(fixed.toSeq.sortBy(_._1).map { case (k, v) => s"$k=${f(v)}s" }
      .mkString("fixed-input (untimed in total): ", " ", ""))
    // failures are capped at 10 named entries + a count so a mass-failure
    // round (testdata missing, session-wide regression) cannot push THIS
    // line past the snapshot window either — the one scenario where the
    // compact line matters most; sorted for run-to-run determinism
    val (failed, timed) = results.partition(_._2 < 0)
    val top = timed.toSeq.sortBy(-_._2).take(30)
    val floor = timed.toSeq.sortBy(-_._2).drop(30)
    val topJson = (failed.toSeq.sortBy(_._1).take(10)
        .map { case (k, _) => s"\"" + k + "\":-1.000" } ++
      top.sortBy(_._1).map { case (k, v) => s"\"" + k + "\":" + fq(v) })
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${f(total)},"unit":"sec","n_failed":${failed.size},"queries":$topJson,"floor_queries":{"n":${floor.size},"sum":${f(floor.map(_._2).sum)}},"stages":${timedCensus.stages},"cpus":${spark.sparkContext.defaultParallelism},"sf":"$sfLabel","passes":2,"eval":"noop","full":${if (fullWritten) "\"" + fullOut + "\"" else "null"}}""")
    spark.stop()
  }
}
