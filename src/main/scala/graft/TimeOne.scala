package graft

/** Dev harness: time individual queries by name (min-of-2 after a warm
  * pass, same convention as [[Bench]]).
  *
  *   sbt "runMain graft.TimeOne dedup_minhash_lsh text_edit_distance"
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 4).
  */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.create(GraftSession.benchProfile)
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt
    // SPARK_GRAFT_SMOKE=1: single cold evaluation per query, failures
    // CAUGHT and reported (not fatal to the run) — the mode for "does the
    // whole board survive at a scale we can't afford to min-of-N",
    // where one dead stage must not mask the rest of the board
    if (sys.env.getOrElse("SPARK_GRAFT_SMOKE", "0") == "1") {
      var failed = 0
      for (name <- names) {
        val t0 = System.nanoTime()
        try {
          Bench.evaluate(SparkEntry.queries(name)(spark, sfDir))
          println(f"SMOKE $name%-28s ${(System.nanoTime() - t0) / 1e9}%.3f s ok")
        } catch { case e: Throwable =>
          failed += 1
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          println(f"SMOKE $name%-28s FAILED ${msg.linesIterator.nextOption.getOrElse("").take(120)}")
        }
        spark.catalog.clearCache()
      }
      println(s"SMOKE __summary__ ${names.size - failed}/${names.size} ok")
      spark.stop()
      return
    }
    val best = names.map { name =>
      val fn = SparkEntry.queries(name)
      Bench.evaluate(fn(spark, sfDir)) // warm
      spark.catalog.clearCache()
      val ts = (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        Bench.evaluate(fn(spark, sfDir))
        val t = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        t
      }
      println(f"TIME $name%-28s ${ts.min}%.3f s (min-of-$passes%d)")
      name -> ts.min
    }
    // optional machine-readable dump (same {"queries": {...}} shape as
    // Bench's full line) so the scale harness can pair this harness'
    // steady-state convention — per-query warm back-to-back min-of-N,
    // the same convention as the DuckDB side's min-of-3 — against the
    // one-shot interleaved Bench numbers
    sys.env.get("SPARK_GRAFT_JSON_OUT").foreach { out =>
      def f(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
      val qs = best.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + f(v) }.mkString("{", ",", "}")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
        s"""{"metric":"steady","unit":"sec","passes":$passes,"queries":$qs}""" + "\n")
    }
    spark.stop()
  }
}
