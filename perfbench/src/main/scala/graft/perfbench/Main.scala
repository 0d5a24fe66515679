package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.io.Source

import graft.GraftSession

/** JVM side of the benchmark (`run.py` launches it; see there for usage).
  *
  *   --workload board|chess  --data DIR  --work DIR  --passes N
  *   --trace 0|1  --out FILE  [--queries FILE --expected FILE --record 0|1]
  *   [--games N --user NAME]
  *
  * Writes one JSON object to `--out`: the check counts, raw samples,
  * per-layer values and environment facts.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val data = Paths.get(opt("data")).toAbsolutePath
    val report = new Report
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.create(_
      // graft.Bench's session profile
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
      .config("spark.locality.wait", "0ms")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString))
    report.info("session_s") = (System.currentTimeMillis() - jvmStart) / 1e3
    val probe = new Probe(spark.sparkContext, traced)
    try {
      val warmStart = System.nanoTime()
      opt("workload") match {
        case "board" =>
          val dir = data.toString
          val names = Board.setUp(spark, dir, Paths.get(opt("queries")),
            Paths.get(opt("expected")), opt.get("record").contains("1"), report)
          report.info("warm_s") = (System.nanoTime() - warmStart) / 1e9
          report.info("queries") = names.size
          Board.timed(spark, dir, names, opt("passes").toInt, probe, report)
        case "chess" =>
          val chess = new Chess(spark, data, opt("user"), opt("games").toLong,
            probe, report)
          chess.warm()
          report.info("warm_s") = (System.nanoTime() - warmStart) / 1e9
          chess.timed()
      }
      if (traced) {
        val region = probe.spans.map(_.endNs).max - probe.spans.map(_.startNs).min
        report.layer("spark.peak_exec_mem_mb", probe.peakExecMemBytes / 1e6)
        report.layer("trace.overhead_frac", probe.overheadNs / region.toDouble)
        report.info("spans") = probe.spans.map(s => Seq(s.name, s.parent,
          (s.startNs - warmStart) / 1e9, (s.endNs - warmStart) / 1e9))
      }
      report.info("cpus") = spark.sparkContext.defaultParallelism
      report.info("heap_mb") = Runtime.getRuntime.maxMemory / (1 << 20)
      report.info("spark_version") = spark.version
      report.info("peak_rss_mb") = vmHwmMb
      Files.write(Paths.get(opt("out")), report.json.getBytes("UTF-8"))
    } finally {
      probe.close()
      spark.stop()
    }
  }

  /** The process's peak resident set (VmHWM), in MB. */
  def vmHwmMb: Double = {
    val line = Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }
}
