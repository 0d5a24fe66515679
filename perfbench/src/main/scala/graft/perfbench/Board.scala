package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{Bench, SparkEntry}

/** The query board: a fixed list of sf-scaled `SparkEntry.queries`,
  * evaluated closed-loop in sorted-name order through `Bench.evaluate`
  * (the noop sink). Set-up runs one untimed pass that collects every
  * result and checks its row count and order-independent hash against the
  * expected file; the timed region then runs whole passes.
  */
object Board {

  val families: Seq[String] = Seq("relational", "dedup", "ann", "text", "lm",
    "order", "mm", "joins", "stream", "src")

  def familyOf(query: String): String = {
    val prefix = query.takeWhile(_ != '_')
    if (prefix.matches("j[0-9]+b?")) "joins"
    else if (families.contains(prefix)) prefix
    else "relational"
  }

  /** Set-up: reads the query list and runs the checked warm pass (or,
    * with `record`, rewrites the expected file from it). Returns the query
    * names in evaluation order.
    */
  def setUp(spark: SparkSession, dir: String, queriesFile: Path, expectedFile: Path,
            record: Boolean, report: Report): Seq[String] = {
    val names = Files.readAllLines(queriesFile).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).toSeq.sorted
    val unknown = names.filterNot(n => SparkEntry.queries.contains(n) &&
      !SparkEntry.fixedInputQueries(n))
    require(unknown.isEmpty, s"not sf-scaled queries: ${unknown.mkString(",")}")
    val expected =
      if (record) Map.empty[String, (Long, String)]
      else parseExpected(new String(Files.readAllBytes(expectedFile), "UTF-8"))
    val got = checkPass(spark, dir, names, expected, report)
    if (record) Files.write(expectedFile, renderExpected(got).getBytes("UTF-8"))
    names
  }

  /** Expected-checksum file: one `name rows hash` line per query. */
  def parseExpected(s: String): Map[String, (Long, String)] =
    s.linesIterator.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\\s+")).map(a => a(0) -> (a(1).toLong, a(2))).toMap

  def renderExpected(m: Map[String, (Long, String)]): String =
    m.toSeq.sortBy(_._1).map { case (k, (n, h)) => s"$k $n $h\n" }.mkString

  /** Untimed warm pass: evaluates each query once, collecting its rows,
    * and returns (rows, hash) per query.
    */
  def checkPass(spark: SparkSession, dir: String, names: Seq[String],
                expected: Map[String, (Long, String)], report: Report)
      : Map[String, (Long, String)] = {
    val all = SparkEntry.queries
    val got = names.flatMap { name =>
      val r = try Some(Checksum.of(all(name)(spark, dir).collect()))
      catch { case e: Throwable =>
        report.check(ok = false, s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
      }
      r.foreach { sum =>
        expected.get(name) match {
          case Some(exp) => report.check(sum == exp,
            s"$name: rows/hash ${sum._1}/${sum._2}, expected ${exp._1}/${exp._2}")
          case None => report.check(expected.isEmpty, s"$name: no expected checksum")
        }
      }
      r.map(name -> _)
    }.toMap
    spark.catalog.clearCache()
    got
  }

  /** Timed region: `passes` whole passes over the queries; then each
    * query's best time over the passes.
    */
  def timed(spark: SparkSession, dir: String, names: Seq[String],
            passes: Int, probe: Probe, report: Report): Unit = {
    val all = SparkEntry.queries
    val best = mutable.Map.empty[String, Double].withDefaultValue(Double.PositiveInfinity)
    (0 until passes).foreach { pass =>
      val p = s"pass$pass"
      val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      def add(k: String, v: Double): Unit = acc(k) = acc(k) + v
      val first = probe.spans.size
      val passStart = System.nanoTime()
      names.foreach { name =>
        val t0 = System.nanoTime()
        try {
          val df = probe.span(s"build:$name", p)(all(name)(spark, dir))
          probe.span(s"exec:$name", p)(Bench.evaluate(df))
          report.check(ok = true, name)
          val seconds = (System.nanoTime() - t0) / 1e9
          report.sample("query_s", seconds)
          best(name) = math.min(best(name), seconds)
        } catch { case e: Throwable =>
          report.check(ok = false, s"$name (timed): ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }
      spark.catalog.clearCache()
      report.sample("pass_s", (System.nanoTime() - passStart) / 1e9)
      probe.spans.drop(first).foreach { s =>
        val (kind, name) = s.name.span(_ != ':')
        val fam = familyOf(name.drop(1))
        add(s"$kind.s", s.seconds)
        add(s"family.$fam.s", s.seconds)
        add(s"family.$fam.stages", s.counts.stages.toDouble)
        if (kind == "build") add("build.jobs", s.counts.jobs.toDouble)
        s.counts.foreachMetric(add)
      }
      acc.foreach { case (k, v) => report.layer(k, v) }
    }
    best.values.foreach(report.sample("query_best_s", _))
  }
}
