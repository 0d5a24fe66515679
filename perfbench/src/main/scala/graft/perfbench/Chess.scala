package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, countDistinct, date_format, lit}

import graft.chess.{ChessAnalytics, ChessPipeline, Warehouse}

/** The paper's pipeline, one monthly batch at a time: bronze JSON →
  * silver → dims → gold fact merge → JDBC warehouse load (in-memory
  * Derby) → the four dashboard views. Each layer is timed by calling the
  * pipeline's public functions; every batch's outputs are checked
  * (untimed) afterwards. The first month is set-up: it takes the initial
  * build path and leaves the history the timed months merge into, so every
  * timed batch is a monthly merge.
  */
final class Chess(spark: SparkSession, data: Path, user: String,
                  gamesPerMonth: Long, probe: Probe, report: Report) {

  val views: Seq[String] = Seq("win_rate_by_family", "win_rate_by_color_class",
    "monthly_trend", "rating_by_day")

  private val book = data.resolve("openings.csv").toString
  private val months: Seq[(Int, Int)] =
    Files.list(data.resolve("bronze")).iterator.asScala.map(_.getFileName.toString)
      .collect { case n if n.endsWith("-games.json") =>
        (n.take(4).toInt, n.slice(5, 7).toInt) }
      .toSeq.sorted

  // the pipeline reads data/bronze and writes data/silver and data/gold
  private val pipe = new ChessPipeline(spark, data.toString, user, Some(book))
  private val url = "jdbc:derby:memory:perfbench;create=true"
  Warehouse.createSchema(url)
  /** Fact rows after the last batch. */
  private var factBefore = 0L

  private def files(dir: Path): Set[String] =
    if (!Files.exists(dir)) Set.empty
    else Files.walk(dir).iterator.asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString).filter(_.endsWith(".parquet")).toSet

  private def jdbcCount(url: String, table: String): Long = {
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM chess_dw.$table")
      rs.next()
      rs.getLong(1)
    } finally c.close()
  }

  /** Runs month `i` through every layer and checks its outputs; a timed
    * batch also records its samples and per-layer values.
    */
  private def batch(i: Int, timed: Boolean): Unit = {
    val (y, m) = months(i)
    val tag = f"$y-$m%02d"
    val factDir = data.resolve("gold/fact-games.parquet")
    val filesBefore = files(factDir)
    val first = probe.spans.size
    val lastUpdated = java.sql.Timestamp.valueOf(
      java.time.LocalDate.of(y, m, 1).plusMonths(1).atStartOfDay())
    val t0 = System.nanoTime()
    val silver = probe.span("silver", tag)(pipe.buildSilver(y, m))
    probe.span("dims", tag)(pipe.buildDims(silver))
    probe.span("fact", tag)(pipe.buildFact(silver, lastUpdated))
    probe.span("warehouse", tag)(pipe.loadWarehouse(url, new java.util.Properties()))
    val rows = probe.span("views", tag) {
      ChessAnalytics.registerViews(pipe)
      views.map(v => v -> probe.span(s"views.$v", "views")(spark.table(v).collect()))
    }
    val seconds = (System.nanoTime() - t0) / 1e9

    // untimed output checks, one Spark job per table
    def counts(df: DataFrame, key: Column): (Long, Long) = {
      val r = df.agg(count(lit(1)), countDistinct(key)).head()
      (r.getLong(0), r.getLong(1))
    }
    val (silverRows, batchMonths) = counts(silver, date_format(col("game_date"), "yyyy-MM"))
    report.check(silverRows == gamesPerMonth, s"$tag silver rows $silverRows != games $gamesPerMonth")
    val (factRows, urls) = counts(pipe.fact, col("game_url"))
    report.check(factRows == urls, s"$tag fact rows $factRows != distinct game_url $urls")
    val dims = Seq(("dim_openings", pipe.dimOpenings, "pgn_eco_url"),
      ("dim_date", pipe.dimDate, "game_date"),
      ("dim_time_control", pipe.dimTimeControl, "time_control"),
      ("dim_results", pipe.dimResults, "result_code"))
      .map { case (name, df, key) => (name, key, counts(df, col(key))) }
    dims.foreach { case (name, key, (n, k)) =>
      report.check(n == k, s"$tag $name rows $n != distinct $key $k") }
    val dimRows = dims.map(_._3._1).sum
    val gold = ("fact_games" -> factRows) +: dims.map { case (name, _, (n, _)) => name -> n }
    var whRows = 0L
    gold.foreach { case (table, n) =>
      val w = jdbcCount(url, table)
      whRows += w
      report.check(w == n, s"$tag warehouse $table rows $w != gold rows $n")
    }
    rows.foreach { case (v, r) => report.check(r.nonEmpty, s"$tag view $v is empty") }
    val newFiles = files(factDir) -- filesBefore
    val partitions = newFiles.flatMap(f => Option(Paths.get(f).getParent)).size
    report.check(partitions == batchMonths,
      s"$tag fact partitions written $partitions != months in batch $batchMonths")
    val inserted = factRows - factBefore
    factBefore = factRows
    if (!timed) return

    report.sample("pass_s", seconds)
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    probe.spans.drop(first).foreach { s =>
      acc(s"${s.name}.s") += s.seconds
      if (s.parent != "views") { // a view's span nests inside `views`
        acc(s"${s.name}.stages") += s.counts.stages
        acc(s"${s.name}.tasks") += s.counts.tasks
        s.counts.foreachMetric((k, v) => acc(k) += v)
      }
    }
    acc.foreach { case (k, v) => report.layer(k, v) }
    // the query a dashboard user waits for: all four views after the load
    report.sample("query_s", acc("views.s"))
    report.layer("silver.rows", silverRows.toDouble)
    report.layer("bronze.mb", Files.size(data.resolve(f"bronze/$tag-games.json")) / 1e6)
    report.layer("dims.rows", dimRows.toDouble)
    report.layer("fact.rows_inserted", inserted.toDouble)
    report.layer("fact.rows_replaced", (silverRows - inserted).toDouble)
    report.layer("fact.partitions_written", partitions.toDouble)
    report.layer("fact.files_written", newFiles.size.toDouble)
    report.layer("warehouse.rows", whRows.toDouble)
  }

  /** Set-up: the first month, checked but not timed. */
  def warm(): Unit = batch(0, timed = false)

  /** Timed region: every later month, in order. */
  def timed(): Unit = {
    months.indices.drop(1).foreach(batch(_, timed = true))
    report.layer("games_per_s",
      report.layers("silver.rows").sum / report.samples("pass_s").sum)
  }
}
