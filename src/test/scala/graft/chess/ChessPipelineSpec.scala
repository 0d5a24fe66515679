package graft.chess

import graft.SparkFixture
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** End-to-end pipeline test over the real 514-game 2024-01 sample:
  * bronze → silver → dims → gold fact, idempotence of the merge, dim key
  * uniqueness, analytics sanity (SURVEY.md §5 plan).
  */
class ChessPipelineSpec extends AnyFunSuite with Matchers with SparkFixture {
  import spark.implicits._

  private val sampleJson = "/root/reference/dev_files/Data/2024-01/games.json"
  private val openingsCsv = "/root/reference/dev_files/Data/openings.csv"
  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private lazy val root: String = {
    val dir = java.nio.file.Files.createTempDirectory("chess-pipe").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/bronze"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sampleJson),
      java.nio.file.Paths.get(s"$dir/bronze/2024-01-games.json"))
    dir
  }
  private lazy val pipe = {
    val p = new ChessPipeline(spark, root, "Rhythmbear1")
    p.runMonth(2024, 1, ts("2024-02-01 00:00:00"))
    p
  }

  test("silver has 514 rows x 24 columns with parsed headers and timestamps") {
    assume(new java.io.File(sampleJson).exists())
    val silver = spark.read.parquet(pipe.silverPath(2024, 1))
    silver.count() shouldBe 514L
    silver.columns.length shouldBe 24
    silver.filter($"game_date".isNull || $"start_time".isNull || $"end_time".isNull)
      .count() shouldBe 0L
    silver.filter(!$"pgn_trans".startsWith("1. ")).count() shouldBe 0L
    // every game involves the pipeline user
    silver.filter($"pgn_white_user" =!= "Rhythmbear1" &&
      $"pgn_black_user" =!= "Rhythmbear1").count() shouldBe 0L
  }

  test("gold fact: one row per game, pivot is consistent, duration non-negative") {
    assume(new java.io.File(sampleJson).exists())
    val fact = pipe.fact
    fact.count() shouldBe 514L
    fact.select("game_url").distinct().count() shouldBe 514L
    fact.filter($"my_username" =!= "Rhythmbear1").count() shouldBe 0L
    fact.filter($"opponent_username" === "Rhythmbear1").count() shouldBe 0L
    fact.filter($"game_duration_secs" < 0).count() shouldBe 0L
    fact.filter($"moves" <= 0).count() shouldBe 0L
  }

  test("dims: unique keys, sane contents, 15-row results seed") {
    assume(new java.io.File(sampleJson).exists())
    val op = pipe.dimOpenings
    op.count() shouldBe op.select("pgn_eco_url").distinct().count()
    // one row per distinct played date (not all of Jan was played, and
    // end-of-month games roll into Feb in the UTC Date header)
    pipe.dimDate.count() shouldBe
      spark.read.parquet(pipe.silverPath(2024, 1)).select("game_date").distinct().count()
    pipe.dimResults.count() shouldBe 15L
    val tc = pipe.dimTimeControl
    tc.count() shouldBe tc.select("time_control").distinct().count()
  }

  test("gold fact is laid out partitioned by game_month") {
    assume(new java.io.File(sampleJson).exists())
    pipe.fact.count() // force build
    val dirs = new java.io.File(s"$root/gold/fact-games.parquet").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    // the Jan batch spans Jan + the UTC end-of-month rollover into Feb
    dirs shouldBe Array("game_month=2024-01", "game_month=2024-02")
  }

  test("re-running the same month is idempotent (latest-wins merge)") {
    assume(new java.io.File(sampleJson).exists())
    val before = pipe.fact.orderBy("game_url").collect()
    pipe.runMonth(2024, 1, ts("2024-02-15 00:00:00"))
    val after = pipe.fact.orderBy("game_url").collect()
    after.length shouldBe before.length
    // all rows now carry the newer audit stamp; everything else identical
    val iLu = pipe.fact.columns.indexOf("last_updated")
    after.map(_.getTimestamp(iLu)).distinct shouldBe Array(ts("2024-02-15 00:00:00"))
    def strip(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => r.toSeq.patch(iLu, Nil, 1))
    strip(after) shouldBe strip(before)
  }

  test("opening matcher finds book lines for most games, longest-prefix wins") {
    assume(new java.io.File(sampleJson).exists() && new java.io.File(openingsCsv).exists())
    val book = OpeningMatcher.readBook(spark, openingsCsv)
    val matched = OpeningMatcher.matchOpenings(pipe.fact, book, "game_pgn")
    val n = matched.count()
    val hit = matched.filter($"opening_name".isNotNull).count()
    info(s"opening match coverage: $hit/$n")
    hit.toDouble / n should be >= 0.9
    // the matched line's movetext must be a true prefix of the game's
    val bookMap = book.select("pgn", "name").as[(String, String)].collect().toMap
    val bad = matched.filter($"opening_name".isNotNull)
      .select($"game_pgn", $"opening_name").as[(String, String)].collect()
      .count { case (gamePgn, name) =>
        !bookMap.exists { case (pgn, n2) => n2 == name && gamePgn.startsWith(pgn) }
      }
    bad shouldBe 0
  }

  test("analytics: rates sum to 1 and group counts reconcile") {
    assume(new java.io.File(sampleJson).exists())
    val byFam = ChessAnalytics.winRateByOpeningFamily(pipe.fact, pipe.dimOpenings,
      pipe.dimResults)
    byFam.agg(sum("games")).head.getLong(0) shouldBe 514L
    val byCc = ChessAnalytics.winRateByColorAndClass(pipe.fact, pipe.dimTimeControl,
      pipe.dimResults).collect()
    byCc.foreach { r =>
      val (g, w, l, d) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      w + l + d shouldBe g // every result code maps to an outcome
    }
    // Jan batch, plus the UTC rollover of end-of-month games into Feb
    val trend = ChessAnalytics.monthlyTrend(pipe.fact, pipe.dimResults).collect()
    trend.length should (be >= 1 and be <= 2)
    trend(0).getDate(0).toString shouldBe "2024-01-01"
    trend.map(_.getAs[Long]("games")).sum shouldBe 514L
  }

  test("watermark returns the max last_updated") {
    assume(new java.io.File(sampleJson).exists())
    pipe.watermark() shouldBe defined
  }

  test("searchGamesByLine finds games opening 1. d4 e5 (notebook cell 14)") {
    assume(new java.io.File(sampleJson).exists())
    val hits = ChessAnalytics.searchGamesByLine(pipe.fact, "1. d4 e5")
    hits.count() should be > 0L
    hits.columns should contain("game_url")
  }

  test("registered SQL views answer the dashboard queries") {
    assume(new java.io.File(sampleJson).exists())
    pipe.fact.count() // ensure built
    ChessAnalytics.registerViews(pipe)
    spark.sql("SELECT count(*) FROM fact_games").head.getLong(0) shouldBe 514L
    val top = spark.sql(
      """SELECT f.opening_family, f.games FROM win_rate_by_family f
        |ORDER BY f.games DESC LIMIT 1""".stripMargin).head
    top.getLong(1) should be > 0L
    // star join in SQL against the views (the Power BI query shape)
    val joined = spark.sql(
      """SELECT d.weekday, count(*) AS games
        |FROM fact_games f JOIN dim_date d ON f.game_date = d.game_date
        |GROUP BY d.weekday""".stripMargin)
    joined.agg(org.apache.spark.sql.functions.sum("games")).head.getLong(0) shouldBe 514L
  }

  test("second month: dims append incrementally, only its partition is added") {
    assume(new java.io.File(sampleJson).exists())
    pipe.fact.count() // month 1 built
    val datesBefore = pipe.dimDate.count()
    val openingsBefore = pipe.dimOpenings.count()

    // synthesize a distinct 2024-02 batch from the sample: new game urls,
    // PGN Date/EndDate headers shifted one month
    val raw = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(sampleJson)), "UTF-8")
    val feb = raw
      .replace("game/live/", "game/live/9")
      .replace("[Date \\\"2024.01.", "[Date \\\"2024.02.")
      .replace("[EndDate \\\"2024.01.", "[EndDate \\\"2024.02.")
      .replace("[EndDate \\\"2024.02.31", "[EndDate \\\"2024.02.28")
      .replace("[Date \\\"2024.02.31", "[Date \\\"2024.02.28")
      .replace("[Date \\\"2024.02.29", "[Date \\\"2024.02.28")
      .replace("[Date \\\"2024.02.30", "[Date \\\"2024.02.28")
      .replace("[EndDate \\\"2024.02.29", "[EndDate \\\"2024.02.28")
      .replace("[EndDate \\\"2024.02.30", "[EndDate \\\"2024.02.28")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/bronze/2024-02-games.json"),
      feb.getBytes("UTF-8"))

    pipe.runMonth(2024, 2, ts("2024-03-01 00:00:00"))

    pipe.fact.count() shouldBe 1028L
    // month-1 rows kept their original audit stamp (untouched partitions)
    pipe.fact.filter($"game_month" === "2024-01")
      .select("last_updated").distinct().collect()
      .map(_.getTimestamp(0)) should not contain ts("2024-03-01 00:00:00")
    // dims appended, not duplicated
    pipe.dimDate.count() should be > datesBefore
    pipe.dimDate.count() shouldBe pipe.dimDate.select("game_date").distinct().count()
    pipe.dimOpenings.count() shouldBe openingsBefore // same openings reappear
    val months = new java.io.File(s"$root/gold/fact-games.parquet").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    months should contain("game_month=2024-02")
  }

  test("runMonth survives one transient bronze-read failure (task retry policy)") {
    assume(new java.io.File(sampleJson).exists())
    val dir = java.nio.file.Files.createTempDirectory("chess-retry").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/bronze"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sampleJson),
      java.nio.file.Paths.get(s"$dir/bronze/2024-01-games.json"))
    val failures = new java.util.concurrent.atomic.AtomicInteger(0)
    val flaky = new ChessPipeline(spark, dir, "Rhythmbear1") {
      override def readBronze(year: Int, month: Int) = {
        if (failures.getAndIncrement() == 0)
          throw new java.io.IOException("injected transient bronze outage")
        super.readBronze(year, month)
      }
    }
    flaky.retryDelayMs = 10L // don't sleep 10 s in CI; policy default matches the DAG
    flaky.runMonth(2024, 1, ts("2024-02-01 00:00:00"))
    failures.get() should be >= 2 // first attempt failed, retry succeeded
    flaky.fact.count() shouldBe 514L

    // and with retries exhausted the failure propagates
    val dead = new ChessPipeline(spark, dir, "Rhythmbear1") {
      override def readBronze(year: Int, month: Int) =
        throw new java.io.IOException("permanent outage")
    }
    dead.retries = 1
    dead.retryDelayMs = 1L
    an[java.io.IOException] should be thrownBy
      dead.runMonth(2024, 1, ts("2024-02-01 00:00:00"))
  }

  test("first batch: one fact row per game when one ECOUrl carries two ECO codes") {
    // hermetic: three games written here, two sharing an ECOUrl under
    // different ECO headers, so dim_openings holds two rows for that URL
    def game(id: Int, eco: String, ecoUrl: String): String = {
      val headers = Seq("Event" -> "Live Chess", "Site" -> "Chess.com",
        "Date" -> "2024.01.05", "White" -> "Rhythmbear1", "Black" -> s"opp$id",
        "Result" -> "1-0", "ECO" -> eco, "ECOUrl" -> ecoUrl,
        "StartTime" -> "10:00:00", "EndDate" -> "2024.01.05", "EndTime" -> "10:10:00")
      val pgn = headers.map { case (k, v) => s"""[$k \\"$v\\"]""" }.mkString("\\n") +
        "\\n\\n1. e4 {[%clk 0:09:58]} 1... e5 {[%clk 0:09:57]} 2. Nf3 {[%clk 0:09:50]} 1-0"
      s"""{"url":"https://www.chess.com/game/live/$id","pgn":"$pgn","time_control":"600",""" +
        s""""end_time":1704449400,"rated":true,"time_class":"rapid","rules":"chess",""" +
        s""""white":{"rating":1200,"result":"win","username":"Rhythmbear1"},""" +
        s""""black":{"rating":1180,"result":"resigned","username":"opp$id"}}"""
    }
    val url = "https://www.chess.com/openings/Kings-Pawn-Opening-Kings-Knight-Variation"
    val dir = java.nio.file.Files.createTempDirectory("chess-fanout").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/bronze"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/bronze/2024-01-games.json"),
      Seq(game(1, "C40", url), game(2, "C44", url),
        game(3, "B00", "https://www.chess.com/openings/Nimzowitsch-Defense"))
        .mkString("[", ",\n", "]"))
    val p = new ChessPipeline(spark, dir, "Rhythmbear1")
    p.runMonth(2024, 1, ts("2024-02-01 00:00:00"))
    p.dimOpenings.filter(col("pgn_eco_url") === url).count() shouldBe 2L
    p.fact.count() shouldBe 3L
    p.fact.select("game_url").distinct().count() shouldBe 3L
  }
}
