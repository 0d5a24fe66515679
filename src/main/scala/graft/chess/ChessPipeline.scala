package graft.chess

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}

/** End-to-end medallion pipeline: bronze JSON → silver parquet → gold star
  * schema, with the reference's incremental semantics (existence-probe
  * initial-vs-incremental dim builds, latest-wins fact merge) — one Spark
  * driver program instead of two DAGs × N tasks × XCom hops (SURVEY.md §3).
  *
  * `root` is any Hadoop-compatible URI (local dir in tests, abfss/s3a at
  * scale); layout mirrors the reference's blob names:
  * bronze/{yyyy}-{MM}-games.json, silver/fact-{yyyy}-{MM}-games.parquet,
  * gold/{fact-games,dim_*}.parquet.
  */
class ChessPipeline(spark: SparkSession, root: String, username: String,
                    openingsBook: Option[String] = None) {

  private def path(rel: String) = s"$root/$rel"

  private def exists(rel: String): Boolean = {
    val p = new Path(path(rel))
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  private def readGold(rel: String): DataFrame = spark.read.parquet(path(rel))

  private def writeGold(df: DataFrame, rel: String): Unit = {
    // dims and the cumulative fact are replaced atomically each batch; the
    // window-merge already read the previous state into the plan, so stage
    // to a temp location then swap (parquet overwrite would clobber input)
    val tmp = path(rel + ".tmp")
    df.write.mode(SaveMode.Overwrite).parquet(tmp)
    val fs = new Path(path(rel)).getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new Path(path(rel)), true)
    fs.rename(new Path(tmp), new Path(path(rel)))
  }

  def readBronze(year: Int, month: Int): DataFrame =
    spark.read.schema(Schemas.bronze).option("multiLine", true)
      .json(path(f"bronze/$year-$month%02d-games.json"))

  def silverPath(year: Int, month: Int): String =
    path(f"silver/fact-$year-$month%02d-games.parquet")

  /** EP1: one month bronze → silver. */
  def buildSilver(year: Int, month: Int): DataFrame = {
    val silver = SilverFact.transform(readBronze(year, month))
    silver.write.mode(SaveMode.Overwrite).parquet(silverPath(year, month))
    spark.read.parquet(silverPath(year, month))
  }

  /** EP2 dims: initial build or incremental append per existence probe
    * (S10 + J2 + U1). The four builds are independent jobs submitted
    * concurrently (the reference fans them out as parallel Airflow tasks,
    * collect_chess_data_dag.py:108) — Spark's scheduler interleaves their
    * stages across the cluster.
    */
  def buildDims(silver: DataFrame): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    def upsert(rel: String, fresh: DataFrame, key: String): Unit = {
      val next =
        if (exists(rel)) Dims.incremental(fresh, readGold(rel), key) else fresh
      writeGold(next, rel)
    }
    // with an openings book configured, dim_openings carries the csv's
    // colon-form "Family: Variation" names (slug fallback for unmatched
    // URLs); without one, the slug-only derivation
    val openings = openingsBook match {
      case Some(csv) => Dims.openingsFromSilverEnriched(silver,
        OpeningMatcher.readBook(spark, csv))
      case None => Dims.openingsFromSilver(silver)
    }
    val builds = Seq(
      Future(upsert("gold/dim_openings.parquet", openings, "pgn_eco_url")),
      Future(upsert("gold/dim_date.parquet", Dims.dateFromSilver(silver), "game_date")),
      Future(upsert("gold/dim_time_control.parquet",
        Dims.timeControlFromSilver(silver), "time_control")),
      Future(if (!exists("gold/dim_results.parquet")) // write-once seed (quirk 1)
        writeGold(Dims.results(spark), "gold/dim_results.parquet")))
    Await.result(Future.sequence(builds), Duration.Inf)
  }

  /** EP2 fact: gold projection → star join → merge into the cumulative
    * fact, which is laid out partitioned by `game_month` (yyyy-MM).
    *
    * The merge is partition-pruned: only the months present in the new
    * batch are read back (Parquet partition pruning on `game_month`),
    * merged latest-wins, and rewritten via dynamic partition overwrite —
    * cost is O(months in batch), not O(history). The reference re-window-
    * dedups its entire cumulative file every run (python_scripts.py:576-598);
    * semantics here are identical because a game_url never moves months
    * (its game_date is fixed).
    */
  def buildFact(silver: DataFrame, lastUpdated: java.sql.Timestamp): Unit = {
    import org.apache.spark.sql.functions.{col, date_format}
    val factRel = "gold/fact-games.parquet"
    val projected = GoldFact.project(silver, username, lastUpdated)
      .withColumn("game_month", date_format(col("game_date"), "yyyy-MM"))
    val joined = GoldFact.starJoin(projected,
      readGold("gold/dim_date.parquet"),
      readGold("gold/dim_openings.parquet"),
      readGold("gold/dim_results.parquet"),
      readGold("gold/dim_time_control.parquet"))
    // the first batch merges into an empty history: the merge's
    // latest-wins dedup is what keeps one row per game_url if a dim joins
    // more than once (two ECO codes under one ECOUrl)
    val prevMonths =
      if (exists(factRel)) {
        val months = joined.select("game_month").distinct()
          .collect().map(_.getString(0)).toSeq // one entry per batch month
        readGold(factRel)
          .filter(col("game_month").isin(months: _*)) // partition-pruned scan
          .select(joined.columns.map(col): _*)
      } else spark.createDataFrame(java.util.List.of[Row](), joined.schema)
    val merged = GoldFact.merge(prevMonths, joined)
    // stage the merged months (can't overwrite a path being read), then
    // dynamic-overwrite replaces exactly those partitions
    val tmp = path(factRel + ".merge-tmp")
    merged.write.mode(SaveMode.Overwrite).parquet(tmp)
    val staged = spark.read.parquet(tmp)
    val prevMode = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try staged.write.mode(SaveMode.Overwrite).partitionBy("game_month")
      .parquet(path(factRel))
    finally {
      prevMode match {
        case Some(m) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", m)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
      val fs = new Path(tmp).getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(new Path(tmp), true)
    }
  }

  /** Per-stage retry policy mirroring the reference DAG's task defaults
    * (1 retry, 10 s delay — collect_chess_data_dag.py:16-19). Stages are
    * idempotent (overwrite writes, existence-probe upserts), so a rerun
    * after a transient failure converges to the same state.
    */
  var retries: Int = 1
  var retryDelayMs: Long = 10000L

  private def withRetry[T](stage: String)(body: => T): T = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case e: Exception if attempt < retries =>
          attempt += 1
          System.err.println(
            s"[chess-pipeline] $stage failed (attempt $attempt/${retries + 1}), " +
              s"retrying in ${retryDelayMs} ms: ${e.getMessage}")
          Thread.sleep(retryDelayMs)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** One monthly batch end-to-end (the whole collect_chess_data DAG), each
    * stage under the task retry policy.
    */
  def runMonth(year: Int, month: Int, lastUpdated: java.sql.Timestamp): Unit = {
    val silver = withRetry("silver")(buildSilver(year, month))
    withRetry("dims")(buildDims(silver))
    withRetry("fact")(buildFact(silver, lastUpdated))
  }

  def fact: DataFrame = readGold("gold/fact-games.parquet")
  def dimOpenings: DataFrame = readGold("gold/dim_openings.parquet")
  def dimDate: DataFrame = readGold("gold/dim_date.parquet")
  def dimResults: DataFrame = readGold("gold/dim_results.parquet")
  def dimTimeControl: DataFrame = readGold("gold/dim_time_control.parquet")

  /** EP3: warehouse load — full-replace JDBC writes of the star schema
    * (the reference's pandas `to_sql(if_exists="replace")`,
    * python_scripts.py:639-645).
    */
  def loadWarehouse(jdbcUrl: String, props: java.util.Properties): Unit = {
    def load(df: DataFrame, table: String): Unit =
      df.write.mode(SaveMode.Overwrite).jdbc(jdbcUrl, table, props)
    load(fact, "chess_dw.fact_games")
    load(dimOpenings, "chess_dw.dim_openings")
    load(dimDate, "chess_dw.dim_date")
    load(dimResults, "chess_dw.dim_results")
    load(dimTimeControl, "chess_dw.dim_time_control")
  }

  /** EP3 watermark (sql/get_last_updated_date.sql). */
  def watermark(): Option[java.sql.Timestamp] =
    if (exists("gold/fact-games.parquet"))
      Option(fact.agg(org.apache.spark.sql.functions.max("last_updated"))
        .head.getTimestamp(0))
    else None
}
