package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.LanguageModel

/** r15 lab: lm_cross_entropy variants, same-session, min-of-N both orders.
  * v0 = re-planned bigram counts; v1 = c12 persisted (dedups the double
  * bigram-count subtree the broadcast builds stop ReuseExchange from
  * collapsing); vG = the shipped gate; v2_fanned_persist = v1 over fanned
  * docs (repartition both roles to session width).
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "Test/runMain graft.LmLab [passes]"
  */
object LmLab {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = args.headOption.map(_.toInt).getOrElse(3)
    val spark = GraftSession.create(GraftSession.benchProfile)

    def docs: DataFrame = Tables.documents(spark, sfDir)
    def fanned: DataFrame =
      docs.repartition(spark.sessionState.conf.numShufflePartitions)
    def persisted(reference: DataFrame, d: DataFrame): DataFrame = {
      val c12 = LanguageModel.bigramCounts(reference)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val scored = LanguageModel.docBigrams(d)
        .withColumn("w1", substring_index(col("bg"), " ", 1))
        .join(c12, Seq("bg"), "left")
        .join(c12.groupBy(substring_index(col("bg"), " ", 1).as("w1"))
          .agg(sum(col("c12")).as("c1")), Seq("w1"), "left")
        .crossJoin(LanguageModel.vocabSize(reference))
      scored
        .select(col("doc_id"),
          (-log((coalesce(col("c12"), lit(0L)) + lit(1L)).cast("double") /
            (coalesce(col("c1"), lit(0L)) + col("v")).cast("double"))).as("nll"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(avg(col("nll")), 6).as("cross_entropy"))
    }
    // r16: crossEntropy gates the c12 persist on reference stats, so the
    // lab forces each path explicitly — v0 = replan (the pre-r16 shape),
    // v1 = persist (what the gate picks inside its window; forced here
    // past the cap — OOMs at x1000 where vocab ∝ corpus, so filter it
    // out there via the 2nd arg), vG = the shipped gate.
    // Usage: LmLab [passes] [variantFilter,csv]
    val all: Seq[(String, () => DataFrame)] = Seq(
      "v0_replan" -> (() =>
        LanguageModel.crossEntropy(docs.filter(col("lang") === "en"), docs,
          smallBytes = Long.MaxValue)),
      "v1_persist" -> (() =>
        LanguageModel.crossEntropy(docs.filter(col("lang") === "en"), docs,
          smallBytes = 0L, persistCapBytes = Long.MaxValue)),
      "vG_shipped" -> (() =>
        LanguageModel.crossEntropy(docs.filter(col("lang") === "en"), docs)),
      "v2_fanned_persist" -> (() =>
        persisted(fanned.filter(col("lang") === "en"), fanned)))
    val keep = args.lift(1).map(_.split(",").toSet)
    val variants = all.filter { case (n, _) => keep.forall(_.contains(n)) }
    println(s"LMREF statBytes=" + operators.AdaptiveGate.statBytes(
      docs.filter(col("lang") === "en")))
    variants.foreach { case (_, fn) => Bench.evaluate(fn()) } // warm
    spark.catalog.clearCache()
    val best = scala.collection.mutable.Map.empty[String, Double]
    for (p <- 1 to passes; (name, fn) <- (if (p % 2 == 1) variants else variants.reverse)) {
      val t0 = System.nanoTime()
      Bench.evaluate(fn())
      val sec = (System.nanoTime() - t0) / 1e9
      best(name) = math.min(best.getOrElse(name, Double.MaxValue), sec)
      spark.catalog.clearCache()
    }
    variants.foreach { case (name, _) =>
      println(f"LMLAB $name%-12s ${best(name)}%.3f s (min-of-$passes)")
    }
    spark.stop()
  }
}
