package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

/** r15 lab: text_edit_distance's block decomposition. The pre-r15 shape
  * assigned per-bucket triangle blocks via row_number over a bucket
  * window — which clusters every bucket onto ONE task before the explode,
  * so the hot bucket (x1000: "customer", 165k rows, 93% of all candidate
  * pairs) generated its 212M exploded left rows on one core (stage table:
  * 145 s of the 340 s total). Candidate (shipped r15): hash blocks over
  * broadcast bucket counts — block id computed in the scan stage at full
  * width, block count capped at 512 so hot-key replication is bounded
  * (212M → 42M left rows for the hot bucket). Orientation: same-block
  * pairs keep the doc_l < doc_r cut, cross-block pairs are kept whole and
  * normalized to (least, greatest) — identical output set for any
  * deterministic block assignment, which this lab pins by checksum.
  *
  *   SPARK_GRAFT_SF_DIR=/tmp/graft-x1000 sbt "Test/runMain graft.TedLab [passes]"
  */
object TedLab {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/graft-x1000")
    val passes = args.headOption.map(_.toInt).getOrElse(2)
    val spark = GraftSession.create(GraftSession.benchProfile)

    def base(s: SparkSession): DataFrame = {
      val norm = TextAnalysis.normalizedText(substring(col("text"), 1, 128))
      Tables.documents(s, sfDir).select(col("doc_id"),
        substring(norm, 1, 32).as("prefix"), substring(norm, 1, 8).as("bucket"))
        .withColumn("__sig", graft.functions.TextFunctions.hist_sig16(col("prefix")))
    }

    // the pre-r15 spelling, verbatim: row_number window blocks
    def vOld(): DataFrame = {
      val t = base(spark)
      val blockLen = 64
      val wB = org.apache.spark.sql.expressions.Window
        .partitionBy(col("bucket")).orderBy(col("doc_id"))
      val blocked = t
        .withColumn("__blk", ((row_number().over(wB) - 1) / blockLen).cast("int"))
        .withColumn("__nblk", ((count(lit(1)).over(wB.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.unboundedFollowing))
          + blockLen - 1) / blockLen).cast("int"))
      val width = spark.sparkContext.defaultParallelism
      val left = blocked
        .withColumn("__j", explode(sequence(col("__blk"), col("__nblk") - 1)))
        .select(col("doc_id").as("doc_a"), col("prefix").as("pa"),
          col("__sig").as("sa"), col("bucket"), col("__j"))
        .repartition(width, col("bucket"), col("__j"))
      val right = blocked
        .select(col("doc_id").as("doc_b"), col("prefix").as("pb"),
          col("__sig").as("sb"), col("bucket"), col("__blk").as("__j"))
        .repartition(width, col("bucket"), col("__j"))
      operators.AdaptiveGate.hashHinted(left).join(right,
          Seq("bucket", "__j")).filter(col("doc_a") < col("doc_b"))
        .filter(graft.functions.TextFunctions.hist_l1(col("sa"), col("sb")) <= 16)
        .select(col("doc_a"), col("doc_b"),
          graft.functions.TextFunctions.bounded_levenshtein(
            col("pa"), col("pb"), 8).as("edit_dist"))
        .filter(col("edit_dist") <= 8)
    }

    // the shipped spelling (r16: persisted counts; join strategy as shipped)
    def vNew(): DataFrame = SparkEntry.queries("text_edit_distance")(spark, sfDir)

    // r16 alternative: hash blocks + persisted counts, but the DP join
    // builds its hash table on the UN-exploded right side (the r15 hint
    // built the exploded left — backwards; and plain SMJ sorts both
    // sides including the exploded one)
    def vRightHint(): DataFrame = {
      val norm = TextAnalysis.normalizedText(substring(col("text"), 1, 128))
      val t = Tables.documents(spark, sfDir).select(col("doc_id"),
        substring(norm, 1, 32).as("prefix"), substring(norm, 1, 8).as("bucket"))
        .withColumn("__sig", graft.functions.TextFunctions.hist_sig16(col("prefix")))
      val counts = t.groupBy("bucket").agg(count(lit(1)).as("__n"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      counts.count()
      val blocked = t.join(broadcast(counts), Seq("bucket"))
        .withColumn("__nblk", least(((col("__n") + 64 - 1) / 64).cast("int"), lit(512)))
        .withColumn("__blk", pmod(xxhash64(col("doc_id")), col("__nblk")).cast("int"))
      val width = spark.sparkContext.defaultParallelism
      val left = blocked
        .withColumn("__j", explode(sequence(col("__blk"), col("__nblk") - 1)))
        .select(col("doc_id").as("doc_l"), col("prefix").as("pl"),
          col("__sig").as("sl"), col("bucket"), col("__blk").as("__bl"), col("__j"))
        .repartition(width, col("bucket"), col("__j"))
      val right = blocked
        .select(col("doc_id").as("doc_r"), col("prefix").as("pr"),
          col("__sig").as("sr"), col("bucket"), col("__blk").as("__j"))
        .repartition(width, col("bucket"), col("__j"))
      left.join(right.hint("shuffle_hash"), Seq("bucket", "__j"))
        .filter(col("__bl") =!= col("__j") || col("doc_l") < col("doc_r"))
        .filter(graft.functions.TextFunctions.hist_l1(col("sl"), col("sr")) <= 16)
        .select(least(col("doc_l"), col("doc_r")).as("doc_a"),
          greatest(col("doc_l"), col("doc_r")).as("doc_b"),
          graft.functions.TextFunctions.bounded_levenshtein(
            col("pl"), col("pr"), 8).as("edit_dist"))
        .filter(col("edit_dist") <= 8)
    }

    val variants: Seq[(String, () => DataFrame)] =
      Seq("old_window_blocks" -> (() => vOld()), "new_hash_blocks" -> (() => vNew()),
        "new_rhint_blocks" -> (() => vRightHint()))

    // identical outputs (count + order-free row checksum over all columns)
    def sig(df: DataFrame): String =
      df.agg(count(lit(1)),
          sum(xxhash64(col("doc_a"), col("doc_b"), col("edit_dist"))
            .cast("decimal(38,0)")))
        .collect()(0).toString
    val ref = sig(vOld()); spark.catalog.clearCache()
    val got = sig(vNew()); spark.catalog.clearCache()
    println(s"TEDCHK ${if (got == ref) s"OK $got" else s"MISMATCH $got vs $ref"}")
    val got2 = sig(vRightHint()); spark.catalog.clearCache()
    println(s"TEDCHK2 ${if (got2 == ref) s"OK $got2" else s"MISMATCH $got2 vs $ref"}")

    val best = scala.collection.mutable.Map.empty[String, Double]
    for (p <- 1 to passes; (name, fn) <- (if (p % 2 == 1) variants else variants.reverse)) {
      val t0 = System.nanoTime()
      Bench.evaluate(fn())
      best(name) = math.min(best.getOrElse(name, Double.MaxValue),
        (System.nanoTime() - t0) / 1e9)
      spark.catalog.clearCache()
    }
    variants.foreach { case (name, _) =>
      println(f"TEDLAB $name%-20s ${best(name)}%.3f s (min-of-$passes)")
    }
    spark.stop()
  }
}
