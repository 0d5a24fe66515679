package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.chess.ChessFunctions
import graft.operators.{Dedup, Similarity, TextAnalysis}

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (names are prefixed with the inventory id they cover), plus
  * the scale-path operators (dedup / similarity / text analysis /
  * multimodal). Every query that is ANSI-SQL-expressible has a DuckDB
  * oracle in [[oracleSql]] with identical column names and value semantics
  * (exact integer arithmetic or per-row IEEE double ops; accumulation-order-
  * sensitive double sums are rounded on both sides).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the star-join revenue rollup (J1/A1 analog of the reference's win-rate
    * by opening-family dashboards).
    */
  def entry(spark: SparkSession): DataFrame =
    queries("j1_a1_star_rollup")(spark, "/root/testdata/sf0.001")

  // ---- shared fragments -------------------------------------------------

  private def revenue: Column = col("l_extendedprice") * (lit(1) - col("l_discount"))

  /** Size gate for the high-cardinality aggregates (a7, q13, q18): above
    * it the raw grouping rows are repartitioned by the grouping key so the
    * aggregate runs post-shuffle (map-side partial aggregation INFLATES
    * when distinct keys ≈ input rows — each map task pays a keys-scale
    * hash map to emit nearly its input size); below it the direct groupBy
    * wins because the extra exchange stage costs more than the small
    * partial maps. 4 MB splits the driver's sf0.1 projections (0.5–2.2 MB
    * plan-stat estimate) from the x10/x30 scale fixtures (5–82 MB); both
    * sides are measured in the queries' audit notes.
    */
  private[graft] val rawAggBytes: Long = 4L << 20

  /** Ceiling on a join build side's Catalyst stats for the shuffle_hash
    * hint: hash builds are per-task and non-spillable, so past this the
    * hint converts a spill into a stage failure — fall back to sort-merge.
    */
  private[graft] val shuffleHashBytes: Long = 256L << 20

  /** Stats threshold where j4 switches from the plain 2-col exchange to
    * the packed-long plan ([[j4Roleplay]]). Both sides measured, same
    * session: plain wins at sf0.1 (0.8 MB stats: 0.59 s vs 0.84 s — the
    * packed plan's extra broadcast builds sit on the critical path and
    * buy nothing on a tiny exchange), packed wins from x30 up (24.6 MB:
    * 1.28 s vs 1.61 s; x100 84 MB: 3.12 s vs 3.97 s; x1000 574 MB:
    * 29.2 s vs 48.1 s). 8 MB is a decade above the sf0.1 point and 3x
    * under the x30 point.
    */
  private[graft] val j4PackedBytes: Long = 8L << 20

  /** Pre-shuffle routing for a high-cardinality groupBy: above `smallBytes`
    * the raw rows repartition by `key`, so the subsequent aggregate's
    * distribution requirement is already satisfied and it runs in one
    * post-shuffle pass (no inflating map-side partial stage); below it the
    * rows pass through untouched and the groupBy plans its usual
    * partial+final pair.
    */
  private[graft] def preShuffled(raw: DataFrame, key: String,
                                 smallBytes: Long = rawAggBytes): DataFrame =
    if (operators.AdaptiveGate.isSmall(raw, smallBytes)) raw
    else raw.repartition(col(key))

  /** `j3_prefix_match` body, size-adaptive (see the queries-map entry for
    * the audit note). Extracted with an explicit `smallBytes` so specs can
    * pin either path on a small fixture: `smallBytes = 0` forces the
    * length-banded equi-join (strict gate), a huge value forces the
    * broadcast startsWith nested-loop; both must agree row-for-row.
    */
  private[graft] def j3PrefixMatch(docs: DataFrame,
                                   smallBytes: Long = rawAggBytes): DataFrame = {
    val w = split(col("text"), " ")
    val sample = docs.filter(col("doc_id") % 20 === 0)
    val dict = sample.select(concat_ws(" ", slice(w, 1, 2)).as("p"))
      .union(sample.filter(size(w) >= 3).select(concat_ws(" ", slice(w, 1, 3)).as("p")))
      .distinct()
    if (operators.AdaptiveGate.isSmall(docs, smallBytes))
      docs.join(broadcast(dict), col("text").startsWith(col("p")), "left")
        .groupBy(col("doc_id"))
        .agg(max_by(col("p"), length(col("p"))).as("opening"),
          max(length(col("p"))).cast("long").as("opening_len"))
    else {
      val maxLens = 512
      val lens = dict.select(length(col("p")).as("len")).distinct()
        .limit(maxLens + 1).collect().map(_.getInt(0))
      require(lens.length <= maxLens,
        s"j3_prefix_match: > $maxLens distinct prefix lengths — banded plan degenerates")
      val dictKeyed = dict.select(length(col("p")).as("len"), col("p"))
      val probes = docs
        .select(col("doc_id"), col("text"), explode(lit(lens.sorted)).as("len"))
        .select(col("doc_id"), col("len"), expr("substring(text, 1, len)").as("p"))
      val matches = probes
        .join(if (operators.AdaptiveGate.isSmall(dictKeyed, shuffleHashBytes))
            broadcast(dictKeyed)
          else operators.AdaptiveGate.hashHinted(dictKeyed), Seq("len", "p"))
      val best = matches.groupBy(col("doc_id"))
        .agg(max_by(col("p"), length(col("p"))).as("opening"),
          max(length(col("p"))).cast("long").as("opening_len"))
      docs.select(col("doc_id")).join(best, Seq("doc_id"), "left")
        .select(col("doc_id"), col("opening"), col("opening_len"))
    }
  }

  /** Fact⋈fact equi-join with j4's gated shuffle-hash strategy: hash
    * beats sort-merge whenever every per-task build fits (no sorts on
    * either side), but hash builds are non-spillable — so below
    * [[shuffleHashBytes]] of build-side stats the plain hint sticks, and
    * above it BOTH sides repartition to a stats-derived count (~2 MB of
    * build stats per task ≈ 25 MB real hash memory, j4's x1000
    * calibration) so every build fits and the join keeps the hash
    * strategy. Capped at 2048 partitions — past that the per-node pool is
    * the constraint a bigger cluster relieves.
    */
  private[graft] def hashJoined(probe: DataFrame, build: DataFrame,
                                probeKey: String, buildKey: String,
                                joinType: String = "inner"): DataFrame = {
    val bStat = operators.AdaptiveGate.statBytes(build)
    if (bStat < shuffleHashBytes)
      probe.join(build.hint("shuffle_hash"),
        col(probeKey) === col(buildKey), joinType)
    else {
      val n = math.min(operators.AdaptiveGate.MaxDerivedPartitions,
        bStat / (2L << 20)).toInt
      probe.repartition(n, col(probeKey))
        .join(build.repartition(n, col(buildKey)).hint("shuffle_hash"),
          col(probeKey) === col(buildKey), joinType)
    }
  }

  /** `f17_hour_gapfill` body, size-adaptive. The naive spelling (two
    * independent aggs + a plain (user_id, hr) left join) plans the
    * GENERATED side — |users| x span-hours rows, ~360M at x1000 — under a
    * sort-merge join: the sort's pointer arrays grow to 2^25 entries per
    * task and the warm x1000 pass died in UNABLE_TO_ACQUIRE_MEMORY page
    * thrash. The large path never joins generated rows AT ALL: the hourly
    * grid decomposes into the counted hours (already in the per-(user,hr)
    * aggregate, with their counts) plus the pure-zero hours strictly
    * between consecutive counted hours, and the latter need no probe —
    * `lag(hr)` over each user's counted hours bounds every zero-run
    * exactly, so the 97%-of-output zero rows are emitted by a codegen'd
    * explode with NOTHING to look up. Shuffled bytes drop from the raw
    * 600M-row projection (the round-8a one-exchange join plan, 34.9 s at
    * x1000) to the ~10M-row post-partial-agg counts — the map-side
    * combine does the reduction before the wire — and the only sort is
    * the in-partition window over those counts, never over generated
    * rows. 15.1 s at x1000 (vs 34.9 s for the join plan, DuckDB 8.5 s —
    * 1.78x). `smallBytes` pins a path for parity specs:
    * 0 forces the gap-generation plan, MaxValue the naive join.
    */
  private[graft] def f17GapFill(events: DataFrame,
                                smallBytes: Long = rawAggBytes): DataFrame = {
    val ev = events.select(col("user_id"),
      (floor(col("ts").cast("long") / 3600) * 3600).cast("long").as("hr"))
    if (operators.AdaptiveGate.isSmall(ev, smallBytes)) {
      val hours = ev.groupBy(col("user_id"))
        .agg(min(col("hr")).as("lo"), max(col("hr")).as("hi"))
        .select(col("user_id"),
          explode(sequence(col("lo"), col("hi"), lit(3600L))).as("hr"))
      val counts = ev.groupBy(col("user_id"), col("hr")).agg(count(lit(1)).as("n"))
      hours.join(counts, Seq("user_id", "hr"), "left")
        .select(col("user_id"), col("hr"), coalesce(col("n"), lit(0L)).as("n_events"))
    } else {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("hr"))
      val counts = ev.groupBy(col("user_id"), col("hr"))
        .agg(count(lit(1)).as("n_events"))
        .withColumn("prev", lag(col("hr"), 1).over(byUser))
      val zeros = counts
        .filter(col("prev").isNotNull && col("hr") - col("prev") >= 7200L)
        .select(col("user_id"),
          explode(sequence(col("prev") + 3600L, col("hr") - 3600L, lit(3600L)))
            .as("hr"),
          lit(0L).as("n_events"))
      counts.select(col("user_id"), col("hr"), col("n_events")).unionAll(zeros)
    }
  }

  /** `j1_a1_star_rollup` body, size-adaptive (audit at the queries entry).
    * `smallBytes` pins a path for parity specs: 0 forces a scale plan,
    * MaxValue the broadcast-star plan; `probeBytes` then splits the scale
    * plans (MaxValue → broadcast-probe, 0 → suppkey pre-aggregate).
    *
    * Scale plan (r9): broadcast-probe supplier map-side and aggregate
    * straight into the 25 `s_nationkey` slots inside the scan stage. The
    * suppkey key space is dense, so the broadcast build is a
    * LongToUnsafeRowMap in array mode — one array load per probe row —
    * where the previous suppkey pre-aggregate paid a |supplier|-group
    * hash-agg update per row (L2-hostile at 1M groups/task) and then
    * exchanged ~120M partially-folded rows. One codegen stage does scan +
    * probe + 25-slot partial agg; the exchange carries 25 rows per task.
    * Measured x1000: 3.70 s vs 6.73 s pre-agg (DuckDB 3.07 s — 1.21x vs
    * 2.19x). The pre-agg path is kept for supplier above `probeBytes`
    * (per-executor broadcast build; supplier 2-col stats at x1000 are
    * 2.4 MB, two decades under the gate). r10 same-day re-pair:
    * 4.10 s vs DuckDB 3.36 s = 1.22x — the r9 ratio reproduces.
    */
  private[graft] def j1A1Rollup(s: SparkSession, d: String,
                                smallBytes: Long = rawAggBytes,
                                probeBytes: Long = shuffleHashBytes): DataFrame = {
    val li = Tables.lineitem(s, d)
    def natRollup(byNation: DataFrame): DataFrame = byNation
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(round(sum(col("__rev")), 2).as("revenue"), sum(col("__n")).as("n_items"))
    if (operators.AdaptiveGate.isSmall(li, smallBytes))
      li.join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(round(sum(revenue), 2).as("revenue"), count(lit(1)).as("n_items"))
    else {
      val supp = Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_nationkey"))
      if (operators.AdaptiveGate.isSmall(supp, probeBytes))
        natRollup(li.select(col("l_suppkey"), revenue.as("__rev"))
          .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("s_nationkey"))
          .agg(sum(col("__rev")).as("__rev"), count(lit(1)).as("__n")))
      else
        natRollup(li.select(col("l_suppkey"), revenue.as("__rev"))
          .groupBy(col("l_suppkey"))
          .agg(sum(col("__rev")).as("__rev"), count(lit(1)).as("__n"))
          .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("s_nationkey"))
          .agg(sum(col("__rev")).as("__rev"), sum(col("__n")).as("__n")))
    }
  }

  /** `a2_count_distinct` body, size-adaptive (audit at the queries entry).
    * Large path: dedup ONCE — the distinct pair set is ~7x smaller than
    * the raw rows and every answer is a projection of it (n_pairs is its
    * size, n_parts/n_supps are distincts over it), so one in-partition
    * dedup into a persisted intermediate replaces a second full-width
    * dedup AND the suppkey branch's re-scan of the source. Eager
    * persist-count-unpersist lifecycle (same pattern as the dedup hub /
    * stratified sampling): three bounded scalars leave the JVM, the cache
    * is freed before the 1-row result returns. Measured x1000: 109.3 s
    * (reused-exchange 3-branch) -> 62.8 s (DuckDB 42.4 s — 1.48x); sf0.1
    * 0.71 s (was 0.81 s). `smallBytes` pins a path for parity specs.
    */
  private[graft] def a2CountDistinct(s: SparkSession, d: String,
                                     smallBytes: Long = rawAggBytes): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_partkey"), col("l_suppkey"))
    if (operators.AdaptiveGate.isSmall(li, smallBytes)) {
      // r12 re-audit (A2Lab, min-of-3 BOTH orders): the packed-long
      // Expand spelling measured 0.91/1.06 s — halving expanded-row bytes
      // bought nothing because the PAIR branch (~98% unique at sf0.1, so
      // map-side dedup removes nothing) dominates the distinct shuffle.
      // Adopted: the pair count becomes a BITMAP aggregate over the
      // packed domain — bitmap_construct_agg's fixed-width byte-array
      // buffer replaces the 591k-row hash dedup entirely (set-bit ORs,
      // map-side combine, the shuffle carries (bucket → 4KB blob) rows);
      // n_parts/n_supps keep the plain countDistinct pass, whose Expand
      // partials crush to 21k rows. Measured 0.63/0.65 s vs plain
      // 0.80/0.79 s, full-bitmap-×3 1.26 s (explode overhead), dedup-
      // derive 0.80 s. Domain guarded per row, codegen'd (the j4 packed
      // convention): out-of-range keys fail LOUDLY, never corrupt counts.
      // Bucket count scales with the packed domain (partkey_max << 11) /
      // 32768 — bounded here by the small gate itself; the large path
      // below never packs.
      val pk = when(col("l_suppkey") >= 0 && col("l_suppkey") < 2048 &&
          col("l_partkey") >= 0,
          shiftleft(col("l_partkey").cast("long"), 11)
            .bitwiseOR(col("l_suppkey").cast("long")))
        .otherwise(raise_error(concat(
          lit("a2 packed plan: (partkey, suppkey) outside [0,∞)×[0,2048): "),
          col("l_partkey").cast("string"), lit(","),
          col("l_suppkey").cast("string"))))
      val pairsBm = li.select(pk.as("__pk"))
        .groupBy(expr("bitmap_bucket_number(__pk)").as("__b"))
        .agg(expr("bitmap_construct_agg(bitmap_bit_position(__pk))").as("__bm"))
        .agg(sum(expr("bitmap_count(__bm)")).as("n_pairs"))
      li.agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"))
        .crossJoin(pairsBm)
    }
    else {
      val byPart = li.repartition(col("l_partkey"))
      val pairs = byPart.distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val nPairs = pairs.count()
        val nParts = pairs.select(col("l_partkey")).distinct().count()
        val nSupps = pairs.select(col("l_suppkey")).distinct().count()
        s.range(1).select(lit(nParts).as("n_parts"),
          lit(nSupps).as("n_supps"), lit(nPairs).as("n_pairs"))
      } finally pairs.unpersist(blocking = false)
    }
  }

  /** `q13_custdist` body, size-adaptive. EAGER-MATERIALIZATION CONTRACT:
    * unlike every other `queries` entry, the LARGE path runs the
    * orders scan + per-customer aggregate as a Spark job at
    * DataFrame-CONSTRUCTION time (the bounded collect below) and bakes
    * the ~100-row result into a local relation — merely building or
    * explaining the returned frame triggers that job, and the frame
    * snapshots the files as of construction ([[graft.Tables.invalidate]]
    * cannot refresh it; rebuild the DataFrame to re-read). Accepted
    * deliberately: the alternative (persist) leaked its cache entry in
    * r9, and every harness in this repo constructs immediately before
    * evaluating. The small path stays fully lazy.
    *
    * Both paths pre-aggregate orders
    * by custkey and count the c_count=0 bucket by FK complement (see the
    * r8 audit at the queries entry comment below this map — two O(1)
    * aggregates instead of the customer left join). They differ in where
    * |distinct ordering customers| comes from:
    *
    *  - small: counted off the `oc` subtree — its exchange canonicalizes
    *    identically to branch 1's, so AQE exchange reuse serves both
    *    branches from one orders scan, in PARALLEL (the sum-over-nonzero
    *    spelling measured 1.07 s vs 0.26 s at sf0.1: three sequential
    *    stage latencies dominate when stages are sub-100ms).
    *  - large (past [[rawAggBytes]]): `sum(custdist)` over the persisted
    *    ~100-row `nonzero` frame. At scale the branch cost is
    *    data-dominated, the sequential-latency argument dies, and this
    *    spelling makes the single-orders-scan property STRUCTURAL — the
    *    r8 shape depended on AQE reuse firing, which the r9 x1000 explain
    *    audit shows it does NOT under the gated raw-repartition plan (the
    *    two branches' repartition exchanges canonicalize differently once
    *    preShuffled rewrites branch 1): the r8 plan paid the 150M-row
    *    orders scan + exchange twice. Measured at x1000: 5.22 s (r8,
    *    double scan) -> 3.49 s (DuckDB 2.45 s — 1.43x, was 2.13x).
    *    r10 re-pair on a slower day: 4.58 s vs DuckDB 2.80 s = 1.64x,
    *    still inside the bar. An empty orders table degenerates safely
    *    (the collected frame is empty, nOrdering = 0).
    */
  private[graft] def q13Custdist(s: SparkSession, d: String,
                                 smallBytes: Long = rawAggBytes): DataFrame = {
    val ordersC = Tables.orders(s, d).select(col("o_custkey"))
    val oc = preShuffled(ordersC, "o_custkey", smallBytes)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("cnt"))
    val nonzero = oc.groupBy(col("cnt"))
      .agg(count(lit(1)).as("custdist"))
      .select(col("cnt").as("c_count"), col("custdist"))
    if (operators.AdaptiveGate.isSmall(ordersC, smallBytes)) {
      val zeroRow = Tables.customer(s, d).agg(count(lit(1)).as("n_cust"))
        .crossJoin(oc.agg(count(lit(1)).as("n_ordering")))
        .select(lit(0L).as("c_count"),
          (col("n_cust") - col("n_ordering")).as("custdist"))
        .filter(col("custdist") > 0)
      nonzero.unionByName(zeroRow)
    } else {
      // the ~|distinct c_count| frame (one row per orders-per-customer
      // value — about a hundred at any scale) is consumed TWICE: as the
      // result body and as the n_ordering sum. r9 persisted it for the
      // second consumer and leaked the cache entry (only harnesses that
      // ran clearCache freed it); r10 materializes it once through a
      // BOUNDED collect instead — no cache lifetime to manage, the
      // single-orders-scan property stays structural, and the zero row
      // becomes local arithmetic against the O(1) customer count.
      val rows = nonzero.limit(100001).collect()
      require(rows.length <= 100000,
        s"q13_custdist: c_count domain exceeded the driver bound (${rows.length} rows)")
      val nOrdering = rows.map(_.getLong(1)).sum
      val body = s.createDataFrame(
        java.util.Arrays.asList(rows: _*), nonzero.schema)
      val zeroRow = Tables.customer(s, d).agg(count(lit(1)).as("n_cust"))
        .select(lit(0L).as("c_count"),
          (col("n_cust") - lit(nOrdering)).as("custdist"))
        .filter(col("custdist") > 0)
      body.unionByName(zeroRow)
    }
  }

  /** `j4_roleplay_join` body, size-adaptive, LAYOUT-AWARE (r13). Before
    * choosing an exchange plan, the large regime probes the disk for a
    * completed orderkey-bucketed layout of its two fact projections (the
    * write-once layout [[layoutBucketedJoin]] persists). When one exists,
    * the join routes THROUGH it — zero fact-scale exchanges, Sort-free
    * SMJ off the trusted sorted layout, the measured 100 TB answer
    * (x1000 r12b: 18.2 s vs DuckDB 12.3 s = 1.48×, where the best
    * exchange-bound plan below pays a measured 20.1 s two-exchange floor
    * before any join work — the r10-r12 verdicts' one standing weak
    * item). The result contract is identical by construction: the
    * bucketed body computes the same counts join, and
    * `layout_bucketed_join`'s DuckDB oracle IS the j4 oracle. `layout`
    * forces the routing for the parity spec (Some(true) builds the
    * layout if missing; Some(false) pins the exchange plans; None =
    * probe, never paying a layout write inside the default query).
    *
    * Without a layout, both exchange paths probe the two role-playing
    * dims as broadcasts and meet lineitem⋈orders on orderkey; they
    * differ in what the fact⋈fact exchanges CARRY:
    *
    *  - small (orders-2col stats under `packedBytes`): the r6-r8 shape —
    *    2-col pre-projections through [[hashJoined]] (0.59 s vs the
    *    packed plan's 0.84 s at sf0.1, min-of-2 same session: on tiny
    *    inputs the packed plan's extra broadcast builds sit on the
    *    critical path and buy nothing).
    *  - large: the dims are probed BEFORE the wire and each side ships
    *    ONE long — orderkey<<5 | nationkey (the 25-nation TPC-H domain
    *    fits 5 bits; orderkey is generator-positive, so the pack is
    *    lossless and order-preserving on >>5) — then a stats-derived
    *    shuffle-hash join on >>5 and a 625-group agg on the unpacked
    *    low bits. AUDIT (r10, x1000, min-of-2 same session): 29.2 s vs
    *    48.1 s for the small-path plan at that scale — re-verified
    *    ORDER-CONTROLLED (packed first, the disadvantaged position):
    *    27.9 s vs 43.9 s. The two-exchange
    *    floor measured the same day: 16.1 s (lineitem 2-col) + 4.0 s
    *    (orders 2-col) = 20.1 s with ZERO join/agg work — the packed
    *    plan pays 1.45x the pure-exchange floor, and the remaining gap
    *    to DuckDB's single-node zero-exchange pipeline is the exchange
    *    itself, which a real cluster parallelizes across nodes — and a
    *    co-located/bucketed layout removes entirely (BucketingSpec pins
    *    exactly this fact⋈fact-on-orderkey join running with ZERO
    *    shuffle exchanges over bucketed tables).
    *    AUDIT (r11, x1000): the bucketed layout MEASURED at scale —
    *    128-bucket orderkey tables (written once: 613 s, the amortized
    *    shuffle), join planned with ZERO exchanges before the 625-group
    *    agg; fresh-JVM min-of-2 39.7 s vs same-day DuckDB 22.2 s =
    *    1.78x, under the 2x bar the exchange-bound plan cannot reach
    *    (same-day: 109.9 s solo — that day's disk-throttled host
    *    penalizes the ~10 GB on-disk exchange 3.7x over the r10 host
    *    while DuckDB's scan-only pipeline slowed only 2.1x; the ratio
    *    spread IS the exchange sensitivity). The SMJ spelling beat the
    *    co-partitioned shuffle-hash spelling 30.2 s vs 46.3 s in-session
    *    — the two bounded sorts cost less than 128-slot hash builds.
    *    J4Lab `write_bucketed`/`j4_bucketed` reproduces both columns.
    */
  private[graft] def j4Roleplay(s: SparkSession, d: String,
                                packedBytes: Long = j4PackedBytes,
                                layout: Option[Boolean] = None): DataFrame = {
    val nat = Tables.nation(s, d)
    val li2 = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
    val ord2 = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
    val supp2 = Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
    val cust2 = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
    val onDisk = probeBucketedLayout(d)
    val useLayout = layout.getOrElse(
      onDisk.isDefined && !operators.AdaptiveGate.isSmall(ord2, packedBytes))
    if (useLayout)
      // identical result contract (the bucketed body ends in the same
      // counts⋈nation projection); bucket count comes from the on-disk
      // sidecar so a pre-existing layout of ANY width registers cleanly —
      // only the forced spec path (layout=Some(true), nothing on disk)
      // falls back to the session default and pays the write
      return layoutBucketedJoinWith(s, d,
        onDisk.getOrElse(sys.env.getOrElse("SPARK_GRAFT_BUCKETS", "32").toInt))
    val counts =
      if (operators.AdaptiveGate.isSmall(ord2, packedBytes))
        hashJoined(li2, ord2, "l_orderkey", "o_orderkey")
          .join(broadcast(cust2), col("o_custkey") === col("c_custkey"))
          .join(broadcast(supp2), col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("c_nationkey").as("cnk"), col("s_nationkey").as("snk"))
          .agg(count(lit(1)).as("n"))
      else {
        val bStat = operators.AdaptiveGate.statBytes(ord2)
        val n = math.max(32L, math.min(
          operators.AdaptiveGate.MaxDerivedPartitions, bStat / (2L << 20))).toInt
        // the 5-bit pack holds for the 25-nation dim this schema declares;
        // a corpus that ever widened the domain must fail LOUDLY, not
        // corrupt counts — the guard is one codegen'd branch per row
        def packed(key: Column, nk: Column, what: String): Column =
          when(nk >= 0 && nk < 32,
            shiftleft(key.cast("long"), 5).bitwiseOR(nk.cast("long")))
            .otherwise(raise_error(concat(
              lit(s"j4 packed plan: $what nationkey outside [0,32): "),
              nk.cast("string"))))
        val lp = li2.join(broadcast(supp2), col("l_suppkey") === col("s_suppkey"))
          .select(packed(col("l_orderkey"), col("s_nationkey"), "supplier").as("lp"))
          .repartition(n, shiftright(col("lp"), 5))
        val op = ord2.join(broadcast(cust2), col("o_custkey") === col("c_custkey"))
          .select(packed(col("o_orderkey"), col("c_nationkey"), "customer").as("op"))
          .repartition(n, shiftright(col("op"), 5))
        lp.join(op.hint("shuffle_hash"),
            shiftright(col("lp"), 5) === shiftright(col("op"), 5))
          .groupBy((col("op") % 32).cast("int").as("cnk"),
            (col("lp") % 32).cast("int").as("snk"))
          .agg(count(lit(1)).as("n"))
      }
    counts
      .join(broadcast(nat.as("cn")), col("cnk") === col("cn.n_nationkey"))
      .join(broadcast(nat.as("sn")), col("snk") === col("sn.n_nationkey"))
      .select(col("cn.n_name").as("cust_nation"),
        col("sn.n_name").as("supp_nation"), col("n"))
  }

  /** `a11_percentiles` body, size-adaptive. Exact interpolated
    * percentiles per group, same interpolation as DuckDB's quantile_cont
    * (`lower + (higher - lower) * (pos - floor(pos))`, pos = p·(n−1)
    * 0-based over the sorted values).
    *
    *  - small (≤ [[rawAggBytes]] of 2-col stats — the sf0.1 regime):
    *    `sort_array(collect_list(price))` per group, percentiles read by
    *    position with codegen'd arithmetic. `Percentile`'s
    *    TypedImperativeAggregate update maintains a boxed
    *    OpenHashMap[value→count] per partial and serializes the whole map
    *    across the shuffle — at sf0.1 prices are ~97% distinct (583k/600k)
    *    so the map dedups nothing and the interpreted per-row update IS
    *    the query (19x DuckDB, the r11 board's worst floor line; a r11
    *    fan-out attempt measured 1.30 s vs 1.03 s and was rejected —
    *    the update side was never the bottleneck at this size).
    *    collect_list's update is a cheap append, merge is array concat,
    *    and the one sort per group runs once at the end.
    *  - large: the `percentile` aggregate unchanged — 3 groups ×
    *    hundreds of millions of buffered doubles must never concentrate
    *    into 3 collect_list reducers; the map-side value-dedup that is
    *    useless at sf0.1 is exactly what bounds partial size on
    *    replicated corpora at x1000.
    *
    * Both paths produce bit-identical doubles (same sorted order, same
    * IEEE interpolation arithmetic) — pinned by the forced-path parity
    * spec and the DuckDB oracle.
    */
  private[graft] def a11Percentiles(s: SparkSession, d: String,
                                    smallBytes: Long = rawAggBytes): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_returnflag"), col("l_extendedprice"))
    if (operators.AdaptiveGate.isSmall(li, smallBytes)) {
      def interp(v: Column, p: Double): Column = {
        val pos = lit(p) * (size(v) - 1).cast("double")
        val lo = floor(pos).cast("int")
        val loV = element_at(v, lo + 1)
        val hiV = element_at(v, ceil(pos).cast("int") + 1)
        loV + (hiV - loV) * (pos - lo.cast("double"))
      }
      li.groupBy(col("l_returnflag"))
        .agg(sort_array(collect_list(col("l_extendedprice"))).as("__v"))
        .select(col("l_returnflag"),
          round(interp(col("__v"), 0.5), 4).as("p50"),
          round(interp(col("__v"), 0.9), 4).as("p90"),
          round(interp(col("__v"), 0.99), 4).as("p99"))
    } else
      li.groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_extendedprice, array(0.5D, 0.9D, 0.99D))").as("p"))
        .select(col("l_returnflag"),
          round(element_at(col("p"), 1), 4).as("p50"),
          round(element_at(col("p"), 2), 4).as("p90"),
          round(element_at(col("p"), 3), 4).as("p99"))
  }

  /** Content fingerprint of the tables feeding a persisted layout: file
    * names + lengths + mtimes, folded to a short hex slug
    * ([[operators.Bucketing.sourceFingerprint]]). A layout written for
    * one generation of the input can NEVER be read against another
    * (regenerated testdata changes the mtimes → new slug → fresh write);
    * stale dirs are simply abandoned. Since r15 the SAME fingerprint is
    * also recorded in each layout's sidecar (`source` field) and
    * re-checked at every probe/trust point, so even a layout dir copied
    * to a currently-valid path is rejected instead of serving old rows.
    */
  private[graft] def layoutSlug(d: String, tables: String*): String =
    operators.Bucketing.sourceFingerprint(d, tables: _*)

  /** `layout_bucketed_join` body — the write-once bucketed layout as a
    * first-class operator (VERDICT r11 #4: promoted from the J4Lab test
    * harness to the product surface). Both j4 fact projections are
    * persisted bucketed+sorted by orderkey via
    * [[operators.Bucketing.ensureBucketed]] (re-registered from disk when
    * a previous JVM already paid the write — bucket count derived from
    * the on-disk sidecar, never trusted from the caller), and the
    * fact⋈fact join then consumes the bucket distribution: ZERO shuffle
    * exchanges before the 625-group agg (BucketedJoinSpec pins the
    * shape). This is the recorded 100 TB answer for orderkey-heavy
    * workloads — at x1000 the bucketed join ran 39.7 s fresh-JVM
    * min-of-2 vs 109.9 s for the exchange-bound plan the same day
    * (1.78x vs DuckDB's 22.2 s; the one-time 613 s write is the
    * amortized shuffle). Bucket count scales with the data via
    * SPARK_GRAFT_BUCKETS (default 32; 128 at x1000 so each write task
    * sorts a bounded ~4.7M-row slice).
    */
  // memoized per (session, slug, buckets): rebuilding this DataFrame costs
  // ~0.4 s of pure driver work per call (two catalog lookups + external-
  // table re-analysis + the slug file-walk) — measured by Scratch r12:
  // 1.145 s total vs ~0.6 s of job wall. Same snapshot semantics as
  // Tables.read: the slug is a content fingerprint of the INPUT tables, so
  // regenerated testdata changes the key and the stale entry is simply
  // never hit again; stopped sessions are pruned on each miss.
  private val bucketedJoinCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private[graft] def layoutBucketedJoin(s: SparkSession, d: String): DataFrame =
    layoutBucketedJoinWith(s, d,
      sys.env.getOrElse("SPARK_GRAFT_BUCKETS", "32").toInt)

  private[graft] def layoutBucketedJoinWith(s: SparkSession, d: String,
                                            buckets: Int): DataFrame = {
    val slug0 = layoutSlug(d, "lineitem.parquet", "orders.parquet")
    bucketedJoinCache.keySet.removeIf { case (ss, _) => ss.sparkContext.isStopped }
    bucketedJoinCache.computeIfAbsent((s, s"$slug0/$buckets"),
      _ => layoutBucketedJoinUncached(s, d, slug0, buckets))
  }

  /** `q18_large_orders` body, LAYOUT-AWARE (r13, Q18Lab order-controlled
    * adopt): when BOTH orderkey-bucketed projections exist on disk
    * (lineitem `li_oq` and orders `ord_oq`, equal width), the whole query
    * is exchange-FREE — the per-order sum aggregates per bucket, and the
    * HAVING-survivor join meets the bucketed orders projection in a
    * Sort-free SMJ on the same distribution. The lineitem layout alone
    * measured 11.18/12.52 s vs 39.87/33.73 s for the gated exchange plan
    * (x1000, BOTH orders) but still paid a ~150M-row orders exchange with
    * 12-31 s/run spread under host I/O noise (the survivor set — 2.285M
    * orders at x1000 — is too big to broadcast and invisible to AQE with
    * no shuffle boundary on the bucketed side); the orders layout removes
    * that last exchange. Without layouts, the r8 gated plan:
    * [[preShuffled]] raw 2-col repartition past [[rawAggBytes]], direct
    * groupBy under it. `layout` forces the routing for the parity spec
    * (Some(true) builds missing layouts — the write-once cost the
    * default probe never pays: it requires both on disk).
    */
  private[graft] def q18LargeOrders(s: SparkSession, d: String,
                                    layout: Option[Boolean] = None): DataFrame = {
    // the default probe requires BOTH equal-width layouts on disk — a
    // probe must never pay a write; only the forced spec path
    // (layout = Some(true)) builds missing layouts
    val onDisk = for {
      li <- probeLiOqLayout(d)
      ord <- probeOrdOqLayout(d)
      if li == ord
    } yield li
    val useLayout = layout.getOrElse(onDisk.isDefined)
    if (useLayout) {
      // per-projection width: on the FORCED path (layout = Some(true),
      // "build missing layouts") each existing projection keeps the width
      // its own sidecar declares — ensureBucketed fail-fasts on a width
      // mismatch, so adopting the on-disk count is the only way a forced
      // run can reuse a projection written under a different
      // SPARK_GRAFT_BUCKETS (r13 ADVICE); only a projection that truly
      // needs WRITING takes the env default. Unequal widths still compute
      // correctly (the SMJ re-exchanges one side); rewriting both at one
      // width is what restores the exchange-free plan. The default probe
      // route requires equal widths (onDisk) and never gets here unequal.
      val envB = sys.env.getOrElse("SPARK_GRAFT_BUCKETS", "32").toInt
      val liBuckets = onDisk.orElse(probeLiOqLayout(d)).getOrElse(envB)
      val ordBuckets = onDisk.orElse(probeOrdOqLayout(d)).getOrElse(envB)
      val liSlug = layoutSlug(d, "lineitem.parquet")
      val li = operators.Bucketing.ensureBucketed(
        s, s"graft_li_oq_$liSlug", s"/tmp/graft-bucketed/$liSlug/li_oq",
        "l_orderkey", liBuckets, source = Some(liSlug))(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_quantity")))
      val big = li.groupBy(col("l_orderkey").as("bk"))
        .agg(sum(col("l_quantity")).as("total_qty"))
        .filter(col("total_qty") > 250)
      // the survivor set is too big to broadcast at scale (x1000: 2.285M
      // orders) and too opaque for AQE to measure (no shuffle boundary on
      // the bucketed side), so the join back to orders would exchange the
      // 150M-row orders scan — ~20 s of the r13 PlanPeek runs, the last
      // exchange in the query. An orderkey-bucketed ORDERS projection of
      // the same width removes it: both SMJ sides consume the bucket
      // distribution (Sort-free under the trusted sorted layout), zero
      // exchanges end-to-end.
      val ordSlug = layoutSlug(d, "orders.parquet")
      val ord = operators.Bucketing.ensureBucketed(
        s, s"graft_ord_oq_$ordSlug",
        s"/tmp/graft-bucketed/$ordSlug/ord_oq",
        "o_orderkey", ordBuckets, source = Some(ordSlug))(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice")))
      ord.join(big, col("o_orderkey") === col("bk"))
        .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"),
          col("total_qty"))
    } else {
      val big = preShuffled(Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_quantity")), "l_orderkey")
        .groupBy(col("l_orderkey").as("bk"))
        .agg(sum(col("l_quantity")).as("total_qty"))
        .filter(col("total_qty") > 250)
      Tables.orders(s, d).join(big, col("o_orderkey") === col("bk"))
        .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"),
          col("total_qty"))
    }
  }

  /** Bucket count of a COMPLETE on-disk q18 lineitem projection layout
    * (`li_oq`: l_orderkey, l_quantity — the j4 `li_ok` layout does NOT
    * carry l_quantity, so q18 keeps its own) — or None. Probe only.
    */
  private[graft] def probeLiOqLayout(d: String): Option[Int] = {
    import java.nio.file.{Files, Paths}
    val slug = layoutSlug(d, "lineitem.parquet")
    val root = s"/tmp/graft-bucketed/$slug/li_oq"
    if (Files.exists(Paths.get(root, "_SUCCESS")))
      operators.Bucketing.readMetaIfSource(root, slug)
        .filter(_.key.equalsIgnoreCase("l_orderkey")).map(_.buckets)
    else None
  }

  /** Bucket count of a COMPLETE on-disk q18 orders projection layout
    * (`ord_oq`: o_orderkey, o_orderdate, o_totalprice — the j4 `ord_ok`
    * layout carries o_custkey instead) — or None. Probe only.
    */
  private[graft] def probeOrdOqLayout(d: String): Option[Int] = {
    import java.nio.file.{Files, Paths}
    val slug = layoutSlug(d, "orders.parquet")
    val root = s"/tmp/graft-bucketed/$slug/ord_oq"
    if (Files.exists(Paths.get(root, "_SUCCESS")))
      operators.Bucketing.readMetaIfSource(root, slug)
        .filter(_.key.equalsIgnoreCase("o_orderkey")).map(_.buckets)
    else None
  }

  /** Bucket count of a COMPLETE on-disk bucketed layout for the two j4
    * fact projections of `d` (both `_SUCCESS`-stamped, sidecar-described,
    * orderkey-keyed, equal width) — or None. A probe only: never writes,
    * never registers; [[j4Roleplay]] uses it to decide whether the
    * write-once layout path is free to take.
    */
  private[graft] def probeBucketedLayout(d: String): Option[Int] = {
    import java.nio.file.{Files, Paths}
    val slug = layoutSlug(d, "lineitem.parquet", "orders.parquet")
    val root = s"/tmp/graft-bucketed/$slug"
    def meta(sub: String): Option[operators.Bucketing.BucketMeta] =
      if (Files.exists(Paths.get(s"$root/$sub", "_SUCCESS")))
        operators.Bucketing.readMetaIfSource(s"$root/$sub", slug)
      else None
    for {
      li <- meta("li_ok")
      ord <- meta("ord_ok")
      if li.buckets == ord.buckets &&
        li.key.equalsIgnoreCase("l_orderkey") &&
        ord.key.equalsIgnoreCase("o_orderkey")
    } yield li.buckets
  }

  private def layoutBucketedJoinUncached(s: SparkSession, d: String,
                                         slug: String, buckets: Int): DataFrame = {
    val root = s"/tmp/graft-bucketed/$slug"
    val li = operators.Bucketing.ensureBucketed(
      s, s"graft_li_ok_$slug", s"$root/li_ok", "l_orderkey", buckets,
      source = Some(slug))(
      Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")))
    val ord = operators.Bucketing.ensureBucketed(
      s, s"graft_ord_ok_$slug", s"$root/ord_ok", "o_orderkey", buckets,
      source = Some(slug))(
      Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")))
    val nat = Tables.nation(s, d)
    val lp = li.join(broadcast(Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("l_orderkey"), col("s_nationkey"))
    val op = ord.join(broadcast(Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_nationkey"))
    lp.join(op, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("c_nationkey").as("cnk"), col("s_nationkey").as("snk"))
      .agg(count(lit(1)).as("n"))
      .join(broadcast(nat.as("cn")), col("cnk") === col("cn.n_nationkey"))
      .join(broadcast(nat.as("sn")), col("snk") === col("sn.n_nationkey"))
      .select(col("cn.n_name").as("cust_nation"),
        col("sn.n_name").as("supp_nation"), col("n"))
  }

  /** `chess_scale_winrate` body, LAYOUT-AWARE (r14) — the reference's
    * win-rate dashboard shape (monthly trend × time_class × my_color,
    * `README.md:29-33`) over an orders-derived chess-gold-shaped fact.
    * The x1000 row read 2.85× DuckDB and the deficit is structural and
    * HONEST at any scale: the per-row CASE/pmod kernels read 4 raw orders
    * columns, `o_orderpriority` has 5 distinct values on a real corpus
    * too, and DuckDB evaluates the CASE once per parquet-dictionary value
    * where Spark decodes per row. The engine's answer is the reference's
    * own architecture: materialize the silver→gold projection ONCE
    * (`res_idx` byte, truncated month, color flag, time-class byte —
    * ~10 bytes/row, dictionary/RLE-friendly) and let the dashboard
    * aggregate the gold layout. Probe rules as in GATES.md: the default
    * probes `gold_wr` under the orders slug and never writes; only the
    * forced spec path (`layout = Some(true)`) builds it. Either path maps
    * `res_idx` → result class through a 15-entry literal array derived
    * from [[graft.chess.Dims.resultSeed]] (sorted-code order — exactly
    * the oracle's row_number index), so the per-row work is integer
    * element_at + byte compares; strings appear only on the ≤36
    * post-aggregate rows.
    */
  private[graft] def chessScaleWinrate(s: SparkSession, d: String,
                                       layout: Option[Boolean] = None): DataFrame = {
    import java.nio.file.{Files, Paths}
    val sortedSeed = graft.chess.Dims.resultSeed
      .map { case (c, r, _) => (c, r) }.sortBy(_._1)
    // result class codes in sorted-code (= oracle row_number) order
    val classCodes = sortedSeed.map(_._2 match {
      case "Win" => 0; case "Loss" => 1; case _ => 2
    })
    val slug = layoutSlug(d, "orders.parquet")
    val root = s"/tmp/graft-bucketed/$slug/gold_wr"
    // gold_wr is a plain (non-bucketed) projection, so it has no
    // Bucketing sidecar; the same source-staleness rule applies through a
    // one-line fingerprint file. Absent fp file = pre-r15 layout (its
    // path slug is the guard it was built under); a PRESENT fp that
    // disagrees with the current fixture fingerprint means a copied/
    // stale dir → treat as not-on-disk and aggregate the raw projection.
    val fpFile = Paths.get(root, "_graft_source_fp")
    def fpOk = !Files.exists(fpFile) ||
      new String(Files.readAllBytes(fpFile), "UTF-8").trim == slug
    def onDisk = Files.exists(Paths.get(root, "_SUCCESS")) && fpOk
    val useLayout = layout.getOrElse(onDisk)
    def goldProjection: DataFrame = Tables.orders(s, d).select(
      pmod(col("o_orderkey"), lit(15)).cast("int").as("res_idx"),
      date_trunc("month", col("o_orderdate")).cast("date").as("month"),
      (pmod(col("o_custkey"), lit(2)) === 0).as("is_white"),
      when(col("o_orderpriority") < "3", 0)
        .when(col("o_orderpriority") < "5", 1)
        .otherwise(2).cast("byte").as("tc"))
    val fact =
      if (useLayout) {
        if (!onDisk) { // only the forced path gets here (the probe saw _SUCCESS)
          goldProjection.sortWithinPartitions(col("tc"), col("is_white"), col("month"))
            .write.mode("overwrite").parquet(root)
          Files.write(fpFile, slug.getBytes("UTF-8"))
        }
        s.read.parquet(root)
      } else goldProjection
    val cls = element_at(typedlit(classCodes), col("res_idx") + 1)
    // res_idx is null only for a null orderkey; the oracle's inner dim
    // join drops such rows, so the filter keeps the two aligned
    fact.filter(col("res_idx").isNotNull)
      .groupBy(col("month"), col("tc"), col("is_white"))
      .agg(count(lit(1)).as("games"),
        sum(when(cls === 0, 1L).otherwise(0L)).as("wins"),
        sum(when(cls === 1, 1L).otherwise(0L)).as("losses"),
        sum(when(cls === 2, 1L).otherwise(0L)).as("draws"))
      .select(col("month"),
        element_at(typedlit(Seq("blitz", "rapid", "bullet")),
          col("tc").cast("int") + 1).as("time_class"),
        when(col("is_white"), "White").otherwise("Black").as("my_color"),
        col("games"), col("wins"), col("losses"), col("draws"),
        // bit-identical to avg(when(win,1.0) else 0.0): the sum of 0/1
        // doubles is an exact integer ≤ 2^53, so sum/count == wins/games
        (col("wins").cast("double") / col("games")).as("win_rate"))
  }

  /** Bucket count of a COMPLETE on-disk events tape layout (`ev_uts`:
    * event_id, user_id, ts, value — bucketed by user_id, SORTED BY
    * (user_id, ts)) — or None. Probe only: never writes, never throws.
    */
  private[graft] def probeEvUtsLayout(d: String): Option[Int] = {
    import java.nio.file.{Files, Paths}
    val slug = layoutSlug(d, "events.parquet")
    val root = s"/tmp/graft-bucketed/$slug/ev_uts"
    if (Files.exists(Paths.get(root, "_SUCCESS")))
      operators.Bucketing.readMetaIfSource(root, slug)
        .filter(m => m.key.equalsIgnoreCase("user_id") &&
          m.sortCols.map(_.toLowerCase(java.util.Locale.ROOT)) ==
            Seq("user_id", "ts"))
        .map(_.buckets)
    else None
  }

  /** `j5_asof_join` body (r14, the first j5 scale adjudication). Probes
    * and references live in ONE stream, so the query takes the TAPE
    * spelling ([[operators.AsofJoin.leftAsofTape]]): one scan, one
    * user_id exchange, one (user_id, ts) sort, one window pass. Measured
    * at x1000 (100M events, same-session DuckDB native ASOF 4.8 s):
    * composed leftAsof(probes, refs-preagg) 16.8 s; two-window tape
    * 26-50 s (rejected — WindowExec buffering); single-window
    * struct-max tape 12.4 s. The remaining exchange+sort is the classic
    * write-once trade: with the `ev_uts` bucketed tape layout (user_id
    * buckets, SORTED BY (user_id, ts) — the layout every time-series
    * store keeps) the plan is exchange-free AND sort-free, a pure
    * streaming window over the bucketed scan. Probe rules as in GATES.md:
    * the default never writes; `layout = Some(true)` builds for specs and
    * the scale harness (BuildLayouts ev_uts).
    */
  private[graft] def j5AsofJoin(s: SparkSession, d: String,
                                layout: Option[Boolean] = None): DataFrame = {
    val onDisk = probeEvUtsLayout(d)
    val useLayout = layout.getOrElse(onDisk.isDefined)
    val slug = layoutSlug(d, "events.parquet")
    def projected = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val tape =
      if (useLayout)
        operators.Bucketing.ensureBucketed(
          s, s"graft_ev_uts_$slug", s"/tmp/graft-bucketed/$slug/ev_uts",
          "user_id",
          onDisk.getOrElse(sys.env.getOrElse("SPARK_GRAFT_BUCKETS", "32").toInt),
          Seq("user_id", "ts"), Some(slug))(projected)
      else projected
    operators.AsofJoin.leftAsofTape(tape, "user_id", "ts",
        col("event_id") % 10 === 0,
        Seq("ref_value" -> col("value"), "ref_event" -> col("event_id")),
        preClustered = useLayout)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("ref_value"), col("ref_event"))
  }

  /** Bucket count of a COMPLETE on-disk two-table as-of tape layout
    * (`ev_tape2`: the [[operators.AsofJoin.leftAsofLayout]] tape of the
    * j5b probes/refs pair — bucketed by user_id, SORTED BY (user_id,
    * ts)) — or None. Probe only: never writes, never throws; a sidecar
    * whose `source` fingerprint names another fixture generation is
    * rejected (r15 staleness rule).
    */
  private[graft] def probeEvTape2Layout(d: String): Option[Int] = {
    import java.nio.file.{Files, Paths}
    val slug = layoutSlug(d, "events.parquet")
    val root = s"/tmp/graft-bucketed/$slug/ev_tape2"
    if (Files.exists(Paths.get(root, "_SUCCESS")))
      operators.Bucketing.readMetaIfSource(root, slug)
        .filter(m => m.key.equalsIgnoreCase("user_id") &&
          m.sortCols.map(_.toLowerCase(java.util.Locale.ROOT)) ==
            Seq("user_id", "ts"))
        .map(_.buckets)
    else None
  }

  /** `j5b_asof_two_table` body (r15; closes VERDICT r14 #2). The
    * TWO-TABLE as-of API over the j5 workload: probes and pre-aggregated
    * references arrive as SEPARATE tables (the trades⋈quotes shape a
    * user of [[operators.AsofJoin.leftAsof]] actually has), so unlike
    * `j5_asof_join` the engine cannot assume one shared scan. The r14
    * union-and-carry spelling of this measured 16.8 s at x1000 vs DuckDB
    * native ASOF 4.8 s; the r15 `leftAsof` resolves through the tape
    * plan (one exchange, one single-key sort, one window — raw x1000
    * 10.9/13.2 s order-controlled, a wash with union-carry's 9.7/11.0 s
    * that day), and the CLOSER is the write-once `ev_tape2` layout
    * ([[operators.AsofJoin.leftAsofLayout]]; probes+refs persisted as
    * one bucketed (user_id)-hashed, (user_id, ts)-sorted tape): the
    * query is exchange-free AND sort-free — measured 1.944 s min-of-2
    * vs same-day DuckDB 4.295 s = 0.45× (layout build 34.5 s one-time,
    * tools/sweeps/duck_j5b_r15.json). Probe rules as in GATES.md:
    * the default never writes; `layout = Some(true)` builds for specs
    * and BuildLayouts.
    */
  private[graft] def j5bAsofTwoTable(s: SparkSession, d: String,
                                     layout: Option[Boolean] = None): DataFrame = {
    val ev = Tables.events(s, d)
    val probes = ev.filter(col("event_id") % 10 =!= 0)
      .select(col("event_id"), col("user_id"), col("ts"))
    val refs = ev.filter(col("event_id") % 10 === 0)
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("ref_value"),
        max(col("event_id")).as("ref_event"))
    val onDisk = probeEvTape2Layout(d)
    val useLayout = layout.getOrElse(onDisk.isDefined)
    if (useLayout) {
      val slug = layoutSlug(d, "events.parquet")
      operators.AsofJoin.leftAsofLayout(probes, refs, "user_id", "ts",
        Seq("ref_value", "ref_event"), s"graft_ev_tape2_$slug",
        s"/tmp/graft-bucketed/$slug/ev_tape2",
        onDisk.getOrElse(sys.env.getOrElse("SPARK_GRAFT_BUCKETS", "32").toInt),
        Some(slug))
    } else
      operators.AsofJoin.leftAsof(probes, refs, "user_id", "ts",
        Seq("ref_value", "ref_event"))
  }

  /** `a6_sketch_agg` body, size-adaptive (audit inline). `smallBytes`
    * pins a path for parity specs: 0 forces the large decomposition
    * (vc-freq exact median, keyed pre-repartitions), MaxValue the small
    * one (plain exact percentile over a narrow forced repartition). Both
    * paths share the r9 dedup-first HLL shape.
    */
  private[graft] def a6SketchAgg(s: SparkSession, d: String,
                                 smallBytes: Long = rawAggBytes): DataFrame = {
      val raw = Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_orderkey"), col("l_extendedprice"))
      val small = operators.AdaptiveGate.isSmall(raw, smallBytes)
      val src = raw
      // sketches and exact-distincts aggregate in SEPARATE branches over
      // the same subtree: mixed, the two countDistincts force an Expand
      // that triples the rows feeding the interpreted
      // TypedImperativeAggregate updates (HLL registers,
      // QuantileSummaries, the exact-percentile buffer) — the dominant
      // cost of the combined spelling (5.4 s vs 1.9 s split at sf0.1).
      // AUDIT (r8, x1000): at 15 GB even the split pair ran 293 s — the
      // exact percentile buffered 600M values through interpreted
      // updates and merged 96 partials on ONE reducer (15.9 s single
      // task). The large path decomposes further: the exact median
      // reduces through a codegen'd value-count pre-aggregate (prices
      // have a bounded domain; 600M rows -> 133k (value, cnt) rows, then
      // percentile's FREQUENCY form — 4.2 s instead of dominating), the
      // quantile sketch gets its own un-Expanded interpreted pass, and
      // the exact distinct counts run post-shuffle per key (the a2/q13
      // lesson; orderkey keeps the plain distinct — lineitem files
      // cluster by orderkey, so ITS map-side dedup genuinely reduces).
      // Measured 293 s -> ~60 s.
      // AUDIT (r9, x1000): the HLL pair moved INTO the exact-distinct
      // branches: an HLL register set is a per-item max, so duplicates
      // never change its state and approx_count_distinct over the
      // deduped key set returns the bit-identical estimate at 30x
      // (partkey) / 4x (orderkey) fewer interpreted updates — the
      // separate 600M-row HLL pass (the r8 shape) is pure waste. The
      // codegen'd dedup does the reduction; the interpreted sketch sees
      // only survivors. Measured 52.3 s -> 35.9 s (DuckDB 25.8 s, 1.39x).
      // AUDIT (r10, x1000, same-day pair): 63.2 s vs DuckDB 130.5 s
      // (reps 130.5/166.8) = 0.48x — the host runs both engines ~25-75%
      // slower than the r9 sweep, and DuckDB's exact median (spilling
      // 600M doubles) degrades far more than Spark's value-count
      // pre-aggregate, flipping the ratio. Same plan both rounds; the
      // same-day pairing is the governing number.
      // AUDIT (r11, sf0.1, order-controlled A6Lab min-of-3): the r10
      // small path (full-width repartition + one 4-sketch interpreted agg
      // + a separate Expand countDistinct agg) measured 2.55 s — the
      // single most expensive line of the governing bench. The adopted
      // small shape mirrors the large path's r9 lesson at small scale:
      // HLLs ride the codegen'd distinct-dedup branches (30x/4x fewer
      // interpreted updates), and the two percentile sketches get their
      // own job over a NARROW (price-only) forced repartition — the
      // full-width exchange shipped 3 columns to feed a 1-column
      // interpreted agg. Variants measured: adopted split 1.65 s, split
      // without the price repartition 2.02 s (scan plans 2 tasks and
      // serializes the interpreted updates), r10 shape minus repartition
      // 1.95 s, large path at sf0.1 1.74 s (its vc-freq exact median
      // buys nothing at a sf where 583k of 600k prices are distinct).
      // AUDIT (r12, sf0.1, A6Lab min-of-3 BOTH orders): the r11 split's
      // remaining cost was the exact `percentile` itself — its boxed
      // value->count map dedups nothing at 97% distinct prices (the a11
      // lesson verbatim). Exact median now reads positionally off
      // sort_array(collect_list) in the same narrow agg as the approx
      // sketch (vH isolation: fused exacts + old median 2.12 s, so the
      // median swap IS the win), and the two exact-distinct jobs fuse
      // into ONE exploded (k,v)-distinct pass (HLLs still see only
      // dedup survivors). Measured: adopted vG 0.86/1.10 s
      // (advantaged/disadvantaged order) vs r11 shape 2.19/2.21 s.
      // Large path unchanged: collect_list of 600M prices in one
      // reducer can never happen there (the vc-freq pre-aggregate is
      // what bounds partials on replicated corpora).
      val sketches =
        if (small) {
          val pos = lit(0.5) * (size(col("__v")) - 1).cast("double")
          val lo = floor(pos).cast("int")
          val loV = element_at(col("__v"), lo + 1)
          val hiV = element_at(col("__v"), ceil(pos).cast("int") + 1)
          src.select(col("l_extendedprice"))
            .repartition(s.sessionState.conf.numShufflePartitions)
            .agg(
              percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("am"),
              sort_array(collect_list(col("l_extendedprice"))).as("__v"))
            // same interpolation arithmetic as Percentile (pos = p·(n−1),
            // lo + (hi−lo)·frac) — bit-identical, pinned by the
            // forced-path parity spec and the DuckDB oracle. The empty
            // guard matches Percentile too: a global agg over ZERO rows
            // still emits one row, where lo = floor(-0.5) = -1 would make
            // element_at raise — `percentile()` returns NULL there
            // (r12 ADVICE; EmptyInputSpec pins it)
            .select(col("am"),
              when(size(col("__v")) > 0,
                loV + (hiV - loV) * (pos - lo.cast("double"))).as("em"))
        } else {
          // AUDIT (r14b, x1000 lineitem 11 GB, A6Lab both orders): the
          // separate raw-row percentile_approx pass was the large path's
          // last aggregate paying an interpreted update per RAW row (600M
          // inserts). The vc-freq pre-aggregate that bounds the exact
          // median now feeds the approx sketch too: the weighted GK
          // kernel (graft_wpercentile_approx, functions/SketchAggregates
          // .scala) inserts (value, cnt) pairs — ~133k interpreted
          // updates instead of 600M, same 1/accuracy rank-error contract.
          // Measured min-of-3 both orders: fused-second 52.9 vs split
          // 155.0 s (contended session), fused-FIRST 53.5 vs split-second
          // 60.8 s (quiet session) — the win holds from the disadvantaged
          // position; conservatively ~12% steady-state plus one fewer
          // full price-column scan, and the gap widens under host
          // contention (interpreted per-raw-row updates degrade worst).
          // At sf0.1 the vc pre-agg itself is the cost (97% distinct
          // prices — the r12 lesson), so the SMALL path keeps its
          // collect_list median: A6Lab vQ_vcmed/vP_trislice measured
          // 1.7-2.1 s vs vN 0.96 s, rejected both orders.
          src.groupBy(col("l_extendedprice"))
            .agg(count(lit(1)).as("__cnt"))
            .agg(expr("percentile(l_extendedprice, 0.5, __cnt)").as("em"),
              graft.functions.SketchFunctions.wpercentile_approx(
                col("l_extendedprice"), col("__cnt"), 0.5, 1000).as("am"))
        }
      val exacts =
        if (small)
          // ONE dedup job for both key sets: explode each row to
          // (k=0, partkey) and (k=1, orderkey), codegen'd two-phase
          // distinct (map-side partial dedup before the one shuffle),
          // then ONE global aggregate folds both k-slices straight to the
          // single output row — conditional counts and null-ignoring HLLs
          // (approx_count_distinct skips null inputs, so `when(k=0, v)`
          // feeds each sketch exactly its own slice). The r12 shape's
          // groupBy(k) + 2-row fold paid an extra exchange + AQE stage
          // for the same numbers (r13 VERDICT #3: a6 is the largest
          // non-floor-bound heavy; stage census 7 → 6 stages).
          src.select(explode(array(
              struct(lit(0).as("k"), col("l_partkey").as("v")),
              struct(lit(1).as("k"), col("l_orderkey").as("v")))).as("kv"))
            .select(col("kv.k").as("k"), col("kv.v").as("v"))
            .distinct()
            // coalesce to 0 so a ZERO-row relation (no k rows at all)
            // matches the large path, whose global count() returns 0
            .agg(
              coalesce(sum(when(col("k") === 0, 1L)), lit(0L)).as("exact_parts"),
              coalesce(sum(when(col("k") === 1, 1L)), lit(0L)).as("exact_orders"),
              approx_count_distinct(when(col("k") === 0, col("v")), 0.02).as("ap"),
              approx_count_distinct(when(col("k") === 1, col("v")), 0.02).as("ao"))
        else
          src.select(col("l_partkey")).repartition(col("l_partkey"))
            .distinct()
            .agg(count(lit(1)).as("exact_parts"),
              approx_count_distinct(col("l_partkey"), 0.02).as("ap"))
            .crossJoin(src.select(col("l_orderkey")).distinct()
              .agg(count(lit(1)).as("exact_orders"),
                approx_count_distinct(col("l_orderkey"), 0.02).as("ao")))
      sketches.crossJoin(exacts)
        .select(
          col("exact_parts"), col("exact_orders"),
          (floor(col("em") * 100 + 0.5) / 100).as("exact_median_price"),
          (abs(col("ap") - col("exact_parts")) <= col("exact_parts") * 0.06)
            .as("parts_within_3rsd"),
          (abs(col("ao") - col("exact_orders")) <= col("exact_orders") * 0.06)
            .as("orders_within_3rsd"),
          (abs(col("am") - col("em")) <= col("em") * 0.01)
            .as("median_within_1pct"))
  }

  /** DuckDB CTE fragments shared by the text/dedup oracles. */
  private val ShinglesCte =
    """t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - 3),
      |                      i -> array_to_string(w[i:i+4], ' '))) AS s
      |       FROM t WHERE len(w) >= 5),
      |ds AS (SELECT DISTINCT doc_id, s FROM sh),
      |sz AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id),
      |hsd AS (SELECT DISTINCT doc_id,
      |         ('0x' || substr(md5(s), 1, 8))::BIGINT % 2147483647 AS h31 FROM ds),
      |szh AS (SELECT doc_id, count(*) AS n FROM hsd GROUP BY doc_id)""".stripMargin

  /** Candidate-intersection CTE shared by the jaccard-family oracles,
    * mirroring [[Dedup.jaccardPairs]]' `maxPostings` df-cut: over-cap
    * shingles are excluded from intersections in BOTH engines (per-doc set
    * sizes `szh` stay full-universe), so the engines agree even on a
    * corpus where the cap binds. Non-binding at every test sf; the mirror
    * exists so the oracle's semantics are the operator's semantics, not an
    * approximation that happens to match on small data.
    */
  private val JaccardPrCte =
    s"""hp AS (SELECT doc_id, h31 FROM hsd
       |       WHERE h31 NOT IN (SELECT h31 FROM hsd GROUP BY h31
       |                         HAVING count(*) > ${Dedup.DefaultMaxPostings})),
       |pr AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
       |       FROM hp a JOIN hp b ON a.h31 = b.h31 AND a.doc_id < b.doc_id
       |       GROUP BY a.doc_id, b.doc_id)""".stripMargin

  /** The dedup family's shared subtree: the per-doc 31-bit shingle-hash
    * arrays (k=5) and the exact-jaccard pair table at the family's lowest
    * threshold (0.5), both lazily persisted. Spark's CacheManager
    * substitutes cached plans by CANONICAL equality, so every dedup_*
    * query that rebuilds these exact plans — in the same session, across
    * separate `queries(...)` invocations — reads the one cached copy
    * instead of re-hashing the corpus: the corpus is shingle-hashed once
    * per session, not once per query (re-`persist` of an already-cached
    * plan is a no-op; after `clearCache()` the next use re-registers and
    * re-fills). Pairs at any threshold ≥ 0.5 are a narrow filter over the
    * shared table, because `jaccardPairs`' threshold only appears in its
    * final filter.
    */
  /** The documents scan fanned to session width when the corpus is a
    * single small file: the text-analysis kernels (regexp scans, HOF
    * walks, char n-gram folds) are CPU-bound per-row work, and a
    * sub-[[fanDocsBytes]] corpus plans ONE scan task (parquet splits at
    * row-group granularity), serializing all of it on one core — the
    * narrow exchange costs milliseconds against the serial kernel
    * seconds (r11 sf0.1: text_quality_flags 1.15 s -> see bench). At
    * scale the file count supplies the parallelism and the gate keeps
    * the scan exchange-free. Explicit partition count so AQE's
    * small-shuffle coalescing cannot fold the fan-out back to one task.
    */
  private val fanDocsBytes: Long = 64L << 20
  private def fannedDocs(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    if (operators.AdaptiveGate.isSmall(docs, fanDocsBytes))
      docs.repartition(s.sessionState.conf.numShufflePartitions)
    else docs
  }

  private def sharedShingleArr(s: SparkSession, d: String): DataFrame =
    Dedup.docShingleHashes(Tables.documents(s, d), k = 5)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** The unfiltered candidate-pair statistics, one persisted copy per
    * session: every pair scorer (jaccard at any threshold ≥ the family's
    * lowest, containment, the source matrix) is a narrow filter over this
    * table, so the posting self-join runs once per session, not once per
    * scorer.
    */
  private def sharedPairStats(s: SparkSession, d: String): DataFrame =
    Dedup.pairStatsFromArr(sharedShingleArr(s, d))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  private def sharedJaccardPairs(s: SparkSession, d: String): DataFrame =
    Dedup.jaccardFromStats(sharedPairStats(s, d), threshold = 0.5)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** dedup_clusters / dedup_keep share ONE connected-components labeling
    * per (session, sf dir). The CC loop's output rides on localCheckpoint
    * lineage, which CacheManager plan-matching cannot identify across
    * invocations, so the HANDLE itself is memoized per session, with the
    * same lifecycle as the persisted result it wraps: `clearCache()`
    * evicts the cache entry, the next use detects that
    * ([[org.apache.spark.sql.GraftShims.isCached]]) and recomputes.
    * A WeakHashMap alone would NOT reclaim entries — the memoized
    * DataFrame value strongly references its SparkSession key (the
    * documented WeakHashMap caveat) — so every access also sweeps entries
    * whose session has stopped, bounding the map by the live-session
    * count.
    */
  private val clustersMemo =
    new java.util.HashMap[SparkSession, scala.collection.mutable.Map[String, DataFrame]]

  /** `text_token_ids` and `pack_materialize` encode the same corpus
    * against the same top-24 vocab; the vocab build ends in a driver-side
    * collect ([[operators.TextAnalysis.tokenEncode]]), which CacheManager
    * plan-matching cannot deduplicate across invocations — so the encoded
    * handle is memoized per (session, sf dir), same lifecycle discipline
    * as [[sharedClusters]]: sweep stopped sessions, recompute after
    * `clearCache()`.
    */
  private val encodedMemo =
    new java.util.HashMap[SparkSession, scala.collection.mutable.Map[String, DataFrame]]

  private def sharedEncoded(s: SparkSession, d: String): DataFrame =
    encodedMemo.synchronized {
      encodedMemo.keySet.removeIf(k => k.sparkContext.isStopped)
      val m = encodedMemo.computeIfAbsent(s,
        _ => scala.collection.mutable.Map.empty[String, DataFrame])
      m.get(d).filter(org.apache.spark.sql.GraftShims.isCached) match {
        case Some(df) => df
        case None =>
          // (doc_id, ids) ONLY: both consumers read just these two, so
          // caching the full 6-column table (text, lang, source, n_chars
          // ride along) would triple the columnar fill bytes for nothing
          // (r15; guide §5 cache economics). n_tokens falls out of the
          // cached array as size(ids) — vocab_encode emits one id per
          // whitespace token (OOV -> sentinel), so the count is identical.
          val df = TextAnalysis.tokenEncode(Tables.documents(s, d), vocabSize = 24)
            .select(col("doc_id"), col("ids"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          m(d) = df
          df
      }
    }

  /** Docs-scan stats bound under which the connected-components labelers
    * take [[Dedup.duplicateClustersDriver]]'s one-job union-find instead
    * of the iterative checkpoint loop (whose 4-6 floor-bound stages
    * dominate at bench scale: dedup_clusters_star measured 2.04 s for a
    * graph the driver folds instantly — r11). Gated on the DOCUMENTS scan
    * (the only subtree whose stats track reality here — the pair plan's
    * join-output estimate is a row-count product), one decade above
    * sf0.1's ~0.6 MB and two under x1000's ~600 MB; the driver collect
    * itself is bounded at [[CcDriverMaxEdges]] rows and DEGRADES to the
    * distributed loop on overflow, so a mis-sized gate costs a bounded
    * probe, never driver memory.
    */
  private val ccDriverDocBytes: Long = 64L << 20
  private val CcDriverMaxEdges: Int = 2000000

  private def ccLabels(s: SparkSession, d: String,
                       distributed: DataFrame => DataFrame): DataFrame = {
    val pairs = sharedJaccardPairs(s, d)
    if (operators.AdaptiveGate.isSmall(Tables.documents(s, d), ccDriverDocBytes))
      Dedup.duplicateClustersDriver(pairs, CcDriverMaxEdges)
        .getOrElse(distributed(pairs))
    else distributed(pairs)
  }

  private def sharedClusters(s: SparkSession, d: String): DataFrame =
    clustersMemo.synchronized {
      clustersMemo.keySet.removeIf(k => k.sparkContext.isStopped)
      val m = clustersMemo.computeIfAbsent(s,
        _ => scala.collection.mutable.Map.empty[String, DataFrame])
      m.get(d).filter(org.apache.spark.sql.GraftShims.isCached) match {
        case Some(df) => df
        case None =>
          val df = ccLabels(s, d, p => Dedup.duplicateClusters(p))
          m(d) = df
          df
      }
    }

  /** Transitive-closure labeling oracle shared by `dedup_clusters` (min-
    * label propagation) and `dedup_clusters_star` (large-star/small-star):
    * both algorithms define component = min doc_id reachable, so one
    * recursive-CTE re-derivation checks them both.
    */
  private lazy val ClustersOracleSql: String =
    s"""WITH RECURSIVE $ShinglesCte,
       |$JaccardPrCte,
       |pairs AS (SELECT da, db FROM pr
       |          JOIN szh sa ON sa.doc_id = da JOIN szh sb ON sb.doc_id = db
       |          WHERE inter / (sa.n + sb.n - inter) >= 0.5),
       |edges AS (SELECT da AS src, db AS dst FROM pairs
       |          UNION SELECT db, da FROM pairs),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
       |SELECT src AS doc_id, CAST(least(src, min(dst)) AS BIGINT) AS component
       |FROM reach GROUP BY src""".stripMargin

  /** Shared by `text_contamination` and `text_contamination_bloom` — the
    * bloom pre-pass changes the plan, not the result.
    */
  private lazy val ContaminationOracleSql: String =
    s"""WITH $ShinglesCte,
       |ev AS (SELECT DISTINCT s FROM ds WHERE doc_id % 50 = 0),
       |hits AS (SELECT ds.doc_id, count(*) AS contaminated_ngrams
       |         FROM ds JOIN ev ON ds.s = ev.s GROUP BY ds.doc_id)
       |SELECT z.doc_id,
       | CAST(coalesce(h.contaminated_ngrams, 0) AS BIGINT) AS contaminated_ngrams,
       | z.n AS total_ngrams,
       | CAST(coalesce(h.contaminated_ngrams, 0) AS DOUBLE) / CAST(z.n AS DOUBLE)
       |   AS contaminated_share
       |FROM sz z LEFT JOIN hits h ON z.doc_id = h.doc_id""".stripMargin

  // ---- queries ----------------------------------------------------------

  /** Queries whose inputs are the FIXED reference sample (the 514-game
    * chess JSON / openings CSV), not the sf-scaled parquet dir — excluded
    * from sf-scaled bench totals and the floor-model census. THE canonical
    * set (r13 ADVICE): [[graft.Bench]] and [[graft.tools.Inspect]]
    * consume it, and Bench publishes it as `"fixed_input"` in the bench
    * JSON so `tools/bench_oracle.py` reads it from there instead of
    * hardcoding a copy. An explicit set, not a name-prefix filter:
    * `chess_scale_winrate` is chess-SHAPED but reads the sf-scaled orders
    * table and must be benched/paired like any other query.
    */
  val fixedInputQueries: Set[String] =
    Set("chess_e2e", "chess_silver", "chess_gold", "chess_dim_openings")

  /** Every entry builds its DataFrame lazily — construction is job-free —
    * with the documented exceptions that run bounded Spark jobs at
    * construction time: `q13_custdist`'s large path (see [[q13Custdist]]'s
    * eager-materialization contract) and the connected-components family
    * (`dedup_clusters`/`dedup_clusters_star`/`dedup_keep`/
    * `dedup_split_by_cluster` via [[ccLabels]]/[[sharedClusters]]), whose
    * iterative fixpoint loops (or gated driver union-find) are inherently
    * evaluation, not plan construction.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // A1/A4 + F: grouped aggregation with exact and rounded measures
    "a1_groupby_agg" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          round(sum(revenue), 2).as("revenue"),
          count(lit(1)).as("count_order"))
    }),

    // P2/A3: SELECT DISTINCT projection
    "p2_distinct" -> ((s, d) =>
      Tables.orders(s, d).select(col("o_orderstatus"), col("o_orderpriority")).distinct()),

    // J2/P4: NOT IN incremental anti-join (keys non-null -> left_anti)
    "j2_anti_join" -> ((s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))),

    // J1: referential star join projecting fact columns only. The joins
    // carry multiplicity/existence semantics but no payload, so every
    // right side is pre-projected to ITS KEY ALONE — identical rows (a
    // left join's output depends only on the key multiset of the build
    // side) at a fraction of the broadcast/shuffle bytes: at x1000 the
    // AUDIT (r8): key-only projections cut the broadcast/shuffle widths
    // ~9x (67.3 s -> 38.6 s at x1000), but the orderkey exchange + hash
    // build remained — 3.3x DuckDB's single-pipeline probe.
    // AUDIT (r9): the exchange wasn't the floor, it was DEAD WORK. The
    // query is the reference's `SELECT fact.* FROM fact LEFT JOIN dims`
    // (python_scripts.py:566-573): every probe is a LEFT join against a
    // declared-unique dimension key whose columns the query never reads,
    // so each probe emits exactly one row per fact row and the engine's
    // constraint-driven join elimination
    // ([[graft.plans.EliminateUniqueKeyLeftJoin]], fed by the PKs
    // [[Tables]] declares) deletes all three joins — the optimized plan
    // is scan -> project, zero exchanges (pinned in PlanAuditSpec), the
    // same rewrite any PK-aware RDBMS applies. What remains at x1000 is
    // pure 600M-row 8-column output materialization, embarrassingly
    // parallel — the a9_unpivot argument. Joins that DO read dim columns
    // (chess_gold, j1_a1) keep their physical joins; the
    // rule-off parity spec pins result equality both ways.
    // AUDIT (r10, x1000, same-day): the floor argument is now MEASURED —
    // eliminated plan 4.06 s vs DuckDB 11.91 s (0.34x; the r8 physical
    // join was 3.31x). Cost tracks projection width, confirming pure
    // materialization: 8-col 4.66 s vs 2-col 1.68 s (the bare 2-col scan
    // floor is 2.2 s the same day).
    "j1_star_join" -> ((s, d) => {
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d).select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left")
        .join(broadcast(Tables.part(s, d).select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"), "left")
        .join(broadcast(Tables.supplier(s, d).select(col("s_suppkey"))),
          col("l_suppkey") === col("s_suppkey"), "left")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"), col("l_quantity"), col("l_extendedprice"),
          col("l_returnflag"), col("l_shipdate"))
    }),

    // J1+A1: broadcast-star rollup (flagship). x100 alternative measured
    // and rejected: pre-composing the three dims into one suppkey ->
    // (n_name, r_name) broadcast ran 1.39 s vs 1.17 s — the nation/region
    // probes are against 25/5-row maps (essentially free), while the
    // pre-join adds a build job on the critical path before the probe
    // stage can launch.
    // AUDIT (r8, x1000): below the gate, the classic shape — fact scan
    // probes three broadcast dims, then a 125-group string-key partial
    // agg; at sf0.1 this is floor-optimal (the r7 audit measured the
    // agg-first variant 0.69 s vs 0.50 s — extra post-agg join stages
    // cost more than the narrow agg keys save on 600k rows). At x1000 the
    // verdict inverts: the hot loop is 600M rows x (3 hash probes + a
    // string-key agg update), and pre-aggregating by the INT l_suppkey
    // (600M -> |supplier| rows, map-side combine at ~19x reduction per
    // task) before any join removes all per-fact-row probe work — the
    // three broadcast joins then run over |supplier| rows and the final
    // 125-group re-agg is free. Same rows: supplier->nation->region is
    // functionally dependent on l_suppkey, sum/count re-associate.
    "j1_a1_star_rollup" -> ((s, d) => j1A1Rollup(s, d)),

    // J4: role-playing dimension joined twice under different aliases.
    // Both fact sides are pre-projected to exactly their join+agg columns
    // BEFORE the fact×fact join, so its exchanges carry 2-column rows.
    // AUDIT (r6): all three strategies measured at sf0.1 — broadcast-ing
    // the pre-projected orders side removes both exchanges but pays the
    // driver-side broadcast build (150k rows) serially before the probe
    // stage can start: 0.81 s. SMJ adds two sorts: ~1.0 s. Shuffle-hash on
    // the pre-pruned orders side wins at 0.55 s, and the residual cost is
    // the lineitem scan+exchange itself (~0.27 s; the sf0.1 file is a
    // SINGLE parquet row group, so the scan task is serial no matter the
    // split config — a multi-row-group layout at real scale parallelizes
    // it for free) — irreducible without dropping fact rows. At cluster
    // scale the same pick holds as long as a partition of orders fits an
    // executor (AQE's skew split keeps partitions bounded).
    // AUDIT (r7): a fourth variant — agg on int nation keys, dim-name
    // joins moved after the 625-row aggregate — measured 0.69 s vs this
    // plan's 0.50 s floor (min-of-6, same session): the extra post-agg
    // join stages cost more than the narrower agg keys save. Keep this.
    // x100 (2.2 GB) alternative measured and rejected: broadcasting the
    // orders⋈customer build side (the DuckDB-style single-probe plan)
    // ran 10.2 s vs 4.3 s for this shuffle-hash plan, min-of-3 same
    // session — the driver-side single-threaded HashedRelation build on
    // 15M rows costs more than both 32-way shuffle writes combined.
    // AUDIT (r8, x1000): the shuffle_hash hint is GATED on the build
    // side's stats ([[shuffleHashBytes]]): at 15 GB input the per-task
    // hash build of 4.7M orders rows needs 256 MB x 32 concurrent tasks
    // and the stage dies with "Can't acquire ... to build hash relation"
    // (hash builds are non-spillable). Past the gate both sides
    // repartition to a stats-derived count (~2 MB of build-side stats
    // per task ≈ 25 MB real hash memory — the stats estimate undercounts
    // the hashed-relation overhead ~12x) so every build fits, and the
    // join keeps the hash strategy: measured 38.0 s at x1000 vs 104.4 s
    // for the spillable sort-merge fallback and a dead stage for the
    // unpartitioned hint. Stats: 0.8 MB sf0.1 / 84 MB x100 / 574 MB
    // x1000; the 256 MB threshold keeps the plain fast path through
    // x100, and the derived count is capped at 2048 (past that the
    // per-node pool is the constraint a bigger cluster relieves).
    // AUDIT (r10, x1000): past the same gate the exchanges now carry
    // PACKED single-long rows (orderkey<<5 | nationkey, dims probed
    // before the wire) — 29.2 s vs 48.1 s for the r8 plan, against a
    // measured 20.1 s two-exchange floor. AUDIT (r13): when a completed
    // orderkey-bucketed layout of the fact projections exists on disk,
    // the large regime routes through it instead — zero fact-scale
    // exchanges (x1000: 18.2 s vs the packed plan's 29.2 s and the
    // 20.1 s exchange floor it can never beat). See [[j4Roleplay]].
    "j4_roleplay_join" -> ((s, d) => j4Roleplay(s, d)),

    // W1/P6: latest-record dedup (the reference's merge semantics).
    // Formulated as max-of-ordered-struct instead of row_number()+rn=1: the
    // ordering keys (ts DESC, event_id DESC) lead the struct, so struct max
    // IS the rn=1 row — identical rows to the window form (event_id is
    // unique, so the trailing payload fields never participate in the
    // comparison). The agg gets map-side partial aggregation (each input
    // partition reduces to <= #users rows before the exchange) and no sort,
    // where the window form shuffles and SORTS every event row. The
    // row_number() formulation itself stays exercised by GoldFact.merge and
    // the chess pipeline; the DuckDB oracle keeps the window spelling.
    "w1_window_dedup" -> ((s, d) => {
      val top = max(struct(col("ts"), col("event_id"), col("event_type"),
        col("value"))).as("top")
      Tables.events(s, d).groupBy(col("user_id")).agg(top)
        .select(col("user_id"), col("top.event_id").as("event_id"),
          col("top.event_type").as("event_type"), col("top.ts").as("ts"),
          col("top.value").as("value"))
    }),

    // U1: set-semantics union
    "u1_union_distinct" -> ((s, d) =>
      Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
        .union(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
        .distinct()),

    // U2: bag union
    "u2_union_all" -> ((s, d) =>
      Tables.customer(s, d).select(col("c_nationkey").as("nationkey"), lit("customer").as("src"))
        .unionByName(Tables.supplier(s, d)
          .select(col("s_nationkey").as("nationkey"), lit("supplier").as("src")))),

    // TPC-H-shaped analytics (beyond reference): the classic plan shapes
    // Q3: filtered 3-way join -> agg -> deterministic top-k. The fact table
    // (lineitem) STREAMS and the doubly-filtered customer⋈orders side is
    // broadcast — left to its size estimates the planner inverts this and
    // broadcasts the filtered fact (join-output stats are a row-count
    // product, so the c⋈o side looks huge; for the same reason the gate
    // below reads the ORDERS scan stats, the only side whose estimate
    // tracks reality). At fact-x-fact scale where the date window no
    // longer bounds c⋈o under the driver's memory, the hint drops and AQE
    // picks the join from runtime sizes. Gate = 16 GB of orders stats —
    // one decade above the largest measured point (x1000: 1.9 GB orders
    // -> 15M-row c⋈o broadcast, built and probed in 3.7 s; a 10x corpus
    // would put ~150M rows on the driver, past any sensible
    // autoBroadcast ceiling).
    // AUDIT (r10, x1000, all same-day min-of-2): three re-plans measured
    // and REJECTED — semi-filtered c⋈o build 5.45 s, shuffle-hash (fact
    // exchanges) 14.2 s, per-order pre-agg before the join 72.7 s — vs
    // 4.92 s for the r8 plan. Decomposed floors the same day: the
    // filtered 3-col fact scan alone is 2.0 s and the distributed c⋈o
    // build alone 1.2 s, while DuckDB ran the ENTIRE query in 1.93 s —
    // at Spark's own scan floor — the residual 2.19x is scan-engine
    // speed, not a missing rewrite. The broadcast side ships ONE long
    // per row (orderkey<<14 | epoch-days — orderdates are day-grained,
    // the corpus predates 2014-11 = day 16384, and only pre-1995 rows
    // are packed; lossless), halving broadcast row bytes AND collapsing
    // the 15M-group agg key (l_orderkey, o_orderdate) into that single
    // long (the date is functionally dependent on the orderkey).
    // ORDER-CONTROLLED A/B vs the textbook spelling: timing PARITY at
    // x1000 (like-position 4.1/4.2 vs 4.0/3.8; solo sessions 4.4-4.7
    // both) — adopted for the build-width halving, which is what the
    // 10x-corpus broadcast gate case actually stresses, not for a
    // single-node win. An earlier 3.69-vs-4.17 same-session reading was
    // in-session order bias (second variant runs 15-30% warmer, even
    // between identical plans) and is retracted.
    // AUDIT (r11, x1000): the FOURTH re-plan — per-order pre-aggregation
    // of lineitem revenue BEFORE the c⋈o probe (J4Lab q3_preagg_shj:
    // semi-filtered c⋈o, map-side combine into ~140M orderkey groups,
    // 1:1 shuffle-hash attach of o_orderdate) — measured 158.0 s vs
    // 11.96 s for this plan in the SAME session (candidate held the
    // disadvantaged first position; a 13x blowout is beyond any order
    // bias). The filter keeps ~93% of orderkeys, so "pre-aggregate to
    // shrink the join input" exchanges nearly every orderkey group where
    // this plan broadcasts 15M packed longs and aggregates once. With
    // all four rejected re-plans measured, q3 is floor-accepted: the
    // same-day r11 pair is 6.28 s vs DuckDB 3.29 s = 1.91x (≤2x).
    "q3_shipping_priority" -> ((s, d) => {
      val ord = Tables.orders(s, d)
      // 14-bit date pack is lossless only for epoch days in [0, 16384)
      // (1970-01-01 .. 2014-11-06); the query filter bounds dates above
      // (pre-1995) but NOT below — a pre-1970 orderdate would go negative
      // and borrow into the orderkey bits, silently corrupting the group
      // key. Same fail-loudly contract as j4's packed() nationkey guard.
      val epochDay = unix_date(col("o_orderdate").cast("date")).cast("long")
      val cop = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .join(ord, col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") < "1995-03-15")
        .select(when(epochDay >= 0 && epochDay < 16384,
            shiftleft(col("o_orderkey").cast("long"), 14) + epochDay)
          .otherwise(raise_error(concat(
            lit("q3 packed plan: o_orderdate outside [1970-01-01, 2014-11-06): "),
            col("o_orderdate").cast("string")))).as("cop"))
      val coSide =
        if (operators.AdaptiveGate.isSmall(ord, 16L << 30)) broadcast(cop) else cop
      Tables.lineitem(s, d).filter(col("l_shipdate") > "1995-03-15")
        .select(col("l_orderkey"), revenue.as("__rev"))
        .join(coSide, col("l_orderkey") === shiftright(col("cop"), 14))
        .groupBy(col("cop"))
        .agg(round(sum(col("__rev")), 2).as("rev"))
        .select(shiftright(col("cop"), 14).as("l_orderkey"),
          date_from_unix_date((col("cop") % 16384).cast("int"))
            .cast("timestamp_ntz").as("o_orderdate"),
          col("rev"))
        .orderBy(desc("rev"), col("l_orderkey")).limit(10)
    }),

    // Q13: outer-join count distribution (double aggregation)
    // orders pre-aggregated by custkey BEFORE the join: the shuffle carries
    // one (custkey, count) row per ordering customer instead of every order
    // row, the left join then attaches 0 for order-less customers, and at
    // small SF the planner auto-broadcasts the shrunken aggregate. Same
    // rows as the textbook customer⋈orders groupBy formulation (o_orderkey
    // is never null), strictly less shuffle at any scale.
    // r8: the left join is eliminated by complement counting. Under the
    // orders->customer FK (TPC-H guarantee, held by the testdata and
    // preserved by ScaleData's per-replica key shifts) the join's only
    // contribution is the c_count=0 bucket, whose size is |customer| minus
    // |distinct ordering customers| — two O(1)-row aggregates instead of
    // shuffling the 150k-row per-customer aggregate against the customer
    // table. The 0 row is emitted only when positive, matching the
    // left-join formulation on fully-ordering populations.
    // The per-customer count REPARTITIONS the raw single-col custkeys
    // before grouping (above the [[rawAggBytes]] gate): at ~7 orders/
    // customer with custkeys scattered across the scan, map-side partial
    // aggregation inflates (each map task's partial output ≈ its input)
    // while paying a |customers|-scale hash map per task — post-shuffle
    // aggregation with 1-col raw rows measured 0.69 s vs 0.92 s at x30
    // (min-of-3, same session; sf0.1 keeps the direct groupBy, 0.28 s vs
    // 0.32 s). Gate validated at x100 (2.2 GB): 1.01 s gated vs 1.46 s
    // direct-groupBy spelling, min-of-3 same session.
    "q13_custdist" -> ((s, d) => q13Custdist(s, d)),

    // Q18: HAVING over a grouped sum, joined back to the fact.
    // The per-order sum groups ~|lineitem|/4 keys — high-cardinality
    // enough that map-side partial aggregation pays a near-|orders| hash
    // map per task for a modest reduction; repartitioning the raw 2-col
    // rows first measured 1.96 s vs 2.21 s at x30 (min-of-3, same
    // session; the gain is smaller than a7's because lineitem files are
    // clustered by orderkey, so partial agg did reduce here). Below the
    // [[rawAggBytes]] gate the extra exchange stage costs more than the
    // small partial maps save (0.40 s vs 0.54 s at sf0.1 same-session),
    // so tiny inputs keep the direct groupBy. The filtered aggregate is
    // tiny, so AQE broadcast-joins it into the orders scan. Gate
    // validated at x100 (2.2 GB): 3.49 s gated vs 5.01 s direct-groupBy
    // spelling, min-of-3 same session — the x30 trend holds.
    // AUDIT (r13, x1000, Q18Lab order-controlled ADOPT): an orderkey-
    // bucketed lineitem(l_orderkey, l_quantity) layout removes the one
    // fact-scale exchange — the per-order sum aggregates per bucket with
    // ZERO exchanges before the broadcast join. Measured BOTH orders at
    // x1000 (min-of-2 each): bucketed 11.18/12.52 s vs the gated
    // exchange plan's 39.87/33.73 s — a >2.9x win from the disadvantaged
    // position too, so the probe routes through the layout when one
    // exists on disk (tools/sweeps/q18_ab_x1000_r13.log). See
    // [[q18LargeOrders]].
    "q18_large_orders" -> ((s, d) => q18LargeOrders(s, d)),

    // U3 (beyond reference): INTERSECT / EXCEPT set operations
    "u3_intersect_except" -> ((s, d) => {
      val custNations = Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
      val suppNations = Tables.supplier(s, d).select(col("s_nationkey").as("nationkey"))
      custNations.intersect(suppNations).withColumn("op", lit("both"))
        .unionByName(custNations.except(suppNations).withColumn("op", lit("cust_only")))
    }),

    // W3 (beyond reference): window frames + rank family
    "w3_frames_ranks" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d).select(
        col("user_id"), col("event_id"),
        round(avg(col("value")).over(w.rowsBetween(-2, 0)), 6).as("mov_avg3"),
        lead(col("event_id"), 1).over(w).as("next_event"),
        first(col("event_id")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("first_event"),
        rank().over(w).cast("long").as("rnk"),
        percent_rank().over(w).as("pct_rank"),
        ntile(4).over(w).cast("long").as("quartile"))
    }),

    // P7: searched CASE derivations
    "p7_case_pivot" -> ((s, d) =>
      Tables.orders(s, d).select(
        col("o_orderkey"), col("o_orderstatus"),
        when(col("o_totalprice") < 50000, "small")
          .when(col("o_totalprice") < 150000, "medium")
          .otherwise("large").as("price_band"),
        quarter(col("o_orderdate")).cast("long").as("order_quarter"))),

    // O1: global total-order sort (range-partitioned exchange at scale)
    "o1_global_sort" -> ((s, d) =>
      Tables.nation(s, d).select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .orderBy(col("n_regionkey"), desc("n_name"))),

    // F3+F4: dotted-date normalize + parse round-trip (the PGN
    // `[Date "2024.01.01"]` handling: REPLACE('.','/') then STRPTIME)
    "f3_replace_parse_date" -> ((s, d) => {
      val dotted = date_format(col("o_orderdate"), "yyyy.MM.dd")
      Tables.orders(s, d).select(
        col("o_orderkey"),
        dotted.as("dotted"),
        to_date(regexp_replace(dotted, "\\.", "/"), "yyyy/MM/dd").as("parsed"))
    }),

    // O2: deterministic top-k (tie-broken global sort + limit)
    "o2_topk" -> ((s, d) =>
      Tables.customer(s, d).select(col("c_custkey"), col("c_acctbal"))
        .orderBy(desc("c_acctbal"), col("c_custkey")).limit(10)),

    // O3: watermark max
    "o3_watermark_max" -> ((s, d) =>
      Tables.events(s, d).agg(max(col("ts")).as("last_updated"))),

    // F7-F9 + P2: dim_date build (year/month/monthname/day/weekday/quarter).
    // Distinct FIRST, derive after: date_format's per-row DateTimeFormatter
    // is the dominant cost, and running it over every order row before the
    // distinct paid it O(rows) (x10 measurement: 17x DuckDB). Deduping the
    // bare date column first makes the formatting O(distinct dates) — ~2.4k
    // rows regardless of fact size — and the distinct itself is a narrow
    // partial-agg over a single date column. Same rows (every derived
    // column is a pure function of order_date), same oracle.
    "f7_dim_date" -> ((s, d) => {
      val dt = col("order_date")
      Tables.orders(s, d)
        .select(to_date(col("o_orderdate")).as("order_date")).distinct()
        .select(
          dt,
          year(dt).cast("long").as("year"),
          month(dt).cast("long").as("month"),
          date_format(dt, "MMMM").as("month_name"),
          dayofmonth(dt).cast("long").as("day"),
          date_format(dt, "EEEE").as("weekday"),
          quarter(dt).cast("long").as("quarter"))
    }),

    // P1 + F10: wide projection with casts, arithmetic and string ops
    "p1_wide_projection" -> ((s, d) =>
      Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("long").as("qty"),
        // engine-neutral 2-dp rounding: floor(x*100+0.5)/100 is bit-exact
        // across engines given identical doubles, unlike round() whose
        // half-way ties differ between Spark (BigDecimal HALF_UP) and DuckDB
        (floor(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax")) * 100 + 0.5) / 100).as("charge"),
        concat(col("l_returnflag"), lit("/"), col("l_linestatus")).as("flag_status"),
        to_date(col("l_shipdate")).as("ship_date"),
        when(col("l_discount") > 0.05, "promo").otherwise("std").as("promo_flag"))),

    // F1: regex group extraction (PGN-header analog over JSON-ish props)
    "f1_regex_extract" -> ((s, d) =>
      Tables.events(s, d).select(
        col("event_id"),
        regexp_extract(col("props"), "\"k\": (\\d+)", 1).as("k_str"),
        regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("long").as("k_val"))),

    // F2/UD5: regexp_extract_all count (pgn-depth analog)
    "f2_regex_count" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0))).cast("long")
          .as("n_alpha_tokens"),
        TextAnalysis.tokenCount(col("text")).as("n_ws_tokens"))),

    // UD3/UD4: family/variation split
    "ud3_split_family" -> ((s, d) =>
      Tables.part(s, d).select(
        col("p_partkey"),
        split(col("p_name"), " ").getItem(0).as("family"),
        split(col("p_name"), " ").getItem(1).as("variation"))),

    // F6: duration in seconds between first and last event per user
    "f6_duration_secs" -> ((s, d) =>
      Tables.events(s, d).groupBy(col("user_id")).agg(
        (max(col("ts")).cast("long") - min(col("ts")).cast("long")).as("span_secs"),
        count(lit(1)).as("n_events"))),

    // UD6: format_time_control over synthesized "base+inc" strings
    "ud6_format_time_control" -> ((s, d) => {
      val base = (col("event_id") % 9 + 1) * 60 + (col("event_id") % 7) * 10
      val tc = when(col("event_id") % 3 === 0, base.cast("string"))
        .otherwise(concat(base.cast("string"), lit("+"), (col("event_id") % 13).cast("string")))
      Tables.events(s, d).select(col("event_id"), tc.as("tc"))
        .withColumn("formatted", ChessFunctions.formatTimeControl(col("tc")))
    }),

    // P5: LIKE predicates
    "p5_like_filter" -> ((s, d) =>
      Tables.part(s, d)
        .filter(col("p_name").like("%widget%") && col("p_brand").like("Brand#1%"))
        .select(col("p_partkey"), col("p_name"), col("p_brand"))),

    // A6: sketch aggregates — HLL++ count-distinct and quantile sketch.
    // Rows-only check: sketch estimates are engine-specific by nature;
    // SketchSpec bounds them against exact values instead.
    // A6: sketch aggregates checked against their exact counterparts in the
    // same query — the exact values hash-match DuckDB, the within-tolerance
    // flags assert the sketches' error bounds (HLL rsd 0.02 -> 3-sigma 6%;
    // percentile_approx at accuracy 1000 -> rank error 0.1%, far inside
    // the 1%-of-median VALUE tolerance on a dense price domain at every
    // size. Accuracy is the QuantileSummaries compress cost: 10000
    // measured 19.4 s vs 3.3 s at 1000 over 600M rows — the relative
    // rank guarantee doesn't improve with data size, so the bigger
    // sketch bought nothing)
    // The sketch inserts (QuantileSummaries compress, HLL register
    // updates, exact-percentile buffer) are per-row EXPENSIVE, and the
    // multi-distinct Expand triples the rows — on the driver's
    // single-row-group sf files that work lands on ~1 scan task. Below
    // the gate, fan the narrow projection across cores first (a ~10 MB
    // round-robin exchange buys 32-way sketch building: 10.8 s -> 1.1 s
    // at sf0.1); above it, multi-row-group splits already parallelize
    // the scan and the exchange would shuffle the full fact for nothing.
    "a6_sketch_agg" -> ((s, d) => a6SketchAgg(s, d)),

    // A2: count-distinct single and pair
    // AUDIT (r8, x1000): the one-pass spelling plans an Expand that
    // feeds |rows| x 3 duplicated rows into a single wide-key aggregate
    // — 1.8B expanded rows at 15 GB, 192 s. A naive three-branch split
    // was no better (171 s): the pair branch's map-side partial distinct
    // barely dedups (18M rows/task vs 80M distinct pairs) while paying
    // giant hash maps, and AQE coalesced the under-estimated distinct
    // output into single-task stages. This spelling shuffles the raw
    // 2-col rows ONCE by l_partkey (the q13 lesson): partkey
    // partitioning satisfies the clustering of BOTH the parts-distinct
    // and the (partkey, suppkey) pairs-distinct (subset rule), so both
    // run post-shuffle on the same reused exchange with no partial maps;
    // the suppkey branch partial-distincts on its own — |supps| is tiny,
    // so ITS map-side dedup genuinely reduces. Below the gate the plain
    // one-pass spelling stays (0.3 s at sf0.1 — the Expand is free on
    // 600k rows).
    "a2_count_distinct" -> ((s, d) => a2CountDistinct(s, d)),

    // J3: longest-prefix match join (opening-book analog): dict of 2- and
    // 3-word prefixes, startsWith semantics, longest match wins.
    // AUDIT (r8, x1000): the broadcast non-equi startsWith join is a
    // BroadcastNestedLoopJoin — every doc probes EVERY dict prefix, and
    // the dict grows linearly with the corpus (|docs|/20 x 2 entries), so
    // the plan is O(|docs|^2/20) string compares: 1113 s at x1000 (1M docs
    // x 100k prefixes). The large path replaces it with a LENGTH-BANDED
    // EQUI-JOIN, exactly equivalent at the character level:
    // text.startsWith(p) <=> substring(text, 1, length(p)) = p, so with
    // the (few, data-derived, guarded) distinct prefix lengths L in hand,
    // each doc emits one (len, substring(text,1,len)) probe per L and the
    // join is a plain hash join on (len, p) — |docs| x |lengths| probe
    // rows instead of |docs| x |dict| compares.
    // The dict side broadcast is itself stats-gated: at real
    // scale a corpus-derived dict outgrows an executor and the same
    // equi-join degrades to a shuffle, never back to the nested loop.
    // Below the gate the BNLJ spelling stays (0.33 s at sf0.1 — one job,
    // no length-collect pass).
    "j3_prefix_match" -> ((s, d) => j3PrefixMatch(Tables.documents(s, d))),

    // G1 (beyond reference): generator — positional token explode
    "g1_posexplode" -> ((s, d) =>
      Tables.documents(s, d)
        .filter(col("doc_id") < 50)
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("tok"))),

    // F15 (beyond reference): string function breadth
    "f15_string_ops" -> ((s, d) =>
      Tables.part(s, d).select(
        col("p_partkey"),
        upper(col("p_name")).as("upper_name"),
        lpad(col("p_partkey").cast("string"), 8, "0").as("padded_key"),
        translate(col("p_name"), "ae", "@3").as("leeted"),
        reverse(col("p_brand")).as("rev_brand"),
        element_at(split(col("p_name"), " "), 2).as("second_word"),
        repeat(substring(col("p_brand"), 1, 2), 3).as("brand_echo"))),

    // F16 (beyond reference): date arithmetic breadth
    "f16_date_ops" -> ((s, d) => {
      val dt = col("o_orderdate")
      Tables.orders(s, d).select(
        col("o_orderkey"),
        last_day(dt).as("month_end"),
        date_trunc("month", dt).cast("date").as("month_start"),
        date_add(dt, 10).as("plus10"),
        add_months(dt, 2).as("plus2m"),
        make_date(year(dt), month(dt), dayofmonth(dt)).as("remade"))
    }),

    // A10 (beyond reference): CUBE with grouping marker
    "a10_cube" -> ((s, d) =>
      Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), grouping_id().as("gid"))),

    // A11 (beyond reference): exact interpolated percentiles per group —
    // size-adaptive, see [[a11Percentiles]]
    "a11_percentiles" -> ((s, d) => a11Percentiles(s, d)),

    // A13 (beyond reference): weighted quantiles over a value-count
    // pre-aggregate — the bounded-domain quantile pattern at 100 TB.
    // l_quantity has ~50 distinct values at ANY corpus size, so the
    // codegen'd count reduces the corpus once and BOTH quantile kernels
    // ride the ~50 (value, cnt) rows: the exact quantiles read
    // percentile's FREQUENCY form, the approx ones the weighted GK
    // sketch (graft_wpercentile_approx) — no interpreted update ever
    // touches a raw row, at sf0.01 or at 100 TB. The within-step
    // booleans assert the sketch lands on a data value adjacent to the
    // interpolated exact quantile (domain step = 1.0). The oracle pins
    // them as literal TRUE by ERROR-BOUND math, not determinism (merge
    // order of partial summaries varies with shuffle fetch order): at
    // accuracy 1000 the accumulated rank error is a few tenths of a
    // percent of total weight, while each quantity value owns a ~2%-of-
    // weight run — the sketch cannot land more than one domain step
    // from the exact quantile. Lowering the accuracy (or reusing this
    // pattern on a denser domain) re-opens that margin; recheck the
    // bound before touching either.
    "a13_weighted_quantiles" -> ((s, d) => {
      val vc = Tables.lineitem(s, d)
        .groupBy(col("l_quantity")).agg(count(lit(1)).as("__cnt"))
      vc.agg(
          count(lit(1)).as("n_quantities"),
          sum(col("__cnt")).as("total_rows"),
          expr("percentile(l_quantity, 0.5, __cnt)").as("e50"),
          expr("percentile(l_quantity, 0.9, __cnt)").as("e90"),
          graft.functions.SketchFunctions.wpercentile_approx(
            col("l_quantity"), col("__cnt"), 0.5, 1000).as("a50"),
          graft.functions.SketchFunctions.wpercentile_approx(
            col("l_quantity"), col("__cnt"), 0.9, 1000).as("a90"))
        .select(
          col("n_quantities"), col("total_rows"),
          (floor(col("e50") * 10000 + 0.5) / 10000).as("p50"),
          (floor(col("e90") * 10000 + 0.5) / 10000).as("p90"),
          (abs(col("a50") - col("e50")) <= 1.0).as("p50_within_step"),
          (abs(col("a90") - col("e90")) <= 1.0).as("p90_within_step"))
    }),

    // A9 (beyond reference): UNPIVOT/melt — wide measures to long form
    // AUDIT (r8, x1000): the executed plan is the optimum this query
    // admits — Scan → Project → Expand fused in ONE WholeStageCodegen
    // stage, zero exchanges, 5-column pruned read. The 26.1 s (vs DuckDB
    // 3.3 s) is pure materialization throughput on the 1.8B-row output
    // (each row re-writes a measure-name string DuckDB serves from a
    // dictionary vector); per-partition work is embarrassingly parallel,
    // so a cluster scales it linearly — nothing structural to remove.
    "a9_unpivot" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").as("quantity"), col("l_discount").as("discount"),
          col("l_tax").as("tax"))
        .unpivot(Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("quantity"), col("discount"), col("tax")),
          "measure", "value")),

    // A8 (beyond reference): PIVOT — orders count per status × priority
    "a8_pivot" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .pivot("o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .agg(count(lit(1)))
        .withColumnsRenamed(Map("1-URGENT" -> "p1", "2-HIGH" -> "p2",
          "3-MEDIUM" -> "p3", "4-NOT SPECIFIED" -> "p4", "5-LOW" -> "p5"))
        // pivot yields null for absent combinations; normalize to 0 to
        // match conditional-aggregation semantics
        .select(col("o_orderstatus") +: Seq("p1", "p2", "p3", "p4", "p5")
          .map(c => coalesce(col(c), lit(0L)).as(c)): _*)),

    // F13 (beyond reference): array algebra — sort/contains/slice/zip fold
    "f13_array_ops" -> ((s, d) => {
      val w = split(col("text"), " ")
      Tables.documents(s, d).select(
        col("doc_id"),
        array_join(slice(sort_array(array_distinct(w)), 1, 3), ",").as("first3_sorted"),
        array_contains(w, "the").as("has_the"),
        size(array_intersect(w, array(lit("the"), lit("a"), lit("of")))).cast("long")
          .as("n_common"),
        aggregate(transform(w, t => length(t).cast("long")), lit(0L), _ + _)
          .as("total_chars"))
    }),

    // F14 (beyond reference): JSON path extraction over the props column
    // One byte-walk per row for all three paths (TextOps.jsonTopScalars,
    // scalar-only contract pinned by JsonKernelSpec incl. a randomized
    // parity run against get_json_object). AUDIT (r12, x1000 min-of-2):
    // 3× get_json_object 29.3 s → one parse_json + 3 codegen'd
    // try_variant_get 10.99 s → kernel 1.98 s, against a 0.69 s bare-scan
    // floor and DuckDB's 1.30 s (duck evaluates the extraction once per
    // parquet-DICTIONARY value — ~100 distinct props — which Spark's
    // per-row expression evaluation cannot; the dictionary-factored
    // groupBy+broadcast re-join was measured 10.8 s and REJECTED: the
    // second 100M-row string pass costs what the parse cost). try_cast
    // mirrors the oracle's TRY_CAST (null, never throw, on non-numeric k).
    "f14_json_ops" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          graft.functions.TextFunctions.json_top_scalars(
            col("props"), Seq("k", "tag", "missing")).as("__j"))
        .select(
          col("event_id"),
          expr("try_cast(element_at(__j, 1) AS BIGINT)").as("k"),
          element_at(col("__j"), 2).as("tag"),
          element_at(col("__j"), 3).as("missing"))),

    // J6 (beyond reference): semi-join — customers with at least one order
    "j6_semi_join" -> ((s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))),

    // A7 (beyond reference): correlated-aggregate pattern (TPC-H Q17 shape):
    // lineitems below 50% of their part's average quantity.
    //
    // Formulated as per-part averages BROADCAST back over a second scan:
    // the per-part aggregate is |parts| rows (two narrow columns), so the
    // probe side streams with no exchange and no sort. The r7 window
    // spelling (one scan, one exchange) shuffles AND sorts every lineitem
    // row — measured 1.80 s vs 0.60 s for this plan at x10. The naive
    // self-join (both sides shuffled full-width) and the window stay
    // measured-and-rejected in the audit history.
    //
    // AUDIT (r8): the aggregate side explicitly REPARTITIONS the raw
    // (partkey, quantity) rows before the groupBy (above the
    // [[rawAggBytes]] gate), because |parts| here is ~|lineitem|/30 —
    // high-cardinality grouping is exactly where map-side partial
    // aggregation INFLATES instead of reduces (each of 32 map tasks sees
    // most of the 600k parts at x30, so "partial" rows ≈ 32 × |parts| ≈
    // |input|, paying a 600k-entry hash map per map task AND a wider
    // exchange of (key, sum, count) triples for nothing). With the
    // repartition, the exchange carries the raw 2-col rows once and the
    // aggregate runs post-shuffle with |parts|/32-entry maps: measured
    // 1.17 s vs 2.72 s (x30, min-of-3, same session). A single-scan
    // variant reusing that exchange for a shuffle-hash self-join measured
    // 2.94 s (the 4-col exchange outweighs the saved scan) — rejected.
    // AUDIT (r8, x1000): past [[shuffleHashBytes]] of RAW projection
    // stats the per-part aggregate outgrows what a broadcast should
    // carry (20M parts at 15 GB: the driver-side single-threaded
    // HashedRelation build was ~24 s of the 34.2 s total) and the query
    // re-plans as a shuffle-hash join on l_partkey — the probe shuffles
    // once, the build side REUSES the aggregate's own exchange
    // partitioning, and the per-task builds stay bounded: measured
    // 28.9 s vs 34.2 s (min-of-2, same session). Below the gate the
    // broadcast stays (1.17 s vs 2.94 s at x30 — it wins by 2.5x when
    // the build fits). Equivalent bit-for-bit: quantities are integral,
    // so sum/avg are exact in double regardless of accumulation order.
    "a7_below_avg_qty" -> ((s, d) => {
      val raw = Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_quantity"))
      val pa = preShuffled(raw, "l_partkey")
        .groupBy(col("l_partkey"))
        .agg(avg(col("l_quantity")).as("avg_qty"))
      val paSide =
        if (operators.AdaptiveGate.isSmall(raw, shuffleHashBytes)) broadcast(pa)
        else pa.hint("shuffle_hash")
      Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"),
          col("l_returnflag"))
        .join(paSide, Seq("l_partkey"))
        .filter(col("l_quantity") < col("avg_qty") * 0.5)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_below"),
          round(sum(col("l_extendedprice")) / 100, 0).as("price_hundreds"))
    }),

    // F12 (beyond reference): null semantics — coalesce, nullif, null-safe
    // equality over a sparse extracted value
    "f12_null_ops" -> ((s, d) => {
      val k = regexp_extract(col("props"), "\"k\": (\\d+)", 1)
      val kNum = when(k === "", lit(null)).otherwise(k).cast("long")
      Tables.events(s, d).select(
        col("event_id"),
        coalesce(kNum, lit(-1L)).as("k_or_default"),
        nullif(col("event_type"), lit("click")).as("type_not_click"),
        (kNum <=> lit(null)).as("k_is_null"))
    }),

    // text near-dup via edit distance on normalized prefixes, within
    // exact-fingerprint-adjacent buckets (first 8 normalized chars).
    // Stats-gated (r16): plain broadcast self-join below ~x10 corpus size,
    // the r15 hash-block skew decomposition above it — shapes, gate
    // rationale and the x1000 measurements in
    // [[operators.TextAnalysis.editDistancePairs]].
    // AUDIT (r10, x1000): the r9 DP guard is MEASURED — 272.6 s cold
    // (was 898.7 s before the hist_l1 reject + prefix/suffix strip);
    // DuckDB's oracle did not finish in 700 s the same day. r15/r16
    // hash-block + gate measurements: see OPTIMIZATION_r16.md.
    "text_edit_distance" -> ((s, d) =>
      TextAnalysis.editDistancePairs(Tables.documents(s, d))),

    // J5 (beyond reference): as-of point-in-time join — each event gets the
    // most recent reference snapshot at or before its timestamp
    // probes and references live in ONE stream, so the entry takes the
    // TAPE spelling, layout-aware — see j5AsofJoin
    "j5_asof_join" -> ((s, d) => j5AsofJoin(s, d)),

    // J5b (r15): the TWO-TABLE as-of API surface — same workload as j5,
    // probes and refs as separate tables through AsofJoin.leftAsof's tape
    // plan (layout-aware: ev_tape2) — see j5bAsofTwoTable
    "j5b_asof_two_table" -> ((s, d) => j5bAsofTwoTable(s, d)),

    // A5 (beyond reference): hierarchical ROLLUP with grouping level marker.
    // Two-level formulation: Spark plans rollup as Expand(levels) BEFORE the
    // partial aggregate, so the naive form pushes levels x rows through the
    // map side (3x the fact table). Pre-aggregating at the finest grain
    // (flag x status = 6 groups) first makes the Expand run over 6 rows, and
    // the fact-table pass is one narrow partial agg. Exact: l_quantity is
    // integral-valued (TPC-H 1..50), so sum-of-partial-sums is
    // order-independent, and count rolls up as sum of counts. grouping_id()
    // depends only on the outer grouping columns — bitmap unchanged.
    "a5_rollup" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("q"), count(lit(1)).as("c"))
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("q")).as("sum_qty"), sum(col("c")).as("n"),
          grouping_id().as("gid"))),

    // arbitrary GROUPING SETS (neither rollup nor cube): per-flag, per-status
    // and grand-total slices in one pass, tagged by the grouping_id bitmap.
    // Same two-level shape as a5_rollup: Expand over the 6-row (flag,
    // status) pre-aggregate, not over the fact table.
    "a12_grouping_sets" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("q"), count(lit(1)).as("c"))
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq.empty),
          col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("q")).as("sum_qty"), sum(col("c")).as("n"),
          grouping_id().as("gid"))),

    // The reference workload AT ENGINE SCALE (r12 VERDICT #8): the chess_*
    // queries read the fixed 514-game sample, so the analytics views the
    // reference exists for (win rate by month/class/color — README.md:30,
    // test.ipynb cells 14-15) were never stressed past notebook size. This
    // derives a chess_gold-SHAPED fact from `orders` (deterministic
    // column mappings, so it scales with sf and the DuckDB oracle can
    // derive the identical fact — the 15-code dim_results seed the
    // reference joins, python_scripts.py:570) and runs the monthlyTrend-
    // shaped rollup the reference's dashboards issue, now benchable at
    // any sf (x1000 board row).
    // engine and oracle both derive the result mapping from the ONE
    // shared constant (Dims.resultSeed, r13 ADVICE): the engine as a
    // sorted-code literal array, the oracle as a generated VALUES +
    // row_number — see chessScaleWinrate for the layout routing
    "chess_scale_winrate" -> ((s, d) => chessScaleWinrate(s, d)),

    // deterministic hash sample: md5-prefix filter is engine-portable
    // (unlike TABLESAMPLE/rand whose PRNG differs per engine)
    "sample_hash" -> ((s, d) =>
      Tables.orders(s, d)
        .filter(substring(md5(col("o_orderkey").cast("string")), 1, 1) === "0")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))),

    // columnar-format breadth: write customer out as ORC, read it back,
    // aggregate — the second columnar source/sink proven end-to-end under
    // the oracle (which reads the identical rows from parquet). The write
    // happens once per JVM (orcCustomerFixture) so repeated invocations —
    // bench passes, plan audits — time the ORC scan, not a rewrite
    "src_orc_roundtrip" -> ((s, d) => {
      val dir = graft.sources.Sources.orcCustomerFixture(s, d)
      graft.sources.Sources.orc(s, dir)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          (floor(sum(col("c_acctbal")) * 100 + 0.5) / 100).as("total_acctbal"))
    }),

    // text-format breadth, same roundtrip contract as src_orc_roundtrip:
    // CSV sink+source (explicit schema on the read — an inferSchema pass
    // would scan the data twice and is banned from the library's read
    // path) and JSON-lines sink+source, each proven end-to-end under an
    // oracle reading the identical rows from parquet
    "src_csv_roundtrip" -> ((s, d) => {
      val dir = graft.sources.Sources.csvNationFixture(s, d)
      graft.sources.Sources.csv(s, dir,
          Some(Tables.nation(s, d).schema))
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n"), min(col("n_name")).as("first_nation"))
    }),

    "src_json_roundtrip" -> ((s, d) => {
      val dir = graft.sources.Sources.jsonSupplierFixture(s, d)
      // multiLine = false: the fixture is JSON-LINES (writeJson's format);
      // the facade's multiLine default serves the bronze array-file shape
      graft.sources.Sources.json(s, dir, Tables.supplier(s, d).schema,
          multiLine = false)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"),
          (floor(sum(col("s_acctbal")) * 100 + 0.5) / 100).as("total_acctbal"))
    }),

    // ---- scale-path: deduplication ------------------------------------

    "dedup_exact" -> ((s, d) => Dedup.exactGroups(Tables.documents(s, d))),

    "dedup_normalized" -> ((s, d) => Dedup.normalizedGroups(Tables.documents(s, d))),

    // pairs ≥ 0.8 = a filter over the family's shared ≥ 0.5 pair table
    // (threshold only appears in jaccardPairs' final filter)
    "dedup_ngram_jaccard" -> ((s, d) =>
      sharedJaccardPairs(s, d).filter(col("jaccard") >= 0.8)),

    "dedup_minhash_lsh" -> ((s, d) =>
      Dedup.minhashLshDedupFromArr(sharedShingleArr(s, d), numPerm = 16, bands = 4,
        threshold = 0.8)),

    "dedup_simhash" -> ((s, d) => Dedup.simhashSignatures(Tables.documents(s, d))),

    // near-dup pairs -> duplicate clusters (connected components): the
    // keep-one-per-cluster endgame of corpus dedup
    "dedup_clusters" -> ((s, d) => sharedClusters(s, d)),

    // same clustering semantics via large-star/small-star (O(log n) rounds
    // on any graph shape — the adversarial-diameter alternative); shares
    // the family's pair subtree and the min-label oracle, since both
    // algorithms define component = min reachable doc_id. Same small-graph
    // gate as dedup_clusters: below [[ccDriverDocBytes]] both labelers'
    // iterative loops lose to one bounded union-find job
    "dedup_clusters_star" -> ((s, d) =>
      ccLabels(s, d, p => Dedup.duplicateClustersStar(p))),

    // the dedup endgame: pairs -> clusters -> one survivor per cluster
    // (longest text, ties to min doc_id), singletons pass through
    "dedup_keep" -> ((s, d) =>
      Dedup.keepBestPerCluster(Tables.documents(s, d), sharedClusters(s, d))
        .select(col("doc_id"), col("component"), col("n_in_cluster"))),

    // cross-document duplicated-ngram statistics (the Lee et al. 2022
    // detection pass), riding the dedup family's persisted hash-array hub —
    // zero extra corpus hashing when the family already ran
    "dedup_dupngram" -> ((s, d) =>
      Dedup.dupNgramStats(sharedShingleArr(s, d))),

    // the matching REMOVAL pass: duplicated 5-word spans cut everywhere
    // except their earliest corpus occurrence, texts rebuilt (positional
    // shingles, so it hashes fresh rather than riding the distinct-set
    // hub). fannedDocs: the md5-per-occurrence pass otherwise runs inside
    // the 1-file scan stage at bench sf (r12b SpanLab, both orders:
    // 1.11/1.41 s fanned vs 1.44/1.53 s raw); past fanDocsBytes the scan
    // is already multi-split and no repartition is added.
    "dedup_span_cut" -> ((s, d) =>
      Dedup.spanCut(fannedDocs(s, d), l = 5)),

    // SemDeDup (Abbas et al. 2023): same deterministic first-nlist-centroid
    // / argmax-cell convention as ann_ivf, near-identical vectors pruned
    // within cells only — nlist bounded self-joins, no all-pairs. nlist
    // follows the corpus (suggestNlist, mirrored by the oracle's LIMIT
    // subquery) so the quadratic-cell guard never trips on grown data:
    // at x100 a pinned 32 would put 6k+ vectors per cell and fail fast.
    "dedup_semantic" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Dedup.semanticDedup(emb, threshold = 0.4,
        nlist = operators.Similarity.suggestNlist(Tables.rowCount(s, d, "embeddings")))
    }),

    // fuzzy decontamination: Jaccard near-dups BETWEEN the corpus and a
    // held-out eval slice. The eval set is a slice of the corpus, so the
    // scorer is a symmetrized filter over the family's persisted
    // pair-stats hub — zero posting passes beyond the one the family
    // already paid (the general two-corpus operator,
    // Dedup.crossCorpusPairsFromArr, is equivalence-spec'd against this)
    "dedup_cross_corpus" -> ((s, d) =>
      Dedup.crossCorpusFromStats(sharedPairStats(s, d),
        _ % 7 === 0, threshold = 0.5)),

    // deterministic stratified sample: fixed per-stratum quota by md5 rank —
    // the balance-the-domains curation op (vs sample_hash's fixed fraction).
    // Pre-projected to the two columns the result carries, so every scan in
    // the plan (counts, cut, guard rerun) reads 2 of orders' 9 columns.
    "sample_stratified" -> ((s, d) =>
      operators.Sampling.stratified(
          Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus")),
          "o_orderstatus", "o_orderkey", 100)),

    // threshold 0.4 sits just under the corpus's max same-bucket cosine so
    // the oracle comparison is non-vacuous (0.95 matches zero rows on the
    // synthetic quasi-random embeddings at every sf)
    "dedup_embedding" -> ((s, d) =>
      Dedup.embeddingNearDups(Tables.embeddings(s, d), threshold = 0.4, signBits = 8)
        .select(col("vec_a"), col("vec_b"))),

    // overlap-coefficient (containment) near-dups: inter / min(|A|,|B|) —
    // catches a small doc substantially contained in a large one (quote
    // inclusion), which jaccard structurally caps at size-ratio. Rides the
    // family's persisted hash-array hub
    "dedup_containment" -> ((s, d) =>
      Dedup.containmentFromStats(sharedPairStats(s, d), threshold = 0.9)),

    // threshold calibration curve: pairs flagged per candidate jaccard
    // cutoff, zero-retention thresholds included. Rides the family's
    // persisted pair-stats hub — no posting self-join re-run
    "dedup_threshold_sweep" -> ((s, d) =>
      Dedup.thresholdSweep(sharedPairStats(s, d),
        thresholds = (1 to 9).map(_ / 10.0))),

    // near-dup provenance matrix: pair counts by (unordered) source pair —
    // the read-out that tells a curation pipeline WHICH crawls/snapshots
    // duplicate each other (within-source boilerplate vs cross-source
    // mirroring). Rides the family's persisted pair subtree; the only new
    // work is joining the (tiny) pair set to the doc→source projection.
    "dedup_source_matrix" -> ((s, d) => {
      val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
      sharedJaccardPairs(s, d)
        .join(src.select(col("doc_id").as("doc_a"), col("source").as("__sa")), "doc_a")
        .join(src.select(col("doc_id").as("doc_b"), col("source").as("__sb")), "doc_b")
        .select(least(col("__sa"), col("__sb")).as("source_a"),
          greatest(col("__sa"), col("__sb")).as("source_b"), col("jaccard"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("jaccard") >= 0.8, 1L).otherwise(0L)).as("n_strong"))
    }),

    // ---- scale-path: similarity search ---------------------------------

    "ann_bruteforce" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") % 100 === 0), k = 10)
    }),

    "ann_lsh" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.lshTopK(emb, emb.filter(col("vec_id") % 100 === 0), k = 10)
    }),

    // refineSteps = 0: the seed-centroid IVF — every stage (assignment
    // argmax, probe ranking, re-rank) is rounded and tie-broken, making
    // the full neighbor list hash-comparable. The index SIZE follows the
    // corpus ([[Similarity.suggestNlist]]: max(32, N/1024) cells), with
    // the DuckDB oracle computing the identical formula in its LIMIT
    // subquery — at the gate scales (500/2k vectors) the floor keeps
    // nlist=32 so results are unchanged, while at x100 (200k vectors) a
    // pinned 32 would put 6k+ members in every probed cell and the
    // re-rank join dominated the whole bench (17.6 s steady, measured).
    "ann_ivf" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") % 100 === 0), k = 10,
        nlist = Similarity.suggestNlist(Tables.rowCount(s, d, "embeddings")), refineSteps = 0)
    }),

    // one k-means refinement step: assignment through the same rounded
    // argmax kernel, centroid means in fixed-point integer arithmetic
    // (VectorAggregators.vecMeanFixed) — order-independent, so the
    // REFINED index is cross-engine deterministic too and carries a full
    // row-level oracle (recall properties stay spec'd in SimilaritySpec)
    "ann_ivf_refined" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") % 100 === 0), k = 10,
        nlist = Similarity.suggestNlist(Tables.rowCount(s, d, "embeddings")), refineSteps = 1)
    }),

    // IVF cell assignment with unrefined (deterministic hash-sampled)
    // centroids: the exact-arithmetic kernel inside ann_ivf, isolated so it
    // is oracle-checkable (the k-means refine is float-sum-order dependent
    // and so only recall-tested). Rounded cosine + cid tie-break make the
    // argmax cross-engine deterministic; the md5 seed ordering (r15) is
    // the same uniform sample ivfTopK/semanticDedup use.
    "ann_ivf_assign" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val centroids = emb
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(32)
        .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      emb.crossJoin(broadcast(centroids))
        .select(col("vec_id"), col("cid"),
          round(Similarity.cosine(col("embedding"), col("ce")), 6).as("ccos"))
        .groupBy("vec_id")
        .agg(max_by(col("cid"), struct(col("ccos"), -col("cid"))).as("cell"))
    }),

    // ---- scale-path: text analysis --------------------------------------

    "text_profile" -> ((s, d) => TextAnalysis.profile(fannedDocs(s, d))),

    // training-sample construction: 32-word chunks, 8-word overlap (stride
    // 24) — documents become model-sized pieces in one shuffle-free
    // generate inside the scan stage
    "text_chunk" -> ((s, d) =>
      TextAnalysis.chunkWords(fannedDocs(s, d), chunkSize = 32, overlap = 8)),

    // quality-threshold calibration: docs/tokens retained at each candidate
    // cut-off; the corpus collapses to its ≤8 distinct score values before
    // the grid expansion touches anything
    "text_quality_sweep" -> ((s, d) =>
      TextAnalysis.qualityThresholdSweep(fannedDocs(s, d), gridSteps = 10)),

    // top-3 salient terms per doc by the exact-rational tf-idf variant
    // (keyword extraction; ln would diverge in the last ulp across engines)
    "text_keywords" -> ((s, d) =>
      TextAnalysis.keywordSalience(Tables.documents(s, d), topK = 3)),

    // tokenize-to-ids against the corpus' own top-24 frequency vocab
    // (24 < the corpus' 31 distinct tokens, so the OOV path is exercised).
    // ids is emitted space-joined: the driver's canonicalizer sorts rows
    // with pandas, which cannot hash array cells, so the oracled projection
    // must be scalar on both sides (DuckDB mirrors with array_to_string)
    "text_token_ids" -> ((s, d) =>
      sharedEncoded(s, d).select(col("doc_id"),
        array_join(col("ids").cast("array<string>"), " ").as("ids"))),

    // train/eval n-gram contamination: every-50th doc stands in for the
    // eval set; per train doc, distinct 5-gram overlap count and share
    "text_contamination" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.contamination(docs, docs.filter(col("doc_id") % 50 === 0), k = 5)
    }),

    // the same check through the bloom pre-pass (eval side collapsed to a
    // ~10-bits-per-shingle filter probed inside the scan stage; exact join
    // only over survivors) — byte-identical output, so it shares the
    // text_contamination oracle verbatim. The operator is size-adaptive:
    // at bench sf the eval slice is broadcast-small, so this resolves to
    // the exact path (the bloom machinery is pinned byte-identical by
    // TextAnalysisSpec with smallBytes = 0 and by the streaming guard)
    "text_contamination_bloom" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.contaminationBloom(docs, docs.filter(col("doc_id") % 50 === 0), k = 5)
    }),

    // CCNet-style LM quality signal: cross-entropy of every document under
    // a bigram LM trained on the corpus' English slice (the "reference
    // corpus" role wikipedia plays in CCNet)
    "lm_cross_entropy" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.operators.LanguageModel.crossEntropy(docs.filter(col("lang") === "en"), docs)
    }),

    "text_fingerprint" -> ((s, d) =>
      fannedDocs(s, d).select(
        col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fingerprint"),
        TextAnalysis.minShingleFingerprint(col("text"), 5).as("min_shingle_fp"))),

    // char-n-gram language ID + Gopher-style quality rule flags
    // AUDIT (r8, x100 A/B): a profile-style fused spelling (one tokenize,
    // one struct-fold for chars+alpha, shared lower(text)) measured
    // 25.2 s vs 25.8 s composed at x100 steady and 292 s vs 274 s cold at
    // x1000 — neutral-to-worse, REJECTED. Unlike text_profile (9 splits /
    // 7 HOF walks collapsed to 1+1, 1.66x), this query's cost is the five
    // regexp_extract_all corpus scans and the per-token rlike, which no
    // fusion removes; the composed kernels stay for their reuse value.
    "text_quality_flags" -> ((s, d) =>
      fannedDocs(s, d)
        .select(col("doc_id"),
          TextAnalysis.langIdCharNgram(col("text")).as("lang_ngram"),
          TextAnalysis.gopherFlags(col("text")).as("g"))
        .select(col("doc_id"), col("lang_ngram"),
          col("g.ok_word_count"), col("g.ok_mean_word_len"),
          col("g.ok_symbol_ratio"), col("g.ok_alpha_fraction"), col("g.keep"))),

    // repetition detection: top 2-gram share per document (Gopher-style
    // duplicate-n-gram fraction). The question never crosses documents,
    // so it is ONE per-row kernel (sorted gram array, longest equal run
    // — TextAnalysis.repetitionStats), not the r11 corpus-wide
    // (doc_id, gram) groupBy that shuffled every 2-gram string twice.
    // Zero exchanges at ANY scale; r12 sf0.1: 0.82 s paired -> see
    // BENCH_ORACLE. Docs with <2 words drop on n_grams >= 1, exactly as
    // the old explode() dropped their empty arrays (oracle: len(w)>=2).
    "text_repetition" -> ((s, d) =>
      fannedDocs(s, d)
        .select(col("doc_id"),
          TextAnalysis.repetitionStats(col("text"), 2).as("r"))
        .filter(col("r.n_grams") >= 1)
        .select(col("doc_id"),
          col("r.n_grams").as("n_2grams"),
          col("r.top_count").as("top_2gram_count"),
          (col("r.top_count").cast("double") /
            col("r.n_grams").cast("double")).as("rep_ratio"))),

    // PII-ish pattern counts (emails / urls / long digit runs)
    "text_pii_flags" -> ((s, d) =>
      fannedDocs(s, d).select(
        col("doc_id"),
        size(regexp_extract_all(col("text"),
          lit("[a-zA-Z0-9._]+@[a-zA-Z0-9.-]+"), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(col("text"),
          lit("https?://[^ ]+"), lit(0))).cast("long").as("n_urls"),
        size(regexp_extract_all(col("text"),
          lit("[0-9]{6,}"), lit(0))).cast("long").as("n_long_digit_runs"))),

    // PII REDACTION (the counterpart of text_pii_flags' detection): the
    // curation step that actually rewrites the corpus — emails, urls and
    // long digit runs replaced by typed placeholder tokens, as one narrow
    // codegen'd projection (nested regexp_replace; url first so an email
    // inside a url query-string cannot leave a half-redacted hybrid)
    "text_pii_redact" -> ((s, d) =>
      fannedDocs(s, d).select(
        col("doc_id"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("text"), "https?://[^ ]+", "<URL>"),
            "[a-zA-Z0-9._]+@[a-zA-Z0-9.-]+", "<EMAIL>"),
          "[0-9]{6,}", "<NUM>").as("redacted"))),

    // cluster-aware train/val split: near-dup CLUSTERS (not documents) are
    // the split unit, so no near-duplicate pair can straddle the boundary
    // and leak eval into train. Deterministic: split decided by the md5 of
    // the cluster representative id; singleton docs are their own cluster.
    "dedup_split_by_cluster" -> ((s, d) => {
      val labels = sharedClusters(s, d)
      Tables.documents(s, d)
        .join(labels, Seq("doc_id"), "left")
        .withColumn("component", coalesce(col("component"), col("doc_id")))
        .select(col("doc_id"), col("component"),
          when(conv(substring(md5(col("component").cast("string")), 1, 8), 16, 10)
              .cast("long") < lit((0.9 * 4294967296.0).toLong), "train")
            .otherwise("val").as("split"))
    }),

    "text_rolling_hash" -> ((s, d) =>
      fannedDocs(s, d).select(
        col("doc_id"),
        graft.functions.TextFunctions.rolling_hash(col("text")).as("rhash"),
        graft.functions.TextFunctions.rolling_hash(
          TextAnalysis.normalizedText(col("text"))).as("rhash_norm"))),

    // W2: analytic window functions (lag + running sum): gap-based session
    // assignment over the event stream — sessions break after >30 min idle
    "w2_lag_sessions" -> ((s, d) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            col("ts").cast("long") - col("prev_ts").cast("long") > 1800, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
          count(lit(1)).as("n_events"))
    }),

    // S5: registered-view + spark.sql entry point (the reference's
    // `con.from_df` / `FROM fct` named-relation reuse)
    "s5_sql_view" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_v")
      s.sql("""SELECT o_orderpriority, count(*) AS n
              |FROM orders_v WHERE o_totalprice > 100000
              |GROUP BY o_orderpriority""".stripMargin)
    }),

    // P3: LIMIT preview (deterministically ordered)
    "p3_limit_preview" -> ((s, d) =>
      Tables.region(s, d).orderBy(col("r_regionkey")).limit(3)),

    // ---- scale-path: multimodal (binary column plumbing) ----------------

    "mm_binary_meta" -> ((s, d) => {
      val bin = encode(col("text"), "UTF-8")
      Tables.documents(s, d).select(
        col("doc_id"),
        octet_length(bin).cast("long").as("n_bytes"),
        md5(col("text")).as("content_hash"),
        (octet_length(bin) % 256).cast("long").as("fake_width"),
        floor(octet_length(bin) / lit(256)).cast("long").as("fake_height"))
    }),

    // metadata decode profile — the COLUMNAR spelling (r14): builtins +
    // one codegen'd header-meta call in a single WholeStageCodegen span,
    // one md5 per payload. The r13 typed path (Multimodal.profile via
    // mapPartitions) paid per-row encoder ser/de and hashed each payload
    // twice — 4.21x DuckDB at x1000 under a falsified
    // "parquet-dictionary" annotation (the x1000 text carrier is 99.8%
    // distinct, so duck amortized nothing; the gap was pure engine tax).
    // MultimodalSpec pins decodeMetaColumns == decodeMeta on real
    // PNG/JPEG/WAV/MP4 fixtures and undecodable carriers.
    "mm_decode_profile" -> ((s, d) =>
      operators.Multimodal.decodeMetaColumns(
          Tables.documents(s, d), "doc_id", "text", "image")
        .select(col("asset_id"), col("n_bytes"), col("content_hash"),
          col("width"), col("height"), col("channels"))),

    // perceptual-hash kernel over the (undecodable-text) asset carrier:
    // the md5-derived stand-in dhash, signed-64-bit parity with DuckDB's
    // HUGEINT nibble fold — the real-image path is spec-covered
    // (MultimodalSpec's dHash/near-dup golden tests)
    "mm_perceptual_hash" -> ((s, d) =>
      operators.Multimodal.perceptualHashes(operators.Multimodal.asAssets(
          Tables.documents(s, d), "doc_id", "text", "image"))
        .toDF()),

    // feature-extraction kernel over the text-carrier assets: the carrier
    // has no image magic, so every payload takes the deterministic
    // md5-chain stand-in, whose dim=16 embedding is exactly the 16 md5
    // bytes mapped to (b-128)/128 — exact in binary floating point, so
    // the byte numerators recover losslessly and oracle as integers
    // (the real luma-grid/RMS paths are MultimodalSpec golden tests)
    "mm_features" -> ((s, d) =>
      operators.Multimodal.extractFeatures(operators.Multimodal.asAssets(
          Tables.documents(s, d), "doc_id", "text", "image"), dim = 16)
        .toDF()
        .select(col("asset_id"),
          array_join(transform(col("embedding"),
            f => ((f * 128).cast("int") + 128).cast("string")), " ").as("emb_bytes"))),

    // resize kernel on the undecodable carrier = the documented maxBytes
    // truncation fallback; oracled via payload hash + length (documents
    // are pure ASCII at every sf, so DuckDB's char substr is a byte slice)
    "mm_resize" -> ((s, d) =>
      operators.Multimodal.resize(operators.Multimodal.asAssets(
          Tables.documents(s, d), "doc_id", "text", "image"),
          maxBytes = 64, maxDim = 32)
        .toDF()
        .select(col("asset_id"),
          octet_length(col("payload")).cast("long").as("n_bytes"),
          md5(col("payload")).as("payload_hash"))),

    // frame sampling: video carrier yields 4 evenly-spaced byte slices,
    // hashed — the caption/OCR input shape; slice arithmetic mirrored in
    // the oracle with integer division
    "mm_frames" -> ((s, d) =>
      operators.Multimodal.sampleFrames(operators.Multimodal.asAssets(
          Tables.documents(s, d), "doc_id", "text", "video"), n = 4)
        .toDF()
        .select(col("asset_id"),
          col("frame_index").cast("long").as("frame_index"),
          col("frame_hash"))),

    // ---- chess pipeline end-to-end (rows-only check: not SQL-expressible;
    // runs the real 514-game sample through bronze→silver→gold→analytics
    // when the reference checkout is present, else an empty result) -------

    "chess_e2e" -> ((s, _) => {
      val sample = "/root/reference/dev_files/Data/2024-01/games.json"
      if (!new java.io.File(sample).exists()) {
        s.emptyDataFrame
      } else {
        val root = java.nio.file.Files.createTempDirectory("chess-e2e").toString
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/bronze"))
        java.nio.file.Files.copy(java.nio.file.Paths.get(sample),
          java.nio.file.Paths.get(s"$root/bronze/2024-01-games.json"))
        val pipe = new graft.chess.ChessPipeline(s, root, "Rhythmbear1")
        pipe.runMonth(2024, 1, java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
        graft.chess.ChessAnalytics.winRateByOpeningFamily(
          pipe.fact, pipe.dimOpenings, pipe.dimResults)
      }
    }),

    // ---- chess silver/gold full-table oracles: the engine's bronze→silver
    // and silver→gold semantics hash-compared column-for-column against a
    // DuckDB re-derivation from the raw 514-game JSON (the reference
    // transform IS DuckDB SQL — python_scripts.py:169-205, 533-598) --------

    // UD2 enrichment path: dim_openings with csv-book colon-form names
    // (longest-prefix match into openings.csv; slug fallback for URLs the
    // book misses) — the piece of the dim the slug-only chess_gold oracle
    // could not check
    "chess_dim_openings" -> ((s, _) => {
      val sample = "/root/reference/dev_files/Data/2024-01/games.json"
      val csv = "/root/reference/dev_files/Data/openings.csv"
      if (!new java.io.File(sample).exists() || !new java.io.File(csv).exists())
        s.emptyDataFrame
      else {
        val silver = graft.chess.SilverFact.transform(
          s.read.schema(graft.chess.Schemas.bronze).option("multiLine", true).json(sample))
        graft.chess.Dims.openingsFromSilverEnriched(silver,
          graft.chess.OpeningMatcher.readBook(s, csv))
      }
    }),

    "chess_silver" -> ((s, _) => {
      val sample = "/root/reference/dev_files/Data/2024-01/games.json"
      if (!new java.io.File(sample).exists()) s.emptyDataFrame
      else graft.chess.SilverFact.transform(
        s.read.schema(graft.chess.Schemas.bronze).option("multiLine", true).json(sample))
    }),

    "chess_gold" -> ((s, _) => {
      val sample = "/root/reference/dev_files/Data/2024-01/games.json"
      if (!new java.io.File(sample).exists()) s.emptyDataFrame
      else {
        val silver = graft.chess.SilverFact.transform(
          s.read.schema(graft.chess.Schemas.bronze).option("multiLine", true).json(sample))
        // explicit UTC instant: the session timezone is UTC in Verify, and a
        // Timestamp.valueOf would shift with the JVM default zone
        val batchTs = java.sql.Timestamp.from(
          java.time.LocalDateTime.parse("2024-02-01T00:00:00")
            .toInstant(java.time.ZoneOffset.UTC))
        graft.chess.GoldFact.starJoin(
          graft.chess.GoldFact.project(silver, "Rhythmbear1", batchTs),
          graft.chess.Dims.dateFromSilver(silver),
          graft.chess.Dims.openingsFromSilver(silver),
          graft.chess.Dims.results(s),
          graft.chess.Dims.timeControlFromSilver(silver))
      }
    }),

    // W4: Spark's native session_window (batch mode) — gap-merged sessions;
    // distinct from w2's composed lag/cumsum formulation: this exercises the
    // built-in operator (also usable under watermarks in streaming), oracled
    // against an explicit lag-derivation with identical gap semantics
    // (new session when the gap is >= 30 min; end = last event + gap)
    "w4_session_window" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("total_value"))
        .select(col("user_id"), col("sw.start").as("session_start"),
          col("sw.end").as("session_end"), col("n_events"), col("total_value"))),

    // SCD Type-2 dimension history: per-user event_type version intervals
    // (one key exchange; change-flag window, filter, and valid_to window
    // all share it)
    "w5_scd2" -> ((s, d) =>
      operators.History.scd2(Tables.events(s, d),
        "user_id", "event_type", "ts", "event_id")),

    // corpus snapshot diff (the incremental-pipeline delta): old = docs
    // minus the % 11 slice, new = docs minus the % 13 slice with the % 17
    // slice rewritten — exercises all four statuses. Both snapshots
    // derive from ONE base table, so the engine takes the same-base
    // spelling: one scan, ~one md5 per row (the %17 rewrite is the only
    // second hash), zero exchanges — where the generic full-outer join
    // (the oracle's spelling, and HistorySpec's parity twin) scans and
    // hashes the corpus twice and shuffles both fingerprint sides.
    "snapshot_diff" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val id = col("doc_id")
      val h = operators.History.fingerprint(Seq(col("text")))
      operators.History.snapshotDiffSameBase(docs, "doc_id",
        oldKeep = id % 11 =!= 0, oldHash = h,
        newKeep = id % 13 =!= 0,
        newHash = when(id % 17 === 0,
          operators.History.fingerprint(Seq(upper(col("text"))))).otherwise(h))
    }),

    // per-source/lang corpus rollup: the curation dashboard every
    // training-data pipeline keeps (doc counts, token mass, size profile)
    "text_source_stats" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text"))).as("total_tokens"),
          (floor(avg(col("n_chars")) * 100 + 0.5) / 100).as("avg_chars"))),

    // hashed linear classifier inference (fastText-style quality filter):
    // one narrow codegen'd pass — no explode, join, or shuffle
    "text_quality_model" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.qualityModelScore(col("text")).as("lm_quality_score"))),

    // tokenizer-induction telemetry: top-100 token coverage curve
    "vocab_coverage" -> ((s, d) =>
      TextAnalysis.vocabCoverage(Tables.documents(s, d), topK = 100)),

    // Z-ORDER layout clustering: interleaved (user, hour) key, bucketed —
    // the per-bucket min/max envelopes the layout exists to tighten
    "layout_zorder" -> ((s, d) => {
      val x = pmod(col("user_id"), lit(65536L))
      val hr = expr("CAST(ts AS LONG) DIV 3600") // proven epoch idiom (stream_tumbling_agg)
      val y = pmod(hr, lit(65536L))
      Tables.events(s, d)
        .select(col("user_id"), hr.as("hr"),
          operators.Layout.zorderKey2(x, y, bits = 16).as("z"))
        .groupBy(shiftright(col("z"), 22).as("zbucket"))
        .agg(count(lit(1)).as("n"),
          min(col("user_id")).as("u_min"), max(col("user_id")).as("u_max"),
          min(col("hr")).as("h_min"), max(col("hr")).as("h_max"))
    }),

    // write-once bucketed layout as a product operator: the j4 fact
    // projections persisted bucketed by orderkey (write-if-absent,
    // fail-fast re-register from disk otherwise), join planned with zero
    // exchanges; same result as j4_roleplay_join by construction
    "layout_bucketed_join" -> ((s, d) => layoutBucketedJoin(s, d)),

    // ---- streaming semantics (batch-equivalent tumbling window) ---------

    "stream_tumbling_agg" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy((floor(col("ts").cast("long") / 3600) * 3600).cast("long").as("window_epoch"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))),

    // salted two-phase aggregation of a hot grouping key (events has ~5
    // event_type values over the whole table — exactly the shape where one
    // reduce task would own a fifth of the corpus without salting): partial
    // agg on (key, salt-of-event_id), final combine on key. Oracled against
    // the plain one-phase GROUP BY, proving the salt is semantically
    // invisible; floor(x*100+0.5)/100 absorbs the reassociated double sum
    "skew_salted_agg" -> ((s, d) =>
      operators.SkewTools.saltedSumCount(
          Tables.events(s, d).select(col("event_type"), col("value"), col("event_id")),
          "event_type", "value", salt = 8, saltCols = Seq("event_id"))
        .select(col("event_type"),
          (floor(col("sum_value") * 100 + lit(0.5)) / 100).as("sum_value"),
          col("n"))),

    // ---- scale-path: retrieval scoring + sequence packing ---------------

    // BM25 against a fixed probe query: one 1-row corpus-stats aggregate
    // broadcast into a narrow scoring projection — no per-term shuffle
    "text_bm25" -> ((s, d) =>
      operators.Retrieval.bm25(Tables.documents(s, d),
        Seq("vector", "stream", "join"))),

    // GPT-style sequence packing: exact global token prefix-sum in doc_id
    // order via the two-phase scan (range buckets + driver offsets), cut
    // every 512 tokens
    "pack_sequences" -> ((s, d) =>
      operators.Packing.packSequences(
        Tables.documents(s, d)
          .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens")),
        "doc_id", "n_tokens", capacity = 512L)),

    // the materialized form: encode to ids (top-24 vocab, as
    // text_token_ids), pack at 512, emit the actual training sequences —
    // every row exactly 512 ids except the tail, straddling docs split
    // the packed sequences' ids are likewise space-joined for the driver's
    // scalar-only canonicalizer (array semantics stay covered by PackingSpec)
    "pack_materialize" -> ((s, d) =>
      operators.Packing.packMaterialize(
        sharedEncoded(s, d),
        "doc_id", "ids", capacity = 512L,
        // r15: the hub caches ids MATERIALIZED, so size(ids) (the
        // tokenCol=None default) is a columnar array-length read — the
        // previous tokenCount(text) re-tokenized the corpus text to derive
        // the same number (equal by construction: one id per whitespace
        // token), and forced the hub to cache the text column at all
        tokenCol = None)
        .withColumn("ids", array_join(col("ids").cast("array<string>"), " "))),

    // reproducible epoch shuffle: contiguous 0-based training order from a
    // seed-keyed content hash. Size-adaptive: at bench sf the operator
    // emits the single-window definition plan (audited in PlanAuditSpec);
    // past smallBytes it switches to the two-phase prefix scan, whose
    // shape the smallBytes=0-pinned audits cover
    "order_epoch_shuffle" -> ((s, d) =>
      operators.TrainOrder.epochShuffle(
        Tables.documents(s, d).select(col("doc_id"), col("source")),
        "doc_id", seed = 7L)),

    // length-staged curriculum: 16-word bins ascending (short docs first),
    // seeded shuffle within each stage; exact stage boundaries (size-
    // adaptive like order_epoch_shuffle: definition window at bench sf,
    // two-phase rank past smallBytes)
    "order_curriculum" -> ((s, d) =>
      operators.TrainOrder.curriculumOrder(
        Tables.documents(s, d).select(col("doc_id"),
          // integer DIV (matching the oracle's //): a double divide + cast
          // would round-vs-truncate-diverge between the engines
          expr("CAST(size(split(text, ' ', -1)) DIV 16 AS BIGINT)").as("bin")),
        "doc_id", "bin", seed = 7L)),

    // domain-diversity ordering: reading by interleave_pos cycles sources
    // round-robin, so no training batch is a single-domain run
    "order_interleave" -> ((s, d) =>
      operators.TrainOrder.sourceInterleave(
        Tables.documents(s, d).select(col("doc_id"), col("source")),
        "doc_id", "source", seed = 13L)),

    // deterministic 8-way shard materialization: round-robin along the
    // seeded order → exactly-equal shard sizes, each an unbiased slice
    "order_shards" -> ((s, d) =>
      operators.TrainOrder.shardAssignments(
          Tables.documents(s, d).select(col("doc_id")),
          "doc_id", seed = 11L, numShards = 8)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n"),
          min(col("shuffle_pos")).as("pos_min"),
          max(col("shuffle_pos")).as("pos_max"))),

    // token-budget head of the seeded shuffle: what a fixed-budget training
    // run actually consumes — at bench sf the budget cuts ~95% of the
    // corpus, so the bucket prune drops it in the scan stage. The token
    // kernel goes in as an EXPRESSION (r14): the budget pass tokenizes
    // only live-bucket survivors, so the corpus pays ONE tokenizer scan
    // (the stats pass), not two — the second full-corpus tokenCount was
    // the real cost behind the falsified "parquet-dictionary" x1000
    // annotation (the scaled text is 99.8% distinct).
    "order_token_budget" -> ((s, d) =>
      operators.TrainOrder.tokenBudgetHeadExpr(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        "doc_id", "n_tokens",
        TextAnalysis.tokenCount(col("text")).cast("long"),
        seed = 3L, budget = 15000L)
        .select(col("doc_id"), col("n_tokens"), col("cum_tokens"))),

    // per-source (domain-cap) token budget: within every source keep the
    // seeded-hash-order head whose running total stays <= 800 tokens
    "order_budget_per_source" -> ((s, d) =>
      operators.TrainOrder.tokenBudgetPerSource(
        Tables.documents(s, d).select(col("doc_id"), col("source"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens")),
        "doc_id", "n_tokens", "source", seed = 5L, budget = 800L)),

    // quality-weighted deterministic resample: keep probability scales with
    // doc length (a stand-in quality weight), decided by content hash —
    // a pure narrow filter, stable under retry/partitioning
    "sample_weighted" -> ((s, d) =>
      operators.Sampling.weightedBernoulli(Tables.documents(s, d), "doc_id",
          TextAnalysis.tokenCount(col("text")).cast("double") / lit(60.0))
        .select(col("doc_id"))),

    // J8 (beyond reference): interval-overlap join via the same bin
    // bucketing as J7 — kept exactly-once by the first-shared-bucket rule,
    // no dedup shuffle. 90-min hour-grid windows × 3-hour user spans.
    "j8_interval_overlap" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val wins = ev
        .select((floor(col("ts").cast("long") / 3600) * 3600).cast("long").as("hr"))
        .distinct()
        .select((col("hr") - 900).as("w_start"), (col("hr") + 4500).as("w_end"))
      val spans = ev.groupBy(col("user_id"))
        .agg(min(col("ts").cast("long")).as("u_start"))
        .select(col("user_id"), col("u_start"), (col("u_start") + 10800).as("u_end"))
      operators.IntervalJoin.intervalOverlap(wins, "w_start", "w_end",
          spans, "u_start", "u_end", bucketWidth = 3600L)
        .select(col("w_start"), col("user_id"))
    }),

    // domain mixing: rebalance the corpus to target language proportions
    // (en-heavy) — bounded per-group aggregate + content-hash thinning
    "sample_mix" -> ((s, d) =>
      operators.Sampling.mixToWeights(Tables.documents(s, d), "lang", "doc_id",
          Map("en" -> 0.4, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "zh" -> 0.15))
        .select(col("doc_id"), col("lang"))),

    // F17 (beyond reference): time-series gap-fill — densify each user's
    // hourly grid between their first and last event and zero-fill missing
    // hours. The grid generates per key (explode of a bounded sequence),
    // so no global calendar table and no cross join; both joins are keyed.
    "f17_hour_gapfill" -> ((s, d) => f17GapFill(Tables.events(s, d))),

    // incremental LSH dedup: corpus (doc_id % 10 != 0) is indexed once;
    // the new batch (doc_id % 10 == 0) probes the index — per-batch cost
    // O(|batch| + collisions), never a corpus re-hash. Result persisted
    // eagerly so the index can be released before returning.
    "dedup_incremental" -> ((s, d) => {
      // corpus and batch sides are narrow filters over the family's ONE
      // shared hash-array table (docShingleHashes is per-row, so
      // filter-then-hash ≡ hash-then-filter) — neither side re-hashes
      val arr = sharedShingleArr(s, d)
      val arrIdx = arr.filter(col("doc_id") % 10 =!= 0)
      val bandIdx = Dedup.bandIndexFromArr(arrIdx, numPerm = 16, bands = 4)
      val out = Dedup.nearDupsAgainstIndexArr(
          arr.filter(col("doc_id") % 10 === 0), arrIdx, bandIdx,
          numPerm = 16, bands = 4, threshold = 0.5)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      out.count()
      out
    }),

    // the streaming near-dup quarantine's per-batch ROUTING decision as a
    // batch-equivalent (same relationship as stream_tumbling_agg to
    // tumblingAgg): batch docs (doc_id % 10 == 0) probe the corpus LSH
    // index and split accepted/quarantined — exactly the foreachBatch body
    // of EventStreams.nearDupQuarantine, whose micro-batch mechanics are
    // EventStreamsSpec's routing test. Shares the family's one persisted
    // hash-array table; index cost is the batch probe, never a corpus
    // re-hash.
    "stream_quarantine" -> ((s, d) => {
      val arr = sharedShingleArr(s, d)
      val arrIdx = arr.filter(col("doc_id") % 10 =!= 0)
      val bandIdx = Dedup.bandIndexFromArr(arrIdx, numPerm = 16, bands = 4)
      val dups = Dedup.nearDupsAgainstIndexArr(
          arr.filter(col("doc_id") % 10 === 0), arrIdx, bandIdx,
          numPerm = 16, bands = 4, threshold = 0.5)
        .select(col("doc_b").as("doc_id")).distinct()
      Tables.documents(s, d).filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"))
        // dups ⊆ the micro-batch, which is bounded by the streaming
        // contract — broadcast the routing set so the batch never
        // exchanges for the split (the static plan would otherwise SMJ)
        .join(broadcast(dups.withColumn("__q", lit(true))), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("__q"), lit(false)).as("quarantined"))
    }),

    // J7 (beyond reference): point-in-interval range join via bin
    // bucketing — an equi-join on bucket ids instead of the
    // BroadcastNestedLoopJoin the planner would pick for the raw range
    // predicate. Intervals: overlapping 90-min windows on the hour grid.
    "j7_interval_join" -> ((s, d) => {
      val pts = Tables.events(s, d)
        .select(col("event_id"), col("ts").cast("long").as("pe"))
      val iv = Tables.events(s, d)
        .select((floor(col("ts").cast("long") / 3600) * 3600).cast("long").as("hr"))
        .distinct()
        .select((col("hr") - 900).as("start_epoch"), (col("hr") + 4500).as("end_epoch"))
      operators.IntervalJoin.pointInInterval(pts, "pe", iv,
          "start_epoch", "end_epoch", bucketWidth = 3600L)
        .select(col("event_id"), col("start_epoch"))
    })
  )

  // ---- oracles ----------------------------------------------------------

  def oracleSql: Map[String, String] = Map(
    "a1_groupby_agg" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        | count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "p2_distinct" ->
      "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",

    "j2_anti_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)""".stripMargin,

    "j1_star_join" ->
      """SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_suppkey,
        | l.l_quantity, l.l_extendedprice, l.l_returnflag, l.l_shipdate
        |FROM lineitem l
        |LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |LEFT JOIN part p ON l.l_partkey = p.p_partkey
        |LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey""".stripMargin,

    "j1_a1_star_rollup" ->
      """SELECT r_name, n_name,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        | count(*) AS n_items
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,

    "j4_roleplay_join" ->
      """SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation, count(*) AS n
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        |GROUP BY cn.n_name, sn.n_name""".stripMargin,

    // layout-independent semantics: the bucketed layout changes the
    // physical plan (zero exchanges), never the answer
    "layout_bucketed_join" ->
      """SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation, count(*) AS n
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        |GROUP BY cn.n_name, sn.n_name""".stripMargin,

    "w1_window_dedup" ->
      """SELECT user_id, event_id, event_type, ts, value FROM (
        | SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events) t
        |WHERE rn = 1""".stripMargin,

    "u1_union_distinct" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |UNION
        |SELECT s_nationkey AS nationkey FROM supplier""".stripMargin,

    "u2_union_all" ->
      """SELECT c_nationkey AS nationkey, 'customer' AS src FROM customer
        |UNION ALL
        |SELECT s_nationkey AS nationkey, 'supplier' AS src FROM supplier""".stripMargin,

    "q3_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS rev
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < DATE '1995-03-15'
        |  AND l_shipdate > DATE '1995-03-15'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY rev DESC, l_orderkey LIMIT 10""".stripMargin,

    "q13_custdist" ->
      """SELECT c_count, count(*) AS custdist FROM (
        | SELECT c_custkey, count(o_orderkey) AS c_count
        | FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        | GROUP BY c_custkey) t
        |GROUP BY c_count""".stripMargin,

    "q18_large_orders" ->
      """WITH big AS (
        | SELECT l_orderkey AS bk, sum(l_quantity) AS total_qty
        | FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
        |SELECT o_orderkey, o_orderdate, o_totalprice, total_qty
        |FROM orders JOIN big ON o_orderkey = bk""".stripMargin,

    "u3_intersect_except" ->
      """SELECT nationkey, 'both' AS op FROM (
        | SELECT c_nationkey AS nationkey FROM customer
        | INTERSECT
        | SELECT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT nationkey, 'cust_only' AS op FROM (
        | SELECT c_nationkey AS nationkey FROM customer
        | EXCEPT
        | SELECT s_nationkey FROM supplier)""".stripMargin,

    "w3_frames_ranks" ->
      """SELECT user_id, event_id,
        | round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS mov_avg3,
        | lead(event_id, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_event,
        | first_value(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_event,
        | CAST(rank() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS rnk,
        | percent_rank() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pct_rank,
        | CAST(ntile(4) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
        |   AS quartile
        |FROM events""".stripMargin,

    "p7_case_pivot" ->
      """SELECT o_orderkey, o_orderstatus,
        | CASE WHEN o_totalprice < 50000 THEN 'small'
        |      WHEN o_totalprice < 150000 THEN 'medium'
        |      ELSE 'large' END AS price_band,
        | CAST(quarter(o_orderdate) AS BIGINT) AS order_quarter
        |FROM orders""".stripMargin,

    "o1_global_sort" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |ORDER BY n_regionkey, n_name DESC""".stripMargin,

    "f3_replace_parse_date" ->
      """SELECT o_orderkey, strftime(CAST(o_orderdate AS DATE), '%Y.%m.%d') AS dotted,
        | CAST(strptime(replace(strftime(CAST(o_orderdate AS DATE), '%Y.%m.%d'), '.', '/'),
        |               '%Y/%m/%d') AS DATE) AS parsed
        |FROM orders""".stripMargin,

    "o2_topk" ->
      """SELECT c_custkey, c_acctbal FROM customer
        |ORDER BY c_acctbal DESC, c_custkey LIMIT 10""".stripMargin,

    "o3_watermark_max" ->
      "SELECT max(ts) AS last_updated FROM events",

    "f7_dim_date" ->
      """SELECT DISTINCT CAST(o_orderdate AS DATE) AS order_date,
        | CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS year,
        | CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS month,
        | strftime(CAST(o_orderdate AS DATE), '%B') AS month_name,
        | CAST(day(CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
        | strftime(CAST(o_orderdate AS DATE), '%A') AS weekday,
        | CAST(quarter(CAST(o_orderdate AS DATE)) AS BIGINT) AS quarter
        |FROM orders""".stripMargin,

    "p1_wide_projection" ->
      """SELECT l_orderkey, l_linenumber, CAST(l_quantity AS BIGINT) AS qty,
        | floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100 + 0.5) / 100 AS charge,
        | l_returnflag || '/' || l_linestatus AS flag_status,
        | CAST(l_shipdate AS DATE) AS ship_date,
        | CASE WHEN l_discount > 0.05 THEN 'promo' ELSE 'std' END AS promo_flag
        |FROM lineitem""".stripMargin,

    "f1_regex_extract" ->
      """SELECT event_id, regexp_extract(props, '"k": (\d+)', 1) AS k_str,
        | TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k_val
        |FROM events""".stripMargin,

    "f2_regex_count" ->
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_alpha_tokens,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens
        |FROM documents""".stripMargin,

    "ud3_split_family" ->
      """SELECT p_partkey, split_part(p_name, ' ', 1) AS family,
        | split_part(p_name, ' ', 2) AS variation
        |FROM part""".stripMargin,

    "f6_duration_secs" ->
      """SELECT user_id,
        | CAST(floor(epoch(max(ts))) - floor(epoch(min(ts))) AS BIGINT) AS span_secs,
        | count(*) AS n_events
        |FROM events GROUP BY user_id""".stripMargin,

    "ud6_format_time_control" ->
      """WITH t AS (
        | SELECT event_id,
        |  CASE WHEN event_id % 3 = 0
        |   THEN CAST((event_id % 9 + 1) * 60 + (event_id % 7) * 10 AS VARCHAR)
        |   ELSE CAST((event_id % 9 + 1) * 60 + (event_id % 7) * 10 AS VARCHAR)
        |        || '+' || CAST(event_id % 13 AS VARCHAR) END AS tc
        | FROM events)
        |SELECT event_id, tc,
        | CASE WHEN strpos(tc, '+') > 0
        |  THEN CAST(CAST(floor(CAST(split_part(tc, '+', 1) AS BIGINT) / 60) AS BIGINT) AS VARCHAR)
        |       || '|' || split_part(tc, '+', 2)
        |  ELSE CAST(CAST(floor(CAST(tc AS BIGINT) / 60) AS BIGINT) AS VARCHAR) END AS formatted
        |FROM t""".stripMargin,

    "p5_like_filter" ->
      """SELECT p_partkey, p_name, p_brand FROM part
        |WHERE p_name LIKE '%widget%' AND p_brand LIKE 'Brand#1%'""".stripMargin,

    "a2_count_distinct" ->
      """SELECT count(DISTINCT l_partkey) AS n_parts,
        | count(DISTINCT l_suppkey) AS n_supps,
        | count(DISTINCT (l_partkey, l_suppkey)) AS n_pairs
        |FROM lineitem""".stripMargin,

    "j3_prefix_match" ->
      """WITH sample AS (SELECT text, string_split(text, ' ') AS w FROM documents
        |               WHERE doc_id % 20 = 0),
        |dict AS (
        | SELECT DISTINCT array_to_string(w[1:2], ' ') AS p FROM sample
        | UNION
        | SELECT DISTINCT array_to_string(w[1:3], ' ') AS p FROM sample WHERE len(w) >= 3)
        |SELECT d.doc_id, max_by(t.p, strlen(t.p)) AS opening,
        | CAST(max(strlen(t.p)) AS BIGINT) AS opening_len
        |FROM documents d LEFT JOIN dict t ON starts_with(d.text, t.p)
        |GROUP BY d.doc_id""".stripMargin,

    "g1_posexplode" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |           WHERE doc_id < 50)
        |SELECT doc_id, CAST(u.pos AS BIGINT) AS pos, u.tok FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w) + 1),
        |    i -> struct_pack(pos := i - 1, tok := w[i]))) AS u FROM t)""".stripMargin,

    "f15_string_ops" ->
      """SELECT p_partkey,
        | upper(p_name) AS upper_name,
        | lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS padded_key,
        | translate(p_name, 'ae', '@3') AS leeted,
        | reverse(p_brand) AS rev_brand,
        | split_part(p_name, ' ', 2) AS second_word,
        | repeat(substr(p_brand, 1, 2), 3) AS brand_echo
        |FROM part""".stripMargin,

    "f16_date_ops" ->
      """SELECT o_orderkey,
        | last_day(CAST(o_orderdate AS DATE)) AS month_end,
        | CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS month_start,
        | CAST(CAST(o_orderdate AS DATE) + INTERVAL 10 DAY AS DATE) AS plus10,
        | CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE) AS plus2m,
        | make_date(year(CAST(o_orderdate AS DATE)), month(CAST(o_orderdate AS DATE)),
        |           day(CAST(o_orderdate AS DATE))) AS remade
        |FROM orders""".stripMargin,

    "a10_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        | CAST(grouping(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,

    "a9_unpivot" ->
      """SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS value
        |FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem""".stripMargin,

    "a8_pivot" ->
      """SELECT o_orderstatus,
        | count(*) FILTER (o_orderpriority = '1-URGENT') AS p1,
        | count(*) FILTER (o_orderpriority = '2-HIGH') AS p2,
        | count(*) FILTER (o_orderpriority = '3-MEDIUM') AS p3,
        | count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS p4,
        | count(*) FILTER (o_orderpriority = '5-LOW') AS p5
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    "f13_array_ops" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |SELECT doc_id,
        | array_to_string(list_sort(list_distinct(w))[1:3], ',') AS first3_sorted,
        | list_contains(w, 'the') AS has_the,
        | CAST(len(list_filter(list_distinct(w), x -> x IN ('the', 'a', 'of'))) AS BIGINT)
        |   AS n_common,
        | CAST(list_aggregate(list_transform(w, x -> CAST(strlen(x) AS BIGINT)), 'sum')
        |   AS BIGINT) AS total_chars
        |FROM t""".stripMargin,

    "f14_json_ops" ->
      """SELECT event_id,
        | TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        | json_extract_string(props, '$.tag') AS tag,
        | json_extract_string(props, '$.missing') AS missing
        |FROM events""".stripMargin,

    "j6_semi_join" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin,

    "a7_below_avg_qty" ->
      """WITH pa AS (SELECT l_partkey AS ap_partkey, avg(l_quantity) AS avg_qty
        |            FROM lineitem GROUP BY l_partkey)
        |SELECT l_returnflag, count(*) AS n_below,
        | round(sum(l_extendedprice) / 100, 0) AS price_hundreds
        |FROM lineitem JOIN pa ON l_partkey = ap_partkey
        |WHERE l_quantity < avg_qty * 0.5
        |GROUP BY l_returnflag""".stripMargin,

    "f12_null_ops" ->
      """SELECT event_id,
        | coalesce(TRY_CAST(nullif(regexp_extract(props, '"k": (\d+)', 1), '') AS BIGINT), -1)
        |   AS k_or_default,
        | nullif(event_type, 'click') AS type_not_click,
        | TRY_CAST(nullif(regexp_extract(props, '"k": (\d+)', 1), '') AS BIGINT) IS NULL
        |   AS k_is_null
        |FROM events""".stripMargin,

    "text_edit_distance" ->
      """WITH t AS (
        | SELECT doc_id,
        |  substr(trim(regexp_replace(regexp_replace(lower(substr(text, 1, 128)), '[^a-z0-9 ]', '', 'g'),
        |              ' +', ' ', 'g')), 1, 32) AS prefix,
        |  substr(trim(regexp_replace(regexp_replace(lower(substr(text, 1, 128)), '[^a-z0-9 ]', '', 'g'),
        |              ' +', ' ', 'g')), 1, 8) AS bucket
        | FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        | CAST(levenshtein(a.prefix, b.prefix) AS BIGINT) AS edit_dist
        |FROM t a JOIN t b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.prefix, b.prefix) <= 8""".stripMargin,

    "j5_asof_join" ->
      """WITH refs AS (
        | SELECT user_id, ts, max(value) AS ref_value, max(event_id) AS ref_event
        | FROM events WHERE event_id % 10 = 0 GROUP BY user_id, ts),
        |probes AS (
        | SELECT event_id, user_id, ts FROM events WHERE event_id % 10 <> 0)
        |SELECT p.event_id, p.user_id, p.ts, r.ref_value, r.ref_event
        |FROM probes p ASOF LEFT JOIN refs r
        | ON p.user_id = r.user_id AND p.ts >= r.ts""".stripMargin,

    // identical semantics to j5 by construction (refs are pre-aggregated
    // per (user_id, ts), so the two-table tie-break has nothing to break);
    // what differs is the ENGINE path under test: leftAsof/leftAsofLayout
    "j5b_asof_two_table" ->
      """WITH refs AS (
        | SELECT user_id, ts, max(value) AS ref_value, max(event_id) AS ref_event
        | FROM events WHERE event_id % 10 = 0 GROUP BY user_id, ts),
        |probes AS (
        | SELECT event_id, user_id, ts FROM events WHERE event_id % 10 <> 0)
        |SELECT p.event_id, p.user_id, p.ts, r.ref_value, r.ref_event
        |FROM probes p ASOF LEFT JOIN refs r
        | ON p.user_id = r.user_id AND p.ts >= r.ts""".stripMargin,

    "a5_rollup" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        | count(*) AS n, CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    "a12_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        | count(*) AS n, CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin,

    // the seed VALUES literal is GENERATED from Dims.resultSeed — the one
    // shared constant the engine entry also reads (r13 ADVICE)
    "chess_scale_winrate" ->
      s"""WITH seed(result_code, result) AS (VALUES
        |  ${graft.chess.Dims.resultSeed
             .map { case (c, r, _) => s"('$c','$r')" }.mkString(",")}),
        |dim AS (SELECT result,
        |          row_number() OVER (ORDER BY result_code) - 1 AS idx
        |        FROM seed)
        |SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |  CASE WHEN o_orderpriority < '3' THEN 'blitz'
        |       WHEN o_orderpriority < '5' THEN 'rapid'
        |       ELSE 'bullet' END AS time_class,
        |  CASE WHEN o_custkey % 2 = 0 THEN 'White' ELSE 'Black' END AS my_color,
        |  count(*) AS games,
        |  CAST(sum(CASE WHEN result = 'Win' THEN 1 ELSE 0 END) AS BIGINT) AS wins,
        |  CAST(sum(CASE WHEN result = 'Loss' THEN 1 ELSE 0 END) AS BIGINT) AS losses,
        |  CAST(sum(CASE WHEN result = 'Draw' THEN 1 ELSE 0 END) AS BIGINT) AS draws,
        |  avg(CAST(CASE WHEN result = 'Win' THEN 1 ELSE 0 END AS DOUBLE)) AS win_rate
        |FROM orders JOIN dim ON o_orderkey % 15 = dim.idx
        |GROUP BY 1, 2, 3""".stripMargin,

    "sample_hash" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(text) AS text_md5, count(*) AS n_dups, min(doc_id) AS keep_id
        |FROM documents GROUP BY md5(text)""".stripMargin,

    "dedup_normalized" ->
      """SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |                ' +', ' ', 'g'))) AS fp,
        | count(*) AS n_dups, min(doc_id) AS keep_id
        |FROM documents GROUP BY 1""".stripMargin,

    // intersections and sizes over the DISTINCT 31-bit shingle hashes —
    // the identical reduction Dedup.docShingleHashes applies, so both
    // engines agree bit-for-bit even under hash collisions
    "dedup_ngram_jaccard" ->
      s"""WITH $ShinglesCte,
         |$JaccardPrCte
         |SELECT da AS doc_a, db AS doc_b,
         | inter / (sa.n + sb.n - inter) AS jaccard
         |FROM pr JOIN szh sa ON sa.doc_id = da JOIN szh sb ON sb.doc_id = db
         |WHERE inter / (sa.n + sb.n - inter) >= 0.8""".stripMargin,

    // same candidate universe; grid LEFT JOIN so zero-retention cutoffs
    // report 0 instead of vanishing
    "dedup_threshold_sweep" ->
      s"""WITH $ShinglesCte,
         |$JaccardPrCte,
         |jac AS (SELECT inter / (sa.n + sb.n - inter) AS jaccard
         |        FROM pr JOIN szh sa ON sa.doc_id = da JOIN szh sb ON sb.doc_id = db),
         |grid AS (SELECT unnest([0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS threshold)
         |SELECT g.threshold, CAST(count(j.jaccard) AS BIGINT) AS n_pairs
         |FROM grid g LEFT JOIN jac j ON j.jaccard >= g.threshold
         |GROUP BY g.threshold""".stripMargin,

    "dedup_clusters" -> ClustersOracleSql,

    "text_pii_redact" ->
      """SELECT doc_id,
        | regexp_replace(
        |   regexp_replace(
        |     regexp_replace(text, 'https?://[^ ]+', '<URL>', 'g'),
        |     '[a-zA-Z0-9._]+@[a-zA-Z0-9.-]+', '<EMAIL>', 'g'),
        |   '[0-9]{6,}', '<NUM>', 'g') AS redacted
        |FROM documents""".stripMargin,

    // same transitive closure as the clusters oracle, then the split
    // decided by the md5 prefix of the cluster representative —
    // 3865470566 = floor(0.9 * 2^32), the exact long the Spark side uses
    "dedup_split_by_cluster" ->
      s"""WITH RECURSIVE $ShinglesCte,
         |$JaccardPrCte,
         |pairs AS (SELECT da, db FROM pr
         |          JOIN szh sa ON sa.doc_id = da JOIN szh sb ON sb.doc_id = db
         |          WHERE inter / (sa.n + sb.n - inter) >= 0.5),
         |edges AS (SELECT da AS src, db AS dst FROM pairs
         |          UNION SELECT db, da FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |comp AS (SELECT src AS doc_id, least(src, min(dst)) AS component
         |         FROM reach GROUP BY src),
         |lab AS (SELECT d.doc_id,
         |         CAST(coalesce(c.component, d.doc_id) AS BIGINT) AS component
         |        FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
         |SELECT doc_id, component,
         | CASE WHEN ('0x' || substr(md5(CAST(component AS VARCHAR)), 1, 8))::BIGINT
         |        < 3865470566 THEN 'train' ELSE 'val' END AS split
         |FROM lab""".stripMargin,

    // the star-CC variant computes the identical labeling (component =
    // min reachable doc_id), so it shares the oracle verbatim
    "dedup_clusters_star" -> ClustersOracleSql,

    "src_orc_roundtrip" ->
      """SELECT c_mktsegment, count(*) AS n,
        | floor(sum(c_acctbal) * 100 + 0.5) / 100 AS total_acctbal
        |FROM customer GROUP BY c_mktsegment""".stripMargin,

    // roundtrip oracles read the identical rows straight from parquet: a
    // lossy sink (formatting, schema inference, type mangling) hash-fails
    "src_csv_roundtrip" ->
      """SELECT n_regionkey, count(*) AS n, min(n_name) AS first_nation
        |FROM nation GROUP BY n_regionkey""".stripMargin,

    "src_json_roundtrip" ->
      """SELECT s_nationkey, count(*) AS n,
        | floor(sum(s_acctbal) * 100 + 0.5) / 100 AS total_acctbal
        |FROM supplier GROUP BY s_nationkey""".stripMargin,

    // identical posting derivation; the df-cut HAVING mirrors the combined
    // (train ∪ eval) posting heat exactly like the operator
    // the eval set is a corpus slice, so the scorer symmetrizes the SAME
    // unordered pair CTE the jaccard family shares (corpus-postings df-cut,
    // mirroring Dedup.crossCorpusFromStats over the hub): (a,b) reports as
    // (train=a, eval=b) when b is eval and as (train=b, eval=a) when a is
    "dedup_cross_corpus" ->
      s"""WITH $ShinglesCte,
         |$JaccardPrCte,
         |jac AS (SELECT da, db, inter / (sa.n + sb.n - inter) AS jaccard
         |        FROM pr JOIN szh sa ON sa.doc_id = da
         |                JOIN szh sb ON sb.doc_id = db
         |        WHERE inter / (sa.n + sb.n - inter) >= 0.5)
         |SELECT da AS train_id, db AS eval_id, jaccard FROM jac WHERE db % 7 = 0
         |UNION ALL
         |SELECT db AS train_id, da AS eval_id, jaccard FROM jac WHERE da % 7 = 0""".stripMargin,

    // same df: one aggregate over the distinct per-doc shingle hashes; a
    // shingle is "duplicated" iff its document frequency is ≥ 2
    "dedup_dupngram" ->
      s"""WITH $ShinglesCte,
         |df AS (SELECT h31, count(*) AS df FROM hsd GROUP BY h31)
         |SELECT h.doc_id, count(*) AS n_ngrams,
         | CAST(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_ngrams,
         | CAST(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
         |   AS dup_share
         |FROM hsd h JOIN df ON h.h31 = df.h31
         |GROUP BY h.doc_id""".stripMargin,

    // the removal pass re-derived on POSITIONAL (non-distinct) 5-grams:
    // identical md5-prefix hash, canonical = min (doc_id, pos) per hash
    // via row_number, duplicate occurrences expand to their <= 5 covered
    // word positions, survivors re-joined in order
    "dedup_span_cut" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |oc0 AS (SELECT doc_id, unnest(range(1, len(w) - 3)) AS i, w
        |        FROM t WHERE len(w) >= 5),
        |occ AS (SELECT doc_id, i - 1 AS pos,
        |         ('0x' || substr(md5(array_to_string(w[i:i+4], ' ')), 1, 8))::BIGINT
        |           % 2147483647 AS h
        |        FROM oc0),
        |rk AS (SELECT doc_id, pos,
        |        row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
        |        count(*) OVER (PARTITION BY h) AS cnt
        |       FROM occ),
        |dup AS (SELECT doc_id, pos FROM rk WHERE cnt > 1 AND rn > 1),
        |cov0 AS (SELECT doc_id, pos, unnest(range(0, 5)) AS o FROM dup),
        |cov AS (SELECT DISTINCT doc_id, pos + o AS p FROM cov0),
        |wd0 AS (SELECT doc_id, unnest(range(1, len(w) + 1)) AS pi, w FROM t),
        |words AS (SELECT doc_id, pi - 1 AS p, w[pi] AS word FROM wd0),
        |kept AS (SELECT wo.doc_id, wo.p, wo.word FROM words wo
        |         WHERE NOT EXISTS (SELECT 1 FROM cov c
        |                           WHERE c.doc_id = wo.doc_id AND c.p = wo.p)),
        |agg AS (SELECT doc_id, string_agg(word, ' ' ORDER BY p) AS text_clean,
        |         count(*) AS n_kept
        |        FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(a.text_clean, '') AS text_clean,
        | CAST(coalesce(len(t.w), 0) - coalesce(a.n_kept, 0) AS BIGINT) AS n_cut
        |FROM t LEFT JOIN agg a ON a.doc_id = t.doc_id""".stripMargin,

    // identical derivation to ann_ivf_assign's cell map, then keep-lowest-id
    // within each cell at round(cos,6) >= 0.4
    "dedup_semantic" ->
      """WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
        |           FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        |           LIMIT (SELECT greatest(32, count(*) // 1024) FROM embeddings)),
        |s AS (SELECT e.vec_id, c.cid,
        |       round(list_dot_product(CAST(e.embedding AS DOUBLE[]), c.ce) /
        |         (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |                                CAST(e.embedding AS DOUBLE[]))) *
        |          sqrt(list_dot_product(c.ce, c.ce))), 6) AS ccos
        |      FROM embeddings e CROSS JOIN c),
        |r AS (SELECT vec_id, cid, row_number() OVER
        |       (PARTITION BY vec_id ORDER BY ccos DESC, cid ASC) AS rn FROM s),
        |a AS (SELECT r.vec_id, r.cid AS cell, CAST(e.embedding AS DOUBLE[]) AS e
        |      FROM r JOIN embeddings e ON r.vec_id = e.vec_id WHERE rn = 1),
        |rm AS (SELECT DISTINCT x.vec_id FROM a x JOIN a y
        |       ON x.cell = y.cell AND y.vec_id < x.vec_id
        |       WHERE round(list_dot_product(x.e, y.e) /
        |         (sqrt(list_dot_product(x.e, x.e)) *
        |          sqrt(list_dot_product(y.e, y.e))), 6) >= 0.4)
        |SELECT a.vec_id, a.cell, rm.vec_id IS NULL AS kept
        |FROM a LEFT JOIN rm ON a.vec_id = rm.vec_id""".stripMargin,

    "dedup_keep" ->
      s"""WITH RECURSIVE $ShinglesCte,
         |$JaccardPrCte,
         |pairs AS (SELECT da, db FROM pr
         |          JOIN szh sa ON sa.doc_id = da JOIN szh sb ON sb.doc_id = db
         |          WHERE inter / (sa.n + sb.n - inter) >= 0.5),
         |edges AS (SELECT da AS src, db AS dst FROM pairs
         |          UNION SELECT db, da FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |comp AS (SELECT src AS doc_id, least(src, min(dst)) AS component
         |         FROM reach GROUP BY src),
         |lab AS (SELECT d.doc_id, length(d.text) AS len,
         |         CAST(coalesce(c.component, d.doc_id) AS BIGINT) AS component
         |        FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
         |rk AS (SELECT doc_id, component,
         |        row_number() OVER (PARTITION BY component ORDER BY len DESC, doc_id) AS rn,
         |        count(*) OVER (PARTITION BY component) AS n_in_cluster
         |       FROM lab)
         |SELECT doc_id, component, CAST(n_in_cluster AS BIGINT) AS n_in_cluster
         |FROM rk WHERE rn = 1""".stripMargin,

    "sample_stratified" ->
      """SELECT o_orderkey, o_orderstatus FROM (
        | SELECT o_orderkey, o_orderstatus, row_number() OVER (
        |   PARTITION BY o_orderstatus
        |   ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey) AS rn
        | FROM orders) t
        |WHERE rn <= 100""".stripMargin,

    "dedup_incremental" -> {
      // same permutation family / band hashing as the full-corpus oracle
      // below, with the bucket listing and cap computed over the CORPUS
      // side only (the index) and candidates restricted to corpus × batch
      val p = graft.operators.Dedup.MinhashPrime
      val mins = graft.operators.Dedup.minhashCoeffs(16).zipWithIndex
        .map { case ((a, b), i) => s"min((h31*$a + $b) % $p) AS m$i" }.mkString(", ")
      val bandRows = (0 until 4).map { b =>
        val cols = (b * 4 until b * 4 + 4).map(i => s"CAST(m$i AS VARCHAR)")
          .mkString(" || '|' || ")
        s"SELECT doc_id, $b AS band, md5($cols) AS bh FROM sig"
      }.mkString(" UNION ALL ")
      s"""WITH $ShinglesCte,
         |sig AS (SELECT doc_id, $mins FROM hsd GROUP BY doc_id),
         |bands AS ($bandRows),
         |bfc AS (SELECT * FROM (SELECT doc_id, band, bh,
         |         count(*) OVER (PARTITION BY band, bh) AS bn
         |        FROM bands WHERE doc_id % 10 != 0) t
         |        WHERE bn <= ${graft.operators.Dedup.DefaultMaxBucket}),
         |nb AS (SELECT doc_id, band, bh FROM bands WHERE doc_id % 10 = 0),
         |cand AS (SELECT DISTINCT c.doc_id AS da, n.doc_id AS db
         |         FROM bfc c JOIN nb n ON c.band = n.band AND c.bh = n.bh),
         |pr AS (SELECT c.da, c.db, count(*) AS inter
         |       FROM cand c JOIN hsd a ON a.doc_id = c.da
         |       JOIN hsd b ON b.doc_id = c.db AND b.h31 = a.h31
         |       GROUP BY c.da, c.db)
         |SELECT da AS doc_a, db AS doc_b,
         | inter / (sa.n + sb.n - inter) AS jaccard
         |FROM pr JOIN szh sa ON sa.doc_id = da JOIN szh sb ON sb.doc_id = db
         |WHERE inter / (sa.n + sb.n - inter) >= 0.5""".stripMargin
    },

    "stream_quarantine" -> {
      // the incremental-probe oracle above, wrapped in the quarantine
      // ROUTING read-out: batch docs whose index probe clears the
      // threshold flag true, the rest flow accepted
      val p = graft.operators.Dedup.MinhashPrime
      val mins = graft.operators.Dedup.minhashCoeffs(16).zipWithIndex
        .map { case ((a, b), i) => s"min((h31*$a + $b) % $p) AS m$i" }.mkString(", ")
      val bandRows = (0 until 4).map { b =>
        val cols = (b * 4 until b * 4 + 4).map(i => s"CAST(m$i AS VARCHAR)")
          .mkString(" || '|' || ")
        s"SELECT doc_id, $b AS band, md5($cols) AS bh FROM sig"
      }.mkString(" UNION ALL ")
      s"""WITH $ShinglesCte,
         |sig AS (SELECT doc_id, $mins FROM hsd GROUP BY doc_id),
         |bands AS ($bandRows),
         |bfc AS (SELECT * FROM (SELECT doc_id, band, bh,
         |         count(*) OVER (PARTITION BY band, bh) AS bn
         |        FROM bands WHERE doc_id % 10 != 0) t
         |        WHERE bn <= ${graft.operators.Dedup.DefaultMaxBucket}),
         |nb AS (SELECT doc_id, band, bh FROM bands WHERE doc_id % 10 = 0),
         |cand AS (SELECT DISTINCT c.doc_id AS da, n.doc_id AS db
         |         FROM bfc c JOIN nb n ON c.band = n.band AND c.bh = n.bh),
         |pr AS (SELECT c.da, c.db, count(*) AS inter
         |       FROM cand c JOIN hsd a ON a.doc_id = c.da
         |       JOIN hsd b ON b.doc_id = c.db AND b.h31 = a.h31
         |       GROUP BY c.da, c.db),
         |q AS (SELECT DISTINCT db FROM pr
         |      JOIN szh sa ON sa.doc_id = da JOIN szh sb ON sb.doc_id = db
         |      WHERE inter / (sa.n + sb.n - inter) >= 0.5)
         |SELECT d.doc_id, (q.db IS NOT NULL) AS quarantined
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
         |LEFT JOIN q ON q.db = d.doc_id""".stripMargin
    },

    "dedup_minhash_lsh" -> {
      // identical affine permutation family as Dedup.minhashSignatures:
      // one md5 per shingle, numPerm (a*h+b) mod 2^31-1 transforms
      val p = graft.operators.Dedup.MinhashPrime
      val mins = graft.operators.Dedup.minhashCoeffs(16).zipWithIndex
        .map { case ((a, b), i) => s"min((h31*$a + $b) % $p) AS m$i" }.mkString(", ")
      val bandRows = (0 until 4).map { b =>
        val cols = (b * 4 until b * 4 + 4).map(i => s"CAST(m$i AS VARCHAR)")
          .mkString(" || '|' || ")
        s"SELECT doc_id, $b AS band, md5($cols) AS bh FROM sig"
      }.mkString(" UNION ALL ")
      s"""WITH $ShinglesCte,
         |sig AS (SELECT doc_id, $mins FROM hsd GROUP BY doc_id),
         |bands AS ($bandRows),
         |bf AS (SELECT * FROM (SELECT doc_id, band, bh,
         |        count(*) OVER (PARTITION BY band, bh) AS bn FROM bands) t
         |       WHERE bn <= ${graft.operators.Dedup.DefaultMaxBucket}),
         |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |         FROM bf a JOIN bf b
         |         ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         |pr AS (SELECT c.da, c.db, count(*) AS inter
         |       FROM cand c JOIN hsd a ON a.doc_id = c.da
         |       JOIN hsd b ON b.doc_id = c.db AND b.h31 = a.h31
         |       GROUP BY c.da, c.db)
         |SELECT da AS doc_a, db AS doc_b,
         | inter / (sa.n + sb.n - inter) AS jaccard
         |FROM pr JOIN szh sa ON sa.doc_id = da JOIN szh sb ON sb.doc_id = db
         |WHERE inter / (sa.n + sb.n - inter) >= 0.8""".stripMargin
    },

    "dedup_simhash" -> {
      val votes = (0 until 16).map(b =>
        s"sum(CASE WHEN substr(h, ${b + 1}, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS v$b")
        .mkString(", ")
      val bits = (0 until 16).map(b => s"(CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH t AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tk
         |           FROM documents),
         |h AS (SELECT doc_id, md5(tk) AS h FROM t),
         |v AS (SELECT doc_id, $votes FROM h GROUP BY doc_id)
         |SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM v""".stripMargin
    },

    "dedup_embedding" -> {
      val bucket = (0 until 8).map(i =>
        s"(CASE WHEN embedding[${i + 1}] >= 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
      s"""WITH k AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, $bucket AS bucket
         |           FROM embeddings)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         |FROM k a JOIN k b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE list_dot_product(a.e, b.e) /
         |      (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))
         |      >= 0.4""".stripMargin
    },

    // cosine spelled out over DOUBLE[] so DuckDB's accumulation matches our
    // double-accumulating native expression bit-for-bit (float-typed
    // list_cosine_similarity differs in the last ulp and flips 6-dp rounding)
    "ann_bruteforce" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
        |           FROM embeddings WHERE vec_id % 100 = 0),
        |s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
        |       round(list_dot_product(q.qe, CAST(e.embedding AS DOUBLE[])) /
        |         (sqrt(list_dot_product(q.qe, q.qe)) *
        |          sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |                                CAST(e.embedding AS DOUBLE[])))), 6) AS cos_r
        |      FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.query_id),
        |r AS (SELECT *, row_number() OVER
        |       (PARTITION BY query_id ORDER BY cos_r DESC, neighbor_id) AS rnk FROM s)
        |SELECT query_id, neighbor_id, cos_r, CAST(rnk AS BIGINT) AS rnk
        |FROM r WHERE rnk <= 10""".stripMargin,

    // Full LSH re-derivation: the md5-seeded plane matrix, sign-pattern
    // buckets, <=2-bit multi-probe masks, and rounded-cosine re-rank are all
    // deterministic, so the whole approximate operator is exactly
    // reproducible in SQL (Similarity.planeMatrix / lshTopK).
    "ann_lsh" ->
      """WITH hx AS (
        | SELECT t1.range AS p, t2.range AS d,
        |        md5('plane:' || t1.range || ':' || t2.range) AS h
        | FROM range(0,8) t1 CROSS JOIN range(0,64) t2),
        |pv AS (
        | SELECT p, d,
        |  (((strpos('0123456789abcdef', substr(h,1,1))-1)*16
        |    + (strpos('0123456789abcdef', substr(h,2,1))-1))*256
        |   + ((strpos('0123456789abcdef', substr(h,3,1))-1)*16
        |    + (strpos('0123456789abcdef', substr(h,4,1))-1))) / 65536.0 - 0.5 AS v
        | FROM hx),
        |planes AS (SELECT p, list(v ORDER BY d) AS pl FROM pv GROUP BY p),
        |eb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |bits AS (
        | SELECT e.vec_id,
        |        CAST(sum(CASE WHEN list_dot_product(e.emb, p.pl) >= 0.0
        |                      THEN (CAST(1 AS BIGINT) << p.p) ELSE 0 END) AS BIGINT) AS bucket
        | FROM eb e CROSS JOIN planes p GROUP BY e.vec_id),
        |masks AS (SELECT range AS m FROM range(0,256) WHERE bit_count(range) <= 2),
        |probes AS (
        | SELECT b.vec_id AS query_id, xor(b.bucket, CAST(m.m AS BIGINT)) AS bucket
        | FROM bits b CROSS JOIN masks m WHERE b.vec_id % 100 = 0),
        |cand AS (
        | SELECT DISTINCT p.query_id, b.vec_id AS neighbor_id
        | FROM probes p JOIN bits b USING (bucket) WHERE b.vec_id <> p.query_id),
        |sc AS (
        | SELECT c.query_id, c.neighbor_id,
        |  round(list_dot_product(qe.emb, ne.emb) /
        |    (sqrt(list_dot_product(qe.emb, qe.emb)) *
        |     sqrt(list_dot_product(ne.emb, ne.emb))), 6) AS cos
        | FROM cand c JOIN eb qe ON qe.vec_id = c.query_id
        |             JOIN eb ne ON ne.vec_id = c.neighbor_id),
        |r AS (SELECT query_id, neighbor_id, row_number() OVER
        |       (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk FROM sc)
        |SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= 10""".stripMargin,

    // Full IVF re-derivation (refineSteps = 0 path of Similarity.ivfTopK):
    // seed centroids = the nlist md5-ordered ids (the r15 deterministic
    // uniform sample); corpus/query cell assignment by rounded-cosine
    // argmax (cid tie-break); nprobe=8 nearest cells per query; exact
    // rounded re-rank in probed cells.
    "ann_ivf" ->
      """WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
        |           FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        |           LIMIT (SELECT greatest(32, count(*) // 1024) FROM embeddings)),
        |eb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |s AS (SELECT e.vec_id, c.cid,
        |       round(list_dot_product(e.emb, c.ce) /
        |         (sqrt(list_dot_product(e.emb, e.emb)) *
        |          sqrt(list_dot_product(c.ce, c.ce))), 6) AS ccos
        |      FROM eb e CROSS JOIN c),
        |assign AS (SELECT vec_id, cid AS cell FROM (
        |  SELECT vec_id, cid, row_number() OVER
        |    (PARTITION BY vec_id ORDER BY ccos DESC, cid ASC) AS rn FROM s) t
        |  WHERE rn = 1),
        |probes AS (SELECT vec_id AS query_id, cid AS cell FROM (
        |  SELECT vec_id, cid, row_number() OVER
        |    (PARTITION BY vec_id ORDER BY ccos DESC, cid ASC) AS rn
        |  FROM s WHERE vec_id % 100 = 0) t WHERE rn <= 8),
        |cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
        |         FROM probes p JOIN assign a USING (cell)
        |         WHERE a.vec_id <> p.query_id),
        |sc AS (SELECT cd.query_id, cd.neighbor_id,
        |        round(list_dot_product(qe.emb, ne.emb) /
        |          (sqrt(list_dot_product(qe.emb, qe.emb)) *
        |           sqrt(list_dot_product(ne.emb, ne.emb))), 6) AS cos
        |       FROM cand cd JOIN eb qe ON qe.vec_id = cd.query_id
        |                    JOIN eb ne ON ne.vec_id = cd.neighbor_id),
        |r AS (SELECT query_id, neighbor_id, row_number() OVER
        |       (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk FROM sc)
        |SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk
        |FROM r WHERE rnk <= 10""".stripMargin,

    // ann_ivf plus ONE fixed-point k-means step: cell members' components
    // are quantized to the 1e-6 grid (floor(x*1e6 + 0.5) — floor-plus-half,
    // not round-half-away, which engines disagree on for negative halves),
    // summed as BIGINTs (exact, order-free), then mean = two correctly-
    // rounded IEEE divisions narrowed to FLOAT — bit-identical to
    // VectorAggregators.vecMeanFixed on the Spark side.
    "ann_ivf_refined" ->
      """WITH c0 AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
        |            FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        |            LIMIT (SELECT greatest(32, count(*) // 1024) FROM embeddings)),
        |eb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |s0 AS (SELECT e.vec_id, c.cid,
        |        round(list_dot_product(e.emb, c.ce) /
        |          (sqrt(list_dot_product(e.emb, e.emb)) *
        |           sqrt(list_dot_product(c.ce, c.ce))), 6) AS ccos
        |       FROM eb e CROSS JOIN c0 c),
        |a0 AS (SELECT vec_id, cid AS cell FROM (
        |   SELECT vec_id, cid, row_number() OVER
        |     (PARTITION BY vec_id ORDER BY ccos DESC, cid ASC) AS rn FROM s0) t
        |   WHERE rn = 1),
        |av AS (SELECT a.cell AS cid, e.embedding AS emb
        |       FROM a0 a JOIN embeddings e ON e.vec_id = a.vec_id),
        |ax AS (SELECT cid, emb, unnest(generate_series(1, len(emb))) AS ord FROM av),
        |cs AS (SELECT cid, ord,
        |         sum(CAST(floor(CAST(emb[ord] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS sq,
        |         count(*) AS n
        |       FROM ax GROUP BY cid, ord),
        |c1 AS (SELECT cid, CAST(list(CAST(CAST(sq AS DOUBLE) / n / 1000000.0 AS FLOAT)
        |                             ORDER BY ord) AS DOUBLE[]) AS ce
        |       FROM cs GROUP BY cid),
        |s1 AS (SELECT e.vec_id, c.cid,
        |        round(list_dot_product(e.emb, c.ce) /
        |          (sqrt(list_dot_product(e.emb, e.emb)) *
        |           sqrt(list_dot_product(c.ce, c.ce))), 6) AS ccos
        |       FROM eb e CROSS JOIN c1 c),
        |assign AS (SELECT vec_id, cid AS cell FROM (
        |   SELECT vec_id, cid, row_number() OVER
        |     (PARTITION BY vec_id ORDER BY ccos DESC, cid ASC) AS rn FROM s1) t
        |   WHERE rn = 1),
        |probes AS (SELECT vec_id AS query_id, cid AS cell FROM (
        |   SELECT vec_id, cid, row_number() OVER
        |     (PARTITION BY vec_id ORDER BY ccos DESC, cid ASC) AS rn
        |   FROM s1 WHERE vec_id % 100 = 0) t WHERE rn <= 8),
        |cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
        |         FROM probes p JOIN assign a USING (cell)
        |         WHERE a.vec_id <> p.query_id),
        |sc AS (SELECT cd.query_id, cd.neighbor_id,
        |        round(list_dot_product(qe.emb, ne.emb) /
        |          (sqrt(list_dot_product(qe.emb, qe.emb)) *
        |           sqrt(list_dot_product(ne.emb, ne.emb))), 6) AS cos
        |       FROM cand cd JOIN eb qe ON qe.vec_id = cd.query_id
        |                    JOIN eb ne ON ne.vec_id = cd.neighbor_id),
        |r AS (SELECT query_id, neighbor_id, row_number() OVER
        |       (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk FROM sc)
        |SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk
        |FROM r WHERE rnk <= 10""".stripMargin,

    "ann_ivf_assign" ->
      """WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
        |           FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 32),
        |s AS (SELECT e.vec_id, c.cid,
        |       round(list_dot_product(CAST(e.embedding AS DOUBLE[]), c.ce) /
        |         (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |                                CAST(e.embedding AS DOUBLE[]))) *
        |          sqrt(list_dot_product(c.ce, c.ce))), 6) AS ccos
        |      FROM embeddings e CROSS JOIN c),
        |r AS (SELECT vec_id, cid, row_number() OVER
        |       (PARTITION BY vec_id ORDER BY ccos DESC, cid ASC) AS rn FROM s)
        |SELECT vec_id, cid AS cell FROM r WHERE rn = 1""".stripMargin,

    // identical tf/df/score derivation; (tf*(N+1))/(df+1) is two
    // correctly-rounded IEEE ops, so scores (and the rank window ordered
    // by score desc, term asc) agree bit-for-bit
    "text_keywords" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |            FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |nn AS (SELECT count(*) AS n FROM documents),
        |s AS (SELECT doc_id, term, tf,
        |        CAST(tf AS DOUBLE) * (n + 1) / (df + 1) AS score
        |      FROM tf JOIN dft USING (term) CROSS JOIN nn),
        |r AS (SELECT *, row_number() OVER
        |        (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
        |      FROM s)
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, score
        |FROM r WHERE rank <= 3""".stripMargin,

    "text_token_ids" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |vc AS (SELECT tok, count(*) AS c FROM tok GROUP BY 1),
        |vocab AS (SELECT tok, CAST(row_number() OVER (ORDER BY c DESC, tok ASC) AS BIGINT) AS id
        |          FROM vc ORDER BY c DESC, tok ASC LIMIT 24),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |tokd AS (SELECT doc_id, unnest(generate_series(1, len(ts))) AS ord, ts FROM toks),
        |sel AS (SELECT doc_id, ord, ts[ord] AS tok FROM tokd)
        |SELECT s.doc_id,
        |       array_to_string(list(coalesce(v.id, 0) ORDER BY s.ord), ' ') AS ids
        |FROM sel s LEFT JOIN vocab v USING (tok)
        |GROUP BY s.doc_id""".stripMargin,

    "text_contamination" -> ContaminationOracleSql,

    // the bloom pre-pass is an exact-result optimization (false positives
    // are verified away), so the oracle is shared verbatim
    "text_contamination_bloom" -> ContaminationOracleSql,

    // identical bigram-LM derivation: add-one-smoothed conditional
    // probabilities from the en slice's bigram/context counts, uniform 1/V
    // fallback for unseen contexts, avg(-ln P) rounded to 6 decimals
    "lm_cross_entropy" ->
      """WITH tok AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
        |bgs AS (SELECT doc_id, lang,
        |         unnest(list_transform(range(1, len(w)),
        |                i -> array_to_string(w[i:i+1], ' '))) AS bg
        |        FROM tok WHERE len(w) >= 2),
        |c12 AS (SELECT bg, count(*) AS c12 FROM bgs WHERE lang = 'en' GROUP BY bg),
        |c1 AS (SELECT string_split(bg, ' ')[1] AS w1, count(*) AS c1
        |       FROM bgs WHERE lang = 'en' GROUP BY 1),
        |v AS (SELECT count(DISTINCT x) AS v FROM
        |       (SELECT unnest(w) AS x FROM tok WHERE lang = 'en'))
        |SELECT b.doc_id, count(*) AS n_bigrams,
        | round(avg(-ln(CAST(coalesce(c12.c12, 0) + 1 AS DOUBLE) /
        |               CAST(coalesce(c1.c1, 0) + v.v AS DOUBLE))), 6) AS cross_entropy
        |FROM bgs b
        |LEFT JOIN c12 ON b.bg = c12.bg
        |LEFT JOIN c1 ON string_split(b.bg, ' ')[1] = c1.w1
        |CROSS JOIN v
        |GROUP BY b.doc_id""".stripMargin,

    "text_profile" -> {
      val stop = TextAnalysis.Stopwords.map(w => s"'$w'").mkString(", ")
      val langScores = TextAnalysis.LangMarkers.map { case (l, m) =>
        s"len(list_filter(w, t -> t IN (${m.map(x => s"'$x'").mkString(", ")}))) AS s_$l"
      }.mkString(", ")
      s"""WITH t AS (SELECT doc_id, text, n_chars, string_split(text, ' ') AS w FROM documents),
         |m AS (SELECT doc_id, text, n_chars, w,
         |  strlen(text) AS n,
         |  strlen(text) - strlen(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS n_punct,
         |  len(list_filter(w, t -> t IN ($stop))) AS n_stop,
         |  $langScores
         | FROM t),
         |r AS (SELECT doc_id, text, n_chars, w, n,
         |  CASE WHEN n > 0 THEN n_punct / n ELSE 0.0 END AS punct_ratio,
         |  CASE WHEN len(w) > 0 THEN n_stop / len(w) ELSE 0.0 END AS stopword_ratio,
         |  s_en, s_es, s_fr, s_de, s_zh
         | FROM m)
         |SELECT doc_id, n_chars,
         | CAST(len(w) AS BIGINT) AS n_tokens,
         | CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT)
         |   AS n_regex_tokens,
         | punct_ratio,
         | stopword_ratio,
         | CASE WHEN len(w) > 0
         |  THEN CAST(list_aggregate(list_transform(w, t -> strlen(t)), 'sum') AS DOUBLE) / len(w)
         |  ELSE 0.0 END AS mean_word_len,
         | (CASE WHEN n BETWEEN 20 AND 100000 THEN 0.4 ELSE 0.0 END)
         |  + (CASE WHEN punct_ratio < 0.1 THEN 0.3 ELSE 0.0 END)
         |  + (CASE WHEN stopword_ratio BETWEEN 0.01 AND 0.6 THEN 0.3 ELSE 0.0 END)
         |   AS quality_score,
         | CASE WHEN s_zh > s_en AND s_zh > s_es AND s_zh > s_fr AND s_zh > s_de THEN 'zh'
         |      WHEN s_de > s_en AND s_de > s_es AND s_de > s_fr THEN 'de'
         |      WHEN s_fr > s_en AND s_fr > s_es THEN 'fr'
         |      WHEN s_es > s_en THEN 'es'
         |      ELSE 'en' END AS lang_pred,
         | md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
         |          ' +', ' ', 'g'))) AS fingerprint
         |FROM r""".stripMargin
    },

    // chunk grid mirror: DuckDB range(0, greatest(n-overlap, 1), stride)
    // excludes its bound; Spark sequence(0, greatest(n-overlap-1, 0),
    // stride) includes its bound — both enumerate starts < n-overlap plus
    // the mandatory start 0. Slices clamp at the document end identically.
    "text_chunk" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |s AS (SELECT doc_id, w, len(w) AS n FROM t),
        |c AS (SELECT doc_id, w, n,
        |        unnest(range(0, greatest(n - 8, 1), 24)) AS st FROM s)
        |SELECT doc_id, CAST(st // 24 AS BIGINT) AS chunk_id,
        |       CAST(least(32, n - st) AS BIGINT) AS n_words,
        |       array_to_string(w[st+1:st+32], ' ') AS chunk_text
        |FROM c""".stripMargin,

    "text_quality_sweep" -> {
      val stop = TextAnalysis.Stopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH t AS (SELECT text, string_split(text, ' ') AS w FROM documents),
         |m AS (SELECT w, strlen(text) AS n,
         |  strlen(text) - strlen(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS n_punct,
         |  len(list_filter(w, t -> t IN ($stop))) AS n_stop
         | FROM t),
         |r AS (SELECT CAST(len(w) AS BIGINT) AS nt,
         |  (CASE WHEN n BETWEEN 20 AND 100000 THEN 0.4 ELSE 0.0 END)
         |  + (CASE WHEN (CASE WHEN n > 0 THEN n_punct / n ELSE 0.0 END) < 0.1
         |       THEN 0.3 ELSE 0.0 END)
         |  + (CASE WHEN (CASE WHEN len(w) > 0 THEN n_stop / len(w) ELSE 0.0 END)
         |       BETWEEN 0.01 AND 0.6 THEN 0.3 ELSE 0.0 END) AS q
         | FROM m),
         |by_q AS (SELECT q, count(*) AS c, sum(nt) AS t FROM r GROUP BY q),
         |g AS (SELECT CAST(i AS DOUBLE)/10.0 AS threshold
         |      FROM generate_series(0, 10) AS gs(i))
         |SELECT threshold, CAST(coalesce(sum(c), 0) AS BIGINT) AS n_docs_kept,
         |       CAST(coalesce(sum(t), 0) AS BIGINT) AS n_tokens_kept
         |FROM g LEFT JOIN by_q ON q >= threshold GROUP BY threshold""".stripMargin
    },

    // same posting/df-cut derivation, overlap-coefficient scoring
    "dedup_containment" ->
      s"""WITH $ShinglesCte,
         |$JaccardPrCte
         |SELECT da AS doc_a, db AS doc_b, sa.n AS n_a, sb.n AS n_b,
         |       inter / least(sa.n, sb.n) AS containment
         |FROM pr JOIN szh sa ON sa.doc_id = da
         |        JOIN szh sb ON sb.doc_id = db
         |WHERE inter / least(sa.n, sb.n) >= 0.9""".stripMargin,

    // identical pair derivation as dedup_ngram_jaccard (threshold 0.5),
    // then provenance roll-up by unordered source pair
    "dedup_source_matrix" ->
      s"""WITH $ShinglesCte,
         |$JaccardPrCte,
         |pj AS (SELECT da, db, inter / (sa.n + sb.n - inter) AS j
         |       FROM pr JOIN szh sa ON sa.doc_id = da
         |               JOIN szh sb ON sb.doc_id = db
         |       WHERE inter / (sa.n + sb.n - inter) >= 0.5),
         |sp AS (SELECT least(x.source, y.source) AS source_a,
         |              greatest(x.source, y.source) AS source_b, j
         |       FROM pj JOIN documents x ON x.doc_id = pj.da
         |               JOIN documents y ON y.doc_id = pj.db)
         |SELECT source_a, source_b, count(*) AS n_pairs,
         |       CAST(sum(CASE WHEN j >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_strong
         |FROM sp GROUP BY source_a, source_b""".stripMargin,

    "text_fingerprint" ->
      s"""WITH $ShinglesCte,
         |mins AS (SELECT doc_id, min(md5(s)) AS min_shingle_fp FROM ds GROUP BY doc_id)
         |SELECT d.doc_id,
         | md5(trim(regexp_replace(regexp_replace(lower(d.text), '[^a-z0-9 ]', '', 'g'),
         |          ' +', ' ', 'g'))) AS fingerprint,
         | mins.min_shingle_fp AS min_shingle_fp
         |FROM documents d LEFT JOIN mins ON d.doc_id = mins.doc_id""".stripMargin,

    "text_quality_flags" -> {
      val langScores = TextAnalysis.CharNgramMarkers.map { case (l, m) =>
        s"len(regexp_extract_all(lower(text), '${m.mkString("|")}')) AS s_$l"
      }.mkString(", ")
      s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
         |m AS (SELECT doc_id, text, w,
         |  len(w) AS nw,
         |  CASE WHEN len(w) > 0
         |   THEN CAST(list_aggregate(list_transform(w, x -> strlen(x)), 'sum') AS DOUBLE)
         |        / len(w) ELSE 0.0 END AS mean_len,
         |  len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]'))) AS alpha_w,
         |  CASE WHEN strlen(text) > 0
         |   THEN (strlen(text) - strlen(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))
         |        / strlen(text) ELSE 0.0 END AS sym_ratio,
         |  $langScores
         | FROM t),
         |f AS (SELECT doc_id,
         |  CASE WHEN s_zh > s_en AND s_zh > s_es AND s_zh > s_fr AND s_zh > s_de THEN 'zh'
         |       WHEN s_de > s_en AND s_de > s_es AND s_de > s_fr THEN 'de'
         |       WHEN s_fr > s_en AND s_fr > s_es THEN 'fr'
         |       WHEN s_es > s_en THEN 'es'
         |       ELSE 'en' END AS lang_ngram,
         |  nw BETWEEN 5 AND 100000 AS ok_word_count,
         |  mean_len BETWEEN 2.0 AND 12.0 AS ok_mean_word_len,
         |  sym_ratio < 0.2 AS ok_symbol_ratio,
         |  CASE WHEN nw > 0 THEN alpha_w / nw >= 0.7 ELSE false END AS ok_alpha_fraction
         | FROM m)
         |SELECT doc_id, lang_ngram, ok_word_count, ok_mean_word_len,
         | ok_symbol_ratio, ok_alpha_fraction,
         | ok_word_count AND ok_mean_word_len AND ok_symbol_ratio
         |  AND ok_alpha_fraction AS keep
         |FROM f""".stripMargin
    },

    "text_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(range(1, len(w)),
        |                    i -> array_to_string(w[i:i+1], ' '))) AS g
        |      FROM t WHERE len(w) >= 2),
        |c AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY doc_id, g)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_2grams,
        | max(c) AS top_2gram_count,
        | CAST(max(c) AS DOUBLE) / CAST(sum(c) AS BIGINT) AS rep_ratio
        |FROM c GROUP BY doc_id""".stripMargin,

    "text_pii_flags" ->
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._]+@[a-zA-Z0-9.-]+')) AS BIGINT)
        |   AS n_emails,
        | CAST(len(regexp_extract_all(text, 'https?://[^ ]+')) AS BIGINT) AS n_urls,
        | CAST(len(regexp_extract_all(text, '[0-9]{6,}')) AS BIGINT) AS n_long_digit_runs
        |FROM documents""".stripMargin,

    "text_rolling_hash" -> {
      def rh(expr: String) =
        s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
           | list_transform(string_split_regex($expr, ''), c -> CAST(ascii(c) AS BIGINT))),
           | (a, b) -> (a * 31 + b) % 1000000007)""".stripMargin
      s"""SELECT doc_id, ${rh("text")} AS rhash,
         | ${rh("trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))")} AS rhash_norm
         |FROM documents""".stripMargin
    },

    // same two-window derivation: null-safe change flag on (ts, event_id)
    // order, lead() of the surviving change rows as valid_to
    "w5_scd2" ->
      """WITH o AS (
        | SELECT user_id, event_type, ts, event_id,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS prev
        | FROM events),
        |c AS (
        | SELECT user_id, event_type, ts, event_id FROM o
        | WHERE event_type IS DISTINCT FROM prev)
        |SELECT user_id, event_type, ts AS valid_from,
        | lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
        |FROM c""".stripMargin,

    // same md5-fingerprint comparison; single payload column, so the
    // null-SKIPPING concat_ws image is coalesce(text, '') — a null
    // payload fingerprints as empty in the operator, never as NULL
    "snapshot_diff" ->
      """WITH o AS (SELECT doc_id, md5(coalesce(text, '')) AS h FROM documents
        |           WHERE doc_id % 11 <> 0),
        |n AS (SELECT doc_id,
        |       CASE WHEN doc_id % 17 = 0 THEN md5(coalesce(upper(text), ''))
        |            ELSE md5(coalesce(text, '')) END AS h
        |      FROM documents WHERE doc_id % 13 <> 0)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        | CASE WHEN o.h IS NULL THEN 'added'
        |      WHEN n.h IS NULL THEN 'removed'
        |      WHEN o.h <> n.h THEN 'changed'
        |      ELSE 'unchanged' END AS status
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""".stripMargin,

    // quantile_cont shares percentile()'s index-interpolation definition
    "a11_percentiles" ->
      """SELECT l_returnflag,
        | round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        | round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
        | round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    // the sketch values are engine-internal; the query exports only the
    // within-step booleans, TRUE by the accuracy-1000 error bound (rank
    // error << any quantity value's weight run — see the queries-entry
    // comment; the exact columns hash-match quantile_cont over the raw
    // rows, percentile's frequency form interpolates the same multiset)
    "a13_weighted_quantiles" ->
      """SELECT count(DISTINCT l_quantity) AS n_quantities,
        | count(*) AS total_rows,
        | floor(quantile_cont(l_quantity, 0.5) * 10000 + 0.5) / 10000 AS p50,
        | floor(quantile_cont(l_quantity, 0.9) * 10000 + 0.5) / 10000 AS p90,
        | TRUE AS p50_within_step, TRUE AS p90_within_step
        |FROM lineitem""".stripMargin,

    "w2_lag_sessions" ->
      """WITH e AS (
        | SELECT user_id, event_id, ts,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        | FROM events),
        |f AS (
        | SELECT user_id, event_id, ts,
        |  CASE WHEN prev_ts IS NULL
        |            OR floor(epoch(ts)) - floor(epoch(prev_ts)) > 1800
        |       THEN 1 ELSE 0 END AS new_session
        | FROM e),
        |g AS (
        | SELECT user_id, ts, CAST(sum(new_session) OVER
        |   (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        | FROM f)
        |SELECT user_id, session_id, min(ts) AS session_start,
        | max(ts) AS session_end, count(*) AS n_events
        |FROM g GROUP BY user_id, session_id""".stripMargin,

    "s5_sql_view" ->
      """SELECT o_orderpriority, count(*) AS n FROM orders
        |WHERE o_totalprice > 100000 GROUP BY o_orderpriority""".stripMargin,

    "p3_limit_preview" ->
      "SELECT * FROM region ORDER BY r_regionkey LIMIT 3",

    "a6_sketch_agg" ->
      """SELECT count(DISTINCT l_partkey) AS exact_parts,
        | count(DISTINCT l_orderkey) AS exact_orders,
        | floor(median(l_extendedprice) * 100 + 0.5) / 100 AS exact_median_price,
        | TRUE AS parts_within_3rsd, TRUE AS orders_within_3rsd,
        | TRUE AS median_within_1pct
        |FROM lineitem""".stripMargin,

    // The decode stub's dimensions are pure md5-byte arithmetic
    // (Multimodal.decodeMeta): width = 1 + ((b0 & 0x7f) << 4 | (b1 & 0x0f)),
    // height the same over bytes 2/3 — re-derived here from md5 hex digits
    // so the stub stays honest until real codecs replace it.
    "mm_decode_profile" ->
      """WITH t AS (SELECT doc_id AS asset_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS h FROM documents),
        |d AS (SELECT asset_id, n_bytes, h,
        |  strpos('0123456789abcdef', substr(h,1,1))-1 AS x1,
        |  strpos('0123456789abcdef', substr(h,2,1))-1 AS x2,
        |  strpos('0123456789abcdef', substr(h,4,1))-1 AS x4,
        |  strpos('0123456789abcdef', substr(h,5,1))-1 AS x5,
        |  strpos('0123456789abcdef', substr(h,6,1))-1 AS x6,
        |  strpos('0123456789abcdef', substr(h,8,1))-1 AS x8
        | FROM t)
        |SELECT asset_id, n_bytes, h AS content_hash,
        | CAST(1 + ((x1 % 8) * 16 + x2) * 16 + x4 AS INT) AS width,
        | CAST(1 + ((x5 % 8) * 16 + x6) * 16 + x8 AS INT) AS height,
        | CAST(3 AS INT) AS channels
        |FROM d""".stripMargin,

    "mm_perceptual_hash" ->
      """WITH t AS (SELECT doc_id AS asset_id, md5(text) AS h FROM documents),
        |f AS (SELECT asset_id,
        |  list_reduce(list_transform(str_split_regex(substr(h, 1, 16), ''),
        |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS HUGEINT)),
        |    (a, b) -> a * 16 + b) AS v
        | FROM t)
        |SELECT asset_id,
        | CAST(CASE WHEN v >= 9223372036854775808 THEN v - 18446744073709551616
        |           ELSE v END AS BIGINT) AS dhash,
        | false AS decoded
        |FROM f""".stripMargin,

    "mm_binary_meta" ->
      """SELECT doc_id,
        | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | md5(text) AS content_hash,
        | CAST(octet_length(encode(text)) % 256 AS BIGINT) AS fake_width,
        | CAST(octet_length(encode(text)) // 256 AS BIGINT) AS fake_height
        |FROM documents""".stripMargin,

    "stream_tumbling_agg" ->
      """SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS window_epoch,
        | event_type, count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    // the salt is an execution detail: the oracle is the plain GROUP BY
    "skew_salted_agg" ->
      """SELECT event_type,
        | floor(sum(value)*100 + 0.5)/100 AS sum_value,
        | CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY event_type""".stripMargin,

    // 16 md5 bytes of the payload — the exact numerators of the dim=16
    // hash-chain stand-in embedding ((b-128)/128 recovers losslessly)
    "mm_features" ->
      """SELECT doc_id AS asset_id,
        | array_to_string(list_transform(range(1, 17),
        |   i -> ('0x' || substr(md5(text), 2*i - 1, 2))::BIGINT), ' ') AS emb_bytes
        |FROM documents""".stripMargin,

    // truncation fallback of the resize kernel: first 64 bytes (documents
    // are pure ASCII at every sf, so char substr == byte slice)
    "mm_resize" ->
      """SELECT doc_id AS asset_id,
        | CAST(least(octet_length(encode(text)), 64) AS BIGINT) AS n_bytes,
        | md5(substr(text, 1, 64)) AS payload_hash
        |FROM documents""".stripMargin,

    // 4 evenly-spaced byte slices per "video": [i*len/4, (i+1)*len/4)
    "mm_frames" ->
      """SELECT doc_id AS asset_id, CAST(i AS BIGINT) AS frame_index,
        | md5(substr(text, (i*length(text))//4 + 1,
        |            ((i+1)*length(text))//4 - (i*length(text))//4)) AS frame_hash
        |FROM documents, (SELECT unnest(range(0, 4)) AS i) g""".stripMargin,

    // identical interleave arithmetic, generated term-for-term
    "layout_zorder" -> {
      val terms = (0 until 16).flatMap(i => Seq(
        s"(((x >> $i) & 1) << ${2 * i})", s"(((y >> $i) & 1) << ${2 * i + 1})"))
      s"""WITH e AS (SELECT user_id,
         |  CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hr,
         |  user_id % 65536 AS x,
         |  (CAST(floor(epoch(ts)) AS BIGINT) // 3600) % 65536 AS y
         | FROM events),
         |z AS (SELECT user_id, hr, (${terms.mkString(" | ")}) AS z FROM e)
         |SELECT z >> 22 AS zbucket, count(*) AS n,
         | min(user_id) AS u_min, max(user_id) AS u_max,
         | min(hr) AS h_min, max(hr) AS h_max
         |FROM z GROUP BY 1""".stripMargin
    },

    // identical tokenization (single-space split), identical idf
    // ln(1 + (N - df + 0.5)/(df + 0.5)), k1 = 1.2, b = 0.75
    "text_bm25" ->
      """WITH st AS (
        | SELECT count(*) AS n, avg(len(string_split(text, ' '))) AS avgdl,
        |  sum(CASE WHEN list_contains(string_split(text, ' '), 'vector') THEN 1 ELSE 0 END) AS df0,
        |  sum(CASE WHEN list_contains(string_split(text, ' '), 'stream') THEN 1 ELSE 0 END) AS df1,
        |  sum(CASE WHEN list_contains(string_split(text, ' '), 'join') THEN 1 ELSE 0 END) AS df2
        | FROM documents),
        |d AS (
        | SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl,
        |  CAST(len(list_filter(string_split(text, ' '), x -> x = 'vector')) AS DOUBLE) AS tf0,
        |  CAST(len(list_filter(string_split(text, ' '), x -> x = 'stream')) AS DOUBLE) AS tf1,
        |  CAST(len(list_filter(string_split(text, ' '), x -> x = 'join')) AS DOUBLE) AS tf2
        | FROM documents)
        |SELECT doc_id, score FROM (
        | SELECT doc_id, round(
        |   ln(1 + (n - df0 + 0.5) / (df0 + 0.5)) * (tf0 * 2.2) / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
        | + ln(1 + (n - df1 + 0.5) / (df1 + 0.5)) * (tf1 * 2.2) / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
        | + ln(1 + (n - df2 + 0.5) / (df2 + 0.5)) * (tf2 * 2.2) / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl)),
        |   6) AS score
        | FROM d CROSS JOIN st) t
        |WHERE score > 0""".stripMargin,

    // the raw overlap-predicate join IS the semantic definition (half-open
    // on both sides)
    "j8_interval_overlap" ->
      """WITH wv AS (
        | SELECT DISTINCT
        |  CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 - 900 AS w_start,
        |  CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 + 4500 AS w_end
        | FROM events),
        |u AS (
        | SELECT user_id, CAST(min(floor(epoch(ts))) AS BIGINT) AS u_start,
        |  CAST(min(floor(epoch(ts))) AS BIGINT) + 10800 AS u_end
        | FROM events GROUP BY 1)
        |SELECT w_start, user_id
        |FROM wv JOIN u ON w_start < u_end AND u_start < w_end""".stripMargin,

    // identical scale rule: binding group kept whole, others thinned by
    // the same md5-prefix uniform as sample_weighted
    "sample_mix" ->
      """WITH w(lang, wt) AS (VALUES
        |  ('en', CAST(0.4 AS DOUBLE)), ('de', CAST(0.15 AS DOUBLE)),
        |  ('es', CAST(0.15 AS DOUBLE)), ('fr', CAST(0.15 AS DOUBLE)),
        |  ('zh', CAST(0.15 AS DOUBLE))),
        |c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        |s AS (SELECT min(CAST(n AS DOUBLE) / wt) AS scale FROM c JOIN w USING (lang)),
        |f AS (SELECT c.lang, least(1.0, w.wt * s.scale / CAST(c.n AS DOUBLE)) AS frac
        |      FROM c JOIN w ON c.lang = w.lang CROSS JOIN s)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN f ON d.lang = f.lang
        |WHERE CAST(CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS DOUBLE)
        |      < f.frac * 4294967296.0""".stripMargin,

    "f17_hour_gapfill" ->
      """WITH e AS (
        | SELECT user_id, CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS hr
        | FROM events),
        |b AS (SELECT user_id, min(hr) AS lo, max(hr) AS hi FROM e GROUP BY 1),
        |h AS (SELECT user_id, unnest(range(lo, hi + 3600, 3600)) AS hr FROM b),
        |c AS (SELECT user_id, hr, count(*) AS n FROM e GROUP BY 1, 2)
        |SELECT h.user_id, h.hr, coalesce(c.n, 0) AS n_events
        |FROM h LEFT JOIN c ON h.user_id = c.user_id AND h.hr = c.hr""".stripMargin,

    // the raw range-predicate join IS the semantic definition the bucketed
    // equi-join must reproduce (half-open [start, end))
    "j7_interval_join" ->
      """WITH p AS (
        | SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS pe FROM events),
        |iv AS (
        | SELECT DISTINCT
        |  CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 - 900 AS start_epoch,
        |  CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 + 4500 AS end_epoch
        | FROM events)
        |SELECT event_id, start_epoch
        |FROM p JOIN iv ON pe >= start_epoch AND pe < end_epoch""".stripMargin,

    // identical hash-uniform: 32-bit md5 prefix / 2^32 < clamp(weight, 0, 1)
    "sample_weighted" ->
      """SELECT doc_id FROM (
        | SELECT doc_id,
        |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h,
        |  least(greatest(CAST(len(string_split(text, ' ')) AS DOUBLE) / 60.0, 0.0), 1.0) AS p
        | FROM documents) t
        |WHERE CAST(h AS DOUBLE) < p * 4294967296.0""".stripMargin,

    // the single-window ORDER BY formulation IS the semantic definition the
    // distributed two-phase scan must reproduce exactly
    "pack_materialize" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |vc AS (SELECT tok, count(*) AS c FROM tok GROUP BY 1),
        |vocab AS (SELECT tok, CAST(row_number() OVER (ORDER BY c DESC, tok ASC) AS BIGINT) AS id
        |          FROM vc ORDER BY c DESC, tok ASC LIMIT 24),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |tokd AS (SELECT doc_id, unnest(generate_series(1, len(ts))) AS ord, ts FROM toks),
        |sel AS (SELECT doc_id, ord, ts[ord] AS tok FROM tokd),
        |enc AS (SELECT s.doc_id, list(coalesce(v.id, 0) ORDER BY s.ord) AS ids
        |        FROM sel s LEFT JOIN vocab v USING (tok) GROUP BY s.doc_id),
        |t AS (SELECT doc_id, ids, CAST(len(ids) AS BIGINT) AS n FROM enc),
        |c AS (SELECT doc_id, ids, n, CAST(sum(n) OVER (ORDER BY doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM t),
        |d AS (SELECT doc_id, ids, n, cum - n AS s0 FROM c WHERE n > 0),
        |sq AS (SELECT doc_id, ids, n, s0,
        |        unnest(generate_series(s0 // 512, (s0 + n - 1) // 512)) AS seq_id FROM d),
        |parts AS (SELECT seq_id, s0,
        |        list_slice(ids, CAST(greatest(seq_id*512 - s0, 0) + 1 AS BIGINT),
        |                        CAST(least((seq_id+1)*512, s0 + n) - s0 AS BIGINT)) AS part FROM sq)
        |SELECT seq_id, array_to_string(flatten(list(part ORDER BY s0)), ' ') AS ids,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(len(flatten(list(part ORDER BY s0))) AS BIGINT) AS n_tokens
        |FROM parts GROUP BY seq_id""".stripMargin,

    "pack_sequences" ->
      """WITH t AS (
        | SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        | FROM documents),
        |c AS (
        | SELECT doc_id, n_tokens,
        |  CAST(sum(n_tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        | FROM t)
        |SELECT doc_id, n_tokens, cum - n_tokens AS start_offset,
        | (cum - n_tokens) // 512 AS seq_id,
        | (cum - n_tokens) % 512 AS seq_offset
        |FROM c""".stripMargin,

    // the definition itself: global row_number over the seed-keyed 32-bit
    // md5 prefix (id tie-break), minus one
    "order_epoch_shuffle" ->
      """SELECT doc_id, source,
        | row_number() OVER (ORDER BY
        |   ('0x' || substr(md5('7_' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
        |   doc_id) - 1 AS shuffle_pos
        |FROM documents""".stripMargin,

    // same seeded rank with the stage bin prepended to the global order;
    // // is DuckDB floor division, mirroring Spark's DIV
    "order_curriculum" ->
      """WITH b AS (SELECT doc_id,
        |            len(string_split(text, ' ')) // 16 AS bin
        |           FROM documents)
        |SELECT doc_id, CAST(bin AS BIGINT) AS bin,
        | row_number() OVER (ORDER BY bin,
        |   ('0x' || substr(md5('7_' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
        |   doc_id) - 1 AS curriculum_pos
        |FROM b""".stripMargin,

    // identical within-source seeded rank + source-index arithmetic;
    // sources order by their ASCII string form in both engines
    "order_interleave" ->
      """WITH r AS (SELECT doc_id, source,
        |  row_number() OVER (PARTITION BY source ORDER BY
        |    ('0x' || substr(md5('13_' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
        |    doc_id) - 1 AS srk
        |  FROM documents),
        |s AS (SELECT source, row_number() OVER (ORDER BY source) - 1 AS sidx
        |      FROM (SELECT DISTINCT source FROM documents)),
        |n AS (SELECT count(*) AS ns FROM (SELECT DISTINCT source FROM documents))
        |SELECT r.doc_id, r.source, CAST(srk AS BIGINT) AS source_rank,
        |  CAST(srk * ns + sidx AS BIGINT) AS interleave_pos
        |FROM r JOIN s USING (source) CROSS JOIN n""".stripMargin,

    // same round-robin of the seed-11 order
    "order_shards" ->
      """WITH r AS (SELECT doc_id, row_number() OVER (ORDER BY
        |   ('0x' || substr(md5('11_' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
        |   doc_id) - 1 AS pos FROM documents)
        |SELECT pos % 8 AS shard, count(*) AS n,
        | min(pos) AS pos_min, max(pos) AS pos_max
        |FROM r GROUP BY 1""".stripMargin,

    // running token total in the same seed-keyed order, cut at the budget
    "order_token_budget" ->
      """WITH t AS (
        | SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  ('0x' || substr(md5('3_' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
        | FROM documents),
        |c AS (
        | SELECT doc_id, n_tokens,
        |  CAST(sum(n_tokens) OVER (ORDER BY h, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        | FROM t)
        |SELECT doc_id, n_tokens, cum_tokens FROM c WHERE cum_tokens <= 15000""".stripMargin,

    "order_budget_per_source" ->
      """WITH t AS (
        | SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  ('0x' || substr(md5('5_' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
        | FROM documents),
        |c AS (
        | SELECT doc_id, source, n_tokens,
        |  CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        | FROM t)
        |SELECT doc_id, source, n_tokens, cum_tokens FROM c
        |WHERE cum_tokens <= 800""".stripMargin,

    "w4_session_window" ->
      """WITH e AS (
        | SELECT user_id, ts, value,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        | FROM events),
        |f AS (
        | SELECT user_id, ts, value,
        |  CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) >= 1800
        |       THEN 1 ELSE 0 END AS new_session
        | FROM e),
        |g AS (
        | SELECT user_id, ts, value, sum(new_session) OVER
        |   (PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        | FROM f)
        |SELECT user_id, min(ts) AS session_start,
        | max(ts) + INTERVAL 30 MINUTE AS session_end,
        | count(*) AS n_events, round(sum(value), 2) AS total_value
        |FROM g GROUP BY user_id, sid""".stripMargin,

    "text_source_stats" ->
      """SELECT source, lang, count(*) AS n_docs,
        | CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        | floor(avg(n_chars) * 100 + 0.5) / 100 AS avg_chars
        |FROM documents GROUP BY source, lang""".stripMargin,

    // identical weight derivation: 32-bit md5 prefix of "w_<bucket>"
    // mapped to [-1000, 1000]; integer feature sum, one division + exp
    "text_quality_model" ->
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |           FROM documents),
         |h AS (SELECT DISTINCT doc_id,
         |       ('0x' || substr(md5(tok), 1, 8))::BIGINT % 2147483647 AS h31 FROM t),
         |w AS (SELECT doc_id,
         |       ('0x' || substr(md5('w_' ||
         |          CAST(h31 % ${TextAnalysis.QualityModelBuckets} AS VARCHAR)),
         |         1, 8))::BIGINT % 2001 - 1000 AS wgt FROM h)
         |SELECT doc_id,
         | round(1.0 / (1.0 + exp(-(CAST(sum(wgt) AS DOUBLE) / (1000.0 * count(*))))), 6)
         |   AS lm_quality_score
         |FROM w GROUP BY doc_id""".stripMargin,

    // same rank/tie order (count desc, token asc); exact integer cumsum
    "vocab_coverage" ->
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |c AS (SELECT token, count(*) AS cnt FROM t GROUP BY token),
        |tot AS (SELECT sum(cnt) AS total FROM c),
        |r AS (SELECT token, cnt,
        |       row_number() OVER (ORDER BY cnt DESC, token ASC) AS rank,
        |       sum(cnt) OVER (ORDER BY cnt DESC, token ASC
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM c)
        |SELECT rank, token, CAST(cnt AS BIGINT) AS cnt,
        | round(CAST(cum AS DOUBLE) / total, 6) AS cum_share
        |FROM r CROSS JOIN tot WHERE rank <= 100""".stripMargin,

    // Full-fidelity re-derivation of the reference silver transform
    // (python_scripts.py:169-205) from the raw sample JSON, including the
    // add_move_numbers UDF (udfs.py:53-75) as a DuckDB list_transform.
    // UD2 enrichment: the book match re-derived relationally — a book line
    // matches a game iff its trimmed pgn equals the game's first-np tokens
    // rejoined (token-boundary-exact, like OpeningMatcher's progressive
    // key); per url the deepest match wins, ties to max name (the
    // max_by(name, (moves, name)) tie-break — a flat arg-max over all
    // matches equals Spark's per-game-then-per-url two-stage because depth
    // dominates the struct order). Slug fallback for unmatched urls.
    "chess_dim_openings" ->
      """WITH e AS (
        | SELECT regexp_extract(pgn, '\[ECOUrl "(.*?)"', 1) AS pgn_eco_url,
        |  regexp_extract(pgn, '\[ECO "(.*?)"', 1) AS pgn_eco,
        |  regexp_extract_all(pgn, '\. (.*?) \{\[', 1) AS m
        | FROM read_json_auto('/root/reference/dev_files/Data/2024-01/games.json')
        |), g AS (
        | SELECT pgn_eco_url, string_split(trim(array_to_string(
        |   list_transform(range(1, CAST((len(m)+1)//2 AS INT) + 1),
        |     i -> CAST(i AS VARCHAR) || '. ' || m[2*i-1] || ' ' ||
        |       coalesce(m[2*i], '')), ' ')), ' ') AS w
        | FROM e
        |), book AS (
        | SELECT trim(pgn) AS p, name, len(string_split(trim(pgn), ' ')) AS np
        | FROM read_csv_auto('/root/reference/dev_files/Data/openings.csv', header=true)
        |), matches AS (
        | SELECT g.pgn_eco_url, b.name, b.np
        | FROM g JOIN book b ON len(g.w) >= b.np
        |  AND b.p = array_to_string(g.w[1:b.np], ' ')
        |), best AS (
        | SELECT pgn_eco_url AS matched_url,
        |  max_by(name, lpad(CAST(np AS VARCHAR), 4, '0') || '|' || name) AS csv_name
        | FROM matches GROUP BY pgn_eco_url
        |), du AS (SELECT DISTINCT pgn_eco_url, pgn_eco FROM e
        |), named AS (
        | SELECT du.pgn_eco_url,
        |  coalesce(b.csv_name,
        |    replace(regexp_extract(du.pgn_eco_url, '([^/]*)$', 1), '-', ' ')) AS opening_name,
        |  du.pgn_eco AS eco_code
        | FROM du LEFT JOIN best b ON du.pgn_eco_url = b.matched_url)
        |SELECT DISTINCT pgn_eco_url, opening_name,
        | CASE WHEN strpos(opening_name, ':') > 0
        |   THEN split_part(opening_name, ':', 1) ELSE opening_name END AS opening_family,
        | CASE WHEN strpos(opening_name, ':') > 0
        |   THEN substr(opening_name, strpos(opening_name, ':') + 1)
        |   ELSE opening_name END AS opening_variation,
        | eco_code
        |FROM named""".stripMargin,

    // e2e analytics rollup (the reference's headline dashboard,
    // README.md:29-33): win rate by opening family over the month's merged
    // gold fact — re-derived from the raw 514-game JSON exactly like the
    // chess_gold oracle (the sample has unique game urls, so the
    // latest-wins merge is the identity and the raw projection IS the
    // fact). dim_openings reduced to its key-determining columns; the
    // slug-parsed opening name has no colon, so family == full name.
    "chess_e2e" ->
      """WITH e AS (
        | SELECT regexp_extract(pgn, '\[White "(.*?)"', 1) AS pgn_white_user,
        |  white.result AS white_result, black.result AS black_result,
        |  regexp_extract(pgn, '\[ECOUrl "(.*?)"', 1) AS pgn_eco_url,
        |  regexp_extract(pgn, '\[ECO "(.*?)"', 1) AS pgn_eco
        | FROM read_json_auto('/root/reference/dev_files/Data/2024-01/games.json')
        |), fct AS (
        | SELECT CASE WHEN pgn_white_user = 'Rhythmbear1'
        |          THEN white_result ELSE black_result END AS my_result,
        |  pgn_eco_url AS opening_url
        | FROM e
        |), dimo AS (
        | SELECT DISTINCT pgn_eco_url, pgn_eco,
        |  replace(regexp_extract(pgn_eco_url, '([^/]*)$', 1), '-', ' ') AS opening_family
        | FROM e
        |), res AS (SELECT * FROM (VALUES
        |  ('win','Win'),('checkmated','Loss'),('agreed','Draw'),('repetition','Draw'),
        |  ('timeout','Win'),('resigned','Loss'),('stalemate','Draw'),('lose','Loss'),
        |  ('insufficient','Draw'),('50move','Draw'),('abandoned','Draw'),
        |  ('kingofthehill','Win'),('threecheck','Win'),('timevsinsufficient','Draw'),
        |  ('bughousepartnerlose','Loss')) t(result_code, result))
        |SELECT dimo.opening_family, count(*) AS games,
        | CAST(sum(CASE WHEN res.result = 'Win' THEN 1 ELSE 0 END) AS BIGINT) AS wins,
        | CAST(sum(CASE WHEN res.result = 'Loss' THEN 1 ELSE 0 END) AS BIGINT) AS losses,
        | CAST(sum(CASE WHEN res.result = 'Draw' THEN 1 ELSE 0 END) AS BIGINT) AS draws,
        | avg(CAST(CASE WHEN res.result = 'Win' THEN 1 ELSE 0 END AS DOUBLE)) AS win_rate
        |FROM fct LEFT JOIN res ON fct.my_result = res.result_code
        |LEFT JOIN dimo ON fct.opening_url = dimo.pgn_eco_url
        |GROUP BY dimo.opening_family""".stripMargin,

    "chess_silver" ->
      """WITH e AS (
        | SELECT url AS game_url, time_control, rated, time_class, rules,
        |  white.rating AS white_rating, white.result AS white_result,
        |  black.rating AS black_rating, black.result AS black_result,
        |  regexp_extract(pgn, '\[Event "(.*?)"', 1) AS pgn_event,
        |  regexp_extract(pgn, '\[Site "(.*?)"', 1) AS pgn_site,
        |  CAST(try_strptime(replace(regexp_extract(pgn, '\[Date "(.*?)"', 1), '.', '/'), '%Y/%m/%d') AS DATE) AS game_date,
        |  regexp_extract(pgn, '\[White "(.*?)"', 1) AS pgn_white_user,
        |  regexp_extract(pgn, '\[Black "(.*?)"', 1) AS pgn_black_user,
        |  regexp_extract(pgn, '\[Result "(.*?)"', 1) AS pgn_result,
        |  regexp_extract(pgn, '\[CurrentPosition "(.*?)"', 1) AS pgn_current_position,
        |  regexp_extract(pgn, '\[Timezone "(.*?)"', 1) AS pgn_timezone,
        |  regexp_extract(pgn, '\[ECO "(.*?)"', 1) AS pgn_eco,
        |  regexp_extract(pgn, '\[ECOUrl "(.*?)"', 1) AS pgn_eco_url,
        |  regexp_extract(pgn, '\[StartTime "(.*?)"', 1) AS st,
        |  regexp_extract(pgn, '\[EndTime "(.*?)"', 1) AS et,
        |  CAST(try_strptime(replace(regexp_extract(pgn, '\[EndDate "(.*?)"', 1), '.', '/'), '%Y/%m/%d') AS DATE) AS end_game_date,
        |  regexp_extract_all(pgn, '\. (.*?) \{\[', 1) AS m
        | FROM read_json_auto('/root/reference/dev_files/Data/2024-01/games.json'))
        |SELECT game_url, time_control, rated, time_class, rules,
        | white_rating, white_result, black_rating, black_result,
        | pgn_event, pgn_site, game_date, pgn_white_user, pgn_black_user,
        | pgn_result, pgn_current_position, pgn_timezone, pgn_eco, pgn_eco_url,
        | try_strptime(strftime(game_date, '%Y-%m-%d') || ' ' || st, '%Y-%m-%d %H:%M:%S') AS start_time,
        | try_strptime(strftime(end_game_date, '%Y-%m-%d') || ' ' || et, '%Y-%m-%d %H:%M:%S') AS end_time,
        | end_game_date,
        | array_to_string(m, ' ') AS pgn_raw,
        | array_to_string(list_transform(range(1, CAST((len(m)+1)//2 AS INT) + 1),
        |   i -> CAST(i AS VARCHAR) || '. ' || m[2*i-1] || ' ' ||
        |     coalesce(m[2*i], '')), ' ') AS pgn_trans
        |FROM e""".stripMargin,

    // Reference gold projection + star join (python_scripts.py:533-575):
    // format_time_control / get_pgn_depth UDFs inlined; dim_date and
    // dim_openings reduced to their key-determining columns (opening name /
    // family / variation are pure functions of pgn_eco_url, so DISTINCT
    // (url, eco) reproduces the dim's exact row multiplicity).
    "chess_gold" ->
      """WITH e AS (
        | SELECT url AS game_url, time_control, time_class,
        |  white.rating AS white_rating, white.result AS white_result,
        |  black.rating AS black_rating, black.result AS black_result,
        |  CAST(try_strptime(replace(regexp_extract(pgn, '\[Date "(.*?)"', 1), '.', '/'), '%Y/%m/%d') AS DATE) AS game_date,
        |  regexp_extract(pgn, '\[White "(.*?)"', 1) AS pgn_white_user,
        |  regexp_extract(pgn, '\[Black "(.*?)"', 1) AS pgn_black_user,
        |  regexp_extract(pgn, '\[CurrentPosition "(.*?)"', 1) AS pgn_current_position,
        |  regexp_extract(pgn, '\[ECO "(.*?)"', 1) AS pgn_eco,
        |  regexp_extract(pgn, '\[ECOUrl "(.*?)"', 1) AS pgn_eco_url,
        |  regexp_extract(pgn, '\[StartTime "(.*?)"', 1) AS st,
        |  regexp_extract(pgn, '\[EndTime "(.*?)"', 1) AS et,
        |  CAST(try_strptime(replace(regexp_extract(pgn, '\[EndDate "(.*?)"', 1), '.', '/'), '%Y/%m/%d') AS DATE) AS end_game_date,
        |  regexp_extract_all(pgn, '\. (.*?) \{\[', 1) AS m
        | FROM read_json_auto('/root/reference/dev_files/Data/2024-01/games.json')
        |), silver AS (
        | SELECT *,
        |  try_strptime(strftime(game_date, '%Y-%m-%d') || ' ' || st, '%Y-%m-%d %H:%M:%S') AS start_time,
        |  try_strptime(strftime(end_game_date, '%Y-%m-%d') || ' ' || et, '%Y-%m-%d %H:%M:%S') AS end_time,
        |  array_to_string(list_transform(range(1, CAST((len(m)+1)//2 AS INT) + 1),
        |    i -> CAST(i AS VARCHAR) || '. ' || m[2*i-1] || ' ' ||
        |      coalesce(m[2*i], '')), ' ') AS pgn_trans,
        |  CASE WHEN TRY_CAST(split_part(time_control, '+', 1) AS BIGINT) IS NULL
        |   THEN time_control
        |  WHEN strpos(time_control, '+') > 0
        |   THEN CAST(CAST(floor(CAST(split_part(time_control, '+', 1) AS BIGINT) / 60) AS BIGINT) AS VARCHAR)
        |        || '|' || split_part(time_control, '+', 2)
        |   ELSE CAST(CAST(floor(CAST(time_control AS BIGINT) / 60) AS BIGINT) AS VARCHAR) END AS fmt_tc
        | FROM e
        |), fct AS (
        | SELECT game_url, game_date, start_time, end_time,
        |  CAST(date_diff('second', start_time, end_time) AS BIGINT) AS game_duration_secs,
        |  fmt_tc AS time_control,
        |  CASE WHEN pgn_white_user = 'Rhythmbear1' THEN 'white' ELSE 'black' END AS my_color,
        |  CASE WHEN pgn_white_user = 'Rhythmbear1' THEN pgn_white_user ELSE pgn_black_user END AS my_username,
        |  CASE WHEN pgn_white_user = 'Rhythmbear1' THEN pgn_black_user ELSE pgn_white_user END AS opponent_username,
        |  CASE WHEN pgn_white_user = 'Rhythmbear1' THEN white_rating ELSE black_rating END AS my_rating,
        |  CASE WHEN pgn_white_user = 'Rhythmbear1' THEN black_rating ELSE white_rating END AS opponent_rating,
        |  CASE WHEN pgn_white_user = 'Rhythmbear1' THEN white_result ELSE black_result END AS my_result,
        |  CASE WHEN pgn_white_user = 'Rhythmbear1' THEN black_result ELSE white_result END AS opponent_result,
        |  pgn_current_position AS game_fen,
        |  pgn_eco_url AS opening_url,
        |  pgn_trans AS game_pgn,
        |  len(regexp_extract_all(pgn_trans, '\d+\.', 0)) AS moves,
        |  TIMESTAMP '2024-02-01 00:00:00' AS last_updated
        | FROM silver
        |), dim_date AS (SELECT DISTINCT game_date FROM silver
        |), dim_openings AS (SELECT DISTINCT pgn_eco_url, pgn_eco FROM silver
        |), dim_results AS (SELECT * FROM (VALUES ('win'),('checkmated'),('agreed'),
        |  ('repetition'),('timeout'),('resigned'),('stalemate'),('lose'),
        |  ('insufficient'),('50move'),('abandoned'),('kingofthehill'),
        |  ('threecheck'),('timevsinsufficient'),('bughousepartnerlose')) t(result_code)
        |), dim_tc AS (SELECT DISTINCT fmt_tc AS time_control, time_class FROM silver)
        |SELECT fact.* FROM fct AS fact
        | LEFT JOIN dim_date dd ON fact.game_date = dd.game_date
        | LEFT JOIN dim_openings dop ON fact.opening_url = dop.pgn_eco_url
        | LEFT JOIN dim_results drm ON fact.my_result = drm.result_code
        | LEFT JOIN dim_results dro ON fact.opponent_result = dro.result_code
        | LEFT JOIN dim_tc dtc ON fact.time_control = dtc.time_control""".stripMargin
  )
}
