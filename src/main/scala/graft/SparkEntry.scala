package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{GraftSession, Tables}
import graft.dedup.{Dedup, MinHash, SimHash}
import graft.functions.{TextFunctions => TF, TimeTokens, VectorFunctions => VF}
import graft.multimodal.{CodecJarBuilder, Multimodal}
import graft.operators._
import graft.similarity.{Knn, Quantization}
import graft.streaming.StreamingEvents

/**
 * Driver contract: one entry per implemented operator from SURVEY.md §2,
 * each expressed over the driver's synthetic testdata tables, with an ANSI
 * SQL oracle (DuckDB) in [[oracleSql]].
 *
 * Query names carry the SURVEY §2 inventory ids they exercise (a1 = §2.4 A1,
 * w13 = §2.5 W13, j7 = §2.3 J7, f1 = §2.9 F1, ...); text/dedup/knn queries
 * cover the LLM-pipeline extensions.
 *
 * Convention for oracle parity: every aggregate/computed column is aliased
 * identically on both sides; doubles are rounded (sum/avg drift between
 * engines is below the rounding grain); integer outputs are BIGINT on both
 * sides; session timezone is UTC.
 */
object SparkEntry {

  private def T(s: SparkSession, dir: String, n: String): DataFrame = {
    GraftSession.tune(s)
    Tables.load(s, dir, n)
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("j1_revenue_by_nation")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- queries

  /** Replay-certification HARNESS queries: each runs a full bounded
    * Structured Streaming replay (state cleanup, staged per-batch parquet
    * writes, a real file-source stream with per-batch triggers, bucketed
    * ledger appends ×N batches), so its wall time is dominated by fixed
    * stream machinery, not data-scaled batch work — at sf0.1 they sit an
    * order of magnitude above equivalent batch queries and ~70% of the
    * suite total (BENCH_NOTES r14). The bench JSON tags them
    * (`harness_queries`, `total_ex_harness`) so round-over-round total
    * comparisons stay interpretable without reading BENCH_NOTES. */
  val harnessQueries: Set[String] = Set(
    "sq1_streaming_exact_dedup", "sq2_streaming_neardup",
    "sq3_streaming_dedup_retention", "sq4_streaming_neardup_retention",
    "sq5_streaming_sessionize")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // §2.4 A1/A3 + §2.1 S1: scan → hash aggregate (TPC-H Q1 shape).
    "a1_pricing_summary" -> ((s, dir) => {
      T(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("sum_disc_price"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          count(lit(1)).as("count_order"))
    }),

    // §2.2 P5: predicate pushdown to the parquet scan (TPC-H Q6 shape).
    "p5_filtered_revenue" -> ((s, dir) => {
      T(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("date").between(lit("1996-01-01"), lit("1997-12-31"))
          && col("l_discount").between(0.02, 0.08) && col("l_quantity") < 25)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
          count(lit(1)).as("n_rows"))
    }),

    // §2.3 J1/J2/J14: multi-way equi join, dimensions broadcast. Revenue is
    // pre-aggregated per orderkey BEFORE the join: the fact table collapses
    // ~4:1 before anything shuffles, and because each orderkey then appears
    // exactly once, countDistinct(o_orderkey) becomes a plain count — no
    // Expand node doubling the joined rows through the final aggregate.
    "j1_revenue_by_nation" -> ((s, dir) => {
      val li = T(s, dir, "lineitem")
      val o = T(s, dir, "orders")
      val c = T(s, dir, "customer")
      val n = broadcast(T(s, dir, "nation"))
      val r = broadcast(T(s, dir, "region"))
      val perOrder = li.groupBy("l_orderkey")
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("__rev"))
      perOrder.join(o, perOrder("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
          round(sum(col("__rev")), 2).as("revenue"),
          count(lit(1)).as("n_orders"))
    }),

    // §2.5 W12: top-1-per-group via row_number (WindowGroupLimit pushdown).
    "w12_latest_order_per_customer" -> ((s, dir) => {
      TopKPerGroup.top1(T(s, dir, "orders"), Seq("o_custkey"),
          Seq(col("o_orderdate").desc, col("o_orderkey").desc))
        .select(col("o_custkey"), col("o_orderkey").as("latest_orderkey"),
          round(col("o_totalprice"), 2).as("latest_totalprice"))
    }),

    // §2.5 W13: gap-and-island sessionization (1h inactivity gap).
    "w13_sessionize" -> ((s, dir) => {
      val ev = T(s, dir, "events")
      Sessionize.byGap(ev, Seq("user_id"), col("ts"),
          Seq(col("ts"), col("event_id")), gapSeconds = 3600)
        .groupBy("user_id")
        .agg(max("session_id").cast("long").as("n_sessions"),
          count(lit(1)).as("n_events"))
    }),

    // §2.3 J7 + §2.5 W12: as-of join — latest order at or before each event.
    // union+sort as-of (one shuffle, linear output) — see TemporalJoins
    // .asOfBackwardSorted; join+top-1 variant kept as asOfBackward (J7 both).
    "j7_asof_latest_order" -> ((s, dir) => {
      val ev = T(s, dir, "events").select("event_id", "user_id", "ts")
      val o = T(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate").cast("timestamp").as("o_ts"))
      TemporalJoins.asOfBackwardSorted(ev, o, Seq("user_id"), Seq("o_custkey"),
          col("ts"), col("o_ts"),
          valueCols = Seq("o_orderkey", "o_ts"), tieBreakAsc = Seq("o_orderkey"))
        .select(col("event_id"), col("user_id"), col("o_orderkey").as("matched_orderkey"),
          col("o_ts").cast("date").as("matched_orderdate"))
    }),

    // §2.3 J6: equi key + range residual join (ship within 30 days of order).
    "j6_ship_within_30d" -> ((s, dir) => {
      val li = T(s, dir, "lineitem")
      val o = T(s, dir, "orders")
      li.join(o, li("l_orderkey") === o("o_orderkey")
          && li("l_shipdate") >= o("o_orderdate")
          && li("l_shipdate") <= date_add(o("o_orderdate").cast("date"), 30).cast("timestamp_ntz"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_shipped"),
          round(avg(datediff(col("l_shipdate").cast("date"), col("o_orderdate").cast("date"))), 4)
            .as("avg_lag_days"))
    }),

    // §2.5 W3/W4: chronological rank per customer + alternating segment.
    "w3_order_rank_segment" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      T(s, dir, "orders")
        .withColumn("order_rank", dense_rank().over(w).cast("long"))
        .withColumn("order_segment", (col("order_rank") % 2 + 1).cast("long"))
        .select("o_custkey", "o_orderkey", "order_rank", "order_segment")
    }),

    // §2.5 W7: lag — days since the customer's previous order.
    "w7_order_gap_days" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      T(s, dir, "orders")
        .withColumn("gap_days",
          datediff(col("o_orderdate").cast("date"), lag(col("o_orderdate"), 1).over(w).cast("date"))
            .cast("long"))
        .select("o_custkey", "o_orderkey", "gap_days")
    }),

    // §2.9 F1: cehr-bert ATT time tokens over inter-order gaps (pure Column
    // expression — the reference uses a Python UDF).
    "f1_att_tokens" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      T(s, dir, "orders")
        .withColumn("gap_days",
          datediff(col("o_orderdate").cast("date"), lag(col("o_orderdate"), 1).over(w).cast("date")))
        .filter(col("gap_days").isNotNull)
        .withColumn("att_token", TimeTokens.cehrBertToken(col("gap_days")))
        .groupBy("att_token")
        .agg(count(lit(1)).as("n"))
    }),

    // §2.4 A2/A3/A15: per-key frequency + distinct-count aggregation.
    "a2_event_type_counts" -> ((s, dir) => {
      T(s, dir, "events")
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("ts").cast("date")).as("n_days"))
    }),

    // §2.4 A4: hourly rollup — min timestamp + mean value per hour bucket.
    "a4_hourly_rollup" -> ((s, dir) => {
      T(s, dir, "events")
        .groupBy(col("user_id"), col("event_type"),
          col("ts").cast("date").as("event_date"), hour(col("ts")).cast("long").as("event_hour"))
        .agg(unix_timestamp(min(col("ts"))).as("min_epoch_s"),
          round(avg("value"), 4).as("avg_value"),
          count(lit(1)).as("n"))
    }),

    // §2.4 A9: conditional aggregation ratio.
    "a9_value_ratio" -> ((s, dir) => {
      T(s, dir, "events")
        .groupBy("event_type")
        .agg(round(avg(when(col("value") > 50, 1.0).otherwise(0.0)), 4).as("high_ratio"),
          count(lit(1)).as("n"))
    }),

    // §2.4 A10: outlier-trimmed stats via SORT-BASED exact rank selection
    // (operators/ExactQuantiles.scala — see its scaladoc for why the exact
    // `percentile` UDAF's per-group OpenHashMap merge is the wrong shape at
    // scale and how bit-exactness vs percentile/quantile_cont is preserved).
    //
    // The median of the TRIMMED multiset reuses the SAME cumulative table:
    // trimmed index j is full index j + b where b = Σcount(value < lo), so
    // no second sort — only the interpolation weights live in trimmed space.
    "a10_percentile_stats" -> ((s, dir) => {
      import graft.operators.ExactQuantiles
      val flag = Seq("l_returnflag")
      // cumulative multiset positions: row covers 0-based indices
      // [__start, __end) of its group's sorted-with-frequency multiset;
      // totalCol rides the cumulate sort's own WindowExec (r8), which is
      // what lets the r9 trimmedMoments fusion below decide the trim
      // predicate from indices alone.
      // cumulateFromFact (r8): the plain cumulate window partitions by
      // GROUP, so its sort parallelism is the group count — THREE tasks
      // here no matter the cluster; measured at sf1/32 cores that boundary
      // already dominates (12.0 s plain vs 5.9 s range-parallel), while at
      // sf0.1 the range shape's extra exchange LOSES (4.0 vs 3.0 s). The
      // two-tier probe (free metadata count, then one lightweight HLL pass
      // only when the fact table is big enough for the choice to matter)
      // picks per dataset. BENCH_NOTES "a10 shape" has the numbers.
      val cum = ExactQuantiles.cumulateFromFact(
          T(s, dir, "lineitem"), flag, "l_extendedprice", totalCol = Some("__n"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      def vAt(idx: Column): Column = ExactQuantiles.valueAt(idx, "l_extendedprice")
      def interp(pos: Column, lo: Column, hi: Column, vLo: Column, vHi: Column): Column =
        ExactQuantiles.interpolate(pos, lo, hi, vLo, vHi)
      // r9 pass fusion: the trim predicate is index arithmetic (totalCol
      // puts n on every row), so ONE aggregation computes the trimmed
      // moments AND the below-lo count — no separate bounds pass, no
      // bounds join; boundary covering rows are re-decided by the exact
      // value comparisons post-agg (ExactQuantiles.trimmedMoments, proved
      // equal to the two-pass shape by ExactQuantilesSpec). The persisted
      // cumulated table now has exactly TWO consumers.
      // greatest(…, 0) below guards the single-pass variance against
      // catastrophic cancellation on near-constant groups (sqrt of a tiny
      // negative → NaN where the oracle's Welford stddev returns 0.00).
      val m = ExactQuantiles.trimmedMoments(cum, flag, "l_extendedprice",
          0.01, 0.99)
        // a group whose trim window admits no value must VANISH (the old
        // filter-then-aggregate shape and the oracle both drop it), not
        // surface as a zero-stats row
        .filter(col("__nt") > 0)
        // the median's multiset indices derive from __nt/__b alone, so they
        // ride along as plain columns: broadcasting THIS table back onto the
        // cumulated table makes one probe pass answer both "fetch the two
        // covering values" and "carry the trimmed moments" — no separate
        // medIdx projection, no second broadcast join, no final m⋈median join
        .withColumn("__p50", (col("__nt") - 1).cast("double") * lit(0.5))
        .withColumn("__l50", floor(col("__p50")))
        .withColumn("__h50", ceil(col("__p50")))
      graft.core.OperatorCaches.owned(
        cum.join(broadcast(m), Seq("l_returnflag"))
          .groupBy("l_returnflag")
          // the broadcast columns are constant within each group, so max()
          // is a pure carry, not a reduction
          .agg(max(col("__nt")).as("__nt"), max(col("__s1")).as("__s1"),
            max(col("__s2")).as("__s2"), max(col("__p50")).as("__p50"),
            max(col("__l50")).as("__l50"), max(col("__h50")).as("__h50"),
            vAt(col("__l50") + col("__b")).as("__v50l"),
            vAt(col("__h50") + col("__b")).as("__v50h"))
          .select(col("l_returnflag"),
            round(col("__s1") / col("__nt"), 2).as("trimmed_mean"),
            round(when(col("__nt") > 1,
              sqrt(greatest((col("__s2") - col("__s1") * col("__s1") / col("__nt")) /
                (col("__nt") - 1), lit(0.0)))), 2).as("trimmed_stddev"),
            col("__nt").as("n_trimmed"),
            round(interp(col("__p50"), col("__l50"), col("__h50"),
              col("__v50l"), col("__v50h")), 2).as("median")),
        Seq(cum))
    }),

    // §2.3 J13: EXISTS semi join.
    "j13_exists_big_spenders" -> ((s, dir) => {
      val c = T(s, dir, "customer")
      val big = T(s, dir, "orders").filter(col("o_totalprice") > 400000)
      c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
    }),

    // §2.3 J3/J11: anti join — customers with no very large order.
    "j3_anti_no_big_orders" -> ((s, dir) => {
      val c = T(s, dir, "customer")
      val big = T(s, dir, "orders").filter(col("o_totalprice") > 450000)
      c.join(big, c("c_custkey") === big("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    }),

    // §2.7 U2: by-name union of differently-ordered projections.
    "u2_union_by_name" -> ((s, dir) => {
      val ev = T(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click").select("user_id", "event_id")
      val purchases = ev.filter(col("event_type") === "purchase").select("event_id", "user_id")
      clicks.unionByName(purchases)
        .groupBy("user_id").agg(count(lit(1)).as("n"))
    }),

    // §2.4 A13: iterative transitive closure (supplier→nation→region DAG).
    "a13_transitive_closure" -> ((s, dir) => {
      val sup = T(s, dir, "supplier")
        .select(concat(lit("S"), col("s_suppkey")).as("child"),
          concat(lit("N"), col("s_nationkey")).as("parent"))
      val nat = T(s, dir, "nation")
        .select(concat(lit("N"), col("n_nationkey")).as("child"),
          concat(lit("R"), col("n_regionkey")).as("parent"))
      TransitiveClosure.closure(sup.unionByName(nat), "child", "parent")
        .select(col("descendant"), col("ancestor"), col("depth").cast("long").as("depth"))
    }),

    // §1.3 + §2.4 A1: struct-pack → collect → sort → pluck sequence assembly.
    "seq1_event_sequences" -> ((s, dir) => {
      T(s, dir, "events")
        .groupBy("user_id")
        .agg(
          concat_ws(",",
            transform(array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
              x => x.getField("event_type"))).as("seq"),
          count(lit(1)).as("n_events"))
    }),

    // §2.5 W14 at scale: dense global ids WITHOUT a single-partition window.
    "w14_scalable_ids" -> ((s, dir) => {
      IdAllocator.sequentialId(T(s, dir, "orders"),
          Seq(col("o_orderdate"), col("o_orderkey")), "seq_id")
        .select("o_orderkey", "seq_id")
    }),

    // §2.3 J5 + §2.5 W14: ids minted above max existing id (scalar cross join).
    "j5_id_above_max" -> ((s, dir) => {
      IdAllocator.allocateAboveMax(T(s, dir, "customer"), T(s, dir, "orders"),
          "o_orderkey", Seq(col("c_custkey")), "new_id")
        .select("c_custkey", "new_id")
    }),

    // §2.5 W10: first value over ordered partition.
    "w10_first_order_date" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      T(s, dir, "orders")
        .withColumn("first_order_date", first(col("o_orderdate")).over(w).cast("date"))
        .select("o_custkey", "first_order_date").distinct()
    }),

    // §2.5 W16: flag propagation via max-over-partition.
    "w16_has_urgent_flag" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
      T(s, dir, "orders")
        .withColumn("has_urgent",
          max(when(col("o_orderpriority").startsWith("1"), 1).otherwise(0)).over(w).cast("long"))
        .select("o_custkey", "has_urgent").distinct()
    }),

    // Text analysis: token counts / ratios per document (codegen'd exprs).
    "text1_doc_stats" -> ((s, dir) => {
      T(s, dir, "documents")
        .select(col("doc_id"),
          TF.tokenCount(col("text")).cast("long").as("n_tokens"),
          round(TF.alphaRatio(col("text")), 4).as("alpha_ratio"),
          round(TF.stopwordRatio(col("text")), 4).as("stop_ratio"),
          round(TF.meanTokenLen(col("text")), 4).as("mean_token_len"))
    }),

    // Text analysis: stopword-marker language ID profile.
    "text2_lang_profile" -> ((s, dir) => {
      T(s, dir, "documents")
        .withColumn("lang_pred", TF.langId(col("text")))
        .groupBy("lang_pred").agg(count(lit(1)).as("n_docs"))
    }),

    // Exact dedup stats on normalized content fingerprints.
    "dedup1_exact" -> ((s, dir) => {
      T(s, dir, "documents")
        .withColumn("fp", md5(concat_ws(" ", TF.tokens(col("text")))))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("fp")).as("n_distinct"),
          (count(lit(1)) - countDistinct(col("fp"))).as("n_dups"))
    }),

    // Rolling-hash (winnowing-style) document fingerprint, md5 variant —
    // fused single-pass kernel (digests compared as raw bytes) instead of
    // materializing a per-row array of hex strings through interpreted HOFs.
    "text3_rolling_fingerprint" -> ((s, dir) => {
      val t = lower(col("text"))
      T(s, dir, "documents")
        .filter(length(t) >= 8)
        .select(col("doc_id"), TF.rollingMd5Fingerprint(t, 8).as("rfp"))
    }),

    // Exact n-gram Jaccard over blocked pairs via the inverted-index join
    // (identical output to all-pairs intersection for threshold > 0, but
    // cost scales with actual overlap instead of block size squared).
    "ngram1_jaccard_pairs" -> ((s, dir) => {
      Dedup.ngramJaccardBlocked(T(s, dir, "documents"), "doc_id", col("source"),
          col("text"), n = 3, threshold = 0.2, maxShingleDocFreq = Some(100))
        .select(col("left_id"), col("right_id"), round(col("jaccard"), 4).as("jaccard"))
    }),

    // Similarity search: exact brute-force cosine top-3 (correctness baseline).
    "knn1_cosine_top3" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
      Knn.bruteForceTopK(e.filter(col("vec_id") < 100), e, "vec_id", "embedding", k = 3)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"),
          round(col("cosine"), 4).as("cosine"))
    }),

    // MinHash-LSH near-dup pipeline (shingle→signature→band→bucket join),
    // then exact-Jaccard verification ≥ 0.5 on candidates. Oracled against a
    // DuckDB brute-force all-pairs Jaccard: identical whenever LSH recall is
    // 1 at J ≥ 0.5 — verified pair-for-pair on the test corpus, where true
    // near-dup pairs sit far above the banding threshold (b=8, r=4 ⇒ s* ≈ 0.59).
    // The bucket cap is ON — the pattern users should copy at scale. No
    // bucket on this corpus exceeds it, so the output (and the brute-force
    // oracle equality) is unchanged; what it buys at 100 TB is a bound on
    // the bucket self-join when a templated corpus makes giant buckets.
    "dedup2_minhash_pairs" -> ((s, dir) => {
      MinHash.nearDuplicates(T(s, dir, "documents"), "doc_id", col("text"),
          threshold = 0.5, maxBucketSize = Some(64))
        .select(col("left_id"), col("right_id"), round(col("jaccard"), 4).as("jaccard"))
    }),

    // SimHash fingerprints + pigeonhole-blocked Hamming pairs — rows-only check.
    "dedup3_simhash" -> ((s, dir) => {
      // bare table read: the count is metadata-only (parquet aggregate
      // pushdown) and buys the exact materialization tier; derived inputs
      // omit it and take the conservative-eager path (see fingerprints doc)
      val docs = T(s, dir, "documents")
      SimHash.fingerprints(docs, "doc_id", col("text"), Some(docs.count()))
    }),

    // Near-dup clusters: connected components (min-reachable-id labels) over
    // the verified MinHash pairs; oracled via a DuckDB recursive CTE over the
    // equivalent brute-force pair set.
    // Guards ON (bucket cap + star edges): star edges connect exactly the
    // same groups as the clique, so the component labels — and the recursive-
    // CTE oracle — are unchanged, while an identical-doc group of size d
    // feeds CC d−1 edges instead of d(d−1)/2. This is the scale default.
    "dedup4_dup_clusters" -> ((s, dir) => {
      val pairs = MinHash.nearDuplicates(T(s, dir, "documents"), "doc_id",
        col("text"), threshold = 0.5, maxBucketSize = Some(64), exactStar = true)
      Dedup.connectedComponents(pairs, "left_id", "right_id")
        .select(col("node").as("doc_id"), col("component"))
    }),

    // LSH-bucketed approximate top-k — the 100 TB scale path (bucket cap ON;
    // no bucket on this corpus exceeds it, so the frozen snapshot holds).
    // Auto multi-probe (r7): each query also probes its Hamming-1 bucket
    // neighbors, lowest-margin flips first — recall@3 0.46 → 0.95 at
    // sf0.01, 0.21 → 0.71 at sf0.1 on this structureless corpus, with
    // candidate volume up only ~(planes+1)× ≈ log n (BENCH_NOTES).
    "knn2_lsh_top3" -> ((s, dir) => {
      Knn.lshTopK(T(s, dir, "embeddings"), "vec_id", "embedding", k = 3, dims = 64,
        maxBucketSize = Some(64))
    }),

    // IVF approximate top-k with Lloyd-refined centroids — cell-bucketed
    // pair space, centroids broadcast; approximate → rows-only check (the
    // exact-cosine kernel itself is oracled by knn1). nCells is auto-sized
    // (≈√(2n)): a fixed cell count makes the cell self-join O(n²/k) — the
    // sf10 scale run measured 812 s at k=16 vs ~linear after (BENCH_NOTES).
    "knn3_ivf_top3" -> ((s, dir) => {
      Knn.ivfTopK(T(s, dir, "embeddings"), "vec_id", "embedding", k = 3,
        nProbe = 2, kmeansIters = 2)
    }),

    // §2.5 W1/W2: per-entity event order (row_number) + record rank (dense_rank).
    "w1_event_order" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      T(s, dir, "events")
        .withColumn("event_order", row_number().over(w).cast("long"))
        .withColumn("record_rank", dense_rank().over(w).cast("long"))
        .select("user_id", "event_id", "event_order", "record_rank")
    }),

    // §2.5 W9: min/max over unordered partition (inferred first/last seen).
    "w9_first_last_seen" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
      T(s, dir, "events")
        .withColumn("first_seen", min(col("ts")).over(w))
        .withColumn("last_seen", max(col("ts")).over(w))
        .select("user_id", "first_seen", "last_seen").distinct()
    }),

    // §2.5 W17: first-token detection (anchor row per user).
    "w17_first_event" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      T(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id").as("first_event_id"),
          col("event_type").as("first_event_type"))
    }),

    // §2.5 W13 + §2.4 A5: per-session span aggregation (start/end/count).
    "a5_session_spans" -> ((s, dir) => {
      Sessionize.byGap(T(s, dir, "events"), Seq("user_id"), col("ts"),
          Seq(col("ts"), col("event_id")), gapSeconds = 3600)
        .groupBy("user_id", "session_id")
        .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
          count(lit(1)).as("n_events"))
        .withColumn("session_id", col("session_id").cast("long"))
    }),

    // §2.4 A14: rollup (hierarchical grouping sets) — beyond the reference's
    // surface (it never uses cube/rollup); subtotals + grand total per
    // (returnflag, linestatus).
    "a14_rollup_totals" -> ((s, dir) => {
      T(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"),
          count(lit(1)).as("n_rows"))
    }),

    // §2.4 A6: qualified-concept filter (distinct-entity support threshold).
    "a6_qualified_types" -> ((s, dir) => {
      T(s, dir, "events")
        .groupBy("event_type")
        .agg(countDistinct("user_id").as("n_users"))
        .filter(col("n_users") >= 100)
    }),

    // §2.4 A7: per-group min/max order bounds (VS/VE insertion shape).
    "a7_order_bounds" -> ((s, dir) => {
      T(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(min(col("o_orderdate")).cast("date").as("min_date"),
          max(col("o_orderdate")).cast("date").as("max_date"),
          min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))
    }),

    // §2.4 A11: groupBy().max() shorthand.
    "a11_max_price_per_brand" -> ((s, dir) => {
      T(s, dir, "part")
        .groupBy("p_brand")
        .agg(round(max("p_retailprice"), 2).as("max_price"))
    }),

    // §2.3 J8: temporal-overlap self-join — orders of the same customer whose
    // 7-day windows overlap; earliest order wins as the "master" (A8 shape).
    "j8_overlap_master" -> ((s, dir) => {
      val o = T(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"), col("o_orderdate").cast("date").as("d"))
      val a = o.toDF("c1", "k1", "d1")
      val b = o.toDF("c2", "k2", "d2")
      a.join(b, col("c1") === col("c2") && col("k1") =!= col("k2")
          && col("d2").between(col("d1"), date_add(col("d1"), 7)))
        .groupBy(col("c2").as("o_custkey"), col("k2").as("o_orderkey"))
        .agg(min("k1").as("master_orderkey"))
    }),

    // §2.3 J11: the NestedCohortBuilder exclusion SQL shapes — the PRODUCTION
    // SQL text (NestedCohortBuilder.firstTimeOutcomeSql /
    // removeIndexPredictionStartsSql, reference spark_app_base.py:428-471)
    // over orders-as-cohorts: target = every order, entry cohort = the
    // customer's URGENT orders (first-time exclusion, ps=0: drop orders
    // strictly after an urgent one), exclusion cohort = 5-LOW orders within
    // [index, index+29]. Independent predicates so each anti-join shape bites.
    "j11_exclusion" -> ((s, dir) => {
      val orders = T(s, dir, "orders")
      orders.select(col("o_custkey").as("person_id"), col("o_orderdate").as("index_date"))
        .createOrReplaceTempView("j11_target")
      orders.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("person_id"), col("o_orderdate").as("index_date"))
        .createOrReplaceTempView("j11_entry")
      orders.filter(col("o_orderpriority") === "5-LOW")
        .select(col("o_custkey").as("person_id"), col("o_orderdate").as("index_date"))
        .createOrReplaceTempView("j11_low")
      s.sql(graft.omop.cohort.NestedCohortBuilder
          .firstTimeOutcomeSql("j11_target", "j11_entry", predictionStartDays = 0))
        .createOrReplaceTempView("j11_after_first")
      s.sql(graft.omop.cohort.NestedCohortBuilder
          .removeIndexPredictionStartsSql("j11_after_first", "j11_low", predictionStartDays = 30))
        .select("cohort_member_id", "person_id", "index_date")
    }),

    // §2.3 J12: the NestedCohortBuilder bounded labeling SQL — production
    // text (boundedLabelingSql, spark_app_base.py:486-513): target = first
    // order per customer, outcome = urgent orders, observation period ends
    // 90 days after the last order; label 1 iff an urgent order falls in
    // [index+30, index+360], rows kept only if the observation period covers
    // the window or an outcome exists. Exercises the ISNOTNULL cast, the
    // BETWEEN window and the op-coverage OR-filter.
    "j12_outcome_label" -> ((s, dir) => {
      val orders = T(s, dir, "orders")
      orders.groupBy(col("o_custkey").as("person_id"))
        .agg(min(col("o_orderdate")).as("index_date"))
        .createOrReplaceTempView("j12_target")
      orders.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("person_id"), col("o_orderdate").as("index_date"))
        .createOrReplaceTempView("j12_outcome")
      orders.groupBy(col("o_custkey").as("person_id"))
        .agg((max(col("o_orderdate")) + expr("INTERVAL 90 DAY")).as("observation_period_end_date"))
        .createOrReplaceTempView("j12_op")
      s.sql(graft.omop.cohort.NestedCohortBuilder.boundedLabelingSql(
          "j12_target", "j12_outcome", "j12_op",
          predictionStartDays = 30, predictionWindow = 360))
        .select(col("person_id"), col("index_date"), col("outcome_date"), col("label"))
    }),

    // §2.3 J12 (unbounded variant): unboundedLabelingSql — label 1 iff ANY
    // outcome at or after index+30, every qualifying outcome date kept.
    "j12b_label_unbounded" -> ((s, dir) => {
      val orders = T(s, dir, "orders")
      orders.groupBy(col("o_custkey").as("person_id"))
        .agg(min(col("o_orderdate")).as("index_date"))
        .createOrReplaceTempView("j12b_target")
      orders.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("person_id"), col("o_orderdate").as("index_date"))
        .createOrReplaceTempView("j12b_outcome")
      s.sql(graft.omop.cohort.NestedCohortBuilder.unboundedLabelingSql(
          "j12b_target", "j12b_outcome", predictionStartDays = 30))
        .select(col("person_id"), col("index_date"), col("outcome_date"), col("label"))
    }),

    // §2.8 P10: unit-string cleanup regexes ({...} strip, leading / → 1/).
    "p10_unit_cleanup" -> ((s, dir) => {
      T(s, dir, "part")
        .withColumn("unit", concat(lit("{annot}/"), col("p_type")))
        .withColumn("unit", regexp_replace(col("unit"), "\\{.*?\\}", ""))
        .withColumn("unit", regexp_replace(col("unit"), "^/", "1/"))
        .groupBy("unit").agg(count(lit(1)).as("n"))
    }),

    // §2.2 P11: numeric-string detector routing rows numeric vs categorical.
    "p11_numeric_detector" -> ((s, dir) => {
      T(s, dir, "events")
        .withColumn("k_str", get_json_object(col("props"), "$.k"))
        .withColumn("is_numeric",
          (regexp_extract(col("k_str"), "^[+-]?\\d*\\.?\\d+$", 0) =!= "").cast("long"))
        .groupBy("is_numeric").agg(count(lit(1)).as("n"),
          round(sum(when(col("is_numeric") === 1, col("k_str").cast("double")).otherwise(0.0)), 2)
            .as("numeric_sum"))
    }),

    // §2.9 F5 (mix) + F2 (day): ceil-based ATT token distributions.
    "f5_mix_tokens" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      T(s, dir, "orders")
        .withColumn("gap_days",
          datediff(col("o_orderdate").cast("date"), lag(col("o_orderdate"), 1).over(w).cast("date")))
        .filter(col("gap_days").isNotNull)
        .withColumn("mix_token", TimeTokens.mixToken(col("gap_days")))
        .withColumn("day_token", TimeTokens.dayToken(col("gap_days")))
        .groupBy("mix_token").agg(count(lit(1)).as("n"),
          countDistinct("day_token").as("n_day_tokens"))
    }),

    // §2.7 U1/U4: positional union + distinct dedup.
    "u1_union_distinct" -> ((s, dir) => {
      val n = T(s, dir, "nation").select(col("n_name").as("name"))
      val r = T(s, dir, "region").select(col("r_name").as("name"))
      n.union(r).distinct()
    }),

    // §1.1-style week-since-epoch binning (classic sequence date_in_week).
    "seq2_week_bins" -> ((s, dir) => {
      T(s, dir, "events")
        .withColumn("date_in_week",
          (unix_timestamp(col("ts").cast("date").cast("timestamp")) / lit(604800)).cast("int").cast("long"))
        .groupBy("user_id", "date_in_week")
        .agg(count(lit(1)).as("n_events"))
    }),

    // Text quality score (C4/Gopher-style blended heuristic).
    "text4_quality_score" -> ((s, dir) => {
      T(s, dir, "documents")
        .select(col("doc_id"), TF.qualityScore(col("text")).as("quality"))
    }),

    // Corpus-profile quantiles: exact per-class token-count percentiles via
    // operators/ExactQuantiles (sort-based rank selection — no percentile
    // UDAF hash map; see that operator's scaladoc). The 4-dp round absorbs
    // the last-ulp difference between Spark's (1−f)·lo + f·hi and DuckDB's
    // lo + (hi−lo)·f interpolation forms. RESIDUAL RISK, accepted: round()
    // is a knife-edge equivalence, not a tolerance — an interpolated value
    // landing within 1 ulp of a .00005 rounding boundary would round apart
    // and fail the hash compare. With integer token counts and these p's the
    // interpolants are exact dyadic fractions (f ∈ {0, .1, .2, ..., .9}
    // against integer lo/hi gaps), far from any boundary; if this query ever
    // moves to fractional inputs, switch the check to a tolerance compare in
    // local_verify instead of widening the round.
    "text5_token_quantiles" -> ((s, dir) => {
      import graft.operators.ExactQuantiles
      val d = T(s, dir, "documents")
        .select(expr("CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END")
          .as("media_class"),
          TF.tokenCount(col("text")).cast("double").as("n_tokens"))
      ExactQuantiles.quantiles(d, Seq("media_class"), "n_tokens",
          Seq(0.1 -> "p10", 0.5 -> "p50", 0.9 -> "p90"))
        .select(col("media_class"), round(col("p10"), 4).as("p10"),
          round(col("p50"), 4).as("p50"), round(col("p90"), 4).as("p90"))
    }),

    // Multimodal: metadata-only stats — payload column must be pruned from
    // the scan (meta travels separately from bytes).
    "mm1_media_meta_stats" -> ((s, dir) => {
      val media = Multimodal.deriveMediaTable(T(s, dir, "documents"), "doc_id", "text")
      media.groupBy("media_type")
        .agg(count(lit(1)).as("n"),
          avg(col("meta.width")).cast("double").as("avg_width"),
          sum(col("meta.duration_ms")).as("total_duration_ms"),
          countDistinct(col("meta.sample_rate")).as("n_sample_rates"))
        .withColumn("avg_width", round(col("avg_width"), 4))
    }),

    // Multimodal: per-partition stub decode → fixed-dim feature vectors;
    // deterministic, so oracled via byte-sum reconstruction in DuckDB.
    "mm2_media_features" -> ((s, dir) => {
      val media = Multimodal.deriveMediaTable(T(s, dir, "documents"), "doc_id", "text")
      Multimodal.extractFeatures(media, dims = 8)
        .select(col("media_id"),
          round(VF.arraySum(col("features")), 2).as("feature_sum"),
          size(col("features")).cast("long").as("dims"))
    }),

    // Multimodal: metadata resize + evenly spaced frame sampling — both pure
    // column algebra over (meta, payload), oracled via integer reconstruction.
    "mm3_media_resize_frames" -> ((s, dir) => {
      val media = Multimodal.deriveMediaTable(T(s, dir, "documents"), "doc_id", "text")
      Multimodal.sampleFrames(Multimodal.resizeMeta(media, maxDim = 256), n = 4)
        .select(col("media_id"),
          col("resized_meta.width").as("rw"),
          col("resized_meta.height").as("rh"),
          size(col("frames")).cast("long").as("n_frames"),
          aggregate(col("frames"), lit(0L), (a, f) => a + octet_length(f))
            .as("frame_bytes"))
    }),

    // Multimodal: REAL image decode through the javax.imageio codec. The
    // payloads are genuine PNG bytes synthesized per partition from pure
    // id arithmetic, so the decoded header fields and per-channel pixel
    // sums are analytically predictable — the DuckDB oracle recomputes
    // them without any image code, certifying the encode→decode round
    // trip end-to-end (codec resolved executor-side via ServiceLoader).
    // dims=6 → 3 header slots + 3 channel slots: pixels are walked r,g,b
    // in threes, so slot 3/4/5 are exactly the r/g/b sums.
    "mm4_real_codec_features" -> ((s, dir) => {
      val imgs = Multimodal.synthesizeImageTable(
        T(s, dir, "documents").select("doc_id"), "doc_id")
      Multimodal.extractFeatures(imgs, dims = 6, codec = "imageio")
        .select(col("media_id"),
          element_at(col("features"), 1).cast("long").as("w"),
          element_at(col("features"), 2).cast("long").as("h"),
          element_at(col("features"), 3).cast("long").as("bands"),
          element_at(col("features"), 4).cast("long").as("sum_r"),
          element_at(col("features"), 5).cast("long").as("sum_g"),
          element_at(col("features"), 6).cast("long").as("sum_b"))
    }),

    // Multimodal: REAL audio decode through the javax.sound.sampled codec —
    // the audio twin of mm4. Payloads are genuine WAV bytes (the JDK's own
    // WAVE writer) with constant per-channel 8-bit PCM samples derived from
    // id arithmetic, so header fields and per-channel sums are analytically
    // predictable and the DuckDB oracle recomputes them without any audio
    // code. dims=5 → 3 header slots + 2 channel slots (channel ch sums into
    // slot 3+ch; mono leaves slot 4 at 0).
    "mm5_real_audio_features" -> ((s, dir) => {
      val auds = Multimodal.synthesizeAudioTable(
        T(s, dir, "documents").select("doc_id"), "doc_id")
      Multimodal.extractFeatures(auds, dims = 5, codec = "wav")
        .select(col("media_id"),
          element_at(col("features"), 1).cast("long").as("channels"),
          element_at(col("features"), 2).cast("long").as("sample_rate"),
          element_at(col("features"), 3).cast("long").as("frames"),
          element_at(col("features"), 4).cast("long").as("sum_ch0"),
          element_at(col("features"), 5).cast("long").as("sum_ch1"))
    }),

    // Multimodal: REAL video decode through the RIFF/AVI codec — the video
    // leg of the real-codec family. Payloads are genuine AVI containers
    // with uncompressed 24-bit DIB frames (lossless, unlike MJPEG), so the
    // container header fields and cross-frame per-channel sums are
    // analytically predictable and the DuckDB oracle recomputes them
    // without any container code. dims=6 → frames/w/h header slots + r/g/b
    // sums (pixels walked r,g,b in threes across every frame).
    "mm6_real_video_features" -> ((s, dir) => {
      val vids = Multimodal.synthesizeVideoTable(
        T(s, dir, "documents").select("doc_id"), "doc_id")
      Multimodal.extractFeatures(vids, dims = 6, codec = "avi")
        .select(col("media_id"),
          element_at(col("features"), 1).cast("long").as("frames"),
          element_at(col("features"), 2).cast("long").as("w"),
          element_at(col("features"), 3).cast("long").as("h"),
          element_at(col("features"), 4).cast("long").as("sum_r"),
          element_at(col("features"), 5).cast("long").as("sum_g"),
          element_at(col("features"), 6).cast("long").as("sum_b"))
    }),

    // Multimodal: MJPEG (compressed-frame) container parse — the `##dc`
    // half of the AVI codec under a driver oracle. JPEG is lossy, so only
    // the exactly-predictable CONTAINER fields are projected: frame count
    // and dims from the strh/strf chunk walk. The frames still DECODE
    // (extractFeatures runs the full feature kernel, JPEG reader included)
    // — a crash or misparse fails the query — but the lossy channel sums
    // stay pinned by AviCodecSpec's quantization-tolerance test instead
    // of the oracle.
    "mm7_mjpeg_container_parse" -> ((s, dir) => {
      val vids = Multimodal.synthesizeMjpegVideoTable(
        T(s, dir, "documents").select("doc_id"), "doc_id")
      Multimodal.extractFeatures(vids, dims = 6, codec = "avi")
        .select(col("media_id"),
          element_at(col("features"), 1).cast("long").as("frames"),
          element_at(col("features"), 2).cast("long").as("w"),
          element_at(col("features"), 3).cast("long").as("h"))
    }),

    // Multimodal: COMPRESSED audio decode — a hand-written IMA ADPCM
    // (format 0x11) state-machine decoder behind the SPI, not a JDK
    // passthrough (javax.sound ships no IMA decoder). The synthesized
    // corpus keeps the decode in its linear region, so frames AND the
    // decoded 16-bit sample sum are exact id arithmetic the oracle
    // reconstructs with no audio code: any bug in the vpdiff assembly,
    // sign handling, index walk, nibble order, or block-header parse
    // lands off the analytic line.
    "mm8_adpcm_audio_features" -> ((s, dir) => {
      val auds = Multimodal.synthesizeAdpcmAudioTable(
        T(s, dir, "documents").select("doc_id"), "doc_id")
      Multimodal.extractFeatures(auds, dims = 4, codec = "adpcm")
        .select(col("media_id"),
          element_at(col("features"), 1).cast("long").as("channels"),
          element_at(col("features"), 2).cast("long").as("sample_rate"),
          element_at(col("features"), 3).cast("long").as("frames"),
          element_at(col("features"), 4).cast("long").as("sum_samples"))
    }),

    // Multimodal: G.711 µ-law/A-law decode — the telephony companding
    // formats, hand-expanded (Sun g711.c tables) rather than delegated.
    // One corpus exercises BOTH laws (A-law for ids ≡0 mod 3) and both
    // channel layouts; codes are constant per channel, so each decoded
    // per-channel sum is frames · g711(code) and the expansion is integer
    // shift/mask arithmetic the oracle writes directly in SQL — a bug in
    // either table's complement/bias/segment/sign logic lands off the
    // analytic line. The JDK's own ULAW/ALAW converter pins all 512 table
    // entries out-of-band in G711CodecSpec.
    // Multimodal: the jar-dropped codec deployment seam, driver-oracled
    // (mm10) — CodecJarBuilder javac-compiles an external-package codec
    // into a REAL standalone jar (decode = Airlift aircompressor's
    // SnappyDecompressor, third-party), spark.addArtifact ships it, and
    // ServiceLoader discovers it executor-side by name inside
    // extractFeatures. Payloads are snappy-compressed text; the oracle is
    // byte arithmetic over the ORIGINAL text, so a codec that skipped the
    // decompression (or a stub fallback) sums differently and fails.
    "mm10_jar_codec_features" -> ((s, dir) => {
      s.addArtifact(CodecJarBuilder.build())
      val media = Multimodal.synthesizeSnappyDocTable(
        T(s, dir, "documents"), "doc_id", "text")
      Multimodal.extractFeatures(media, dims = 8,
          codec = CodecJarBuilder.codecName)
        .select(col("media_id"),
          round(VF.arraySum(col("features")), 2).as("feature_sum"),
          size(col("features")).cast("long").as("dims"))
    }),

    "mm9_g711_audio_features" -> ((s, dir) => {
      val auds = Multimodal.synthesizeG711AudioTable(
        T(s, dir, "documents").select("doc_id"), "doc_id")
      Multimodal.extractFeatures(auds, dims = 5, codec = "g711")
        .select(col("media_id"),
          element_at(col("features"), 1).cast("long").as("channels"),
          element_at(col("features"), 2).cast("long").as("sample_rate"),
          element_at(col("features"), 3).cast("long").as("frames"),
          element_at(col("features"), 4).cast("long").as("sum_ch0"),
          element_at(col("features"), 5).cast("long").as("sum_ch1"))
    }),

    // Streaming exact-dedup sink, driver-oracled end to end: a bounded
    // 4-micro-batch replay of the production foreachBatch sink (file
    // stream source, maxFilesPerTrigger=1, batch = doc_id % 4). The
    // documents table carries no duplicate texts, so the replay corpus
    // derives deterministic echoes BOTH engines can build in SQL:
    //  - +1000001 (≡1 mod 4) for ids ≡3 mod 7 — cross-batch duplicates in
    //    BOTH directions (an id ≡3 mod 4 echoes into an EARLIER batch, so
    //    the batch-sequential keeper is the echo, NOT the global min id —
    //    the case that discriminates ledger semantics from min());
    //  - +4000000 (≡0 mod 4) for ids ≡5 mod 11 — same-batch duplicates,
    //    exercising the intra-batch keeper rule (min doc_id).
    // The keeper per text is the first by (batch, doc_id), exactly
    // SQL-expressible; certifies intra-batch dedup, the cross-batch
    // bucketed-ledger anti-join, and the output append in one row set.
    "sq1_streaming_exact_dedup" -> ((s, dir) => {
      val docs = T(s, dir, "documents").select("doc_id", "text")
      val corpus = docs
        .unionAll(docs.filter(pmod(col("doc_id"), lit(7)) === 3)
          .select((col("doc_id") + 1000001L).as("doc_id"), col("text")))
        .unionAll(docs.filter(pmod(col("doc_id"), lit(11)) === 5)
          .select((col("doc_id") + 4000000L).as("doc_id"), col("text")))
      StreamingEvents.replayExactDedup(
        corpus, "text",
        keepOrder = Seq("doc_id"), batchCol = pmod(col("doc_id"), lit(4)),
        numBatches = 4, root = "/tmp/graft-sq1-replay",
        ledgerTable = "sq1_replay_ledger")
        .select(col("doc_id"), col("text"))
    }),

    // Streaming NEAR-dup sink, driver-oracled end to end — the sq1 pattern
    // over the LSH sink. The corpus texts are GENERATED with arithmetic
    // both engines express in SQL (12 hash-spread tokens per doc: distinct
    // docs share no 3-shingles, so no accidental near-dups), duplicates
    // are verbatim echoes (identical signatures, estimate exactly 1.0 ≥
    // threshold — every LSH decision deterministic), and the keeper set is
    // the same batch-sequential rule as sq1: first by (batch, doc_id).
    // Execution runs the REAL machinery — signatures, band explode,
    // intra-batch connected components, banded bucketed-ledger join.
    "sq2_streaming_neardup" -> ((s, dir) => {
      val gen = T(s, dir, "documents").select("doc_id")
        .selectExpr("doc_id", s"'doc ' || ${sq2Tokens("STRING")} AS text")
      val corpus = gen
        .unionAll(gen.filter(pmod(col("doc_id"), lit(7)) === 3)
          .select((col("doc_id") + 1000001L).as("doc_id"), col("text")))
        .unionAll(gen.filter(pmod(col("doc_id"), lit(11)) === 5)
          .select((col("doc_id") + 4000000L).as("doc_id"), col("text")))
      StreamingEvents.replayNearDup(corpus, "doc_id", "text", threshold = 0.7,
        batchCol = pmod(col("doc_id"), lit(4)), numBatches = 4,
        root = "/tmp/graft-sq2-replay", ledgerTable = "sq2_replay_ledger")
        .select(col("doc_id"), col("text"))
    }),

    // Streaming exact-dedup with a RETENTION window, driver-oracled — the
    // bounded-window semantics (r13's soak asserted counts; this certifies
    // the full keeper SET). Determinism comes from an injected logical
    // clock: batch b runs at minute b, `seen_at` stamps from the clock,
    // and the retention `{now}` token resolves per batch — so with a 90 s
    // window, a ledger row suppresses at batch b iff it was KEPT at batch
    // b-1 (gap 60 s < 90) and has expired by b+2 (120 s > 90). Echo design
    // (batch = doc_id % 4; base texts are unique):
    //  - +1000001 (≡1 mod 4) for ids ≡3 mod 7 — next-batch echo, inside
    //    the window → suppressed;
    //  - +2000002 (≡2 mod 4) for ids ≡5 mod 11 — two batches later,
    //    expired → RE-ADMITTED (the window's defining behavior);
    //  - +3000001/+7000002 (≡1/≡2 mod 4) BOTH for ids ≡2 mod 13 — the
    //    {b, b+1, b+2} pattern: the b+1 echo is suppressed and therefore
    //    NOT re-stamped, so the b+2 echo measures its gap against batch b
    //    and re-admits — the case that discriminates "kept rows refresh
    //    the window" (correct) from "any occurrence refreshes" (wrong).
    // The oracle mirrors this as the recurrence kept(b) = candidates(b)
    // whose text was not kept at b-1 — exactly SQL-expressible as a
    // 4-level CTE chain.
    "sq3_streaming_dedup_retention" -> ((s, dir) => {
      val docs = T(s, dir, "documents").select("doc_id", "text")
      val corpus = docs
        .unionAll(docs.filter(pmod(col("doc_id"), lit(7)) === 3)
          .select((col("doc_id") + 1000001L).as("doc_id"), col("text")))
        .unionAll(docs.filter(pmod(col("doc_id"), lit(11)) === 5)
          .select((col("doc_id") + 2000002L).as("doc_id"), col("text")))
        .unionAll(docs.filter(pmod(col("doc_id"), lit(13)) === 2)
          .select((col("doc_id") + 3000001L).as("doc_id"), col("text")))
        .unionAll(docs.filter(pmod(col("doc_id"), lit(13)) === 2)
          .select((col("doc_id") + 7000002L).as("doc_id"), col("text")))
      StreamingEvents.replayExactDedup(
        corpus, "text",
        keepOrder = Seq("doc_id"), batchCol = pmod(col("doc_id"), lit(4)),
        numBatches = 4, root = "/tmp/graft-sq3-replay",
        ledgerTable = "sq3_replay_ledger",
        retention = Some("seen_at > {now} - INTERVAL 90 SECONDS"),
        clock = Some(StreamingEvents.utcMinuteClock))
        .select(col("doc_id"), col("text"))
    }),

    // Streaming NEAR-dup with a RETENTION window, driver-oracled — sq3's
    // recurrence over the BANDED ledger (the heavier path: per-band
    // seen_at stamps, band-join suppression, atomic per-keeper expiry).
    // sq2's generated corpus (verbatim echoes → every LSH decision
    // deterministic) with sq3's echo-batch design and logical clock, so
    // the keeper set is the same 4-level CTE recurrence: kept(b) =
    // per-(batch, text) min-id candidates whose text was not kept at b-1.
    "sq4_streaming_neardup_retention" -> ((s, dir) => {
      val gen = T(s, dir, "documents").select("doc_id")
        .selectExpr("doc_id", s"'doc ' || ${sq2Tokens("STRING")} AS text")
      val corpus = gen
        .unionAll(gen.filter(pmod(col("doc_id"), lit(7)) === 3)
          .select((col("doc_id") + 1000001L).as("doc_id"), col("text")))
        .unionAll(gen.filter(pmod(col("doc_id"), lit(11)) === 5)
          .select((col("doc_id") + 2000002L).as("doc_id"), col("text")))
        .unionAll(gen.filter(pmod(col("doc_id"), lit(13)) === 2)
          .select((col("doc_id") + 3000001L).as("doc_id"), col("text")))
        .unionAll(gen.filter(pmod(col("doc_id"), lit(13)) === 2)
          .select((col("doc_id") + 7000002L).as("doc_id"), col("text")))
      StreamingEvents.replayNearDup(corpus, "doc_id", "text", threshold = 0.7,
        batchCol = pmod(col("doc_id"), lit(4)), numBatches = 4,
        root = "/tmp/graft-sq4-replay", ledgerTable = "sq4_replay_ledger",
        retention = Some("seen_at > {now} - INTERVAL 90 SECONDS"),
        clock = Some(StreamingEvents.utcMinuteClock))
        .select(col("doc_id"), col("text"))
    }),

    // §2.10: driver-oracled STATEFUL SESSIONIZATION (sq5) — the sq1 replay
    // pattern over StreamingEvents.sessionize (flatMapGroupsWithState +
    // event-time timeout), completing the streaming oracle surface with
    // the STATE path next to the dedup-ledger paths. Batches are
    // TIME-ORDERED (ntile over (ts, event_id)) so the advancing watermark
    // never drops a real event; the harness's far-future sentinel batch
    // flushes still-open sessions via timeout (see replaySessionize).
    // Event times truncate to whole seconds: the stateful operator is
    // millisecond-grained (Timestamp.getTime) while the parquet events
    // carry microseconds — truncation makes streaming, batch and oracle
    // gap arithmetic bit-identical. Session boundaries equal the batch
    // gap-and-island operator (w13's SQL, emitted per-session).
    // The global ntile window is certification-fixture staging, like the
    // replay's coalesce(1) — the production path is sessionize itself.
    "sq5_streaming_sessionize" -> ((s, dir) => {
      val ev = T(s, dir, "events").select(col("user_id"),
        date_trunc("second", col("ts")).as("ts"), col("event_id"))
      val batched = ev.withColumn("__batch",
        ntile(4).over(org.apache.spark.sql.expressions.Window
          .orderBy(col("ts"), col("event_id"))) - 1)
      StreamingEvents.replaySessionize(batched, gapSeconds = 3600,
        batchCol = col("__batch"), numBatches = 4,
        root = "/tmp/graft-sq5-replay")
    }),

    // Embedding-cosine near-duplicate pairs over LSH buckets. Oracled against
    // DuckDB brute-force cosine ≥ 0.95 over all pairs: LSH candidate
    // generation can only lose pairs, never invent them, so equality both
    // certifies no false positives and (on this corpus, where no pair reaches
    // the threshold) exact agreement with the exhaustive answer.
    // Bucket cap ON: over-cap buckets dropped, identical-vector groups
    // recovered as cosine-1 star edges — both no-ops on this corpus (the
    // brute-force oracle equality certifies it).
    "knn4_cosine_neardup" -> ((s, dir) => {
      Knn.cosineNearDuplicates(T(s, dir, "embeddings"), "vec_id", "embedding",
          threshold = 0.95, dims = 64, maxBucketSize = Some(64))
        .select(col("left_id"), col("right_id"), round(col("cosine"), 4).as("cosine"))
    }),

    // §2.1 S10: seeded random split. randomSplit is deterministic only per
    // partitioning (it sorts within partitions, then samples by partition
    // index) — so the input is pinned to a hash repartition on the key,
    // making the split a pure function of (data, seed) independent of scan
    // layout. That turns the former rows-only check into a frozen sf0.01
    // snapshot (SnapshotOracleSpec); cross-JVM stability verified before
    // freezing. SPARK-VERSION ASSUMPTION: the frozen hash additionally
    // depends on Spark internals pinned as of Spark 4.1 — Murmur3 hash
    // partitioning of c_custkey, randomSplit's per-partition XORShiftRandom
    // sampling seeded by (seed + partitionIndex), and the pre-split
    // sortWithinPartitions order. If a Spark upgrade ever fails ONLY this
    // snapshot (rows still 2, train+test still summing to the table count),
    // suspect a change in one of those three internals and re-freeze —
    // don't hunt for a logic bug here.
    "s10_random_split" -> ((s, dir) => {
      val Array(train, test) = T(s, dir, "customer")
        .repartition(4, col("c_custkey"))
        .randomSplit(Array(0.8, 0.2), 42)
      train.withColumn("split", lit("train"))
        .unionByName(test.withColumn("split", lit("test")))
        .groupBy("split").agg(count(lit(1)).as("n"))
    }),

    // Deterministic per-group cap (beyond reference) — the source-
    // balancing primitive of LLM data mixes: at most 500 orders per
    // priority, the survivors chosen by the sampling hash so the cap is a
    // uniform repeatable sample of the group. Plans as WindowGroupLimit:
    // map-side partial top-k per group BEFORE the exchange (asserted in
    // SamplingSpec), so at 100 TB the shuffle carries O(groups*k) per
    // task, not the corpus.
    "s12_capped_per_group" -> ((s, dir) => {
      Sampling.capPerGroup(T(s, dir, "orders"), col("o_orderpriority"),
          col("o_orderkey"), k = 500)
        .select("o_orderkey", "o_orderpriority")
    }),

    // int8 embedding quantization (beyond reference) — the 4x storage cut
    // for 100 TB embedding corpora, driver-oracled through cross-engine-
    // exact arithmetic: floats widen to double exactly, one fixed double
    // expression shape under floor (identical IEEE semantics everywhere;
    // round()'s halfway rule differs by engine and would flake), constant
    // vectors quantize to zero codes instead of dividing by zero. q_sum
    // is a pure-integer checksum over all 64 codes per vector.
    "knn5_int8_quantization" -> ((s, dir) => {
      Quantization.int8(T(s, dir, "embeddings"), "embedding")
        .select(col("vec_id"),
          aggregate(col("q"), lit(0L), (a, x) => a + x).as("q_sum"),
          size(col("q")).cast("long").as("dims"))
    }),

    // Deterministic STRATIFIED sampling (beyond reference; s10's seeded
    // randomSplit is partitioning-dependent and snapshot-only-oracleable,
    // THIS is fully cross-engine): membership = LCG hash of the row key
    // under per-stratum thresholds, so the exact sample replays in DuckDB
    // row for row. Rates: URGENT 20% / MEDIUM 50% / LOW 100%; HIGH and
    // NOT-SPECIFIED strata dropped entirely. Pure codegen'd filter —
    // no shuffle, no rand(), repeatable at any partitioning.
    "s11_stratified_sample" -> ((s, dir) => {
      Sampling.stratified(T(s, dir, "orders"), col("o_orderpriority"),
          col("o_orderkey"), Map(
            "1-URGENT" -> 0.2, "3-MEDIUM" -> 0.5, "5-LOW" -> 1.0))
        .select("o_orderkey", "o_orderpriority")
    }),

    // Benchmark decontamination (beyond reference): training docs sharing
    // a word 4-gram with the deterministic eval slice (doc_id % 41 = 0 —
    // the benchmark stand-in). The eval shingle set is BROADCAST, so the
    // corpus side streams scan → explode → broadcast join with no shuffle;
    // only matches reach the count-distinct exchange. 4-grams because this
    // corpus's vocabulary makes them rare-but-present (real pipelines use
    // 8–13; the operator takes n).
    "decon1_benchmark_overlap" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      graft.dedup.Decontaminate.overlap(
        docs.filter(col("doc_id") % 41 =!= 0),
        docs.filter(col("doc_id") % 41 === 0),
        "doc_id", "text", n = 4)
    }),

    // GPT-style sequence-packing coordinates (beyond reference): shard the
    // corpus by doc_id mod 32, concatenate each shard's token stream in
    // doc_id order, cut every 512 tokens; emit each doc's (first_chunk,
    // last_chunk, chunk_offset). Pure integer window cumsum — one exchange
    // on the shard id + per-shard sort, the minimum deterministic packing
    // needs — replayed exactly by the oracle.
    "pack1_token_chunks" -> ((s, dir) => {
      Packing.tokenChunks(T(s, dir, "documents"), col("doc_id"),
        TF.tokenCount(col("text")), shards = 32, budget = 512)
    }),

    // Gopher-style repetition signals (beyond reference): top-word
    // fraction and duplicate-2-gram fraction per doc, computed per-row
    // inside the scan (no explode→groupBy shuffle of the tokenized
    // corpus). Tokens are let-bound once per row and shared by all three
    // outputs.
    "text6_repetition" -> ((s, dir) => {
      T(s, dir, "documents")
        .select(col("doc_id"), graft.functions.Exprs.let(TF.tokens(col("text"))) { ts =>
          struct(
            size(ts).cast("long").as("n_words"),
            when(size(ts) === 0, lit(0.0))
              .otherwise(TF.topTokenCount(ts).cast("double") / size(ts))
              .as("top_word_frac"),
            TF.dupNgramFraction(ts, 2).as("dup_2gram_frac"))
        }.as("r"))
        .select(col("doc_id"), col("r.n_words").as("n_words"),
          col("r.top_word_frac").as("top_word_frac"),
          col("r.dup_2gram_frac").as("dup_2gram_frac"))
    }),

    // Temperature-based language rebalancing (beyond reference): sample
    // each lang at (n_min/n_lang)^0.5 so kept counts ∝ n^0.5 — the
    // multilingual-LLM mixing rule. Counts partial-aggregate, the 5-row
    // rate table broadcasts back, membership is the LCG hash — the corpus
    // never shuffles and DuckDB replays the exact kept set (sqrt is
    // correctly rounded; pow would not be).
    "s13_temperature_mix" -> ((s, dir) => {
      Sampling.temperatureMix(T(s, dir, "documents"), col("lang"),
          col("doc_id"), alpha = 0.5)
        .select("doc_id", "lang")
    }),

    // Leakage-free train/test split (beyond reference): split membership
    // hashes the near-dup CLUSTER id (dedup4's connected components), so
    // near-duplicates never straddle train/test — the leakage a naive
    // random split injects. Singletons split by their own id (component
    // labels are min member ids, so the key spaces agree). 80% train.
    "s14_leakage_free_split" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val pairs = MinHash.nearDuplicates(docs, "doc_id", col("text"),
        threshold = 0.5, maxBucketSize = Some(64), exactStar = true)
      val comps = Dedup.connectedComponents(pairs, "left_id", "right_id")
      Sampling.splitByCluster(docs, col("doc_id"), comps,
          "node", "component", trainRate = 0.8)
        .select("doc_id", "split_key", "split")
    }),

    // PII redaction (beyond reference): email/IPv4 counts + the scrubbed
    // text's md5 over a deterministically PII-seeded corpus (same id
    // arithmetic renders identical strings in Spark and DuckDB — the mm/sq
    // corpus pattern). Patterns are the RE2-compatible subset, so both
    // engines match identically; the scrub is a codegen'd regexp_replace
    // chain — per-row, no shuffle.
    "text8_pii_scrub" -> ((s, dir) => {
      val tail1 = when(col("doc_id") % 3 === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail"), (col("doc_id") % 7).cast("string"), lit(".example")))
        .otherwise(lit(""))
      val tail2 = when(col("doc_id") % 5 === 0,
        concat(lit(" from "), (col("doc_id") % 256).cast("string"), lit("."),
          ((col("doc_id") * 7) % 256).cast("string"), lit("."),
          ((col("doc_id") * 13) % 256).cast("string"), lit("."),
          (col("doc_id") % 100).cast("string")))
        .otherwise(lit(""))
      T(s, dir, "documents")
        .select(col("doc_id"), concat(col("text"), tail1, tail2).as("__pii"))
        .select(col("doc_id"),
          TF.emailCount(col("__pii")).cast("long").as("n_emails"),
          TF.ipv4Count(col("__pii")).cast("long").as("n_ips"),
          md5(TF.scrubPii(col("__pii"))).as("scrub_md5"))
    }),

    // Corpus-relative rare-word fraction (beyond reference): tokens whose
    // document frequency falls below the corpus median are "rare"; high
    // fractions flag gibberish/noise. Two corpus passes, nothing
    // quadratic: df partial-aggregates to a vocab-keyed exchange, the
    // Zipf-HEAD common set broadcasts back (the rare tail is the
    // unbounded side — never broadcast), and the only corpus-keyed
    // exchange is the per-doc count agg.
    "text7_rare_word_frac" -> ((s, dir) => {
      VocabStats.rareTokenStats(T(s, dir, "documents"), col("doc_id"),
        col("text"), quantile = 0.5, maxCommon = 4096)
    })
  )

  // ---------------------------------------------------------------- oracles

  private val StopList = "('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','this','be','are','was','from')"

  /** sq2's engine-agnostic corpus: 12 hash-spread tokens per doc_id —
    * the multiplier is coprime to the 50000-token vocabulary and doc_ids
    * stay far below it, so two distinct docs never share a same-position
    * token (let alone a 3-shingle): uniques are mutually dissimilar by
    * construction, and the only near-dups are the verbatim echoes. The
    * SAME arithmetic renders in Spark SQL (castType STRING) and DuckDB
    * (VARCHAR), so both engines build bit-identical texts. */
  private def sq2Tokens(castType: String): String =
    (0 until 12).map(k =>
      s"'w' || CAST((doc_id*9973 + $k*131) % 50000 AS $castType)")
      .mkString(" || ' ' || ")

  private def langScoreSql(markers: Seq[String]): String =
    s"len(list_filter(toks, x -> x IN (${markers.map(m => s"'$m'").mkString(",")})))"

  def oracleSql: Map[String, String] = Map(

    "a1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_base_price,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        | round(avg(l_quantity), 4) AS avg_qty,
        | count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "p5_filtered_revenue" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue, count(*) AS n_rows
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
        |  AND l_discount BETWEEN 0.02 AND 0.08 AND l_quantity < 25""".stripMargin,

    "j1_revenue_by_nation" ->
      """SELECT r_name, n_name,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        | count(DISTINCT o_orderkey) AS n_orders
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,

    "w12_latest_order_per_customer" ->
      """SELECT o_custkey, o_orderkey AS latest_orderkey, round(o_totalprice, 2) AS latest_totalprice
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
        |WHERE rn = 1""".stripMargin,

    "w13_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |s AS (
        |  SELECT user_id,
        |    SUM(CASE WHEN prev_ts IS NULL
        |             OR date_diff('second', prev_ts, ts) > 3600 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM g)
        |SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions, count(*) AS n_events
        |FROM s GROUP BY user_id""".stripMargin,

    "j7_asof_latest_order" ->
      """SELECT event_id, user_id, o_orderkey AS matched_orderkey,
        |       CAST(o_orderdate AS DATE) AS matched_orderdate
        |FROM (
        |  SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate,
        |    row_number() OVER (PARTITION BY e.event_id
        |      ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        |  FROM events e JOIN orders o
        |    ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts)
        |WHERE rn = 1""".stripMargin,

    "j6_ship_within_30d" ->
      """SELECT o_orderpriority, count(*) AS n_shipped,
        | round(avg(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))), 4) AS avg_lag_days
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | AND l_shipdate >= o_orderdate
        | AND CAST(l_shipdate AS DATE) <= CAST(o_orderdate AS DATE) + INTERVAL 30 DAY
        |GROUP BY o_orderpriority""".stripMargin,

    "w3_order_rank_segment" ->
      """SELECT o_custkey, o_orderkey,
        | CAST(dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS order_rank,
        | CAST(dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) % 2 + 1 AS BIGINT) AS order_segment
        |FROM orders""".stripMargin,

    "w7_order_gap_days" ->
      """SELECT o_custkey, o_orderkey,
        | CAST(date_diff('day',
        |   CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DATE),
        |   CAST(o_orderdate AS DATE)) AS BIGINT) AS gap_days
        |FROM orders""".stripMargin,

    "f1_att_tokens" ->
      """WITH g AS (
        |  SELECT date_diff('day',
        |    CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DATE),
        |    CAST(o_orderdate AS DATE)) AS gap_days
        |  FROM orders)
        |SELECT CASE WHEN gap_days < 0 THEN 'W-1'
        |            WHEN gap_days < 28 THEN 'W' || CAST(CAST(floor(gap_days / 7.0) AS BIGINT) AS VARCHAR)
        |            WHEN gap_days < 360 THEN 'M' || CAST(CAST(floor(gap_days / 30.0) AS BIGINT) AS VARCHAR)
        |            ELSE 'LT' END AS att_token,
        |       count(*) AS n
        |FROM g WHERE gap_days IS NOT NULL GROUP BY att_token""".stripMargin,

    "a2_event_type_counts" ->
      """SELECT user_id, event_type, count(*) AS n_events,
        | count(DISTINCT CAST(ts AS DATE)) AS n_days
        |FROM events GROUP BY user_id, event_type""".stripMargin,

    "a4_hourly_rollup" ->
      """SELECT user_id, event_type, CAST(ts AS DATE) AS event_date,
        | CAST(hour(ts) AS BIGINT) AS event_hour,
        | CAST(floor(epoch(min(ts))) AS BIGINT) AS min_epoch_s,
        | round(avg(value), 4) AS avg_value, count(*) AS n
        |FROM events GROUP BY user_id, event_type, CAST(ts AS DATE), CAST(hour(ts) AS BIGINT)""".stripMargin,

    "a9_value_ratio" ->
      """SELECT event_type,
        | round(avg(CASE WHEN value > 50 THEN 1.0 ELSE 0.0 END), 4) AS high_ratio,
        | count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin,

    "a10_percentile_stats" ->
      """WITH b AS (
        |  SELECT l_returnflag,
        |    quantile_cont(l_extendedprice, 0.01) AS lo,
        |    quantile_cont(l_extendedprice, 0.99) AS hi
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l.l_returnflag,
        | round(avg(l_extendedprice), 2) AS trimmed_mean,
        | round(stddev(l_extendedprice), 2) AS trimmed_stddev,
        | count(*) AS n_trimmed,
        | round(quantile_cont(l_extendedprice, 0.5), 2) AS median
        |FROM lineitem l JOIN b USING (l_returnflag)
        |WHERE l_extendedprice BETWEEN lo AND hi
        |GROUP BY l.l_returnflag""".stripMargin,

    "j13_exists_big_spenders" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)""".stripMargin,

    "j3_anti_no_big_orders" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)""".stripMargin,

    "u2_union_by_name" ->
      """SELECT user_id, count(*) AS n FROM (
        |  SELECT user_id, event_id FROM events WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT user_id, event_id FROM events WHERE event_type = 'purchase')
        |GROUP BY user_id""".stripMargin,

    "a13_transitive_closure" ->
      """WITH RECURSIVE edges AS (
        |  SELECT 'S' || CAST(s_suppkey AS VARCHAR) AS child,
        |         'N' || CAST(s_nationkey AS VARCHAR) AS parent FROM supplier
        |  UNION ALL
        |  SELECT 'N' || CAST(n_nationkey AS VARCHAR),
        |         'R' || CAST(n_regionkey AS VARCHAR) FROM nation),
        |closure(descendant, ancestor, depth) AS (
        |  SELECT child, parent, 1 FROM edges
        |  UNION
        |  SELECT c.descendant, e.parent, c.depth + 1
        |  FROM closure c JOIN edges e ON c.ancestor = e.child)
        |SELECT descendant, ancestor, CAST(min(depth) AS BIGINT) AS depth
        |FROM closure GROUP BY descendant, ancestor""".stripMargin,

    "seq1_event_sequences" ->
      """SELECT user_id, string_agg(event_type, ',' ORDER BY ts, event_id) AS seq,
        | count(*) AS n_events
        |FROM events GROUP BY user_id""".stripMargin,

    "w14_scalable_ids" ->
      """SELECT o_orderkey,
        | row_number() OVER (ORDER BY o_orderdate, o_orderkey) AS seq_id
        |FROM orders""".stripMargin,

    "j5_id_above_max" ->
      """SELECT c_custkey,
        | (SELECT max(o_orderkey) FROM orders) + row_number() OVER (ORDER BY c_custkey) AS new_id
        |FROM customer""".stripMargin,

    "w10_first_order_date" ->
      """SELECT DISTINCT o_custkey,
        | CAST(first_value(o_orderdate) OVER (PARTITION BY o_custkey
        |   ORDER BY o_orderdate, o_orderkey) AS DATE) AS first_order_date
        |FROM orders""".stripMargin,

    "w16_has_urgent_flag" ->
      """SELECT DISTINCT o_custkey,
        | CAST(max(CASE WHEN o_orderpriority LIKE '1%' THEN 1 ELSE 0 END)
        |   OVER (PARTITION BY o_custkey) AS BIGINT) AS has_urgent
        |FROM orders""".stripMargin,

    "text1_doc_stats" ->
      s"""WITH t AS (SELECT doc_id, text,
         |  CASE WHEN len(trim(text)) = 0 THEN []::VARCHAR[]
         |       ELSE string_split_regex(trim(lower(text)), '\\s+') END AS toks
         |  FROM documents)
         |SELECT doc_id,
         | CAST(len(toks) AS BIGINT) AS n_tokens,
         | round(CASE WHEN len(text) = 0 THEN 0.0
         |   ELSE CAST(len(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / len(text) END, 4) AS alpha_ratio,
         | round(CASE WHEN len(toks) = 0 THEN 0.0
         |   ELSE CAST(len(list_filter(toks, x -> x IN $StopList)) AS DOUBLE) / len(toks) END, 4) AS stop_ratio,
         | round(CASE WHEN len(toks) = 0 THEN 0.0
         |   ELSE CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / len(toks) END, 4) AS mean_token_len
         |FROM t""".stripMargin,

    "text2_lang_profile" -> {
      val en = langScoreSql(Seq("the", "and", "of", "to", "in", "is", "that", "for", "with", "was"))
      val es = langScoreSql(Seq("el", "la", "de", "que", "y", "en", "un", "una", "los", "por"))
      val fr = langScoreSql(Seq("le", "la", "les", "de", "et", "un", "une", "des", "est", "dans"))
      val de = langScoreSql(Seq("der", "die", "das", "und", "ist", "von", "mit", "den", "ein", "nicht"))
      val zh = langScoreSql(Seq("的", "是", "在", "了", "我", "有", "和", "不", "人", "这"))
      s"""WITH t AS (SELECT CASE WHEN len(trim(text)) = 0 THEN []::VARCHAR[]
         |    ELSE string_split_regex(trim(lower(text)), '\\s+') END AS toks FROM documents),
         |sc AS (SELECT $en AS s_en, $es AS s_es, $fr AS s_fr, $de AS s_de, $zh AS s_zh FROM t),
         |p AS (SELECT CASE
         |  WHEN greatest(s_en, s_es, s_fr, s_de, s_zh) = 0 THEN 'und'
         |  WHEN s_en = greatest(s_en, s_es, s_fr, s_de, s_zh) THEN 'en'
         |  WHEN s_es = greatest(s_en, s_es, s_fr, s_de, s_zh) THEN 'es'
         |  WHEN s_fr = greatest(s_en, s_es, s_fr, s_de, s_zh) THEN 'fr'
         |  WHEN s_de = greatest(s_en, s_es, s_fr, s_de, s_zh) THEN 'de'
         |  ELSE 'zh' END AS lang_pred FROM sc)
         |SELECT lang_pred, count(*) AS n_docs FROM p GROUP BY lang_pred""".stripMargin
    },

    "dedup1_exact" ->
      """WITH t AS (SELECT md5(array_to_string(
        |    string_split_regex(trim(lower(text)), '\s+'), ' ')) AS fp FROM documents)
        |SELECT count(*) AS n_docs, count(DISTINCT fp) AS n_distinct,
        | count(*) - count(DISTINCT fp) AS n_dups
        |FROM t""".stripMargin,

    "text3_rolling_fingerprint" ->
      """SELECT doc_id,
        | list_min(list_transform(range(1, len(lower(text)) - 6),
        |   i -> md5(substring(lower(text), i, 8)))) AS rfp
        |FROM documents WHERE len(lower(text)) >= 8""".stripMargin,

    "ngram1_jaccard_pairs" ->
      """WITH sh AS (
        |  SELECT doc_id, source,
        |    list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS s
        |  FROM (SELECT doc_id, source,
        |          string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents)
        |  WHERE len(toks) >= 3)
        |SELECT left_id, right_id, round(jaccard, 4) AS jaccard FROM (
        |  SELECT a.doc_id AS left_id, b.doc_id AS right_id,
        |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
        |  FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id)
        |WHERE jaccard >= 0.2""".stripMargin,

    "knn1_cosine_top3" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 100),
        |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
        |scored AS (
        |  SELECT query_id, neighbor_id,
        |    CASE WHEN sqrt(list_sum(list_transform(range(1, len(qv) + 1),
        |           i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))) = 0
        |         OR sqrt(list_sum(list_transform(range(1, len(cv) + 1),
        |           i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))) = 0 THEN 0.0
        |    ELSE list_sum(list_transform(range(1, len(qv) + 1),
        |           i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(range(1, len(qv) + 1),
        |           i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(range(1, len(cv) + 1),
        |           i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))))) END AS cosine
        |  FROM q JOIN c ON query_id <> neighbor_id)
        |SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS rank, round(cosine, 4) AS cosine
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY cosine DESC, neighbor_id) AS rn FROM scored)
        |WHERE rn <= 3""".stripMargin,

    // Brute-force all-pairs ground truth; equals the LSH-banded pipeline
    // whenever recall at J >= 0.5 is 1 (true on this corpus — near-dup pairs
    // sit far above the s* ~ 0.59 banding threshold).
    "dedup2_minhash_pairs" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS s
        |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
        |        FROM documents)
        |  WHERE len(toks) >= 3)
        |SELECT left_id, right_id, round(jaccard, 4) AS jaccard FROM (
        |  SELECT a.doc_id AS left_id, b.doc_id AS right_id,
        |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |WHERE jaccard >= 0.5""".stripMargin,

    // Recursive-CTE reachability over the brute-force pair set (equal to the
    // LSH pipeline's pairs — see dedup2): component = min reachable doc id.
    "dedup4_dup_clusters" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS s
        |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
        |        FROM documents)
        |  WHERE len(toks) >= 3),
        |pairs AS (
        |  SELECT a.doc_id AS left_id, b.doc_id AS right_id
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5),
        |edges AS (
        |  SELECT left_id AS a, right_id AS b FROM pairs
        |  UNION SELECT right_id, left_id FROM pairs),
        |reach(node, m) AS (
        |  SELECT DISTINCT a, a FROM edges
        |  UNION
        |  SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.m)
        |SELECT node AS doc_id, min(m) AS component
        |FROM reach GROUP BY node""".stripMargin,

    // Brute-force all-pairs cosine >= 0.95: LSH bucketing can only drop
    // pairs, so equality certifies no false positives (and exact agreement
    // here, where recall questions don't arise).
    "knn4_cosine_neardup" ->
      """WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
        |scored AS (
        |  SELECT a.vec_id AS left_id, b.vec_id AS right_id,
        |    list_sum(list_transform(range(1, len(a.v) + 1),
        |        i -> CAST(a.v[i] AS DOUBLE) * CAST(b.v[i] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(range(1, len(a.v) + 1),
        |           i -> CAST(a.v[i] AS DOUBLE) * CAST(a.v[i] AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(range(1, len(b.v) + 1),
        |           i -> CAST(b.v[i] AS DOUBLE) * CAST(b.v[i] AS DOUBLE))))) AS cosine
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT left_id, right_id, round(cosine, 4) AS cosine
        |FROM scored WHERE cosine >= 0.95""".stripMargin,

    "w1_event_order" ->
      """SELECT user_id, event_id,
        | CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS event_order,
        | CAST(dense_rank() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS record_rank
        |FROM events""".stripMargin,

    "w9_first_last_seen" ->
      """SELECT DISTINCT user_id,
        | min(ts) OVER (PARTITION BY user_id) AS first_seen,
        | max(ts) OVER (PARTITION BY user_id) AS last_seen
        |FROM events""".stripMargin,

    "w17_first_event" ->
      """SELECT user_id, event_id AS first_event_id, event_type AS first_event_type
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts, event_id) AS rn FROM events)
        |WHERE rn = 1""".stripMargin,

    "a5_session_spans" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts,
        |    SUM(CASE WHEN prev_ts IS NULL
        |             OR date_diff('second', prev_ts, ts) > 3600 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM g)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        | min(ts) AS session_start, max(ts) AS session_end, count(*) AS n_events
        |FROM s GROUP BY user_id, session_id""".stripMargin,

    "a6_qualified_types" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type
        |HAVING count(DISTINCT user_id) >= 100""".stripMargin,

    "a7_order_bounds" ->
      """SELECT o_custkey,
        | CAST(min(o_orderdate) AS DATE) AS min_date,
        | CAST(max(o_orderdate) AS DATE) AS max_date,
        | min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders GROUP BY o_custkey""".stripMargin,

    "a11_max_price_per_brand" ->
      """SELECT p_brand, round(max(p_retailprice), 2) AS max_price
        |FROM part GROUP BY p_brand""".stripMargin,

    "a14_rollup_totals" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_rows
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    "j8_overlap_master" ->
      """SELECT a.o_custkey, b.o_orderkey, min(a.o_orderkey) AS master_orderkey
        |FROM orders a JOIN orders b
        |  ON a.o_custkey = b.o_custkey AND a.o_orderkey <> b.o_orderkey
        |  AND CAST(b.o_orderdate AS DATE)
        |      BETWEEN CAST(a.o_orderdate AS DATE)
        |          AND CAST(a.o_orderdate AS DATE) + INTERVAL 7 DAY
        |GROUP BY a.o_custkey, b.o_orderkey""".stripMargin,

    // Mirrors the production exclusion SQL text (same joins, same WHERE) with
    // ISNOTNULL spelled IS NOT NULL — DuckDB has no ISNOTNULL function.
    "j11_exclusion" ->
      """WITH target AS (
        |  SELECT o_custkey AS person_id, o_orderdate AS index_date FROM orders),
        |entry AS (
        |  SELECT o_custkey AS person_id, o_orderdate AS index_date FROM orders
        |  WHERE o_orderpriority = '1-URGENT'),
        |low AS (
        |  SELECT o_custkey AS person_id, o_orderdate AS index_date FROM orders
        |  WHERE o_orderpriority = '5-LOW'),
        |t1 AS (
        |  SELECT t.person_id AS cohort_member_id, t.*
        |  FROM target AS t
        |  LEFT JOIN entry AS o
        |    ON t.person_id = o.person_id
        |    AND t.index_date + INTERVAL 0 DAY > o.index_date
        |  WHERE o.person_id IS NULL),
        |t2 AS (
        |  SELECT DISTINCT t.*
        |  FROM t1 AS t
        |  LEFT JOIN low AS exclusion
        |    ON t.person_id = exclusion.person_id
        |    AND exclusion.index_date BETWEEN t.index_date
        |        AND t.index_date + INTERVAL 29 DAY
        |  WHERE exclusion.person_id IS NULL)
        |SELECT cohort_member_id, person_id, index_date FROM t2""".stripMargin,

    "j12_outcome_label" ->
      """WITH target AS (
        |  SELECT o_custkey AS person_id, min(o_orderdate) AS index_date
        |  FROM orders GROUP BY 1),
        |outcome AS (
        |  SELECT o_custkey AS person_id, o_orderdate AS index_date FROM orders
        |  WHERE o_orderpriority = '1-URGENT'),
        |op AS (
        |  SELECT o_custkey AS person_id,
        |    max(o_orderdate) + INTERVAL 90 DAY AS observation_period_end_date
        |  FROM orders GROUP BY 1)
        |SELECT DISTINCT t.person_id, t.index_date, o.index_date AS outcome_date,
        |  CAST(o.person_id IS NOT NULL AS INT) AS label
        |FROM target AS t
        |LEFT JOIN op
        |  ON t.person_id = op.person_id
        |  AND t.index_date + INTERVAL 360 DAY <= op.observation_period_end_date
        |LEFT JOIN outcome AS o
        |  ON t.person_id = o.person_id
        |  AND o.index_date BETWEEN t.index_date + INTERVAL 30 DAY
        |      AND t.index_date + INTERVAL 360 DAY
        |WHERE op.person_id IS NOT NULL OR o.person_id IS NOT NULL""".stripMargin,

    "j12b_label_unbounded" ->
      """WITH target AS (
        |  SELECT o_custkey AS person_id, min(o_orderdate) AS index_date
        |  FROM orders GROUP BY 1),
        |outcome AS (
        |  SELECT o_custkey AS person_id, o_orderdate AS index_date FROM orders
        |  WHERE o_orderpriority = '1-URGENT')
        |SELECT DISTINCT t.person_id, t.index_date, o.index_date AS outcome_date,
        |  CAST(o.person_id IS NOT NULL AS INT) AS label
        |FROM target AS t
        |LEFT JOIN outcome AS o
        |  ON t.person_id = o.person_id
        |  AND o.index_date >= t.index_date + INTERVAL 30 DAY""".stripMargin,

    "p10_unit_cleanup" ->
      """SELECT regexp_replace(regexp_replace('{annot}/' || p_type, '\{.*?\}', ''), '^/', '1/') AS unit,
        | count(*) AS n
        |FROM part GROUP BY 1""".stripMargin,

    "p11_numeric_detector" ->
      """WITH t AS (SELECT json_extract_string(props, '$.k') AS k_str FROM events)
        |SELECT CAST(CASE WHEN regexp_extract(k_str, '^[+-]?\d*\.?\d+$') <> ''
        |            THEN 1 ELSE 0 END AS BIGINT) AS is_numeric,
        | count(*) AS n,
        | round(sum(CASE WHEN regexp_extract(k_str, '^[+-]?\d*\.?\d+$') <> ''
        |           THEN CAST(k_str AS DOUBLE) ELSE 0.0 END), 2) AS numeric_sum
        |FROM t GROUP BY 1""".stripMargin,

    "f5_mix_tokens" ->
      """WITH g AS (
        |  SELECT date_diff('day',
        |    CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DATE),
        |    CAST(o_orderdate AS DATE)) AS gap_days
        |  FROM orders),
        |tok AS (
        |  SELECT
        |    CASE WHEN gap_days <= 7 THEN 'D' || CAST(gap_days AS VARCHAR)
        |         WHEN gap_days <= 30 THEN 'W' || CAST(CAST(ceil(gap_days / 7.0) AS BIGINT) AS VARCHAR)
        |         WHEN gap_days <= 360 THEN 'M' || CAST(CAST(ceil(gap_days / 30.0) AS BIGINT) AS VARCHAR)
        |         ELSE 'LT' END AS mix_token,
        |    CASE WHEN gap_days < 1080 THEN 'D' || CAST(gap_days AS VARCHAR)
        |         ELSE 'LT' END AS day_token
        |  FROM g WHERE gap_days IS NOT NULL)
        |SELECT mix_token, count(*) AS n, count(DISTINCT day_token) AS n_day_tokens
        |FROM tok GROUP BY mix_token""".stripMargin,

    "u1_union_distinct" ->
      """SELECT DISTINCT name FROM (
        |  SELECT n_name AS name FROM nation
        |  UNION ALL
        |  SELECT r_name AS name FROM region)""".stripMargin,

    "seq2_week_bins" ->
      """SELECT user_id,
        | CAST(floor(epoch(CAST(CAST(ts AS DATE) AS TIMESTAMP)) / 604800) AS BIGINT) AS date_in_week,
        | count(*) AS n_events
        |FROM events GROUP BY 1, 2""".stripMargin,

    "text4_quality_score" -> {
      s"""WITH t AS (SELECT doc_id, text,
         |  CASE WHEN len(trim(text)) = 0 THEN []::VARCHAR[]
         |       ELSE string_split_regex(trim(lower(text)), '\\s+') END AS toks
         |  FROM documents),
         |c AS (SELECT doc_id,
         |  least(len(toks) / 100.0, 1.0) AS len_score,
         |  CASE WHEN len(text) = 0 THEN 0.0
         |       ELSE CAST(len(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / len(text) END AS alpha,
         |  least(CASE WHEN len(toks) = 0 THEN 0.0
         |        ELSE CAST(len(list_filter(toks, x -> x IN $StopList)) AS DOUBLE) / len(toks) END * 5.0,
         |        1.0) AS stop_score,
         |  CASE WHEN len(toks) = 0 THEN 0.0
         |       ELSE CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / len(toks) END AS mtl
         |  FROM t)
         |SELECT doc_id,
         | round(len_score * 0.3 + alpha * 0.3 + stop_score * 0.2 +
         |   (CASE WHEN mtl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.2, 4) AS quality
         |FROM c""".stripMargin
    },

    "text5_token_quantiles" ->
      """WITH t AS (SELECT
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_class,
        |  CAST(CASE WHEN len(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(lower(text)), '\s+')) END AS DOUBLE) AS n_tokens
        |  FROM documents)
        |SELECT media_class,
        | round(quantile_cont(n_tokens, 0.1), 4) AS p10,
        | round(quantile_cont(n_tokens, 0.5), 4) AS p50,
        | round(quantile_cont(n_tokens, 0.9), 4) AS p90
        |FROM t GROUP BY media_class""".stripMargin,

    "mm1_media_meta_stats" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |    octet_length(encode(text)) AS sz,
        |    CASE WHEN doc_id % 3 = 1 THEN 16000 ELSE NULL END AS sample_rate
        |  FROM documents)
        |SELECT media_type, count(*) AS n,
        | round(avg(sz % 640 + 64), 4) AS avg_width,
        | CAST(sum(sz * 10) AS BIGINT) AS total_duration_ms,
        | count(DISTINCT sample_rate) AS n_sample_rates
        |FROM m GROUP BY media_type""".stripMargin,

    // integer reconstruction of resize scaling + frame-slice byte counts;
    // double math (256/greatest) is IEEE-identical across engines
    "mm3_media_resize_frames" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, octet_length(encode(text)) AS sz FROM documents),
        |d AS (SELECT media_id, sz, sz % 640 + 64 AS w, sz % 480 + 48 AS h FROM m),
        |s AS (SELECT *, least(1.0, 256 / CAST(greatest(w, h) AS DOUBLE)) AS scale FROM d)
        |SELECT media_id,
        |  CAST(ceil(w * scale) AS INT) AS rw,
        |  CAST(ceil(h * scale) AS INT) AS rh,
        |  CAST(4 AS BIGINT) AS n_frames,
        |  CAST(list_sum(list_transform(range(0, 4),
        |    i -> greatest(least(greatest(sz // 4, 1), sz - (sz * i // 4)), 0))) AS BIGINT)
        |    AS frame_bytes
        |FROM s""".stripMargin,

    // analytic reconstruction of the real-codec decode: solid-color PNGs
    // mean every per-channel sum is width*height*channel — no image code
    // on the oracle side, so agreement certifies the actual decode
    "mm4_real_codec_features" ->
      """SELECT doc_id AS media_id,
        | doc_id % 5 + 2 AS w,
        | doc_id % 3 + 2 AS h,
        | CAST(3 AS BIGINT) AS bands,
        | (doc_id % 5 + 2) * (doc_id % 3 + 2) * (doc_id % 256) AS sum_r,
        | (doc_id % 5 + 2) * (doc_id % 3 + 2) * ((doc_id * 7) % 256) AS sum_g,
        | (doc_id % 5 + 2) * (doc_id % 3 + 2) * ((doc_id * 13) % 256) AS sum_b
        |FROM documents""".stripMargin,

    // analytic reconstruction of the real-audio decode: constant
    // per-channel PCM samples mean each channel sum is frames*value —
    // no audio code on the oracle side, so agreement certifies the
    // actual WAV encode→decode round trip
    "mm5_real_audio_features" ->
      """SELECT doc_id AS media_id,
        | doc_id % 2 + 1 AS channels,
        | CAST(8000 AS BIGINT) AS sample_rate,
        | doc_id % 32 + 8 AS frames,
        | (doc_id % 32 + 8) * ((doc_id * 11) % 256) AS sum_ch0,
        | CASE WHEN doc_id % 2 = 1
        |   THEN (doc_id % 32 + 8) * ((doc_id * 17) % 256)
        |   ELSE 0 END AS sum_ch1
        |FROM documents""".stripMargin,

    // analytic reconstruction of the real-video decode: solid-color DIB
    // frames are lossless, so each channel sum is w*h*Σ_f color(id,f) —
    // no container code on the oracle side, so agreement certifies the
    // actual RIFF parse + raster decode across every frame
    "mm6_real_video_features" ->
      """SELECT doc_id AS media_id,
        | doc_id % 4 + 2 AS frames,
        | doc_id % 3 + 2 AS w,
        | doc_id % 2 + 2 AS h,
        | CAST((doc_id % 3 + 2) * (doc_id % 2 + 2) * list_sum(list_transform(
        |   range(0, doc_id % 4 + 2), f -> (doc_id * 7 + f * 31) % 256)) AS BIGINT) AS sum_r,
        | CAST((doc_id % 3 + 2) * (doc_id % 2 + 2) * list_sum(list_transform(
        |   range(0, doc_id % 4 + 2), f -> (doc_id * 11 + f * 37) % 256)) AS BIGINT) AS sum_g,
        | CAST((doc_id % 3 + 2) * (doc_id % 2 + 2) * list_sum(list_transform(
        |   range(0, doc_id % 4 + 2), f -> (doc_id * 13 + f * 41) % 256)) AS BIGINT) AS sum_b
        |FROM documents""".stripMargin,

    // analytic reconstruction of the MJPEG container parse: frame count
    // and dims come from the chunk walk alone (id arithmetic), no
    // container or image code on the oracle side — certifying the ##dc
    // (compressed-frame) half of the RIFF/AVI parse that mm6's lossless
    // DIB corpus can't reach
    "mm7_mjpeg_container_parse" ->
      """SELECT doc_id AS media_id,
        | doc_id % 3 + 1 AS frames,
        | doc_id % 5 + 8 AS w,
        | doc_id % 3 + 8 AS h
        |FROM documents""".stripMargin,

    // analytic reconstruction of the IMA ADPCM decode: the fixed nibble
    // pattern's cumulative offsets sum to 28163 per 33-sample block and
    // the id-derived predictor stays in the clamp-free linear region, so
    // the decoded sample sum is blocks*(33*predictor + 28163) — no audio
    // code on the oracle side, certifying the hand-written state machine
    "mm8_adpcm_audio_features" ->
      """SELECT doc_id AS media_id,
        | CAST(1 AS BIGINT) AS channels,
        | CAST(8000 AS BIGINT) AS sample_rate,
        | (doc_id % 3 + 1) * 33 AS frames,
        | (doc_id % 3 + 1) * (33 * (doc_id % 200 + 10) + 28163) AS sum_samples
        |FROM documents""".stripMargin,

    // analytic G.711 expansion (Sun g711.c, both laws) in plain SQL:
    // µ-law complements the code, rebuilds the biased mantissa and
    // shifts by the segment; A-law toggles the even bits, with segment 0
    // linear and higher segments doubling; A-law's SET sign bit means
    // positive (the opposite of µ-law). Codes are constant per channel,
    // so each per-channel sum is frames · expansion(code).
    "mm9_g711_audio_features" ->
      """WITH base AS (
        |  SELECT doc_id AS media_id, doc_id % 2 + 1 AS channels,
        |         doc_id % 32 + 8 AS frames, doc_id % 3 = 0 AS alaw,
        |         CAST((doc_id * 11) % 256 AS INT) AS c0,
        |         CAST((doc_id * 17) % 256 AS INT) AS c1
        |  FROM documents),
        |u AS (SELECT *, 255 - c0 AS u0, 255 - c1 AS u1,
        |             xor(c0, 85) AS a0, xor(c1, 85) AS a1 FROM base),
        |t AS (SELECT *,
        |  ((u0 % 16) * 8 + 132) * (1 << ((u0 // 16) % 8)) AS ut0,
        |  ((u1 % 16) * 8 + 132) * (1 << ((u1 // 16) % 8)) AS ut1,
        |  (a0 // 16) % 8 AS s0, (a1 // 16) % 8 AS s1,
        |  (a0 % 16) * 16 AS m0, (a1 % 16) * 16 AS m1 FROM u),
        |v AS (SELECT *,
        |  CASE WHEN alaw THEN
        |    (CASE WHEN a0 >= 128 THEN 1 ELSE -1 END) *
        |    (CASE WHEN s0 = 0 THEN m0 + 8 WHEN s0 = 1 THEN m0 + 264
        |          ELSE (m0 + 264) * (1 << (s0 - 1)) END)
        |  ELSE CASE WHEN u0 >= 128 THEN 132 - ut0 ELSE ut0 - 132 END END AS v0,
        |  CASE WHEN alaw THEN
        |    (CASE WHEN a1 >= 128 THEN 1 ELSE -1 END) *
        |    (CASE WHEN s1 = 0 THEN m1 + 8 WHEN s1 = 1 THEN m1 + 264
        |          ELSE (m1 + 264) * (1 << (s1 - 1)) END)
        |  ELSE CASE WHEN u1 >= 128 THEN 132 - ut1 ELSE ut1 - 132 END END AS v1
        |  FROM t)
        |SELECT media_id, CAST(channels AS BIGINT) AS channels,
        |  CAST(8000 AS BIGINT) AS sample_rate, CAST(frames AS BIGINT) AS frames,
        |  CAST(frames * v0 AS BIGINT) AS sum_ch0,
        |  CAST(CASE WHEN channels = 2 THEN frames * v1 ELSE 0 END AS BIGINT) AS sum_ch1
        |FROM v""".stripMargin,

    // batch-sequential dedup semantics of the streaming sink replay over
    // the same derived echo corpus: the kept row per distinct text is the
    // first by (batch = doc_id % 4, then doc_id) — NOT min(doc_id): the
    // +1000001 echo of an id ≡3 mod 4 lands in batch 0, so the ledger
    // keeps the ECHO and the original is dropped three batches later,
    // which a global min(doc_id) gets wrong — the discriminating case
    "sq1_streaming_exact_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000001, text FROM documents WHERE doc_id % 7 = 3
        |  UNION ALL
        |  SELECT doc_id + 4000000, text FROM documents WHERE doc_id % 11 = 5)
        |SELECT doc_id, text FROM (
        |  SELECT doc_id, text,
        |         row_number() OVER (PARTITION BY text
        |                            ORDER BY doc_id % 4, doc_id) AS rn
        |  FROM corpus)
        |WHERE rn = 1""".stripMargin,

    // retention-window dedup: with the replay's logical clock (batch b at
    // minute b) and a 90 s window, a kept row suppresses ONLY the next
    // batch — so the keeper set is the recurrence kept(b) = per-(batch,
    // text) min-id candidates whose text was NOT kept at b-1 (suppressed
    // occurrences don't re-stamp, so they don't extend the window). Four
    // batches unroll to a 4-level CTE chain.
    "sq3_streaming_dedup_retention" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000001, text FROM documents WHERE doc_id % 7 = 3
        |  UNION ALL
        |  SELECT doc_id + 2000002, text FROM documents WHERE doc_id % 11 = 5
        |  UNION ALL
        |  SELECT doc_id + 3000001, text FROM documents WHERE doc_id % 13 = 2
        |  UNION ALL
        |  SELECT doc_id + 7000002, text FROM documents WHERE doc_id % 13 = 2),
        |cand AS (
        |  SELECT doc_id % 4 AS b, text, min(doc_id) AS doc_id
        |  FROM corpus GROUP BY 1, 2),
        |k0 AS (SELECT * FROM cand WHERE b = 0),
        |k1 AS (SELECT c.* FROM cand c WHERE b = 1
        |       AND NOT EXISTS (SELECT 1 FROM k0 WHERE k0.text = c.text)),
        |k2 AS (SELECT c.* FROM cand c WHERE b = 2
        |       AND NOT EXISTS (SELECT 1 FROM k1 WHERE k1.text = c.text)),
        |k3 AS (SELECT c.* FROM cand c WHERE b = 3
        |       AND NOT EXISTS (SELECT 1 FROM k2 WHERE k2.text = c.text))
        |SELECT doc_id, text FROM (
        |  SELECT * FROM k0 UNION ALL SELECT * FROM k1
        |  UNION ALL SELECT * FROM k2 UNION ALL SELECT * FROM k3)""".stripMargin,

    // the near-dup replay's keeper set over the SAME generated corpus:
    // duplicates are verbatim (LSH decisions deterministic), so the
    // batch-sequential rule is exactly SQL-expressible — the +1000001
    // echo of an id ≡3 mod 4 lands in batch 0 and becomes the keeper,
    // discriminating banded-ledger semantics from a global min(doc_id)
    "sq2_streaming_neardup" ->
      s"""WITH gen AS (
        |  SELECT doc_id, 'doc ' || ${sq2Tokens("VARCHAR")} AS text
        |  FROM documents),
        |corpus AS (
        |  SELECT doc_id, text FROM gen
        |  UNION ALL
        |  SELECT doc_id + 1000001, text FROM gen WHERE doc_id % 7 = 3
        |  UNION ALL
        |  SELECT doc_id + 4000000, text FROM gen WHERE doc_id % 11 = 5)
        |SELECT doc_id, text FROM (
        |  SELECT doc_id, text,
        |         row_number() OVER (PARTITION BY text
        |                            ORDER BY doc_id % 4, doc_id) AS rn
        |  FROM corpus)
        |WHERE rn = 1""".stripMargin,

    // sq3's retention recurrence over the GENERATED near-dup corpus
    // (verbatim echoes; see sq2's corpus note) — certifies the banded
    // ledger's bounded-window semantics end to end
    "sq4_streaming_neardup_retention" ->
      s"""WITH gen AS (
        |  SELECT doc_id, 'doc ' || ${sq2Tokens("VARCHAR")} AS text
        |  FROM documents),
        |corpus AS (
        |  SELECT doc_id, text FROM gen
        |  UNION ALL
        |  SELECT doc_id + 1000001, text FROM gen WHERE doc_id % 7 = 3
        |  UNION ALL
        |  SELECT doc_id + 2000002, text FROM gen WHERE doc_id % 11 = 5
        |  UNION ALL
        |  SELECT doc_id + 3000001, text FROM gen WHERE doc_id % 13 = 2
        |  UNION ALL
        |  SELECT doc_id + 7000002, text FROM gen WHERE doc_id % 13 = 2),
        |cand AS (
        |  SELECT doc_id % 4 AS b, text, min(doc_id) AS doc_id
        |  FROM corpus GROUP BY 1, 2),
        |k0 AS (SELECT * FROM cand WHERE b = 0),
        |k1 AS (SELECT c.* FROM cand c WHERE b = 1
        |       AND NOT EXISTS (SELECT 1 FROM k0 WHERE k0.text = c.text)),
        |k2 AS (SELECT c.* FROM cand c WHERE b = 2
        |       AND NOT EXISTS (SELECT 1 FROM k1 WHERE k1.text = c.text)),
        |k3 AS (SELECT c.* FROM cand c WHERE b = 3
        |       AND NOT EXISTS (SELECT 1 FROM k2 WHERE k2.text = c.text))
        |SELECT doc_id, text FROM (
        |  SELECT * FROM k0 UNION ALL SELECT * FROM k1
        |  UNION ALL SELECT * FROM k2 UNION ALL SELECT * FROM k3)""".stripMargin,

    // the stateful replay's sessions ARE the batch gap-and-island answer
    // (w13's SQL, emitted per-session instead of rolled up per-user):
    // time-ordered batches + the sentinel flush make the streaming state
    // path emit exactly one row per (user, session). Second-truncated
    // event times keep the epoch arithmetic identical on both sides.
    "sq5_streaming_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, date_trunc('second', ts) AS ts, event_id
        |  FROM events),
        |g AS (
        |  SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM e),
        |s AS (
        |  SELECT user_id, ts,
        |    SUM(CASE WHEN prev_ts IS NULL
        |             OR epoch(ts) - epoch(prev_ts) > 3600 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM g)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |       CAST(count(*) AS INT) AS n_events
        |FROM s GROUP BY user_id, session_id""".stripMargin,

    // the per-group cap replayed exactly: same hash, same tie-break
    "s12_capped_per_group" ->
      """WITH h AS (
        |  SELECT o_orderkey, o_orderpriority,
        |    ((o_orderkey % 2147483648) * 1103515245 + 12345) % 2147483648 AS hv
        |  FROM orders),
        |r AS (
        |  SELECT o_orderkey, o_orderpriority,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY hv, o_orderkey) AS rn
        |  FROM h)
        |SELECT o_orderkey, o_orderpriority FROM r WHERE rn <= 500""".stripMargin,

    // the quantization codes replayed exactly in DuckDB: same widenings,
    // same expression shape, same floor
    "knn5_int8_quantization" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    CAST(list_aggregate(embedding, 'min') AS DOUBLE) AS mn,
        |    CAST(list_aggregate(embedding, 'max') AS DOUBLE) AS mx
        |  FROM embeddings),
        |s AS (SELECT vec_id, embedding, mn, (mx - mn) / 255.0 AS sc FROM e)
        |SELECT vec_id,
        |  CAST(list_sum(list_transform(embedding, x ->
        |    CASE WHEN sc = 0 THEN 0
        |         ELSE CAST(floor((CAST(x AS DOUBLE) - mn) / sc + 0.5) AS BIGINT)
        |    END)) AS BIGINT) AS q_sum,
        |  CAST(len(embedding) AS BIGINT) AS dims
        |FROM s""".stripMargin,

    // the stratified sample's membership arithmetic, replayed exactly:
    // hv = ((key mod 2^31)*1103515245 + 12345) mod 2^31, thresholds are
    // the Scala-side (rate*2^31).toLong TRUNCATED literals (429496729 for
    // 0.2 — a CAST(0.2*2147483648 AS BIGINT) would ROUND to ...730 and
    // disagree on boundary rows)
    "s11_stratified_sample" ->
      """WITH h AS (
        |  SELECT o_orderkey, o_orderpriority,
        |    ((o_orderkey % 2147483648) * 1103515245 + 12345) % 2147483648 AS hv
        |  FROM orders)
        |SELECT o_orderkey, o_orderpriority FROM h
        |WHERE hv < CASE o_orderpriority
        |  WHEN '1-URGENT' THEN 429496729
        |  WHEN '3-MEDIUM' THEN 1073741824
        |  WHEN '5-LOW' THEN 2147483648
        |  ELSE -1 END""".stripMargin,

    // mm10 decodes snappy(text) back to text through the jar codec: the
    // expected features ARE mm2's byte folds of the original text — the
    // equality is what certifies the round-trip (compressed bytes would
    // sum differently)
    "mm10_jar_codec_features" ->
      """WITH b AS (
        |  SELECT doc_id AS media_id, hex(encode(text)) AS h, octet_length(encode(text)) AS n
        |  FROM documents)
        |SELECT media_id,
        | round(COALESCE(list_sum(list_transform(range(0, n),
        |   i -> CAST('0x' || substring(h, 2*i + 1, 2) AS INT))), 0), 2) AS feature_sum,
        | CAST(8 AS BIGINT) AS dims
        |FROM b""".stripMargin,

    "mm2_media_features" ->
      """WITH b AS (
        |  SELECT doc_id AS media_id, hex(encode(text)) AS h, octet_length(encode(text)) AS n
        |  FROM documents)
        |SELECT media_id,
        | round(COALESCE(list_sum(list_transform(range(0, n),
        |   i -> CAST('0x' || substring(h, 2*i + 1, 2) AS INT))), 0), 2) AS feature_sum,
        | CAST(8 AS BIGINT) AS dims
        |FROM b""".stripMargin,

    // decontamination replayed exactly: same tokenizer mirror, same
    // 4-gram windows (range(1, len-2) ↔ sequence(0, size-4)), same
    // eval slice, distinct shared shingles per surviving train doc
    "decon1_benchmark_overlap" ->
      """WITH t AS (SELECT doc_id,
        |  CASE WHEN len(trim(text)) = 0 THEN []::VARCHAR[]
        |       ELSE string_split_regex(trim(lower(text)), '\s+') END AS w
        |  FROM documents),
        |sh AS (SELECT doc_id,
        |  unnest(CASE WHEN len(w) < 4 THEN []::VARCHAR[]
        |    ELSE list_transform(range(1, len(w) - 2),
        |           i -> array_to_string(w[i:i+3], ' ')) END) AS s
        |  FROM t),
        |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 41 = 0)
        |SELECT sh.doc_id, count(DISTINCT sh.s) AS n_shared
        |FROM sh JOIN ev USING (s)
        |WHERE sh.doc_id % 41 <> 0
        |GROUP BY sh.doc_id""".stripMargin,

    // the packing cumsum replayed exactly: same shard, same order, same
    // integer chunk arithmetic
    "pack1_token_chunks" ->
      """WITH t AS (SELECT doc_id, doc_id % 32 AS shard,
        |  CAST(CASE WHEN len(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(lower(text)), '\s+')) END AS BIGINT) AS n_tok
        |  FROM documents),
        |r AS (SELECT *, sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run FROM t)
        |SELECT doc_id, shard, n_tok,
        |  CAST(floor((run - n_tok) / 512.0) AS BIGINT) AS first_chunk,
        |  CAST(CASE WHEN n_tok = 0 THEN floor((run - n_tok) / 512.0)
        |       ELSE floor((run - 1) / 512.0) END AS BIGINT) AS last_chunk,
        |  CAST((run - n_tok) % 512 AS BIGINT) AS chunk_offset
        |FROM r""".stripMargin,

    // repetition signals replayed exactly: same tokenizer mirror, same
    // per-doc occurrence counting, same IEEE divisions (no rounding —
    // identical operands give identical doubles)
    "text6_repetition" ->
      """WITH t AS (SELECT doc_id,
        |  CASE WHEN len(trim(text)) = 0 THEN []::VARCHAR[]
        |       ELSE string_split_regex(trim(lower(text)), '\s+') END AS w
        |  FROM documents),
        |g AS (SELECT doc_id, w,
        |  CASE WHEN len(w) < 2 THEN []::VARCHAR[]
        |    ELSE list_transform(range(1, len(w)),
        |           i -> array_to_string(w[i:i+1], ' ')) END AS g2
        |  FROM t)
        |SELECT doc_id,
        |  CAST(len(w) AS BIGINT) AS n_words,
        |  CASE WHEN len(w) = 0 THEN 0.0
        |    ELSE CAST(list_max(list_transform(list_distinct(w),
        |           x -> len(list_filter(w, y -> y = x)))) AS DOUBLE) / len(w)
        |  END AS top_word_frac,
        |  CASE WHEN len(g2) = 0 THEN 0.0
        |    ELSE CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / len(g2)
        |  END AS dup_2gram_frac
        |FROM g""".stripMargin,

    // the temperature thresholds replayed exactly: sqrt is correctly
    // rounded in IEEE 754, so floor(sqrt(n_min/n)·2³¹) is bit-identical
    // across engines; membership is the shared LCG arithmetic
    // the leakage-free split replayed exactly: dedup4's recursive-CTE
    // components (same brute-force pair space), singletons coalesced to
    // their own id, the LCG split threshold the Scala-side TRUNCATED
    // (0.8·2³¹).toLong literal
    "s14_leakage_free_split" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS s
        |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
        |        FROM documents)
        |  WHERE len(toks) >= 3),
        |pairs AS (
        |  SELECT a.doc_id AS left_id, b.doc_id AS right_id
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5),
        |edges AS (
        |  SELECT left_id AS a, right_id AS b FROM pairs
        |  UNION SELECT right_id, left_id FROM pairs),
        |reach(node, m) AS (
        |  SELECT DISTINCT a, a FROM edges
        |  UNION
        |  SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.m),
        |comp AS (SELECT node, min(m) AS component FROM reach GROUP BY node)
        |SELECT d.doc_id,
        |  COALESCE(c.component, d.doc_id) AS split_key,
        |  CASE WHEN ((COALESCE(c.component, d.doc_id) % 2147483648)
        |             * 1103515245 + 12345) % 2147483648 < 1717986918
        |       THEN 'train' ELSE 'test' END AS split
        |FROM documents d LEFT JOIN comp c ON d.doc_id = c.node""".stripMargin,

    // the PII pipeline replayed exactly: same corpus-seeding arithmetic,
    // same RE2-subset patterns (leftmost-first, greedy — identical in
    // Java regex and RE2), same IP-then-email scrub order; DuckDB's
    // regexp_replace needs the 'g' flag to match Spark's replace-all
    "text8_pii_scrub" ->
      """WITH p AS (SELECT doc_id, text ||
        |  CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
        |       || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.example' ELSE '' END ||
        |  CASE WHEN doc_id % 5 = 0 THEN ' from ' || CAST(doc_id % 256 AS VARCHAR)
        |       || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
        |       || '.' || CAST((doc_id * 13) % 256 AS VARCHAR)
        |       || '.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END AS s
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(s, '[a-z0-9]+@[a-z0-9.]+[a-z]')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(s,
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS BIGINT) AS n_ips,
        |  md5(regexp_replace(regexp_replace(s,
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g'),
        |    '[a-z0-9]+@[a-z0-9.]+[a-z]', '<EMAIL>', 'g')) AS scrub_md5
        |FROM p""".stripMargin,

    // the rare-word pipeline replayed exactly: same tokenizer mirror,
    // same df counting, same interpolated median, same capped common set
    // (total order), same left-join occurrence counting
    "text7_rare_word_frac" ->
      """WITH t AS (SELECT doc_id,
        |  CASE WHEN len(trim(text)) = 0 THEN []::VARCHAR[]
        |       ELSE string_split_regex(trim(lower(text)), '\s+') END AS w
        |  FROM documents),
        |e AS (SELECT doc_id, unnest(list_distinct(w)) AS token FROM t),
        |dfx AS (SELECT token, count(*) AS df FROM e GROUP BY token),
        |med AS (SELECT median(df) AS q FROM dfx),
        |common AS (SELECT token FROM (
        |    SELECT token, row_number() OVER (ORDER BY df DESC, token) AS rn
        |    FROM dfx, med WHERE df >= q)
        |  WHERE rn <= 4096),
        |occ AS (SELECT doc_id, unnest(w) AS token FROM t),
        |j AS (SELECT o.doc_id, c.token AS ctok
        |      FROM occ o LEFT JOIN common c USING (token))
        |SELECT doc_id,
        |  count(*) AS n_tok,
        |  count(*) - count(ctok) AS n_rare,
        |  CAST(count(*) - count(ctok) AS DOUBLE) / count(*) AS rare_frac
        |FROM j GROUP BY doc_id""".stripMargin,

    "s13_temperature_mix" ->
      """WITH c AS (SELECT lang AS grp, count(*) AS n FROM documents GROUP BY lang),
        |m AS (SELECT min(n) AS n_min FROM c),
        |r AS (SELECT grp,
        |  CAST(floor(sqrt(CAST(n_min AS DOUBLE) / n) * 2147483648) AS BIGINT) AS thr
        |  FROM c, m)
        |SELECT d.doc_id, d.lang FROM documents d JOIN r ON d.lang = r.grp
        |WHERE ((d.doc_id % 2147483648) * 1103515245 + 12345) % 2147483648 < r.thr""".stripMargin
  )
}
