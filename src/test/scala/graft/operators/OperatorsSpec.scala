package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

/** Fixture-level specs for the generic operators (also oracle-validated
  * against DuckDB through the driver contract at sf0.01). */
class OperatorsSpec extends SparkSpecBase {

  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("Sessionize.byGap splits on inactivity gaps and numbers sessions from 1") {
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L),
      (1L, ts("2024-01-01 10:30:00"), 2L),
      (1L, ts("2024-01-01 12:31:00"), 3L), // > 1h after previous → new session
      (2L, ts("2024-01-01 09:00:00"), 4L))
      .toDF("user_id", "ts", "event_id")
    val out = Sessionize.byGap(events, Seq("user_id"), col("ts"),
        Seq(col("ts"), col("event_id")), gapSeconds = 3600)
      .orderBy("user_id", "ts").collect()
    assert(out.map(_.getAs[Long]("session_id")).toSeq == Seq(1L, 1L, 2L, 1L))
  }

  test("TemporalJoins.asOfBackward picks the latest right row at or before each left ts") {
    val left = Seq((10L, 1L, ts("2024-01-05 00:00:00"))).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (1L, 100L, ts("2024-01-01 00:00:00")),
      (1L, 101L, ts("2024-01-04 00:00:00")),
      (1L, 102L, ts("2024-01-06 00:00:00"))) // after left ts → excluded
      .toDF("k", "order_id", "order_ts")
    val out = TemporalJoins.asOfBackward(left, right, Seq("user_id"), Seq("k"),
      col("ts"), col("order_ts"), leftId = Seq("event_id"),
      tieBreak = Seq(col("order_id").desc)).collect()
    assert(out.length == 1 && out(0).getAs[Long]("order_id") == 101L)
  }

  test("asOfBackwardSorted agrees with asOfBackward, including timestamp ties and no-match drops") {
    val rnd = new scala.util.Random(11)
    val left = (1L to 200L).map(i =>
      (i, i % 7, ts(f"2024-01-${rnd.nextInt(28) + 1}%02d 06:00:00")))
      .toDF("event_id", "user_id", "ts")
    val right = (1L to 300L).map(i =>
      (i % 7, i, ts(f"2024-01-${rnd.nextInt(28) + 1}%02d 06:00:00"))) // ties guaranteed
      .toDF("k", "order_id", "order_ts")

    val viaJoin = TemporalJoins.asOfBackward(left, right, Seq("user_id"), Seq("k"),
        col("ts"), col("order_ts"), leftId = Seq("event_id"),
        tieBreak = Seq(col("order_id").desc))
      .select("event_id", "order_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaSort = TemporalJoins.asOfBackwardSorted(left, right, Seq("user_id"), Seq("k"),
        col("ts"), col("order_ts"),
        valueCols = Seq("order_id"), tieBreakAsc = Seq("order_id"))
      .select("event_id", "order_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaSort == viaJoin)
  }

  test("asOfBackwardSorted drops null timestamps and null keys exactly like asOfBackward") {
    // null right ts would sort FIRST under asc and get carried as a bogus
    // match for left rows with no genuine prior right row; null keys would
    // group together under partitionBy though === never matches them
    val left = Seq(
      (1L, java.lang.Long.valueOf(1L), ts("2024-01-05 00:00:00")),
      (2L, java.lang.Long.valueOf(2L), ts("2024-01-05 00:00:00")), // no prior right row
      (3L, java.lang.Long.valueOf(1L), null.asInstanceOf[Timestamp]), // null left ts
      (4L, null.asInstanceOf[java.lang.Long], ts("2024-01-05 00:00:00"))) // null key
      .toDF("event_id", "user_id", "ts")
    val right = Seq(
      (java.lang.Long.valueOf(1L), 100L, ts("2024-01-01 00:00:00")),
      (java.lang.Long.valueOf(2L), 200L, null.asInstanceOf[Timestamp]), // null right ts
      (null.asInstanceOf[java.lang.Long], 300L, ts("2024-01-01 00:00:00"))) // null key
      .toDF("k", "order_id", "order_ts")
    val viaJoin = TemporalJoins.asOfBackward(left, right, Seq("user_id"), Seq("k"),
        col("ts"), col("order_ts"), leftId = Seq("event_id"))
      .select("event_id", "order_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaSort = TemporalJoins.asOfBackwardSorted(left, right, Seq("user_id"), Seq("k"),
        col("ts"), col("order_ts"), valueCols = Seq("order_id"))
      .select("event_id", "order_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaJoin == Map(1L -> 100L))
    assert(viaSort == viaJoin)
  }

  test("TopKPerGroup.top1 keeps exactly one row per group by the given order") {
    val df = Seq((1L, 10L, 5.0), (1L, 11L, 9.0), (2L, 12L, 3.0))
      .toDF("grp", "id", "score")
    val out = TopKPerGroup.top1(df, Seq("grp"), Seq(col("score").desc))
      .orderBy("grp").collect()
    assert(out.map(_.getAs[Long]("id")).toSeq == Seq(11L, 12L))
  }

  test("IdAllocator.sequentialId assigns dense global ids in sort order without a global window") {
    val df = (1 to 100).map(i => (i.toLong, 100 - i)).toDF("id", "sort_key")
    val out = IdAllocator.sequentialId(df, Seq(col("sort_key")), "seq_id")
      .orderBy("sort_key").collect()
    assert(out.map(_.getAs[Long]("seq_id")).toSeq == (1L to 100L))
  }

  test("IdAllocator.sequentialId can re-number ordered by the id it replaces") {
    // reference withColumn(id, row_number().over(orderBy(id))) semantics:
    // the ordering sees the OLD id values, the output column is the new id
    val df = Seq((30L, "c"), (10L, "a"), (20L, "b")).toDF("id", "v")
    val out = IdAllocator.sequentialId(df, Seq(col("id")), "id", startAt = 100L)
      .orderBy("id").collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("v")))
    assert(out.toSeq == Seq((100L, "a"), (101L, "b"), (102L, "c")))
  }

  test("IdAllocator.denseKeyId can re-base dense ids keyed by the id it replaces") {
    val df = Seq((30L, "x"), (10L, "y"), (30L, "z"), (10L, "w")).toDF("id", "v")
    val out = IdAllocator.denseKeyId(df, Seq("id"), "id")
      .collect().map(r => (r.getAs[String]("v"), r.getAs[Long]("id"))).toSet
    assert(out == Set(("y", 1L), ("w", 1L), ("x", 2L), ("z", 2L)))
  }

  test("IdAllocator.denseKeyId preserves a genuine __old_<id> input column") {
    // the scratch name for the clash-rename must never collide with (and
    // silently drop) a real column
    val df = Seq((30L, "legacy-a", "x"), (10L, "legacy-b", "y"))
      .toDF("id", "__old_id", "v")
    val out = IdAllocator.denseKeyId(df, Seq("id"), "id")
      .collect().map(r => (r.getAs[String]("v"), r.getAs[Long]("id"),
        r.getAs[String]("__old_id"))).toSet
    assert(out == Set(("y", 1L, "legacy-b"), ("x", 2L, "legacy-a")))
  }

  test("IdAllocator.denseKeyId preserves a genuine __k_<key> input column") {
    // same bug class as __old_<id>: the join-side rename prefix must step
    // past a real __k_<key> column instead of making the join condition
    // ambiguous (AnalysisException pre-fix) or dropping the genuine column
    val df = Seq(("a", "k1", 1), ("b", "k2", 2), ("a", "k3", 3))
      .toDF("grp", "__k_grp", "v")
    val out = IdAllocator.denseKeyId(df, Seq("grp"), "gid")
      .collect().map(r => (r.getAs[Int]("v"), r.getAs[Long]("gid"),
        r.getAs[String]("__k_grp"))).toSet
    assert(out == Set((1, 1L, "k1"), (2, 2L, "k2"), (3, 1L, "k3")))
  }

  test("IdAllocator.denseKeyId with broadcastKeys keeps the input's row order") {
    // rows sharing a key must come out in input order: the key table is the
    // broadcast side and the input streams through, whatever adaptive
    // execution would pick from the two sides' sizes
    val df = Seq(("b", 1), ("a", 2), ("b", 3), ("a", 4), ("b", 5)).toDF("k", "v").coalesce(1)
    val out = IdAllocator.denseKeyId(df, Seq("k"), "id", broadcastKeys = true)
    val rows = out.collect().map(r => (r.getAs[Int]("v"), r.getAs[Long]("id")))
    assert(rows.toSeq == Seq((1, 2L), (2, 1L), (3, 2L), (4, 1L), (5, 2L)))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BuildRight") && !plan.contains("BuildLeft"), plan)
  }

  test("IdAllocator.denseKeyId scratch prefix steps past an idCol collision") {
    // minting an id literally named __k_<key> must not be shadowed by the
    // rename of the key column on the keyed side
    val df = Seq(("a", 1), ("b", 2), ("a", 3)).toDF("grp", "v")
    val out = IdAllocator.denseKeyId(df, Seq("grp"), "__k_grp")
      .collect().map(r => (r.getAs[Int]("v"), r.getAs[Long]("__k_grp"))).toSet
    assert(out == Set((1, 1L), (3, 1L), (2, 2L)))
  }

  test("IdAllocator.sequentialId rejects ambiguous duplicate id columns up front") {
    val df = Seq((1L, "a")).toDF("id", "v")
    val twoIds = df.select(col("id"), col("id"), col("v"))
    val e = intercept[IllegalArgumentException] {
      IdAllocator.sequentialId(twoIds, Seq(col("v")), "id")
    }
    assert(e.getMessage.contains("multiple columns named"))
  }

  test("Salting.saltedAggregate matches the direct aggregation on a skewed key") {
    // one hot key with 5000 rows, many cold keys
    val df = ((1 to 5000).map(_ => ("hot", 1.0)) ++ (1 to 200).map(i => (s"cold$i", 2.0)))
      .toDF("k", "v")
    val direct = df.groupBy("k")
      .agg(count(lit(1)).as("n"), sum("v").as("s"), max("v").as("m"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    val salted = Salting.saltedAggregate(df, Seq("k"), buckets = 8,
        partials = Seq(count(lit(1)).as("n"), sum("v").as("s"), max("v").as("m")),
        merges = Seq(sum("n").as("n"), sum("s").as("s"), max("m").as("m")))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(salted == direct)
  }

  test("Salting.saltedJoin matches the plain join on a skewed key") {
    val left = ((1 to 3000).map(_ => ("hot", "l")) ++ Seq(("cold", "l"))).toDF("k", "lv")
    val right = Seq(("hot", 10), ("cold", 20), ("absent", 30)).toDF("k", "rv")
    val plain = left.join(right, Seq("k")).groupBy("k").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Salting.saltedJoin(left, right, Seq("k"), buckets = 8)
      .groupBy("k").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)
  }

  test("TransitiveClosure.closure reaches all ancestors with min depth") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"))
      .toDF("child", "parent")
    val out = TransitiveClosure.closure(edges, "child", "parent")
      .collect()
      .map(r => (r.getAs[String]("descendant"), r.getAs[String]("ancestor")) ->
        r.getAs[Int]("depth")).toMap
    // min depth: a→c→d (2) beats a→b→c→d (3)
    assert(out(("a", "d")) == 2)
    assert(out(("a", "c")) == 1) // direct edge wins over a→b→c
    assert(out.size == 6) // ab ac ad bc bd cd (a→c duplicate path collapsed)
  }

  test("TransitiveClosure driver tier equals the distributed loop exactly") {
    // diamond + chain + cycle: min-depth collapses, multi-round convergence,
    // and cycle termination all exercised; the conf cap forces the loop
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"),
        ("x1", "x2"), ("x2", "x3"), ("x3", "x4"), ("x4", "x5"),
        ("p", "q"), ("q", "p"))
      .toDF("child", "parent")
    def run(): Set[(String, String, Int)] =
      TransitiveClosure.closure(edges, "child", "parent")
        .collect()
        .map(r => (r.getAs[String]("descendant"), r.getAs[String]("ancestor"),
          r.getAs[Int]("depth"))).toSet
    val driver = run() // default cap: the driver tier takes this input
    assert(graft.core.Decisions.snapshot
      .get("closure.driverTier(edges=10)").contains("true"))
    spark.conf.set("spark.graft.closure.driverEdgeCap", "-1")
    val distributed = try run()
    finally spark.conf.unset("spark.graft.closure.driverEdgeCap")
    assert(driver == distributed)
    // pair-cap bail falls back to the loop and still agrees
    spark.conf.set("spark.graft.closure.driverPairCap", "3")
    val bailed = try run()
    finally spark.conf.unset("spark.graft.closure.driverPairCap")
    assert(bailed == distributed)
  }
}
