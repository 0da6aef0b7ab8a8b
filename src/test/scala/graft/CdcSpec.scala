package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.ops.Cdc

class CdcSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private lazy val snapshot = Seq(
    (1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0),
  ).toDF("k", "name", "price")

  private lazy val changes = Seq(
    (2L, "b2", 21.0, false), // update
    (3L, "c", 30.0, true),   // delete
    (9L, "i", 90.0, false),  // insert
  ).toDF("k", "name", "price", "is_delete")

  test("mergeUpsert applies update/delete/insert, leaves the rest intact") {
    val out = Cdc.mergeUpsert(snapshot, changes, "k")
      .as[(Long, String, Double)].collect().toSet
    assert(out === Set(
      (1L, "a", 10.0), (2L, "b2", 21.0), (4L, "d", 40.0), (9L, "i", 90.0)))
  }

  test("mergeUpsert never shuffles the snapshot (broadcast anti join)") {
    // the toy batch, and the stress shape: the test-SF orders table with
    // its derived change batch (30% of the table)
    val orders = graft.engine.Tables(spark, sf).orders
    for ((snap, batch, key) <- Seq((snapshot, changes, "k"),
        (orders, graft.ops.CdcCatalog.changeBatch(orders), "o_orderkey"))) {
      val plan = Cdc.mergeUpsert(snap, batch, key)
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
        s"expected a broadcast anti join, got:\n$plan")
    }
  }

  private lazy val verSnapshot = Seq(
    (1L, ts("2024-01-01 10:00:00"), 100L, "old"),
    (2L, ts("2024-01-01 10:00:00"), 101L, "old"),
    (3L, ts("2024-01-01 10:00:00"), 102L, "old"),
  ).toDF("k", "t", "seq", "v")

  test("mergeNewest: strictly-newer wins, stale loses, new key inserts") {
    val changes = Seq(
      (1L, ts("2024-01-01 11:00:00"), 90L, "new"),  // newer ts: wins
      (2L, ts("2024-01-01 09:00:00"), 999L, "stale"), // older ts: loses
      (9L, ts("2024-01-01 08:00:00"), 1L, "ins"),   // new key: inserts
    ).toDF("k", "t", "seq", "v")
    val out = Cdc.mergeNewest(verSnapshot, changes, "k", "t", "seq")
      .select($"k", $"v").as[(Long, String)].collect().toSet
    assert(out === Set((1L, "new"), (2L, "old"), (3L, "old"), (9L, "ins")))
  }

  test("mergeNewest breaks timestamp ties by the tiebreak (strict order)") {
    val changes = Seq(
      (1L, ts("2024-01-01 10:00:00"), 200L, "hi-seq"), // same ts, higher seq: wins
      (2L, ts("2024-01-01 10:00:00"), 101L, "same"),   // identical: NOT newer, loses
    ).toDF("k", "t", "seq", "v")
    val out = Cdc.mergeNewest(verSnapshot, changes, "k", "t", "seq")
      .select($"k", $"v").as[(Long, String)].collect().toSet
    assert(out === Set((1L, "hi-seq"), (2L, "old"), (3L, "old")))
  }

  test("mergeNewest is order-tolerant: any batch split converges") {
    val all = Seq(
      (1L, ts("2024-01-01 12:00:00"), 1L, "b"),
      (1L, ts("2024-01-01 13:00:00"), 2L, "c"),
      (1L, ts("2024-01-01 11:00:00"), 3L, "a"),
    )
    def toDf(rows: Seq[(Long, java.sql.Timestamp, Long, String)]) =
      rows.toDF("k", "t", "seq", "v")
    // apply the three singleton batches in both directions
    val fwd = all.map(r => toDf(Seq(r)))
      .foldLeft(verSnapshot)((snap, b) => Cdc.mergeNewest(snap, b, "k", "t", "seq"))
    val rev = all.reverse.map(r => toDf(Seq(r)))
      .foldLeft(verSnapshot)((snap, b) => Cdc.mergeNewest(snap, b, "k", "t", "seq"))
    val expect = Set((1L, "c"), (2L, "old"), (3L, "old"))
    assert(fwd.select($"k", $"v").as[(Long, String)].collect().toSet === expect)
    assert(rev.select($"k", $"v").as[(Long, String)].collect().toSet === expect)
  }

  test("mergeNewest never shuffles the snapshot (broadcast joins only)") {
    val changes = Seq((1L, ts("2024-01-01 11:00:00"), 90L, "new"))
      .toDF("k", "t", "seq", "v")
    val plan = Cdc.mergeNewest(verSnapshot, changes, "k", "t", "seq")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"snapshot side must not shuffle:\n$plan")
  }

  test("snapshotDiff classifies insert/update/delete and drops unchanged") {
    val after = Cdc.mergeUpsert(snapshot, changes, "k")
    val out = Cdc.snapshotDiff(snapshot, after, "k")
      .select($"k", $"change_type").as[(Long, String)].collect().toSet
    assert(out === Set((2L, "update"), (3L, "delete"), (9L, "insert")))
  }

  test("snapshotDiff compare is null-safe (null -> value is an update)") {
    val before = Seq((1L, Option.empty[String]), (2L, Option("x")))
      .toDF("k", "name")
    val after = Seq((1L, Option("y")), (2L, Option("x"))).toDF("k", "name")
    val out = Cdc.snapshotDiff(before, after, "k")
      .select($"k", $"change_type").as[(Long, String)].collect().toSet
    assert(out === Set((1L, "update")))
  }

  private lazy val log = Seq(
    (10L, ts("2024-01-01 10:00:00"), 1L, "view"),
    (10L, ts("2024-01-01 11:00:00"), 2L, "view"),  // repeat: compressed away
    (10L, ts("2024-01-01 12:00:00"), 3L, "click"),
    (10L, ts("2024-01-01 13:00:00"), 4L, "view"),  // state can recur
    (20L, ts("2024-01-01 09:00:00"), 5L, "view"),
  ).toDF("user_id", "t", "event_id", "state")

  test("scd2 keeps only state changes with a contiguous validity chain") {
    val out = Cdc.scd2(log, "user_id", "t", "event_id", "state")
      .select($"user_id", $"state", $"valid_from", $"valid_to", $"is_current")
      .as[(Long, String, Timestamp, Option[Timestamp], Boolean)]
      .collect().toSet
    assert(out === Set(
      (10L, "view",  ts("2024-01-01 10:00:00"), Some(ts("2024-01-01 12:00:00")), false),
      (10L, "click", ts("2024-01-01 12:00:00"), Some(ts("2024-01-01 13:00:00")), false),
      (10L, "view",  ts("2024-01-01 13:00:00"), None, true),
      (20L, "view",  ts("2024-01-01 09:00:00"), None, true)))
  }

  test("scd2 plans a single exchange (both windows share the partitioning)") {
    val plan = Cdc.scd2(log, "user_id", "t", "event_id", "state")
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).length -
      "BroadcastExchange".r.findAllIn(plan).length
    assert(exchanges === 1, s"expected 1 shuffle, got $exchanges:\n$plan")
  }

  test("mergeChangeSet equals snapshotDiff of the applied merge (upsert-only)") {
    val changes = Seq(
      (1L, ts("2024-01-01 11:00:00"), 90L, "new"),    // update
      (2L, ts("2024-01-01 09:00:00"), 999L, "stale"), // loses: no change row
      (9L, ts("2024-01-01 08:00:00"), 1L, "ins"),     // insert
    ).toDF("k", "t", "seq", "v")
    val winners = Cdc.newestWinners(verSnapshot, changes, "k", "t", "seq")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select($"k", $"change_type", to_json($"old").as("o"), to_json($"new").as("n"))
      .as[(Long, String, String, String)].collect().toSet
    val feed = canon(Cdc.mergeChangeSet(verSnapshot, winners, "k"))
    val diff = canon(Cdc.snapshotDiff(verSnapshot,
      Cdc.mergeNewest(verSnapshot, changes, "k", "t", "seq"), "k"))
    assert(feed === diff)
    assert(feed.map(r => (r._1, r._2)) === Set((1L, "update"), (9L, "insert")))
  }

  test("mergeChangeSet never shuffles the snapshot (broadcast joins only)") {
    val changes = Seq((1L, ts("2024-01-01 11:00:00"), 90L, "new"))
      .toDF("k", "t", "seq", "v")
    val winners = Cdc.newestWinners(verSnapshot, changes, "k", "t", "seq")
    val plan = Cdc.mergeChangeSet(verSnapshot, winners, "k")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"snapshot side must not shuffle:\n$plan")
  }

  test("change feed publication is exactly-once across a crash between commit and publish") {
    // crash in the one window the staged-publish protocol exists for: the
    // version and marker are committed but the change set is still staged.
    // The restart must re-run the batch into the already-committed branch
    // and publish the staged set — once — then finish the remaining batch.
    val base = java.nio.file.Files.createTempDirectory("graft-feed-kill").toString
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      graft.streaming.StreamingCatalog.upsertSnapshotRun(spark, sf, base,
        crashAtBatch = Some(2L), feed = true, crashBeforePublish = true)
    }
    def marker() = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(base, "_LATEST")), "UTF-8").trim
    assert(marker() === "v2", "the version commit precedes the publish")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(base, "feed", "c2")),
      "c2 must not be published yet")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(base, "stage", "c2")),
      "c2 must be fully staged before its version committed")
    graft.streaming.StreamingCatalog.upsertSnapshotRun(spark, sf, base, feed = true)
    assert(marker() === "v3", "resume must finish the remaining batch")
    val published = new java.io.File(s"$base/feed").listFiles().map(_.getName).toSet
    assert(published === Set("c0", "c1", "c2", "c3"),
      s"exactly one change set per version, got $published")
    // folding the feed reconstructs the batch truth (completeness + no dupes)
    val feed = spark.read.parquet(s"$base/feed/*")
    val wv = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("version").desc)
    val folded = feed.withColumn("__rn", row_number().over(wv))
      .filter(col("__rn") === 1)
      .select(col("user_id"), col("new.event_id").as("event_id"))
      .orderBy("user_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    val want = graft.engine.Tables(spark, sf).events
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("user_id"), col("event_id")).orderBy("user_id")
    assert(folded.collect().toSeq === want.collect().toSeq)
    // a key appears at most once per version (winners are per-key deduped)
    assert(feed.groupBy("user_id", "version").count().filter(col("count") > 1).isEmpty)
  }

  test("upsert snapshot survives a mid-stream kill: _LATEST stays durable, restart resumes") {
    // crash in the WORST window — after the version parquet lands but
    // before the _LATEST rename — at batch 3 of 4. The marker must still
    // point at the last committed version, and a restart over the same
    // base (checkpoint + marker) must re-run the uncommitted batch and
    // finish with exactly the batch oracle's newest-row-per-user snapshot.
    val base = java.nio.file.Files.createTempDirectory("graft-upsert-kill").toString
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      graft.streaming.StreamingCatalog.upsertSnapshotRun(spark, sf, base,
        crashAtBatch = Some(3L), crashBeforeCommit = true)
    }
    def marker() = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(base, "_LATEST")), "UTF-8").trim
    assert(marker() === "v2",
      s"marker must hold the last durably committed version, got ${marker()}")
    val resumed = graft.streaming.StreamingCatalog
      .upsertSnapshotRun(spark, sf, base)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    val want = graft.engine.Tables(spark, sf).events
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("user_id"), col("event_id"),
        graft.ops.Relational.tsStr(col("ts")).as("ts"),
        col("event_type"), col("value"))
      .orderBy("user_id")
    assert(resumed.collect().toSeq === want.collect().toSeq)
    assert(marker() === "v3", s"resume must advance the marker, got ${marker()}")
  }
}
