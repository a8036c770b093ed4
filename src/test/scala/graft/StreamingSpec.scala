package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming.Trigger

import graft.meta.Fixtures

/** Streaming replay equivalence (SURVEY §5.3): each Structured
  * Streaming operator run over a fixture must emit the same result as
  * its batch formulation on the same data.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  private def ts(s: String) = Fixtures.ts(s)

  test("streaming curation pipeline == batch curate on fingerprint set") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(spark, SparkSuite.sfDir)
      .withColumn("ingest_ts", lit(ts("2024-02-01 00:00:00")))
    val srcDir = SparkSuite.tempDir("cur-src")
    docs.write.mode("overwrite").parquet(srcDir)

    val stream = spark.readStream.schema(docs.schema).parquet(srcDir)
    val q = graft.operators.Curation.prepare(stream)
      .withWatermark("ingest_ts", "1 hour")
      .dropDuplicatesWithinWatermark("fp")
      .writeStream.format("memory").queryName("cur_out")
      .outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000),
      "streaming query did not finish in 120s")
    q.stop()

    val streamed = spark.table("cur_out")
    val batch = graft.operators.Curation.curate(
      graft.sources.Tables.documents(spark, SparkSuite.sfDir))
    // identical survivor fingerprints (streaming keeps first-seen, batch
    // keeps min doc_id — the de-duplicated fp SET is the same)
    assert(streamed.select("fp").collect().map(_.getString(0)).toSet ==
      batch.select("fp").collect().map(_.getString(0)).toSet)
    assert(streamed.count() == batch.count())
  }

  test("streaming fingerprint dedup emits one doc per content fingerprint") {
    import spark.implicits._
    import org.apache.spark.sql.functions._

    // documents with duplicated texts arriving across two files
    val docs = graft.sources.Tables.documents(spark, SparkSuite.sfDir)
      .select(col("doc_id"), col("text"))
      .limit(40)
      .withColumn("ingest_ts", lit(ts("2024-02-01 00:00:00")))
    val dups = docs.withColumn("doc_id", col("doc_id") + 100000) // same text, new ids
    val srcDir = SparkSuite.tempDir("dedup-src")
    docs.write.mode("append").parquet(srcDir)
    dups.write.mode("append").parquet(srcDir)

    val stream = spark.readStream.schema(docs.schema).parquet(srcDir)
    val q = graft.streaming.StreamingDedup.dedupByFingerprint(stream)
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000),
      "streaming query did not finish in 120s")
    q.stop()

    val out = spark.table("dedup_out")
    val batchDistinct = docs.select(
      graft.streaming.StreamingDedup.fingerprint("text").as("fp")).distinct().count()
    assert(out.count() == batchDistinct, "one surviving doc per distinct fingerprint")
    assert(out.select("fp").distinct().count() == out.count())
  }

  test("streaming as-of join (O(1) state per user) == batch window as-of") {
    import org.apache.spark.sql.functions._
    import graft.streaming.StreamingAsof
    val dir = SparkSuite.sfDir
    val batch = graft.operators.Analytics2.asofJoin.run(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]), Option(r.getTimestamp(4))))
      .toSet
    // tagged event stream = the batch plan's union input, replayed as
    // one AvailableNow batch through the stateful fold
    val srcDir = SparkSuite.tempDir("asof-src")
    val ev = graft.sources.Tables.events(spark, dir)
    ev.where(col("event_type") === "view")
      .select(col("user_id"), col("ts"), lit(0).as("side"), col("event_id").as("id"))
      .unionByName(ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), lit(1).as("side"), col("event_id").as("id")))
      .coalesce(1).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream
      .schema("user_id BIGINT, ts TIMESTAMP, side INT, id BIGINT")
      .parquet(srcDir)
      .as(org.apache.spark.sql.Encoders.product[StreamingAsof.AsofEvent])
    val q = StreamingAsof.asofStream(stream)
      .writeStream.format("memory").queryName("asof_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000),
      "streaming query did not finish in 120s")
    q.stop()
    val streamed = spark.table("asof_out")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]), Option(r.getTimestamp(4))))
      .toSet
    assert(streamed == batch,
      s"streaming as-of diverged: ${(streamed diff batch).take(3)} vs ${(batch diff streamed).take(3)}")
  }

  test("streaming ordered funnel (O(1) state per user) == batch funnel counts") {
    import org.apache.spark.sql.functions._
    import graft.streaming.StreamingFunnel
    val dir = SparkSuite.sfDir
    val batch = graft.operators.EventOps.funnelSteps.run(spark, dir)
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(batch(1) > 0 && batch(2) > 0 && batch(3) > 0,
      "fixture must populate every stage or the equivalence is vacuous")
    val srcDir = SparkSuite.tempDir("funnel-src")
    graft.sources.Tables.events(spark, dir)
      .select("user_id", "ts", "event_type")
      .coalesce(1).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream
      .schema("user_id BIGINT, ts TIMESTAMP, event_type STRING")
      .parquet(srcDir)
      .as(org.apache.spark.sql.Encoders.product[StreamingFunnel.FunnelEvent])
    val q = StreamingFunnel.funnelStream(stream)
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000),
      "streaming query did not finish in 120s")
    q.stop()
    val out = spark.table("funnel_out")
    // every transition emits exactly once per (user, stage)
    assert(out.groupBy("user_id", "stage_ord").count()
      .where(col("count") > 1).count() == 0, "duplicate stage transitions")
    val streamed = out.groupBy("stage_ord")
      .agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert((1 to 3).forall(s => streamed.getOrElse(s, 0L) == batch(s)),
      s"streaming funnel diverged: $streamed vs $batch")
  }

  test("streaming transitions (O(1) last-event state per user) == batch transition counts") {
    import org.apache.spark.sql.functions._
    import graft.streaming.StreamingTransitions
    val dir = SparkSuite.sfDir
    val batch = graft.operators.EventOps.transitions.run(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(batch.nonEmpty && batch.values.sum > 0, "fixture must produce transitions")
    val srcDir = SparkSuite.tempDir("trans-src")
    graft.sources.Tables.events(spark, dir)
      .select("user_id", "event_id", "ts", "event_type")
      .coalesce(1).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream
      .schema("user_id BIGINT, event_id BIGINT, ts TIMESTAMP, event_type STRING")
      .parquet(srcDir)
      .as(org.apache.spark.sql.Encoders.product[StreamingTransitions.TransitionEvent])
    val q = StreamingTransitions.transitionStream(stream)
      .writeStream.format("memory").queryName("trans_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000),
      "streaming query did not finish in 120s")
    q.stop()
    val streamed = spark.table("trans_out")
      .groupBy("src", "dst").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed == batch,
      s"streaming transitions diverged: +${(streamed.toSet diff batch.toSet).take(3)} " +
        s"-${(batch.toSet diff streamed.toSet).take(3)}")
  }

  test("stream-stream time-interval join (watermark-bounded state) == batch range join") {
    import org.apache.spark.sql.functions._
    val dir = SparkSuite.sfDir
    val ev = graft.sources.Tables.events(spark, dir)
    val hotB = ev.where(col("event_type") === "purchase" && col("value") >= 200)
      .select(col("event_id").as("hot_id"), col("ts").as("h_ts"))
    // batch comparator: the same theta join at rest
    val batch = ev.select(col("event_id"), col("ts")).join(hotB,
        expr("""ts >= h_ts - INTERVAL 15 MINUTES AND
                ts <= h_ts + INTERVAL 15 MINUTES AND
                event_id <> hot_id"""))
      .select("hot_id", "event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty, "fixture should produce overlap pairs")
    val evDir = SparkSuite.tempDir("sij-ev")
    val hotDir = SparkSuite.tempDir("sij-hot")
    ev.select("event_id", "ts").coalesce(1).write.mode("overwrite").parquet(evDir)
    hotB.coalesce(1).write.mode("overwrite").parquet(hotDir)
    val evS = spark.readStream.schema("event_id BIGINT, ts TIMESTAMP").parquet(evDir)
    val hotS = spark.readStream.schema("hot_id BIGINT, h_ts TIMESTAMP").parquet(hotDir)
    val q = graft.streaming.StreamingIntervalJoin.hotWindowPairs(evS, hotS)
      .writeStream.format("memory").queryName("sij_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000),
      "streaming query did not finish in 120s")
    q.stop()
    val streamed = spark.table("sij_out")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch,
      s"stream-stream interval join diverged: +${(streamed diff batch).take(3)} -${(batch diff streamed).take(3)}")
  }

  test("streaming heavy hitters (sketch-sized shard state) == batch Misra-Gries top-20") {
    import org.apache.spark.sql.functions._
    import graft.streaming.StreamingHeavyHitters
    val dir = SparkSuite.sfDir
    val batch = graft.operators.TextOps.heavyHitters(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    val srcDir = SparkSuite.tempDir("hh-src")
    val docs = graft.sources.Tables.documents(spark, dir).select("doc_id", "text")
    docs.coalesce(1).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream.schema(docs.schema).parquet(srcDir)
      .selectExpr("explode(split(text, ' ')) AS token")
      .as(Encoders.STRING)
    val q = StreamingHeavyHitters.sketchStream(stream)
      .writeStream.format("memory").queryName("hh_out")
      .outputMode("update")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000),
      "streaming query did not finish in 120s")
    q.stop()
    // latest emission per shard, merged consumer-side
    val perShard = spark.table("hh_out")
      .collect().map(r => StreamingHeavyHitters.ShardSketch(
        r.getInt(0), r.getMap[String, Long](1).toMap, r.getLong(2)))
      .groupBy(_.shard).map(_._2.last).toSeq
    val merged = StreamingHeavyHitters.mergeShards(perShard)
    assert(merged.decrements == 0, "vocabulary must fit capacity for the exactness claim")
    val streamedTop = merged.counts.toSeq
      .sortBy { case (t, n) => (-n, t) }.take(20)
    assert(streamedTop == batch,
      s"streaming heavy hitters diverged: stream=${streamedTop.take(3)} batch=${batch.take(3)}")
  }

  test("streaming session_window == batch sessionization (all real sessions closed)") {
    import org.apache.spark.sql.functions._
    val dir = SparkSuite.sfDir
    val ev = graft.sources.Tables.events(spark, dir).select("user_id", "ts")
    val batch = graft.operators.Analytics2.sessions.run(spark, dir)
      .select("user_id", "session_start", "session_end", "n_events")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getTimestamp(2).toString, r.getLong(3)))
      .toSet
    assert(batch.nonEmpty)
    // sentinel row one day past the last real event: after the batch,
    // the watermark lands 30 min + delay beyond every real session's
    // end, so append mode emits ALL real sessions (the final no-data
    // micro-batch flushes them); only the sentinel's session stays open
    val maxTs = ev.agg(max("ts")).collect()(0).getTimestamp(0)
    val sentinel = spark.sql(
      s"SELECT CAST(-1 AS BIGINT) AS user_id, timestamp'$maxTs' + INTERVAL 1 DAY AS ts")
    val srcDir = SparkSuite.tempDir("sess-src")
    ev.unionByName(sentinel).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream.schema("user_id BIGINT, ts TIMESTAMP").parquet(srcDir)
    val q = graft.streaming.StreamingSessions.userSessions(stream)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000),
      "streaming query did not finish in 120s")
    q.stop()
    val streamed = spark.table("sess_out")
      .where(col("user_id") =!= -1L)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getTimestamp(2).toString, r.getLong(3)))
      .toSet
    assert(streamed == batch,
      s"streaming sessions diverged: +${(streamed diff batch).take(3)} -${(batch diff streamed).take(3)}")
  }

  test("streaming banded-LSH near-dup candidates == batch band self-join candidate set") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    import graft.streaming.StreamingNearDup

    // real docs + exact-text clones under new ids: identical signatures
    // guarantee band collisions, so the equivalence is exercised on a
    // non-empty candidate set
    val base = graft.sources.Tables.documents(spark, SparkSuite.sfDir)
      .select(col("doc_id"), col("text")).limit(60)
    val docs = base.unionByName(base.withColumn("doc_id", col("doc_id") + 100000L))
      .withColumn("ingest_ts", lit(ts("2024-02-01 00:00:00")))

    val srcDir = SparkSuite.tempDir("nd-src")
    docs.write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream.schema(docs.schema).parquet(srcDir)
    val q = StreamingNearDup.candidates(stream)
      .writeStream.format("memory").queryName("nd_out")
      .outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000),
      "streaming query did not finish in 120s")
    q.stop()
    val streamed = spark.table("nd_out").select("doc_a", "doc_b").distinct()
      .as[(Long, Long)].collect().toSet

    // batch candidate stage: band self-join, a<b, distinct — the exact
    // frame ns_dedup_minhash Jaccard-verifies downstream
    val shingled = docs
      .select(col("doc_id"), Dedup.hashedShingles(col("text"), 3).as("sh"))
      .where(size(col("sh")) > 0)
    val bands = Dedup.minhashBands(Dedup.minhashSignatures(shingled))
    val batchCands = bands.toDF("doc_a", "band_idx", "band_hash")
      .join(bands.toDF("doc_b", "band_idx", "band_hash"), Seq("band_idx", "band_hash"))
      .where($"doc_a" < $"doc_b").select("doc_a", "doc_b").distinct()
      .as[(Long, Long)].collect().toSet

    assert(batchCands.size >= 60, s"fixture must collide: ${batchCands.size}")
    assert(streamed == batchCands,
      s"streaming LSH diverged: +${(streamed diff batchCands).take(3)} -${(batchCands diff streamed).take(3)}")
  }

  test("streaming near-dup buckets expire at the event-time horizon: a late clone is NOT paired") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.streaming.StreamingNearDup

    val text = "the quick brown fox jumps over the lazy dog again and again"
    def doc(id: Long, at: String) =
      Seq((id, text, ts(at))).toDF("doc_id", "text", "ingest_ts")
    val filler = Seq(
      (900L, "completely unrelated filler content advancing the watermark forward", ts("2024-02-01 05:00:00")),
      (901L, "another distinct sentence with nothing shared at all here", ts("2024-02-01 05:00:00")))
      .toDF("doc_id", "text", "ingest_ts")

    val srcDir = SparkSuite.tempDir("ndh-src")
    val outDir = SparkSuite.tempDir("ndh-out")
    val ckpt = SparkSuite.tempDir("ndh-ckpt")
    def runOnce(batch: org.apache.spark.sql.DataFrame): Unit = {
      batch.write.mode("append").parquet(srcDir)
      val stream = spark.readStream.schema(batch.schema).parquet(srcDir)
      val q = StreamingNearDup.candidates(stream,
          delay = "1 hour", horizonMs = 3600L * 1000L)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000),
        "streaming query did not finish in 120s")
      q.stop()
    }
    runOnce(doc(1L, "2024-02-01 00:00:00"))     // bucket owner
    runOnce(filler)                              // watermark → 04:00, past 00:00+1h → bucket expires
    runOnce(doc(2L, "2024-02-01 06:00:00"))     // exact clone, but 6h late

    val pairs = spark.read
      .schema(org.apache.spark.sql.Encoders.product[StreamingNearDup.Candidate].schema)
      .parquet(outDir).as[(Long, Long)].collect().toSet
    assert(!pairs.contains((1L, 2L)),
      "a clone arriving past the horizon must meet an expired bucket")
    // control within one horizon: the same clone arriving in-horizon pairs
    runOnce(doc(3L, "2024-02-01 06:30:00")) // 30 min after doc 2 — in horizon
    val pairs2 = spark.read
      .schema(org.apache.spark.sql.Encoders.product[StreamingNearDup.Candidate].schema)
      .parquet(outDir).as[(Long, Long)].collect().toSet
    assert(pairs2.contains((2L, 3L)),
      "an in-horizon clone must still collide with the live bucket")
  }

  test("streaming cdc dimension: final revision per key == batch latest-wins merge with tombstones") {
    import org.apache.spark.sql.functions._
    import graft.streaming.StreamingCdc
    val dir = SparkSuite.sfDir
    // batch comparator: the cdc merge with cutoff at epoch — every
    // event is a change against an empty snapshot, so the merged
    // dimension is pure latest-wins with 'error' tombstones
    val ev = graft.sources.Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
    val batch = graft.operators.EventCdc.cdcMergeCore(ev, "1970-01-01 00:00:00")
      .select("user_id", "state", "cents")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(batch.nonEmpty)
    val srcDir = SparkSuite.tempDir("cdc-src")
    ev.coalesce(1).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream
      .schema("user_id BIGINT, event_id BIGINT, event_type STRING, ts TIMESTAMP, cents BIGINT")
      .parquet(srcDir)
      .as(org.apache.spark.sql.Encoders.product[StreamingCdc.CdcEvent])
    val q = StreamingCdc.dimensionStream(stream)
      .writeStream.format("memory").queryName("cdc_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "streaming query did not finish in 120s")
    q.stop()
    // fold revisions to the final row per key by (ts_us, event_id) —
    // the same total order the batch merge uses; also check the
    // persisted rev counter agrees (monotonic across micro-batches)
    val finalRows = spark.table("cdc_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getLong(4), r.getLong(5), r.getBoolean(6)))
      .groupBy(_._1).view.mapValues(_.maxBy(x => (x._6, x._3))).toMap
    // rev is a total per-key order on its own: the max-rev row must be
    // the same row the (ts_us, event_id) fold picks
    spark.table("cdc_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).foreach { case (u, rows) =>
        assert(rows.map(_._2).distinct.size == rows.size, s"duplicate rev for user $u")
        assert(rows.maxBy(_._2)._3 == finalRows(u)._3,
          s"rev order and (ts_us, event_id) order disagree for user $u")
      }
    val streamedLive = finalRows.collect {
      case (u, (_, _, _, state, cents, _, true)) => u -> ((state, cents))
    }.toMap
    assert(streamedLive == batch,
      s"dimension diverged: +${(streamedLive.toSet diff batch.toSet).take(3)} " +
        s"-${(batch.toSet diff streamedLive.toSet).take(3)}")
    // tombstoned keys are exactly those absent from the batch merge
    val tombstoned = finalRows.collect { case (u, (_, _, _, _, _, _, false)) => u }.toSet
    assert(tombstoned.nonEmpty && tombstoned.forall(!batch.contains(_)))
  }

  test("RocksDB state store: the scd2 twin replays identically on the off-heap backend") {
    // the 100 TB streaming lever: keyed state beyond executor heap.
    // An isolated child session (own SQLConf, shared context) flips
    // the provider so the rest of the suite stays on the default store
    import org.apache.spark.sql.functions._
    import graft.streaming.StreamingScd2
    val rocks = spark.newSession()
    rocks.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val dir = SparkSuite.sfDir
    val batch = graft.operators.EventOps.scd2.run(rocks, dir)
      .where(!col("is_current")).count()
    assert(batch > 0)
    val srcDir = SparkSuite.tempDir("scd2-rocks-src")
    val ckpt = SparkSuite.tempDir("scd2-rocks-ckpt")
    graft.sources.Tables.events(rocks, dir)
      .select("user_id", "event_id", "ts", "event_type")
      .coalesce(1).write.mode("overwrite").parquet(srcDir)
    val stream = rocks.readStream
      .schema("user_id BIGINT, event_id BIGINT, ts TIMESTAMP, event_type STRING")
      .parquet(srcDir)
      .as(org.apache.spark.sql.Encoders.product[StreamingScd2.Scd2Event])
    val q = StreamingScd2.scd2Stream(stream)
      .writeStream.format("memory").queryName("scd2_rocks_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "rocksdb streaming query did not finish in 120s")
    q.stop()
    assert(rocks.table("scd2_rocks_out").count() == batch,
      "closed-interval count must match batch on the RocksDB backend")
    // the checkpoint must actually contain RocksDB artifacts, not the
    // default HDFS-backed store's .delta files
    val stateFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt, "state"))
      .iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
    var names = List.empty[String]
    while (stateFiles.hasNext) names ::= stateFiles.next().getFileName.toString
    assert(names.exists(n => n.endsWith(".zip") || n.endsWith(".changelog")),
      s"expected RocksDB snapshot/changelog files in the state dir, saw: ${names.take(20)}")
    assert(!names.exists(_.endsWith(".delta")),
      "default-store .delta files mean the provider flip did not take")
  }

  test("streaming scd2 replay == batch closed intervals (O(1) open-interval state per user)") {
    import org.apache.spark.sql.functions._
    import graft.streaming.StreamingScd2
    val dir = SparkSuite.sfDir
    val batch = graft.operators.EventOps.scd2.run(spark, dir)
      .where(!col("is_current"))
      .select(col("user_id"), col("interval_seq").cast("long").as("interval_seq"),
        col("state"), unix_micros(col("valid_from")).as("valid_from_us"),
        unix_micros(col("valid_to")).as("valid_to_us"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(batch.nonEmpty, "fixture must produce closed intervals")
    val srcDir = SparkSuite.tempDir("scd2-src")
    graft.sources.Tables.events(spark, dir)
      .select("user_id", "event_id", "ts", "event_type")
      .coalesce(1).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream
      .schema("user_id BIGINT, event_id BIGINT, ts TIMESTAMP, event_type STRING")
      .parquet(srcDir)
      .as(org.apache.spark.sql.Encoders.product[StreamingScd2.Scd2Event])
    val q = StreamingScd2.scd2Stream(stream)
      .writeStream.format("memory").queryName("scd2_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "streaming query did not finish in 120s")
    q.stop()
    val streamed = spark.table("scd2_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(streamed == batch,
      s"streaming scd2 diverged: +${(streamed diff batch).take(3)} -${(batch diff streamed).take(3)}")
  }

  test("streaming IVF ingest: stream-static probe of the materialized index replays the batch attach rows") {
    // the 100 TB embedding-store write path: NEW vectors arrive as a
    // STREAM, score their probe cells (centroid literals — the model),
    // and stream-static-join the MATERIALIZED cell-assigned index
    // (VectorsIvf.ivfIndex, the r11 warm-index contract) — per new
    // vector the candidate count and exact-re-ranked nearest neighbor
    // must equal the batch ivfIncremental's verdicts (replay ≡ batch,
    // the MediaCodecSpec band-join-replay convention on the ANN plane)
    import org.apache.spark.sql.functions._
    val dir = SparkSuite.sfDir
    val ivf = graft.operators.VectorsIvf
    val cents = ivf.centroids(spark, dir)
    val isNew = expr("vec_id % 10 = 7")
    val index = ivf.ivfIndex(spark, dir).where(!isNew)
    val srcDir = SparkSuite.tempDir("ivf-ingest-src")
    graft.sources.Tables.embeddings(spark, dir).where(isNew)
      .write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream
      .schema("vec_id BIGINT, embedding ARRAY<FLOAT>, label INT").parquet(srcDir)
    val probed = stream.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      explode(ivf.probeCells(col("embedding"), cents, ivf.NumProbes)).as("cell"))
    // stream-static equi-join on cell; top-1 via max(struct) — window
    // functions don't stream, but (sim_r DESC, neighbor_id ASC) is
    // exactly max over (sim_r, -neighbor_id)
    val streamedQ = probed.join(index, Seq("cell"))
      .select(col("query_id"),
        graft.functions.dround(
          graft.operators.Vectors.dot(col("q_emb"), col("embedding")), 4).as("sim_r"),
        col("vec_id").as("neighbor_id"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_cand"),
        max(struct(col("sim_r").as("s"), (-col("neighbor_id")).as("negid"))).as("m"))
      .select(col("query_id"), col("n_cand"),
        (-col("m.negid")).as("nearest_id"), col("m.s").as("sim_r"))
    val q = streamedQ.writeStream.format("memory").queryName("ivf_ingest")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "streaming IVF ingest did not finish")
    q.stop()
    val got = spark.table("ivf_ingest").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val want = ivf.ivfIncremental(spark, dir).collect()
      .filter(_.getLong(2) > 0)
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(want.nonEmpty && got == want,
      s"stream attach rows != batch: got $got want $want")
  }

  test("streaming text ingest funnel: quality + contamination + dedup verdicts replay the batch funnel tallies") {
    // the text twin of the MediaCodecSpec audio/video ingest funnels
    // (r11 verdict missing #2): the funnel a text-corpus user runs
    // daily — quality gate, eval-set decontamination, near-dup drop —
    // composed over a DOCUMENT STREAM. Spark can't cascade streaming
    // aggregations in one query, so the three verdict planes run as
    // separate AvailableNow queries over the SAME source and compose
    // on the sink side (the production ingest-job shape):
    //   1. quality — the stateless Gopher-gate kernel, pure map;
    //   2. contamination — REAL in-stream work: 8-gram shingling +
    //      Bloom prefilter + broadcast probe-gram join (the
    //      contaminatedIdsCore plan, streaming);
    //   3. near-dup — stream-static probe of the WARM cluster-label
    //      index (what a 100 TB store keeps; labels rebuild batch-side).
    // The composed per-lang tallies must equal ns_pipeline_funnel's
    // rows EXACTLY (replay ≡ batch).
    import org.apache.spark.sql.functions._
    val dir = SparkSuite.sfDir
    val dd = graft.operators.Dedup
    val docs = graft.sources.Tables.documents(spark, dir)
    // static sides (warm artifacts)
    val probeHashes = dd.probeGramHashes(
      docs.select(col("doc_id"), dd.hashedShingles(col("text"), 8).as("sh"))
        .where(col("doc_id") % 10 === 0))
    val mightContain = dd.gramBloomPredicate(probeHashes)
    import spark.implicits._
    val probeGrams = broadcast(probeHashes.toSeq.toDF("g"))
    val droppedIdx = dd.dedupClusters(spark, dir)
      .where(col("doc_id") =!= col("cluster_id")).select("doc_id")
    // the ingest stream = the funnel corpus (non-probe docs)
    val srcDir = SparkSuite.tempDir("txt-funnel-src")
    docs.where(col("doc_id") % 10 =!= 0)
      .select("doc_id", "lang", "text", "n_chars")
      .write.mode("overwrite").parquet(srcDir)
    def stream() = spark.readStream
      .schema("doc_id BIGINT, lang STRING, text STRING, n_chars BIGINT").parquet(srcDir)
    val q1 = stream()
      .select(col("doc_id"), col("lang"),
        graft.operators.TextOps.qualityKeep(col("text"), col("n_chars")).as("q"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .writeStream.format("memory").queryName("txt_ingate")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    val q2 = stream()
      .select(col("doc_id"), explode(dd.hashedShingles(col("text"), 8)).as("g"))
      .where(mightContain(col("g")))
      .join(probeGrams, "g")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
      .writeStream.format("memory").queryName("txt_contam")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    val q3 = stream().select("doc_id")
      .join(droppedIdx, "doc_id")
      .writeStream.format("memory").queryName("txt_dup")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q1.awaitTermination(180000) && q2.awaitTermination(180000) &&
      q3.awaitTermination(180000), "text funnel streams did not finish")
    q1.stop(); q2.stop(); q3.stop()
    val contam = spark.table("txt_contam").collect().map(_.getLong(0)).toSet
    val dup = spark.table("txt_dup").collect().map(_.getLong(0)).toSet
    val tallies = spark.table("txt_ingate").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2), r.getLong(3)))
      .groupBy(_._2).map { case (lang, rows) =>
        val q = rows.filter(_._3)
        val dd2 = q.filterNot(r => dup(r._1))
        val clean = dd2.filterNot(r => contam(r._1))
        (lang, rows.length.toLong, q.length.toLong, dd2.length.toLong,
          clean.length.toLong, clean.map(_._4).sum)
      }.toSet
    val batch = graft.operators.Curation.funnel.run(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(tallies.nonEmpty && tallies == batch,
      s"text ingest funnel stream != batch: +${(tallies diff batch).take(3)} " +
      s"-${(batch diff tallies).take(3)}")
  }

  test("streaming vector ingest: in-flight SimHash + stream-static band probe replays the batch dedup verdicts") {
    // the embedding-store ingest twin of ns_vec_incremental_dups (the
    // phash/audio/video streaming-twin convention on the VECTOR
    // plane): NEW vectors arrive as a STREAM, get their 64-bit integer
    // SimHash computed IN-FLIGHT (stateless map — the production
    // signature-column write), band-probe the STATIC whale-capped
    // index, and the hamming<=10 + exact-integer-cosine verdicts
    // composed on the sink side must equal the batch operator's rows.
    import org.apache.spark.sql.functions._
    val dir = SparkSuite.sfDir
    val vp = graft.operators.VectorsPlanted
    val dot = graft.functions.SketchExpressions.intVecDot _
    val pv = vp.plantedVectors(spark, dir)
    val isNew = col("doc_id") % 8 === 4
    // static sides a production store keeps warm: the banded index
    // (whale-capped) and the index vectors for the exact verify
    val ixBanded = vp.plantedSig(spark, dir).where(!isNew)
      .select(col("doc_id"), col("hi"), col("lo"),
        posexplode(array(
          col("lo").bitwiseAND(lit(65535L)), shiftright(col("lo"), 16),
          col("hi").bitwiseAND(lit(65535L)), shiftright(col("hi"), 16))))
      .toDF("idx_id", "i_hi", "i_lo", "band_idx", "band_val")
      .withColumn("band_n", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("band_idx", "band_val")))
      .where(col("band_n") <= lit(graft.operators.Multimodal.WhaleBandCap))
      .drop("band_n")
    val ixVecs = pv.where(!isNew).select(col("doc_id").as("idx_id"), col("v").as("vi"))
    val srcDir = SparkSuite.tempDir("vec-ingest-src")
    pv.where(isNew).select("doc_id", "v").write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream
      .schema("doc_id BIGINT, v ARRAY<INT>").parquet(srcDir)
    val probed = vp.sigOf(stream.toDF())
      .select(col("doc_id").as("new_id"), col("v").as("vn"), col("hi"), col("lo"))
      .select(col("new_id"), col("vn"), col("hi"), col("lo"),
        posexplode(array(
          col("lo").bitwiseAND(lit(65535L)), shiftright(col("lo"), 16),
          col("hi").bitwiseAND(lit(65535L)), shiftright(col("hi"), 16))))
      .toDF("new_id", "vn", "n_hi", "n_lo", "band_idx", "band_val")
      .join(ixBanded, Seq("band_idx", "band_val"))
      .where(expr("CAST(bit_count(n_hi ^ i_hi) + bit_count(n_lo ^ i_lo) AS INT)") <= 10)
      .dropDuplicates("new_id", "idx_id")
      .join(ixVecs, "idx_id")
      .where(dot(col("vn"), col("vi")) > 0 &&
        dot(col("vn"), col("vi")) * dot(col("vn"), col("vi")) * lit(vp.Thr2Den) >=
          lit(vp.Thr2Num) * dot(col("vn"), col("vn")) * dot(col("vi"), col("vi")))
      .groupBy("new_id").agg(count(lit(1)).as("n_dups"))
    val q = probed.writeStream.format("memory").queryName("vec_ingest")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(180000), "vector ingest stream did not finish")
    q.stop()
    val streamedDups = spark.table("vec_ingest").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = vp.plantedIncremental.run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq.sorted
    val got = want.map(_._1).map { id =>
      val n = streamedDups.getOrElse(id, 0L)
      (id, n, n == 0)
    }.sorted
    assert(want.nonEmpty && got == want,
      s"vector ingest stream != batch: got ${got.take(3)} want ${want.take(3)}")
    // non-vacuity: the planted fixture makes every new vector a dup
    assert(want.forall(!_._3) && want.forall(_._2 > 0),
      "every planted m=4 member must near-dup its index siblings")
  }
}
