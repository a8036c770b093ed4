package graft

import org.scalatest.funsuite.AnyFunSuite
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
