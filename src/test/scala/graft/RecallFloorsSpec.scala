package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Hard recall floors on the CLUSTERED fixture (r6 verdict #6): the
  * uniform embeddings table is the documented worst case for
  * RP/truncation (no privileged directions), so its floors sit at the
  * noise level and a real regression could hide under them. The
  * mixture-of-Gaussians fixture is the design regime — floors here are
  * meaningfully above noise and pin the bucketing/codebook logic.
  *
  * Measured (seed=42, n=2000, dim=64, 16 centers; r7):
  * lsh 1.00, ivf 1.00, ivf_kmeans 1.00, trunc16 0.68, rp 0.56,
  * int8 0.64, pq 0.52, ivfpq 0.52. Floors leave slack for fixture
  * regeneration, not for design regressions. The quantization families
  * (int8/pq/ivfpq) read LOWER here than on uniform — within-cluster
  * sims bunch within quantization error, so top-5 membership is
  * tie-decided; documented in BASELINE.md, floor set accordingly.
  */
class RecallFloorsSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  private lazy val recalls: Map[String, (Double, Int)] = {
    val dir = SparkSuite.tempDir("recall-clustered")
    RecallFloorsSpec.writeClusteredFixture(spark, dir)
    RecallFloorsSpec.recalls(spark, dir)
  }

  private val floors = Map(
    "lsh" -> 0.9, "ivf" -> 0.9, "ivf_kmeans" -> 0.9,
    "trunc16" -> 0.5, "rp" -> 0.4,
    "int8" -> 0.4, "pq" -> 0.35, "ivfpq" -> 0.35)

  floors.foreach { case (family, floor) =>
    test(s"clustered recall floor: $family >= $floor") {
      val (r, cand) = recalls(family)
      assert(r >= floor, f"$family recall@5 $r%.3f below clustered floor $floor (candidates=$cand)")
    }
  }

  test("8x8 banding finds EVERY adversarial <=7-flip pair; 4x16 provably misses spread flips") {
    // the pigeonhole contract of bandedHammingPairs8: at Hamming <= 7
    // at least one of the 8 disjoint 8-bit bands is flip-free, so the
    // pair meets REGARDLESS of where the flips land. Adversarial flip
    // placements — one flip per band (the spread that defeats coarse
    // banding), all flips on band boundaries, all clustered — must all
    // be found. The 4x16 layout is shown missing a 4-flip spread
    // (one flip in each 16-bit band), the structural window the r9
    // advice documented.
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    val base = (0x5A5A5A5AL, 0x0F0F0F0FL) // arbitrary 64-bit hash halves
    def flip(h: (Long, Long), bits: Seq[Int]): (Long, Long) =
      bits.foldLeft(h) { case ((hi, lo), b) =>
        if (b < 32) (hi, lo ^ (1L << b)) else (hi ^ (1L << (b - 32)), lo)
      }
    val adversarial = Seq(
      "spread7" -> Seq(0, 8, 16, 24, 32, 40, 48),      // one per band, 7 bands hit
      "boundary7" -> Seq(7, 15, 23, 31, 39, 47, 55),   // band-edge bits
      "clustered7" -> Seq(0, 1, 2, 3, 4, 5, 6),        // all in one band
      "spread4" -> Seq(0, 16, 32, 48))                 // one per 16-BIT band
    for ((name, bits) <- adversarial) {
      val v = flip(base, bits)
      val df = Seq((0L, base._1, base._2), (1L, v._1, v._2)).toDF("doc_id", "hi", "lo")
      val got8 = graft.operators.Multimodal.bandedHammingPairs8(df, maxHamming = 7)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      assert(got8.toSeq == Seq((0L, 1L, bits.length)),
        s"$name: 8x8 banding must find the pair at hamming ${bits.length}, got ${got8.toSeq}")
    }
    // the spread4 pattern flips one bit in EVERY 16-bit band, so the
    // 4x16 candidate join finds no shared band — the measured-recall
    // layout misses it even though hamming = 4 <= 10
    val v4 = flip(base, Seq(0, 16, 32, 48))
    val df4 = Seq((0L, base._1, base._2), (1L, v4._1, v4._2)).toDF("doc_id", "hi", "lo")
    val got16 = graft.operators.Multimodal.bandedHammingPairs(df4, maxHamming = 10).count()
    assert(got16 == 0, "4x16 banding unexpectedly found the spread-flip pair")
    // WHALE-BAND interaction (the r11 review finding): a pair whose
    // ONLY flip-free band is shared with > WhaleBandCap other docs must
    // STILL be found — the guaranteed layout runs unguarded by
    // construction (a guard would drop the band and void the theorem;
    // at sf0.1 the largest real 8-bit bucket is already 74 > 64)
    val crowd = (2L until 72L).map { i =>
      // same band 0 (low byte) as base, scrambled elsewhere — far from
      // everything (hamming >> 7), so they add candidates, not pairs
      val noise = (i * 0x9E3779B97F4A7C15L) | 0x100L
      (i, (noise >> 32) & 0xFFFFFFFFL, ((noise & 0xFFFFFF00L) | (base._2 & 0xFFL)))
    }
    val pairOnlyBand0 = flip(base, Seq(8, 16, 24, 32, 40, 48, 56)) // flips bands 1..7
    val dfWhale = (Seq((0L, base._1, base._2), (1L, pairOnlyBand0._1, pairOnlyBand0._2)) ++ crowd)
      .toDF("doc_id", "hi", "lo")
    val whaleGot = graft.operators.Multimodal.bandedHammingPairs8(dfWhale, maxHamming = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(whaleGot.contains((0L, 1L)),
      s"whale-crowded flip-free band must not lose the guaranteed pair; got ${whaleGot.toSeq}")
  }
}

object RecallFloorsSpec {

  /** Deterministic mixture-of-Gaussians embeddings fixture, same
    * schema as the driver's table (vec_id BIGINT, embedding
    * ARRAY<FLOAT>, label INT): `centers` unit-sphere centroids,
    * per-point Gaussian noise σ=0.12, L2-normalized. Driver-side
    * generation (n·dim floats, MBs) so the bytes are seed-stable
    * regardless of partitioning. */
  def writeClusteredFixture(spark: SparkSession, path: String, n: Int = 2000,
                            dim: Int = 64, centers: Int = 16, seed: Long = 42L): Unit = {
    val rnd = new java.util.Random(seed)
    def normalize(v: Array[Float]): Array[Float] = {
      val s = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / s)
    }
    val ctrs = Array.fill(centers)(normalize(Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val rows = (0 until n).map { i =>
      val c = ctrs(i % centers)
      val v = normalize(Array.tabulate(dim)(d => c(d) + 0.12f * rnd.nextGaussian().toFloat))
      (i.toLong, v.toSeq, i % centers)
    }
    spark.createDataFrame(rows).toDF("vec_id", "embedding", "label")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<FLOAT>) AS embedding",
        "CAST(label AS INT) AS label")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/embeddings.parquet")
  }

  val families: Seq[(String, String)] = Seq(
    "lsh" -> "ns_vec_topk_lsh",
    "ivf" -> "ns_vec_topk_ivf",
    "ivf_kmeans" -> "ns_vec_topk_ivf_kmeans",
    "int8" -> "ns_vec_topk_quant",
    "trunc16" -> "ns_vec_topk_trunc",
    "rp" -> "ns_vec_topk_rp",
    "pq" -> "ns_vec_topk_pq",
    "ivfpq" -> "ns_vec_topk_ivfpq")

  /** recall@5 per family against `ns_vec_topk` on the given dir. */
  def recalls(spark: SparkSession, dir: String): Map[String, (Double, Int)] = {
    def pairs(name: String): Set[(Long, Long)] =
      graft.SparkEntry.queries(name)(spark, dir)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs("ns_vec_topk")
    families.map { case (label, q) =>
      val approx = pairs(q)
      label -> (((approx intersect exact).size.toDouble / exact.size, approx.size))
    }.toMap
  }
}
