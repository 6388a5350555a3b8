package graft.tools

import org.apache.spark.sql.functions._

/** IVF cell-occupancy probe (round 14): builds the auto-sized IVF index
  * (`Similarity.ivfIndex(k = -1)` — the exact path the e10/e12 bench
  * fixtures and prewarm take) over each dir's embeddings table and
  * prints the cell count, occupancy stats, and the exact within-cell
  * pair volume Σ m·(m−1)/2 — the work [[graft.pipeline.Similarity.knnGraph]]'s
  * cell-blocked join does — WITHOUT running the join. The vector-side
  * companion of [[BandingProbe]]: corpus-proportional cell sizing is
  * verified when pairVolume/vec stays flat from 1× to 10× (fixed-k
  * sizing grows it ~10×, the e10 super-linearity round 13 caught).
  *
  * Usage: runMain graft.tools.IvfProbe <dir>[,<dir>...] — a spec
  * `scaled10x:<srcDir>` synthesizes (or reuses — the marker fingerprint
  * decides) the bench lane's 10× corpus, like `Profile query`'s.
  */
object IvfProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.create(32)
    for (spec <- args(0).split(',').toSeq) try {
      // resolve through the shared definition (as `Profile query` does) and guard
      // each spec: one bad dir must not abort the remaining specs or
      // skip spark.stop()
      val dir = graft.SparkEntry.resolveScaledSpec(spark, spec)
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val (indexed, cents) = graft.pipeline.Similarity.ivfIndex(
        emb, "vec_id", "embedding", k = -1)
      // coalesce: every aggregate below is NULL over an empty table —
      // print zeros instead of an NPE (the BandingProbe lesson)
      val occ = indexed.groupBy("cell").count().agg(
        coalesce(sum("count"), lit(0L)).as("n"),
        count(lit(1)).as("used"),
        coalesce(max("count"), lit(0L)).as("max_m"),
        coalesce(avg("count"), lit(0.0)).as("avg_m"),
        coalesce(sum(col("count") * (col("count") - 1)), lit(0L))
          .as("pair2")).head
      val n = occ.getLong(0)
      val pairs = occ.getLong(4) / 2
      println(f"[ivf] $dir n=$n cells=${cents.length} " +
        f"used=${occ.getLong(1)} avg=${occ.getDouble(3)}%.1f " +
        f"max=${occ.getLong(2)} pairVolume=$pairs " +
        f"(${pairs.toDouble / math.max(n, 1)}%.1f/vec)")
      // Same measurement for the hyperplane-LSH pair stage: candidate
      // volume at the fixed default code (bits=4, 16 buckets — grows
      // n²/2^bits) vs the corpus-proportional code (bits = autoLshBits,
      // constant expected occupancy) — evidence for lshNearDupPairs'
      // bits = -1 arm, no join run.
      def lshVolume(bits: Int): Long =
        emb.select(graft.pipeline.Similarity
            .lshBucket(col("embedding"), 64, bits).as("b"))
          .groupBy("b").count()
          .agg(coalesce(sum(col("count") * (col("count") - 1)), lit(0L)))
          .head.getLong(0) / 2
      val den = math.max(n, 1L).toDouble
      val auto = graft.pipeline.Similarity.autoLshBits(n)
      val v4 = lshVolume(4)
      // below ~4k vectors auto clamps to 4 — reuse instead of re-running
      // the identical aggregation job
      val vAuto = if (auto == 4) v4 else lshVolume(auto)
      println(f"[lsh] $dir n=$n fixed4bits=$v4 (${v4 / den}%.1f/vec) " +
        f"autoBits=$auto vol=$vAuto (${vAuto / den}%.1f/vec)")
    } catch { case e: Throwable =>
      println(s"[ivf] $spec FAILED: ${e.getMessage}")
    }
    spark.stop()
  }
}
