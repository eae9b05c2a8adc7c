package graft

import org.apache.spark.sql.functions._

/** One-off kernel-level scaling probe for BENCH_SF1.json measurements
  * where the oracled entry's fixed parameters deliberately do NOT model
  * production (e.g. d17 pins K=8 for the oracle; SemDeDup at scale
  * grows K with the corpus so per-cluster pair cost stays flat). Runs a
  * named kernel through the PUBLIC facade with caller parameters, under
  * Bench's measuring protocol (min of two timed passes after one untimed
  * pass) — the same as the SPARK_GRAFT_ONLY Bench runs it is compared
  * against.
  *
  * Usage: SPARK_GRAFT_CPUS=32 graft.ScaleProbe <sfDir> semdedup <k> <tau>
  * (the BENCH_SF1.json probes ran on 32 cores; the default is 4)
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = Sessions.root()
    Bench.warmUp(spark, sfDir)

    def run(): Long = args(1) match {
      case "semdedup" =>
        val emb = Tables.t(spark, sfDir, "embeddings")
        graft.pipeline.Similarity
          .semDedup(emb, k = args(2).toInt, tau = args(3).toDouble)
          .count()
      case "bitext" =>
        // the s12 PRODUCTION config: ANN candidate generation with
        // kmeans clusters — K scales with the corpus (args: k tau
        // probes clusters), the d17 K-scaling protocol
        val docs = Tables.t(spark, sfDir, "documents").select("doc_id", "lang")
        val emb = Tables.t(spark, sfDir, "embeddings")
        def side(lang: String) = emb
          .join(docs.filter(col("lang") === lang), col("vec_id") === col("doc_id"))
          .select(col("vec_id"), col("embedding"))
        graft.pipeline.Similarity.bitextMineAnn(side("de"), side("en"),
          k = args(2).toInt, tau = args(3).toDouble,
          probes = args(4).toInt, clusters = args(5).toInt)
          .count()
      case "knngraph" =>
        // the s18 PRODUCTION config: K scales with the corpus so
        // per-cell pair cost stays flat (args: k topK) — the d17
        // K-scaling protocol
        val emb = Tables.t(spark, sfDir, "embeddings")
        graft.pipeline.Similarity
          .knnGraph(emb, k = args(2).toInt, topK = args(3).toInt)
          .count()
      case other => sys.error(s"unknown kernel: $other")
    }
    val passes = Bench.measure(() => run())
    val b = Bench.best(passes)
    println(f"[probe] ${args.mkString(" ")}: min=${b.seconds}%.3f s " +
      f"(passes ${passes.map(p => f"${p.seconds}%.3f" + (if (p.ok) "" else " failed")).mkString(", ")}; " +
      s"rows=${b.rows.fold(e => s"FAILED: $e", _.toString)})")
    spark.stop()
  }
}
