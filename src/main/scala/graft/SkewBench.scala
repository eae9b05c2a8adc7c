package graft

import graft.queries.{PipelineOps, SkewLab}
import org.apache.spark.sql.DataFrame

/** Measures the dedup skew crossover SKEW.md documents: d03 (direct
  * inverted-index jaccard) vs d09 (PPJoin prefix filter) vs d10
  * (df-capped winnowing), plus the incremental pair d14 vs d15, on a
  * uniform corpus and on hot-shingle corpora — a 40-word boilerplate
  * header on 10% / 33% of docs (adversarial: manufactures quadratic
  * true-pair mass) and a 15-word banner on 50% (realistic: hot grams,
  * uniform-level true output).
  *
  * Corpora are written to parquet first so every measurement starts
  * from a real scan (not an in-memory local relation). Each cell is
  * measured under Bench's protocol: the min of two timed passes after one
  * untimed pass. Prints one JSON line.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32
  *        java … graft.SkewBench
  */
object SkewBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.root()
    Bench.warmUp(spark, sfDir)

    val base = java.nio.file.Files.createTempDirectory("graft-skew").toString
    val docs = Tables.t(spark, sfDir, "documents")
    def writeCorpus(name: String, df: DataFrame): DataFrame = {
      val p = s"$base/$name"
      df.write.mode("overwrite").parquet(p)
      spark.read.parquet(p)
    }
    // 40 header words → 38 hot shingles; everyK 10 / 3 → df ≈ N/10, N/3.
    // banner50: a 15-word header on HALF the docs — hot grams with df =
    // N/2 but, unlike hot10/hot30, NO new true pairs (13 shared grams
    // on ~50-word docs is jaccard ≈ 0.12 « 0.5): the "mirrored site
    // banner on distinct articles" case, where output stays small and
    // the index-join term alone governs the wall clock.
    // SPARK_GRAFT_SKEW_CORPORA=hot30,banner50 restricts the sweep (big
    // SF runs measure one deliberate melt, not four).
    val corporaFilter = sys.env.get("SPARK_GRAFT_SKEW_CORPORA")
      .map(_.split(",").map(_.trim).toSet)
    val corpora = Seq(
      "uniform" -> (() => docs),
      "hot10" -> (() => SkewLab.skewedCorpus(docs, 10, 40)),
      "hot30" -> (() => SkewLab.skewedCorpus(docs, 3, 40)),
      "banner50" -> (() => SkewLab.skewedCorpus(docs, 2, 15)))
      .filter { case (n, _) => corporaFilter.forall(_.contains(n)) }
      .map { case (n, mk) => n -> writeCorpus(n, mk()) }

    // a cell whose every pass failed ends the sweep with that failure
    def timed(fn: => Long): (Double, Long) = {
      val b = Bench.best(Bench.measure(() => fn))
      (b.seconds, b.rows.get)
    }

    import java.util.Locale
    def f3(v: Double): String = "%.3f".formatLocal(Locale.ROOT, v)
    // SPARK_GRAFT_SKEW_ONLY: "incremental" runs only the d14/d15 legs,
    // "selfjoin" only the d03/d09/d10cap legs; unset runs everything
    // (incl. the hot10 uncapped-d10 melt).
    val mode = sys.env.getOrElse("SPARK_GRAFT_SKEW_ONLY", "")
    require(Set("", "incremental", "selfjoin")(mode),
      s"SPARK_GRAFT_SKEW_ONLY must be 'incremental' or 'selfjoin', got '$mode'")
    require(corpora.nonEmpty,
      "SPARK_GRAFT_SKEW_CORPORA matched no corpus (valid: uniform, hot10, hot30, banner50)")
    val incrementalOnly = mode == "incremental"
    val selfJoinOnly = mode == "selfjoin"
    val cells = collection.mutable.LinkedHashMap.empty[String, String]
    corpora.foreach { case (cname, c) =>
      if (!incrementalOnly) {
        val (t03, n03) = timed(PipelineOps.exactJaccardPairsOf(c, 0.5).count())
        val (t09, n09) = timed(PipelineOps.prefixFilterJaccardOf(c, 0.5).count())
        val (t10, n10) = timed(PipelineOps.winnowingDedupOf(c, 20, 8).count())
        require(n03 == n09, s"$cname: d09 output $n09 != d03 output $n03")
        cells(s"${cname}_d03") = f3(t03)
        cells(s"${cname}_d09") = f3(t09)
        cells(s"${cname}_d10cap") = f3(t10)
        cells(s"${cname}_pairs") = n03.toString
        cells(s"${cname}_d10pairs") = n10.toString
        cells(s"${cname}_d03_join_rows") = SkewLab.d03JoinRows(c).toString
        cells(s"${cname}_d09_join_rows") = SkewLab.d09JoinRows(c, 0.5).toString
        cells(s"${cname}_d10cap_join_rows") = SkewLab.d10JoinRows(c, 20).toString
        cells(s"${cname}_d10nocap_join_rows") = SkewLab.d10JoinRows(c, Int.MaxValue).toString
      }
      // the incremental (batch-vs-corpus) legs: the same header skew
      // must melt d14's direct cross join while d15's corpus-df prefix
      // filter holds — the daily-ingest face of the same crossover
      if (!selfJoinOnly) {
      val batch = c.filter(org.apache.spark.sql.functions.col("doc_id") % 7 === 3)
      val rest = c.filter(org.apache.spark.sql.functions.col("doc_id") % 7 =!= 3)
      val (t14, n14) = timed(PipelineOps.crossJaccardPairsOf(batch, rest, 0.5).count())
      val (t15, n15) = timed(PipelineOps.crossJaccardPairsSkewRobustOf(batch, rest, 0.5).count())
      require(n14 == n15, s"$cname: d15 output $n15 != d14 output $n14")
      cells(s"${cname}_d14") = f3(t14)
      cells(s"${cname}_d15") = f3(t15)
      cells(s"${cname}_cross_pairs") = n14.toString
      cells(s"${cname}_d14_join_rows") = SkewLab.d14JoinRows(batch, rest).toString
      cells(s"${cname}_d15_join_rows") = SkewLab.d15JoinRows(batch, rest, 0.5).toString
      System.err.println(s"[skew] $cname done: d14=${f3(t14)}s d15=${f3(t15)}s")
      }
    }
    // the uncapped d10 leg runs only on hot10: its candidate set is
    // every hot-doc pair, and the verify stage alone re-expands each —
    // hot30 would be minutes of deliberate melt for no extra signal
    if (mode.isEmpty && corpora.exists(_._1 == "hot10")) {
      val hot10 = corpora.find(_._1 == "hot10").get._2
      val (t10no, n10no) = timed(
        PipelineOps.winnowingDedupOf(hot10, Int.MaxValue, 8).count())
      cells("hot10_d10nocap") = f3(t10no)
      cells("hot10_d10nocap_pairs") = n10no.toString
    }

    val qs = cells.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    println(s"""{"metric":"skew_crossover","unit":"sec","sf":"${new java.io.File(sfDir).getName}","cells":$qs}""")
    spark.stop()
  }
}
