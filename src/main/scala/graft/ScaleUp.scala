package graft

import org.apache.spark.sql.functions._

/** Scales an sf directory by an integer factor for larger-scale bench
  * points (BENCH_SF1.json): `graft.ScaleUp <srcSfDir> <outDir> <factor>`.
  *
  * The content-bearing tables are scaled so per-operator WORK scales
  * linearly instead of degenerately:
  *  - `documents`: `factor` copies with remapped doc_ids; every copy
  *    after the first gets a per-copy token suffix, making its shingle
  *    vocabulary DISJOINT from every other copy's. Naive duplication
  *    would give each doc `factor-1` exact clones — the near-dup pair
  *    count (and d03/d09/d11's output) would scale ~factor², which
  *    measures the fixture, not the operator. Disjoint vocabularies
  *    replicate the df distribution per copy: pairs, df histogram, and
  *    join sizes all scale ×factor, which is what a corpus `factor`×
  *    the size actually looks like.
  *  - `embeddings`: remapped vec_ids, vectors verbatim — the ANN query
  *    set (vec_id < 10) stays fixed while the searched corpus grows,
  *    the realistic retrieval shape.
  *  - every other table: copied verbatim (the sf1 point targets the
  *    dedup/ANN entries; TPC-H-ish entries are sub-second at sf0.1).
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val Array(src, out, factorStr) = args.take(3)
    val factor = factorStr.toInt
    require(factor >= 1)
    val spark = Sessions.root()

    val IdStride = 10000000L
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))

    val docs = spark.read.parquet(s"$src/documents.parquet")
    (0 until factor).map { c =>
      val remapped = docs.withColumn("doc_id", col("doc_id") + lit(c * IdStride))
      if (c == 0) remapped
      else remapped.withColumn("text",
        regexp_replace(col("text"), "(\\S+)", "$1_c" + c))
    }.reduce(_ unionAll _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    (0 until factor).map(c =>
      emb.withColumn("vec_id", col("vec_id") + lit(c * IdStride)))
      .reduce(_ unionAll _)
      .repartition(16)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    val fs = java.nio.file.Paths.get(src)
    java.nio.file.Files.list(fs).forEach { p =>
      val name = p.getFileName.toString
      if (name.endsWith(".parquet") && name != "documents.parquet" &&
          name != "embeddings.parquet") {
        val dst = java.nio.file.Paths.get(out, name)
        if (!java.nio.file.Files.exists(dst))
          java.nio.file.Files.copy(p, dst)
      }
    }
    println(s"[scaleup] wrote $out at ${factor}x of $src")
    spark.stop()
  }
}
