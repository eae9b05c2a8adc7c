package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.PipelineOps

/** Public, composable API over the similarity-search operators — the
  * embedding-side counterpart of [[Curation]]. The named entries
  * (s01/s02/s06) are the oracled instantiations of these kernels; this
  * facade exposes them over arbitrary DataFrames with caller-chosen
  * column names:
  *
  * {{{
  * import graft.pipeline.Similarity
  * val truth  = Similarity.bruteForceTopK(corpus, sampleQueries, k = 10)
  * val approx = Similarity.ivfTopK(corpus, sampleQueries, k = 10, probes = 2)
  * val grade  = Similarity.recallAtK(truth, approx)   // ship the index?
  * }}}
  *
  * Embedding columns must be castable to `array<double>`; ids to
  * `long`. Query sets are bounded samples (the brute-force side
  * broadcasts them), which is exactly the ANN-evaluation recipe: grade
  * the index on a sample, then serve with the approximate path.
  */
object Similarity {

  // shared canonicalization/null contract: see [[Canon]]
  private def canon(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    Canon.vecs(emb, idCol, vecCol)

  /** Exact cosine top-k (s01's kernel): the query sample is collected
    * and broadcast; the corpus is scanned once, map-side, with a
    * primitive-loop dot product — zero shuffle before the final tiny
    * top-k. Returns (qid, rk, nid, c). */
  def bruteForceTopK(emb: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    PipelineOps.bruteForceTopKOf(
      canon(emb, idCol, vecCol), canon(queries, idCol, vecCol), k)

  /** Margin-based bitext mining (s12's kernel — Artetxe & Schwenk
    * 2019's ratio margin, the LASER/CCMatrix parallel-corpus miner):
    * per source vector in `src`, the best `tgt` match by
    * cos / mean(avg-top-k-forward, avg-top-k-backward), kept at
    * margin ≥ `tau`. Returns (a_id, b_id, cos_micro, margin) —
    * cosines in exact integer micro-units, margins deterministic
    * across engines. The exhaustive candidate set here is the
    * baseline; swap in ANN retrieval per side at scale. */
  def bitextMine(src: DataFrame, tgt: DataFrame, k: Int = 4,
      tau: Double = 1.15,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    PipelineOps.bitextMineOf(
      canon(src, idCol, vecCol).select(col("vec_id").as("a_id"), col("e").as("ae")),
      canon(tgt, idCol, vecCol).select(col("vec_id").as("b_id"), col("e").as("be")),
      k, tau)

  /** [[bitextMine]]'s production configuration (s12's ANN variant):
    * candidate generation through the IVF shape on both sides —
    * each side is kmeans-clustered into `clusters` cells and every
    * query meets only its `probes` nearest cells' postings, so work
    * stays linear in corpus size when `clusters` grows with it. kNN
    * margins are computed within the candidate set (the standard
    * FAISS-retrieval approximation). With probes = clusters the
    * output equals [[bitextMine]] exactly. */
  def bitextMineAnn(src: DataFrame, tgt: DataFrame, k: Int = 4,
      tau: Double = 1.15, probes: Int = 2, clusters: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    def side(df: DataFrame, id: String, e: String, lb: String) =
      PipelineOps.kmeansAssignOf(canon(df, idCol, vecCol), clusters, iters = 3)
        .select(col("vec_id").as(id), col("e").as(e), col("cluster").as(lb))
    PipelineOps.bitextMineAnnOf(
      side(src, "a_id", "ae", "alabel"),
      side(tgt, "b_id", "be", "blabel"), k, tau, probes)
  }

  /** IVF-style ANN top-k (s02's kernel): per-`bucketCol` mean centroids
    * (broadcast), probe the `probes` nearest, exact search inside the
    * probed buckets only — scanned fraction ≈ probes/nlist. Returns
    * (qid, rk, nid, c). Rows with a null bucket are excluded along
    * with null ids/vectors: a null bucket would still form a centroid
    * and win probe slots, but `label === clabel` can never reach its
    * members — an unreachable bucket that silently burns probes. */
  def ivfTopK(emb: DataFrame, queries: DataFrame, k: Int, probes: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding",
      bucketCol: String = "label"): DataFrame =
    PipelineOps.ivfTopKOf(
      emb.select(col(idCol).cast("long").as("vec_id"),
          col(bucketCol).as("label"),
          col(vecCol).cast("array<double>").as("e"))
        .filter(col("vec_id").isNotNull && col("e").isNotNull &&
          col("label").isNotNull),
      canon(queries, idCol, vecCol)
        .select(col("vec_id").as("qid"), col("e").as("qe")),
      k, probes)

  /** Hybrid retrieval with Reciprocal Rank Fusion (s13's kernel —
    * Cormack et al. 2009): fuse the dense cosine top-`r` over
    * `emb`/`queriesEmb` with the lexical token-Jaccard top-`r` over
    * `docs`/`queriesText` (ids align across the two modalities), score
    * each doc Σ 1/(rrfK + rank) over the systems that retrieved it,
    * keep the fused top-`k` per query. Returns (qid, frk, nid,
    * rrf_micro, in_dense, in_lex) — scores in exact integer
    * micro-units. Query sets are bounded samples (both halves
    * broadcast them); each half's output is retrieval-budget-bounded,
    * so the fusion join never sees the corpus. */
  def hybridTopK(docs: DataFrame, queriesText: DataFrame,
      emb: DataFrame, queriesEmb: DataFrame, r: Int = 20, k: Int = 10,
      rrfK: Int = 60, idCol: String = "doc_id", textCol: String = "text",
      vecIdCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    PipelineOps.hybridRrfOf(
      Canon.docs(docs, idCol, textCol),
      Canon.docs(queriesText, idCol, textCol),
      canon(emb, vecIdCol, vecCol), canon(queriesEmb, vecIdCol, vecCol),
      r, k, rrfK)

  /** IVF-PQ search (s14's kernel — Jégou et al. 2011, the FAISS
    * workhorse): coarse IVF pruning to `probes` of the `bucketCol`
    * cells, then asymmetric distance computation over the
    * [[pqEncode]]-style codes — candidates are scored from `subs`
    * table lookups on 1-byte codes, never from raw vectors. Returns
    * (qid, rk, nid, adc_micro) with distances in exact integer
    * micro-units. The null contract matches [[ivfTopK]] (null
    * id/vector/bucket rows are excluded). */
  def ivfPqTopK(emb: DataFrame, queries: DataFrame, k: Int,
      dims: Int = 64, subs: Int = 8, cbSize: Int = 16, probes: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding",
      bucketCol: String = "label"): DataFrame =
    PipelineOps.ivfPqSearchOf(
      emb.select(col(idCol).cast("long").as("vec_id"),
          col(bucketCol).as("label"),
          col(vecCol).cast("array<double>").as("e"))
        .filter(col("vec_id").isNotNull && col("e").isNotNull &&
          col("label").isNotNull),
      canon(queries, idCol, vecCol)
        .select(col("vec_id").as("qid"), col("e").as("qe")),
      dims, subs, cbSize, k, probes)

  /** Two-stage ANN refine (s15's kernel — the FAISS `refine` serving
    * pattern): [[ivfPqTopK]]'s ADC pass shortlists `kShort` candidates
    * per query from the 8-byte codes, then ONLY those candidates' raw
    * vectors are fetched (broadcast semi-join on the id) and re-scored
    * with the exact squared distance; the final top-`k` ranks on the
    * exact score. Returns (qid, rk, nid, dist). The stage that turns
    * PQ's lossy speed into served accuracy. */
  def pqRerank(emb: DataFrame, queries: DataFrame, k: Int,
      kShort: Int = 20, dims: Int = 64, subs: Int = 8, cbSize: Int = 16,
      probes: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding",
      bucketCol: String = "label"): DataFrame =
    PipelineOps.pqRerankOf(
      emb.select(col(idCol).cast("long").as("vec_id"),
          col(bucketCol).as("label"),
          col(vecCol).cast("array<double>").as("e"))
        .filter(col("vec_id").isNotNull && col("e").isNotNull &&
          col("label").isNotNull),
      canon(queries, idCol, vecCol)
        .select(col("vec_id").as("qid"), col("e").as("qe")),
      dims, subs, cbSize, k, kShort, probes)

  /** Per-cluster embedding outlier audit (s16's kernel): vectors whose
    * distance to their own `bucketCol` centroid exceeds the in-cluster
    * `p` quantile (exact percentile, 6-decimal distance pin). Returns
    * per cluster (label, n_vectors, p95, n_outliers, id_checksum,
    * max_dist) — the hygiene gate to run before a clustering is
    * trusted for dedup or mixture decisions. */
  def embeddingOutliers(emb: DataFrame, p: Double = 0.95,
      idCol: String = "vec_id", vecCol: String = "embedding",
      bucketCol: String = "label"): DataFrame =
    PipelineOps.embeddingOutliersOf(
      emb.select(col(idCol).cast("long").as("vec_id"),
          col(bucketCol).as("label"),
          col(vecCol).cast("array<double>").as("e"))
        .filter(col("vec_id").isNotNull && col("e").isNotNull &&
          col("label").isNotNull),
      p)

  /** Recall@k of `approx` against `exact` (s06's kernel) — both in the
    * (qid, nid) shape the two searches return. Returns (qid, n_hit,
    * recall). */
  def recallAtK(exact: DataFrame, approx: DataFrame): DataFrame =
    PipelineOps.recallOf(exact, approx)

  /** Johnson-Lindenstrauss sign random projection (s08's kernel):
    * `inDims`-wide vectors down to `outDims`, with the ±1 matrix
    * derived from md5 so every run (and engine) regenerates it — no
    * model state to ship. Components accumulate as integers, so
    * results are exact and order-independent; the 1/sqrt(outDims) JL
    * normalization preserves expected L2 distances, so absolute
    * distance thresholds survive the projection. Returns (vec_id,
    * proj). The scan-speed prepass that shrinks every downstream ANN
    * or clustering shuffle by inDims/outDims. */
  def randomProject(emb: DataFrame, inDims: Int, outDims: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    PipelineOps.randomProjectionOf(canon(emb, idCol, vecCol), inDims, outDims)

  /** SemDeDup (d17's kernel): k-means the embeddings (`k` clusters,
    * `iters` Lloyd iterations, deterministic lowest-id init), then drop
    * every vector whose rounded cosine to a smaller-id cluster-mate
    * reaches `tau` — near-dup comparison never crosses a cluster
    * boundary, which is the whole scale story. Returns one row per
    * DROPPED vector: (vec_id, cluster, kept_by, max_cos); survivors
    * are the anti-join of the input against this. */
  def semDedup(emb: DataFrame, k: Int, tau: Double, iters: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    PipelineOps.semDedupOf(canon(emb, idCol, vecCol), k, iters, tau)

  /** Semantic contamination audit (dec03's kernel): per vector where
    * `isEval` holds (a Column predicate over the CALLER's schema), the
    * closest TRAINING vector by rounded cosine plus the count of
    * training vectors at cosine ≥ `tau` — the embedding-space check
    * that catches paraphrased eval leakage lexical n-gram overlap
    * misses. Returns (eval_id, top_train_id, top_cos, n_close). The
    * eval block broadcasts against one map-side corpus pass; swap in
    * [[ivfTopK]] when the corpus no longer scans. */
  def semanticContamination(emb: DataFrame, isEval: org.apache.spark.sql.Column,
      tau: Double = 0.35,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    PipelineOps.semanticContaminationOf(
      Canon.vecs(emb, idCol, vecCol,
        extra = Seq("is_eval" -> coalesce(isEval.cast("boolean"), lit(false)))),
      col("is_eval"), tau)

  /** Product-quantization encode (s09's kernel): `dims`-wide vectors
    * split into `subs` subspaces, each assigned to its nearest codeword
    * from a codebook built of the `cbSize` lowest-id vectors'
    * subvectors. Returns (vec_id, codes, sq_err) — the 32×-compressed
    * representation IVFPQ serves from, plus the reconstruction error
    * that grades codebook quality. */
  def pqEncode(emb: DataFrame, dims: Int, subs: Int, cbSize: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    PipelineOps.pqEncodeOf(canon(emb, idCol, vecCol), dims, subs, cbSize)

  /** Cluster exemplar selection (s10's kernel): k-means the embeddings
    * (same deterministic trajectory as [[semDedup]]), then return the
    * `perCluster` vectors nearest each final centroid — the
    * representatives you inspect, label, or keep. Returns (cluster,
    * rk, vec_id, sq_dist); 3K-ish rows however large the corpus. */
  def clusterExemplars(emb: DataFrame, k: Int, perCluster: Int = 3,
      iters: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    PipelineOps.clusterExemplarsOf(canon(emb, idCol, vecCol), k, iters, perCluster)

  /** k-nearest-neighbor graph (s18's kernel): each vector's `topK`
    * highest-cosine neighbors within its k-means cell (same
    * deterministic trajectory as [[semDedup]]) — the edge-list
    * artifact NN-descent refinement, graph clustering, and
    * connectivity-based dedup start from. Exact within-cell; raise
    * `k` with the corpus so Σ|cell|² stays bounded. Returns (vec_id,
    * rk, nbr_id, cos). */
  def knnGraph(emb: DataFrame, k: Int, topK: Int = 3, iters: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    PipelineOps.knnGraphOf(canon(emb, idCol, vecCol), k, iters, topK)

  /** NN-descent refinement (s19's kernel — Dong et al. 2011) over
    * [[knnGraph]]'s within-cell build: deterministic md5-bucket
    * bridges (the paper's random initialization — size `bridgeBuckets`
    * so buckets hold ~N/bridgeBuckets vectors) seed cross-cell edges,
    * then `rounds` neighbor-of-neighbor expansion rounds recover the
    * true neighbors blocking misses, re-ranked by exact cosine through
    * bounded per-vertex heaps. Edge-keyed equi-joins only — the corpus
    * never self-joins. Returns (vec_id, rk, nbr_id, cos).
    *
    * `checkpointDir`: the per-round barrier. None (default) =
    * localCheckpoint (executor-cached; an executor loss mid-run kills
    * the job); a reliable dir (HDFS/S3) writes each round's edge set
    * through the Hadoop FS so any executor rebuilds — the production
    * setting for long refinement runs. Identical results either way. */
  def nnDescent(emb: DataFrame, k: Int, topK: Int = 3, iters: Int = 3,
      rounds: Int = 1, bridgeBuckets: Int = 31,
      idCol: String = "vec_id", vecCol: String = "embedding",
      checkpointDir: Option[String] = None): DataFrame = {
    val c = canon(emb, idCol, vecCol)
    PipelineOps.nnDescentOf(c,
      PipelineOps.knnGraphOf(c, k, iters, topK), topK, rounds, bridgeBuckets,
      checkpointDir)
  }

  /** Graph-ANN serve (s20's kernel — the HNSW-shaped single-layer
    * beam search): queries walk a caller-supplied kNN edge graph
    * ((vec_id, nbr_id) — [[nnDescent]]'s output composes directly)
    * from fixed entry points through `rounds` bounded expansion
    * rounds. Returns (qid, rk, nid, c, n_visited) — n_visited is the
    * serve-cost certificate (vertices scored, not the corpus). */
  def graphAnnServe(emb: DataFrame, graph: DataFrame, queries: DataFrame,
      entries: Int = 4, beam: Int = 4, rounds: Int = 3, k: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    PipelineOps.graphAnnServeOf(canon(emb, idCol, vecCol),
      graph.select(col("vec_id"), col("nbr_id")),
      canon(queries, idCol, vecCol), entries, beam, rounds, k)

  /** Persist a kNN graph ([[nnDescent]]'s output composes directly)
    * as the graph-ANN serve artifact: the symmetrized adjacency edge
    * list, parquet-partitioned by a 16-way md5 vertex bucket. The
    * build half of the build-vs-serve split — [[graphAnnServeFrom]]
    * reads it back cold. */
  def nnGraphPersist(graph: DataFrame, dir: String): Unit =
    PipelineOps.nnGraphPersist(graph.select(col("vec_id"), col("nbr_id")), dir)

  /** Graph-ANN serve over the COLD stored [[nnGraphPersist]] artifact
    * — no build work in the serve session; bit-identical to
    * [[graphAnnServe]] over the live graph. */
  def graphAnnServeFrom(dir: String, emb: DataFrame, queries: DataFrame,
      entries: Int = 4, beam: Int = 4, rounds: Int = 3, k: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    PipelineOps.graphAnnServeFrom(emb.sparkSession, dir,
      canon(emb, idCol, vecCol), canon(queries, idCol, vecCol),
      entries, beam, rounds, k)

  /** MMR diversified re-ranking (s24's kernel, Carbonell & Goldstein
    * 1998): greedily re-rank each query's top-`poolK` relevance pool
    * to `k` results maximizing λ·rel − (1−λ)·max-sim-to-selected,
    * λ = lamTimes10/10 — the serve-side cure for a result page of
    * near-duplicates. Exact integer micro-unit trajectory. Returns
    * (qid, rk, nid, rel, mmr). */
  def mmrRerank(emb: DataFrame, queries: DataFrame,
      poolK: Int = 20, k: Int = 5, lamTimes10: Int = 7,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    PipelineOps.mmrRerankOf(canon(emb, idCol, vecCol),
      canon(queries, idCol, vecCol), poolK, k, lamTimes10)
}
