package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.PipelineOps

/** Public, composable API over the training-data curation operators.
  *
  * The named `SparkEntry.queries` entries (d01–d14, t01–t11, …) are the
  * oracled, benchmarked instantiations of these kernels against the
  * test corpus; this facade exposes the SAME kernels over arbitrary
  * DataFrames with caller-chosen column names, so a pipeline author can
  * compose them programmatically:
  *
  * {{{
  * import graft.pipeline.Curation
  * val pairs    = Curation.nearDupPairs(docs, minJaccard = 0.8)
  * val clusters = Curation.dupClusters(docs, minJaccard = 0.8)
  * val leaks    = Curation.dedupAgainstCorpus(newBatch, corpus, 0.5)
  * Curation.shardedWrite(clean, "/data/shards", nShards = 1024)
  * }}}
  *
  * Every function is a declarative Spark plan with the scale shapes the
  * named entries pin in `PlanSpec` (inverted-index equi-joins, broadcast
  * small sides, no cartesians, map-side text kernels); thresholds and
  * column names are the only things parameterized. Inputs must expose a
  * 64-bit-castable id column — ids are canonicalized to `long` so joins
  * run on fixed-width keys, never on row text.
  */
object Curation {

  // shared canonicalization/null contract: see [[Canon]]
  private def canon(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    Canon.docs(docs, idCol, textCol)

  /** Exact all-pairs word-3-gram jaccard ≥ `minJaccard` via the
    * inverted shingle index (d03's kernel). Returns (d1, d2, jaccard),
    * d1 < d2. Prefer [[nearDupPairsSkewRobust]] on corpora with
    * boilerplate-heavy (skewed-shingle) text. */
  def nearDupPairs(docs: DataFrame, minJaccard: Double,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    PipelineOps.exactJaccardPairsOf(canon(docs, idCol, textCol), minJaccard)

  /** Same output as [[nearDupPairs]] through the PPJoin-style prefix
    * filter (d09's kernel): hot shingles never enter the join, so a
    * skewed corpus can't melt it (SKEW.md measures the crossover).
    * Candidate recall is exact — results are identical to
    * [[nearDupPairs]], only the plan differs. */
  def nearDupPairsSkewRobust(docs: DataFrame, minJaccard: Double,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    PipelineOps.prefixFilterJaccardOf(canon(docs, idCol, textCol), minJaccard)

  /** MinHash+LSH near-dup pairs (d04's kernel): 32 xxhash64
    * permutations, banded BY THE THRESHOLD (8×4 at ≥0.75, 16×2 at
    * ≥0.4, 32×1 below), so the detection probability at `minJaccard`
    * stays ≥ ~0.94; banded candidates verified by exact jaccard ≥
    * `minJaccard`. The sub-quadratic default when the threshold is
    * high and candidates are rare; candidate recall is probabilistic,
    * unlike [[nearDupPairs]]/[[nearDupPairsSkewRobust]]. */
  def nearDupPairsMinhash(docs: DataFrame, minJaccard: Double = 0.9,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    PipelineOps.minhashNearDupPairsOf(canon(docs, idCol, textCol), minJaccard)

  /** Duplicate-cluster election (d11's kernel): connected components
    * over the ≥ `minJaccard` near-dup graph by min-label propagation
    * (`rounds` edge-join rounds; raise it if clusters may be deeper
    * than 3 hops). Returns (cluster_id, n_members, members). */
  def dupClusters(docs: DataFrame, minJaccard: Double,
      idCol: String = "doc_id", textCol: String = "text",
      rounds: Int = 3): DataFrame =
    PipelineOps.dupClustersOf(
      nearDupPairs(docs, minJaccard, idCol, textCol).select(col("d1"), col("d2")),
      rounds)

  /** Duplicate-cluster election by the alternating large-star/
    * small-star contraction (d24's kernel, Kiveris et al. 2014):
    * the same clusters as [[dupClusters]], reached in O(log n)
    * verified-fixpoint rounds regardless of cluster DIAMETER — prefer
    * this when duplicate chains may be deeper than a few hops (long
    * boilerplate chains defeat any fixed propagation unrolling).
    * Returns (cluster_id, n_members, members).
    *
    * `maxRounds` is the runaway backstop above the verified fixpoint
    * (the paper's round bound grows with graph size — raise it for a
    * very large or adversarial duplicate graph); `membersCap` truncates
    * the members-csv review rollup (n_members stays the true count).
    * `checkpointDir` picks the per-round barrier: None (default) is
    * localCheckpoint — executor-cached, zero cluster-storage traffic,
    * but losing ONE executor mid-run kills the job since the truncated
    * lineage lives only in those executors' block managers; a reliable
    * dir (HDFS/S3 at scale) writes each round through the Hadoop FS so
    * any replacement executor rebuilds, at the price of one FS write
    * per round. Results are identical either way (spec-pinned). */
  def dupClustersAlternating(docs: DataFrame, minJaccard: Double,
      idCol: String = "doc_id", textCol: String = "text",
      maxRounds: Int = 16, membersCap: Int = 10000,
      checkpointDir: Option[String] = None): DataFrame =
    PipelineOps.ccAlternatingOf(
      nearDupPairs(docs, minJaccard, idCol, textCol).select(col("d1"), col("d2")),
      maxRounds, membersCap, checkpointDir)

  /** The dedup keep decision (d19's kernel): per duplicate cluster of
    * the ≥ `minJaccard` graph, elect the HIGHEST-quality member (t14's
    * in-row score, id-asc tiebreak) instead of an arbitrary min id —
    * boilerplate clusters usually hold one clean and many mangled
    * variants. Returns (cluster_id, keep_id, keep_score, n_dropped);
    * docs outside every cluster are implicitly kept. */
  def qualityKeep(docs: DataFrame, minJaccard: Double,
      idCol: String = "doc_id", textCol: String = "text",
      rounds: Int = 3): DataFrame = {
    val c = canon(docs, idCol, textCol)
    PipelineOps.qualityKeepOf(c,
      PipelineOps.exactJaccardPairsOf(c, minJaccard).select(col("d1"), col("d2")),
      rounds)
  }

  /** [[qualityKeep]] over a caller-supplied near-dup edge set `(d1,
    * d2)` — e.g. [[nearDupPairsSkewRobust]] on a boilerplate-heavy
    * corpus, or [[nearDupPairsMinhash]] when the threshold is high
    * enough for banding. Any pair source composes with the same
    * election. */
  def qualityKeepFromEdges(docs: DataFrame, edges: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      rounds: Int = 3): DataFrame =
    PipelineOps.qualityKeepOf(canon(docs, idCol, textCol),
      edges.select(col("d1"), col("d2")), rounds)

  /** Incremental batch-vs-corpus dedup (d14's kernel): jaccard ≥
    * `minJaccard` pairs between a new `batch` and the existing
    * `corpus`, without ever self-joining the corpus — the daily-ingest
    * path, O(|batch| · df). Returns (b_id, c_id, jaccard). */
  def dedupAgainstCorpus(batch: DataFrame, corpus: DataFrame, minJaccard: Double,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    PipelineOps.crossJaccardPairsOf(
      canon(batch, idCol, textCol), canon(corpus, idCol, textCol), minJaccard)

  /** Bloom-prefiltered EXACT chunk-membership gate (d23's kernel, the
    * Dolma-style ingest deduper): the batch's fixed `chunkWords`-word
    * windows probe a broadcast Bloom sketch of the corpus's chunk
    * hashes map-side; sketch positives are exact-confirmed, so the
    * verdict is exactly plain exact membership — the sketch only
    * shrinks the confirm join. A doc keeps iff its dup-chunk ratio <
    * `tau`. Returns (doc_id, n_chunks, n_dup, dup_ratio, keep). */
  def bloomDedupGate(batch: DataFrame, corpus: DataFrame,
      chunkWords: Int = 3, tau: Double = 0.5, fpp: Double = 0.03,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    PipelineOps.bloomDedupGateOf(
      canon(batch, idCol, textCol), canon(corpus, idCol, textCol),
      chunkWords, tau, fpp)

  /** Skew-robust form of [[dedupAgainstCorpus]] (d15's kernel): the
    * PPJoin prefix filter under a (corpus-df, gram) token order — a
    * boilerplate gram hot in the existing corpus never enters the
    * batch's join. Output identical to [[dedupAgainstCorpus]]; prefer
    * this when the corpus carries mirrored headers/templates. */
  def dedupAgainstCorpusSkewRobust(batch: DataFrame, corpus: DataFrame,
      minJaccard: Double,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    PipelineOps.crossJaccardPairsSkewRobustOf(
      canon(batch, idCol, textCol), canon(corpus, idCol, textCol), minJaccard)

  /** Per-document character-distribution entropy (t11's kernel) — the
    * cheap gibberish/boilerplate signal. Returns (doc_id,
    * n_distinct_chars, entropy). */
  def charEntropy(docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    PipelineOps.charEntropyOf(canon(docs, idCol, textCol))

  /** Corpus-level duplicated-chunk removal (d16's kernel — the CCNet/C4
    * paragraph-dedup shape over fixed `chunkWords`-word windows): a
    * chunk is dropped everywhere it appears if its content hash occurs
    * more than once in the corpus; survivors reassemble in document
    * order. Returns (doc_id, n_kept, cleaned_text); docs whose every
    * chunk was duplicated drop out. */
  def chunkDedup(docs: DataFrame, chunkWords: Int = 10,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    PipelineOps.chunkDedupOf(canon(docs, idCol, textCol), chunkWords)

  /** Exact-substring dedup at TOKEN granularity (d18's kernel — Lee
    * et al. 2022's ExactSubstr): every token covered by an exact
    * `runLen`-token run occurring more than once anywhere in the
    * corpus (any doc, any position, a doc's own repeat included) is
    * removed; survivors reassemble in document order. Unlike
    * [[chunkDedup]]'s aligned windows, a duplicated passage straddling
    * a chunk boundary is still caught. Returns (doc_id, n_tokens,
    * n_dup_tokens, dup_ratio, cleaned_text); every doc survives (a
    * fully-duplicated doc comes back with empty cleaned_text). */
  def exactSubstringDedup(docs: DataFrame, runLen: Int = 50,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    PipelineOps.exactSubstringDedupOf(canon(docs, idCol, textCol), runLen)

  /** Corpus-wide adjacent word-pair counts, top `k` (t13's kernel —
    * the BPE-training merge-candidate scan). Returns (pair, n), count
    * desc with pair tiebreak. */
  def bpePairCounts(docs: DataFrame, k: Int = 20,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    PipelineOps.bpePairCountsOf(canon(docs, idCol, textCol), k)

  /** The iterated BPE merge-training loop (t16's kernel — Sennrich et
    * al. 2016): learn `merges` merges over the corpus word-frequency
    * table, re-pairing after each. Returns one row per learned merge:
    * (merge_rank, pair, merged, n), rank order. Corpus text is read
    * exactly once; each iteration shuffles only the word table. */
  def bpeMergeLoop(docs: DataFrame, merges: Int = 6,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    PipelineOps.bpeMergeLoopOf(canon(docs, idCol, textCol), merges)

  /** Apply the trained tokenizer (t17's kernel): learn `merges` BPE
    * merges over the corpus, encode it with them, and return one row
    * per document — (doc_id, n_words, n_tokens) — the token count a
    * data-budgeting pipeline bills by. Merge work runs on the
    * distinct-word vocabulary (Zipf reuse), and the word->token-count
    * table broadcasts back onto the occurrence stream. */
  def bpeTokenize(docs: DataFrame, merges: Int = 6,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    PipelineOps.bpeTokenizeOf(canon(docs, idCol, textCol), merges)

  /** Domain blocklist / opt-out audit (u02's kernel): for each rule in
    * `rules` (exact host, or a registered domain covering every
    * subdomain — label-boundary suffix semantics) that matched
    * anything, the count of blocked docs, distinct hosts, and the id
    * range. The report a takedown or opt-out request gets back. */
  def domainBlocklistAudit(docs: DataFrame, rules: Seq[String],
      idCol: String = "doc_id", hostCol: String = "host"): DataFrame =
    PipelineOps.domainBlocklistAuditOf(hosts(docs, idCol, hostCol), rules)

  /** The enforcement side of [[domainBlocklistAudit]]: the corpus with
    * every blocked doc removed. Runs as a PURE MAP at scan speed — the
    * host's label-bounded suffix chain is built in-row and checked
    * against the rule list with `arrays_overlap` (a runtime hash set),
    * so no join, no shuffle, nothing leaves the row; the rule list
    * ships in the plan (fine to ~100k rules — opt-out lists are
    * metadata-sized; beyond that, the audit kernel's broadcast-join
    * shape is the fallback). Returns the caller's rows unchanged. */
  def domainBlocklistKeep(docs: DataFrame, rules: Seq[String],
      hostCol: String = "host"): DataFrame =
    docs.filter(!arrays_overlap(
      expr(s"transform(sequence(1, size(split($hostCol, '\\\\.'))), " +
        s"i -> array_join(slice(split($hostCol, '\\\\.'), i, " +
        s"size(split($hostCol, '\\\\.')) - i + 1), '.'))"),
      typedLit(rules)))

  private def hosts(docs: DataFrame, idCol: String, hostCol: String): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
        col(hostCol).cast("string").as("host"))
      .filter(col("doc_id").isNotNull && col("host").isNotNull)

  /** Unigram-LM (SentencePiece-style) Viterbi segmentation (t20's
    * kernel — Kudo 2018): exact optimal segmentation of every word
    * under an occurrence-weighted substring piece model, ties resolved
    * to the fewest pieces through a packed integer DP key. The piece
    * model seed-prunes to the top-`seedVocab` multi-char pieces by
    * frequency (single chars always retained — the DP's closure
    * guarantee), bounding the driver-collected model by contract.
    * Returns (doc_id, n_words, n_pieces, bits_micro) per document. */
  def unigramSegment(docs: DataFrame, maxPiece: Int = 4,
      idCol: String = "doc_id", textCol: String = "text",
      seedVocab: Int = 65536): DataFrame =
    PipelineOps.unigramSegmentOf(canon(docs, idCol, textCol), maxPiece, seedVocab)

  /** Tokenizer fairness audit (t19's kernel — Petrov et al. 2023):
    * train the [[bpeMergeLoop]] tokenizer on the whole corpus, then
    * measure per language the fertility (tokens per word) and the
    * compression (chars per token) — the table a multilingual pipeline
    * reviews before a tokenizer ships. Returns (lang, n_words,
    * n_tokens, n_chars, fertility, chars_per_token). */
  def bpeFertility(docs: DataFrame, merges: Int = 6,
      idCol: String = "doc_id", textCol: String = "text",
      langCol: String = "lang"): DataFrame =
    PipelineOps.bpeFertilityOf(
      Canon.docs(docs, idCol, textCol,
        extra = Seq("lang" -> col(langCol).cast("string"))), merges)

  /** Split-leakage audit (spl02's kernel): after the deterministic
    * md5-mod-100 train/val/test split, report per eval split how many
    * documents have a ≥ `minJaccard` near-dup in TRAIN — cross-split
    * contamination that silently inflates eval scores. Returns
    * (split, n_docs, n_leaked, worst_jaccard). */
  def splitLeakage(docs: DataFrame, minJaccard: Double = 0.5,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    PipelineOps.splitLeakageOf(canon(docs, idCol, textCol), minJaccard)

  /** Encode `docs` under an ALREADY-LEARNED merge list in rank order
    * (t18's serve half — the production shape where the tokenizer
    * trained once and ships as an artifact): same output as
    * [[bpeTokenize]] when the merges came from [[bpeMergeLoop]] on the
    * same corpus. */
  def bpeTokenizeWith(docs: DataFrame, merges: Seq[(String, String)],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    PipelineOps.bpeTokenizeWith(canon(docs, idCol, textCol), merges)

  /** Unicode NFC normalization of `textCol` in place (t12's expression:
    * native codegen over java.text.Normalizer with an allocation-free
    * all-ASCII fast path) — the mandatory first pass before any
    * hash-keyed dedup on crawled text. */
  def nfcNormalized(docs: DataFrame, textCol: String = "text"): DataFrame = {
    // the caller's column name is spliced into SQL text — double any
    // backtick (Spark's quoted-identifier escape) so a name containing
    // one still parses, like every other facade's canonicalization
    // (r6 advice)
    val quoted = textCol.replace("`", "``")
    docs.withColumn(textCol, expr(s"nfc_normalize(`$quoted`)"))
  }

  /** fastText-shaped linear quality score (t14's kernel): per document
    * the sigmoid of the mean hash-derived token weight — the dataflow
    * of model-based quality filtering with zero model state (a trained
    * model broadcasts a weight table into the same shape). Fully
    * map-side. Returns (doc_id, n_tokens, score ∈ (0,1)). */
  def qualityScore(docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    PipelineOps.qualityScoreOf(canon(docs, idCol, textCol))

  /** Intra-document dedup (d22's kernel — the RefinedWeb/C4 "remove
    * duplicated lines within a page" pass): each doc's fixed
    * `chunkWords`-word windows dedupe keeping the FIRST occurrence,
    * survivors reassembled in order — entirely in-row, a pure map over
    * the scan. Returns (doc_id, n_chunks, n_removed, cleaned_md5). */
  def intraDocDedup(docs: DataFrame, chunkWords: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    PipelineOps.intraDocDedupOf(canon(docs, idCol, textCol), chunkWords)

  /** C4-style line-level cleaning gate (t21's kernel, Raffel et al.
    * 2020 §2.2): per-line rules (min word count, line blocklist)
    * decide which lines survive, doc-level rules cascade on the
    * survivors (doc blocklist, min surviving lines). Lines are fixed
    * `lineWords`-word windows (production splits on newlines; see the
    * kernel doc). Entirely in-row — a pure map at scan speed. Returns
    * (doc_id, n_lines, n_kept, verdict, cleaned_md5 — NULL unless
    * kept). */
  def c4LineGate(docs: DataFrame, lineWords: Int = 10,
      minLineWords: Int = 6, lineBlock: Seq[String] = Seq("javascript"),
      docBlock: Seq[String] = Seq("lorem"), minKeptLines: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    PipelineOps.c4LineGateOf(canon(docs, idCol, textCol), lineWords,
      minLineWords, lineBlock, docBlock, minKeptLines)

  /** HTML/boilerplate main-text extraction (t23's kernel —
    * trafilatura/jusText family), the step before [[c4LineGate]] /
    * [[intraDocDedup]] in a crawl pipeline: newline-separated HTML
    * blocks classify by link density (integer test: 2·anchorChars >
    * textChars) with precedence over a `minWords` length cut; the
    * extracted document is the surviving blocks' text in order. Pure
    * in-row map at scan speed. Returns (doc_id, n_blocks, n_kept,
    * n_drop_link, n_drop_short, extracted_md5, extracted_wc). */
  def htmlExtract(pages: DataFrame, minWords: Int = 3,
      idCol: String = "doc_id", htmlCol: String = "html"): DataFrame =
    PipelineOps.htmlExtractOf(
      pages.select(col(idCol).as("doc_id"), col(htmlCol).as("html")), minWords)

  /** Per-document TF-IDF keyword extraction (t22's kernel): each
    * doc's top `k` terms by tf · ln(N/df), rounded-score ranking with
    * term tiebreak. Returns (doc_id, rk, term, score). */
  def tfidfKeywords(docs: DataFrame, k: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    PipelineOps.tfidfKeywordsOf(canon(docs, idCol, textCol), k)

  /** k-anonymity release suppression (u04's kernel): analytics cells
    * (event type, day, 6-hour bucket) release their metrics only when
    * backed by ≥ `k` distinct users; below that the cell ships with
    * suppressed = true and NULL metrics. Returns (event_type, day,
    * bucket, suppressed, n_events, n_users, value_cents). */
  def kAnonRelease(events: DataFrame, k: Int = 10,
      typeCol: String = "event_type", tsCol: String = "ts",
      userCol: String = "user_id", valueCol: String = "value"): DataFrame =
    PipelineOps.kAnonReleaseOf(
      events.select(col(typeCol).as("event_type"), col(tsCol).as("ts"),
        col(userCol).as("user_id"), col(valueCol).as("value")), k)

  /** Canary extraction audit (guard03's kernel): plant md5-unique
    * canary phrases into two doc classes, run the real span cleaner
    * on class A's phrases, keep B as the deliberate control, and
    * report per class whether any canary survived — a release
    * certifies only if A is clear AND the audit catches B leaking.
    * Returns (class, n_planted, n_leaked, leak_rate, clear). */
  def canaryAudit(docs: DataFrame, runLen: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    PipelineOps.canaryAuditOf(canon(docs, idCol, textCol), runLen)

  /** Multi-epoch training-order manifest audit (p08's kernel): per
    * epoch every doc gets a deterministic md5 order key and a
    * hash-balanced shard; each epoch is a decorrelated permutation of
    * the corpus and a rerun rebuilds the identical order. Returns the
    * per-(epoch, shard) audit (n_docs, n_tokens, id_checksum,
    * key_checksum, first_key). */
  def trainingOrderManifest(docs: DataFrame, epochs: Int = 2,
      shards: Int = 4,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    PipelineOps.trainingOrderManifestOf(canon(docs, idCol, textCol), epochs, shards)

  /** WebDataset-style tar training shards (sink04's kernels): write
    * `shards` deterministic md5-sharded tar files (each sample a
    * `<key>.json` + `<key>.txt` member pair, doc_id order, epoch
    * mtimes — byte-identical reruns), and audit them cold per shard
    * (n_docs, payload_bytes, id_checksum, n_meta). */
  def writeTarShards(docs: DataFrame, path: String, shards: Int = 8,
      idCol: String = "doc_id", langCol: String = "lang",
      sourceCol: String = "source", textCol: String = "text"): Unit =
    PipelineOps.tarShardWrite(
      docs.select(col(idCol).cast("long").as("doc_id"),
          col(langCol).cast("string").as("lang"),
          col(sourceCol).cast("string").as("source"),
          col(textCol).cast("string").as("text"))
        .filter(col("doc_id").isNotNull && col("text").isNotNull),
      path, shards)

  /** The read-side audit over a [[writeTarShards]] directory. */
  def tarShardAudit(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    PipelineOps.tarShardAudit(spark, path)

  /** Best-fit-decreasing sequence packing (samp10's kernel — Ding et
    * al. 2024 "Fewer Truncations Improve Language Modeling"): docs
    * sort decreasing within (source, doc_id-mod-`shards`) sub-streams
    * and best-fit into `budget`-token bins — docs never split, so
    * anything ≤ budget packs with zero truncation; state is bounded at
    * `cap` open bins per sub-stream (fullest-first eviction past the
    * cap). Returns the per-source waste card (docs, bins, token mass,
    * overflow, padding, waste fraction). `shards` is the parallelism
    * knob for skewed sources; each sub-stream pays ~one padded tail
    * bin, so scale it with the cluster, not above the data. */
  def bfdPack(docs: DataFrame, budget: Int = 256, shards: Int = 4,
      cap: Int = 64, idCol: String = "doc_id", sourceCol: String = "source",
      textCol: String = "text"): DataFrame =
    PipelineOps.bfdPackAuditOf(
      docs.select(col(idCol).cast("long").as("doc_id"),
          col(sourceCol).cast("string").as("source"),
          col(textCol).cast("string").as("text"))
        .filter(col("doc_id").isNotNull && col("text").isNotNull),
      budget, shards, cap)

  /** Soft dedup (d21's kernel): duplicate-aware DOWNWEIGHTING instead
    * of removal — every doc survives with weight 1/|near-dup cluster|
    * (singletons 1.0), plus token count and weighted effective mass,
    * ready to feed a sampler. Each duplicate cluster contributes
    * exactly one document's worth of mass. Returns (doc_id, n_tok,
    * cluster_size, weight, eff_tokens). */
  def softDedupWeights(docs: DataFrame, minJaccard: Double = 0.5,
      rounds: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    PipelineOps.softDedupWeightsOf(canon(docs, idCol, textCol), minJaccard, rounds)

  /** Per-source PII density audit (u03's kernel): the three standard
    * detectors (email, 555-phone, dotted-quad IP) as codegen'd regexp
    * counts over `textCol`, rolled up per `sourceCol` with docs,
    * docs-with-PII, hits by type, hits/doc, and a release flag at
    * `tau` hits/doc — which sources need scrubbing or legal review
    * before release. Returns (source, n_docs, docs_with_pii, n_emails,
    * n_phones, n_ips, hits_per_doc, flagged). */
  def piiAudit(docs: DataFrame, tau: Double = 0.8,
      sourceCol: String = "source", textCol: String = "text"): DataFrame =
    PipelineOps.piiAuditOf(
      docs.select(col(sourceCol).cast("string").as("source"),
          col(textCol).cast("string").as("text"))
        .filter(col("source").isNotNull && col("text").isNotNull),
      tau)

  /** DSIR importance resampling (samp02's kernel — Xie et al. 2023):
    * select `n` documents from the corpus, reweighted toward the slice
    * `isTarget` marks (a Column predicate over the CALLER's schema,
    * evaluated before canonicalization). Hashed-unigram importance
    * weights, Gumbel top-n draw with md5-derived noise — fully
    * deterministic, so the same corpus always yields the same sample.
    * Returns (doc_id, logw, gumbel_key) for the selected docs. */
  def importanceResample(docs: DataFrame, isTarget: Column, n: Int,
      buckets: Int = 64,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    PipelineOps.dsirResampleOf(
      Canon.docs(docs, idCol, textCol,
        extra = Seq("is_tgt" -> coalesce(isTarget.cast("boolean"), lit(false)))),
      n, buckets)

  /** Contamination audit (dec02's kernel) — the report side of
    * decontamination: per document where `isEval` holds (a Column
    * predicate over the CALLER's schema), the fraction of its distinct
    * word 3-grams found anywhere in the REST of the corpus plus the
    * single worst-overlapping training document. Returns (eval_id,
    * n_grams, n_hit, contamination, top_train_id, top_shared);
    * uncontaminated eval docs report 0 / null. Eval grams broadcast;
    * rollups run only over (rare) hit rows. */
  def contaminationAudit(docs: DataFrame, isEval: Column,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    PipelineOps.contaminationAuditOf(
      Canon.docs(docs, idCol, textCol,
        extra = Seq("is_eval" -> coalesce(isEval.cast("boolean"), lit(false)))),
      col("is_eval"))

  /** Span-level decontamination (dec04's kernel — the GPT-3 appendix-C
    * remedy): remove from every train doc exactly the `runLen`-token
    * runs it shares with the eval slice (`isEval`, evaluated against
    * the caller's frame) and keep the rest, instead of dropping
    * contaminated docs wholesale. Production window is ~13 tokens.
    * Returns one row per train doc: (doc_id, n_tokens, n_removed,
    * contamination, cleaned_text). */
  def spanDecontaminate(docs: DataFrame, isEval: Column, runLen: Int = 13,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    PipelineOps.spanDecontaminateOf(
      Canon.docs(docs, idCol, textCol,
        extra = Seq("is_eval" -> coalesce(isEval.cast("boolean"), lit(false)))),
      col("is_eval"), runLen)

  /** Interpolated Kneser-Ney bigram fluency scoring (lm03's kernel —
    * the KenLM-family smoothing CCNet's production filter runs):
    * model on the deterministic 10% seed slice, every doc scored as
    * mean bits over its in-vocabulary word bigrams, OOV bigrams
    * counted not scored, unseen bigrams of seen words scored through
    * the continuation backoff. Returns (doc_id, n_bigrams, n_scored,
    * avg_bits). */
  def knBigramScore(docs: DataFrame, discount: Double = 0.75,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    PipelineOps.knBigramScoreOf(canon(docs, idCol, textCol), discount)

  /** CCNet head/middle/tail partition (lm02's kernel, Wenzek et al.
    * 2020): every document bucketed by per-LANGUAGE LM-perplexity
    * terciles — thresholds via partial-aggregable exact percentile,
    * broadcast back; assignment map-side, never a corpus-wide window.
    * Returns (doc_id, lang, avg_bits, bucket); docs shorter than 3
    * chars drop (unscorable). */
  def ccnetBuckets(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", langCol: String = "lang"): DataFrame =
    PipelineOps.ccnetBucketsOf(
      Canon.docs(docs, idCol, textCol,
        extra = Seq("lang" -> col(langCol).cast("string"))))

  /** Quality-budget selection with per-language coverage floors
    * (sel01's kernel): the `totalN` best-quality documents overall,
    * guaranteed to include each language's `floorPerLang` best — the
    * constraint naive global quality pruning violates on low-resource
    * languages. Returns (doc_id, lang, score, via ∈ floor|global);
    * floors hold whenever languages·floor ≤ totalN. Bounded-heap floor
    * rank + one TakeOrdered cut; no driver action. */
  def qualityFloorSelect(docs: DataFrame, floorPerLang: Int, totalN: Int,
      idCol: String = "doc_id", textCol: String = "text",
      langCol: String = "lang"): DataFrame =
    PipelineOps.qualityFloorSelectOf(
      Canon.docs(docs, idCol, textCol,
        extra = Seq("lang" -> col(langCol).cast("string"))),
      floorPerLang, totalN)

  /** Uncertainty-margin batch selection over a STORED quality-model
    * artifact (sel03's kernel — Lewis & Gale 1994 uncertainty
    * sampling, the active-learning "label these next" pick): the `k`
    * held-out documents with the smallest exact-integer |w·x| margin
    * under the model at `modelPath` (a t25 training-trace artifact).
    * Weights inline as literals; one feature scan + a TakeOrdered
    * bounded heap — no trainer in the plan. Returns
    * (doc_id, margin, side). */
  def marginSelect(docs: DataFrame, modelPath: String, k: Int,
      idCol: String = "doc_id", textCol: String = "text",
      langCol: String = "lang"): DataFrame =
    PipelineOps.marginSelectOf(
      Canon.docs(docs, idCol, textCol,
        extra = Seq("lang" -> col(langCol).cast("string"))),
      PipelineOps.qualityModelLoad(docs.sparkSession, modelPath), k)

  /** Temperature-scaled language mixture draw (samp03's kernel): the
    * multilingual-training standard — per-language quotas ∝ p^alpha
    * over a `total`-document budget, filled by a deterministic per-lang
    * md5-rank draw (the same corpus always yields the same sample).
    * Returns the SELECTED (doc_id, lang) rows; join your data back by
    * id. The rank is a WindowGroupLimit bounded heap. */
  def temperatureMixture(docs: DataFrame, total: Int, alpha: Double = 0.7,
      idCol: String = "doc_id", langCol: String = "lang"): DataFrame =
    PipelineOps.temperatureMixtureOf(
      docs.select(col(idCol).cast("long").as("doc_id"),
          col(langCol).cast("string").as("lang"))
        .filter(col("doc_id").isNotNull),
      total, alpha)

  /** Token-budgeted temperature mixture (samp04's kernel): budgets in
    * TOKENS, not documents — per-language budgets ∝ (token mass)^alpha
    * over `totalTokens`, greedy md5-rank fill with the first-overrun
    * document included. `rankCap` bounds the per-lang fill prefix BY
    * SPEC (the WindowGroupLimit trigger — the fill never sorts a whole
    * language). Returns the SELECTED (doc_id, lang, n_tok) rows. */
  def tokenBudgetMixture(docs: DataFrame, totalTokens: Int,
      alpha: Double = 0.7, rankCap: Int = 400,
      idCol: String = "doc_id", textCol: String = "text",
      langCol: String = "lang"): DataFrame =
    PipelineOps.tokenBudgetMixtureOf(
      Canon.docs(docs, idCol, textCol,
        extra = Seq("lang" -> col(langCol).cast("string")))
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tok")),
      totalTokens, alpha, rankCap)

  /** Data-constrained epoch plan (samp05's kernel — Muennighoff et al.
    * 2023): per-language token budgets ∝ mass^alpha served as up to
    * `maxEpochs` whole epochs plus one deterministic fractional epoch;
    * over-cap budget reports as unserved_tokens — the signal to source
    * more data rather than over-repeat. Returns one row per language
    * (lang, n_docs, tok_mass, tok_budget, n_full_epochs, frac_docs,
    * frac_tokens, served_tokens, unserved_tokens, frac_id_checksum). */
  def epochPlan(docs: DataFrame, totalTokens: Int, alpha: Double = 0.7,
      maxEpochs: Int = 4, rankCap: Int = 400,
      idCol: String = "doc_id", textCol: String = "text",
      langCol: String = "lang"): DataFrame =
    PipelineOps.epochPlanOf(
      Canon.docs(docs, idCol, textCol,
        extra = Seq("lang" -> col(langCol).cast("string")))
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tok")),
      totalTokens, alpha, maxEpochs, rankCap)

  /** Corpus-hapax novelty ratio (t15's kernel): per document, the
    * fraction of its distinct tokens appearing nowhere else in the
    * corpus — high = unique content, near-zero = boilerplate assembled
    * from corpus-common parts. Skew-free by construction (hapax terms
    * carry their unique owner through the df aggregation; no term
    * joins back to the corpus). Returns (doc_id, n_terms, n_hapax,
    * novelty). */
  def noveltyRatio(docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    PipelineOps.noveltyRatioOf(canon(docs, idCol, textCol))

  /** Corpus snapshot diff (diff01's kernel): one row per doc_id in
    * either version with status added / removed / changed / unchanged,
    * compared by content md5 — the audit a cleaning run gets before
    * its output replaces the corpus. One hash-keyed full outer join;
    * text never shuffles. Unlike every other facade, NULL text rows
    * are KEPT (as a distinct content value): an audit that dropped
    * them would report a run nulling text as `removed` — the very
    * corruption it exists to catch. Ids must be unique per version. */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    def keep(df: DataFrame) =
      df.select(col(idCol).cast("long").as("doc_id"),
          col(textCol).cast("string").as("text"))
        .filter(col("doc_id").isNotNull)
    PipelineOps.corpusDiffOf(keep(oldDocs), keep(newDocs))
  }

  /** Per-source datasheet (cur03's kernel — Gebru et al. 2018): docs,
    * tokens, language spread, mean model-quality score, and the count
    * of within-source fingerprint duplicates per provenance — the
    * summary table a corpus release publishes. Returns (source,
    * n_docs, n_tokens, n_langs, mean_quality, n_dup_docs). */
  def sourceDatasheet(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", sourceCol: String = "source",
      langCol: String = "lang"): DataFrame =
    PipelineOps.sourceDatasheetOf(
      Canon.docs(docs, idCol, textCol,
        extra = Seq("source" -> col(sourceCol).cast("string"),
          "lang" -> col(langCol).cast("string"))))

  /** Temporal split + boundary-leakage audit (spl03's kernel): train
    * strictly before `cutoff`, test after, and the count of users
    * whose activity SPANS the boundary — the population whose
    * memorized train behavior contaminates their test events. Returns
    * one row per side (split, n_events, n_users, n_spanning_users). */
  def temporalSplitAudit(events: DataFrame, cutoff: String,
      userCol: String = "user_id", tsCol: String = "ts"): DataFrame =
    PipelineOps.temporalSplitAuditOf(
      events.select(col(userCol).cast("long").as("user_id"),
          col(tsCol).cast("timestamp").as("ts"))
        .filter(col("user_id").isNotNull && col("ts").isNotNull),
      cutoff)

  /** Positional-index build (idx02's build half): (term, doc, pos)
    * postings written to `path` partitioned by a 16-way md5 term
    * bucket, so [[phraseSearch]] prunes each term's read to one
    * directory. One map-side posexplode; text never shuffles. */
  def buildPositionalIndex(docs: DataFrame, path: String,
      idCol: String = "doc_id", textCol: String = "text"): Unit =
    PipelineOps.positionalIndexBuild(canon(docs, idCol, textCol), path)

  /** Phrase search over a stored positional index (idx02's serve
    * half): per-term pruned scans + (doc, pos − i) adjacency
    * equi-joins — the serve plan touches df(term) rows, never the
    * corpus. Returns (doc_id, n_hits, first_pos) per matching doc. */
  def phraseSearch(index: DataFrame, phrase: Seq[String]): DataFrame =
    PipelineOps.phraseSearchOf(index, phrase)

  /** Score documents against a STORED KN model (lm04's serve half):
    * byte-for-byte lm03's scoring dataflow with the model tables read
    * cold — a scoring session never re-aggregates the seed. */
  def knScoreFrom(docs: DataFrame, modelPath: String,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    PipelineOps.knScoreFrom(docs.sparkSession,
      docs.select(col(idCol).cast("long").as("doc_id"),
        col(textCol).cast("string").as("text")), modelPath)

  /** Term-dictionary build (idx10/idx11's build half): the (term, df,
    * cf) vocabulary artifact written to `path` range-partitioned by
    * term and sorted within files, so parquet min/max stats prune a
    * prefix or point lookup to the one file that can hold it.
    * Vocabulary-sized — serve cost over it is corpus-independent. */
  def buildTermDict(docs: DataFrame, path: String,
      idCol: String = "doc_id", textCol: String = "text"): Unit =
    PipelineOps.termDictBuild(canon(docs, idCol, textCol), path)

  /** Prefix suggest / query autocomplete over a stored term
    * dictionary (idx10's kernel): terms starting with `prefix`,
    * ranked df desc (term asc ties), top `k`. One range-pruned
    * dictionary scan + a bounded top-k heap; the corpus is never
    * touched. Returns (term, df, cf). */
  def prefixSuggest(spark: SparkSession, dictPath: String,
      prefix: String, k: Int = 10): DataFrame =
    PipelineOps.prefixSuggestOf(spark, dictPath, prefix, k)

  /** SymSpell fuzzy term correction over a stored term dictionary
    * (idx11's kernel — "did you mean"): deletion-neighborhood
    * equi-join candidates, exact levenshtein ≤ 1 verify, ranked
    * (dist, df desc, term) top `k` per query term. No pairwise
    * vocabulary scan. Returns (q, rk, term, dist, df). */
  def fuzzyCorrect(spark: SparkSession, dictPath: String,
      queries: Seq[String], k: Int = 3): DataFrame =
    PipelineOps.fuzzyCorrectOf(spark, dictPath, queries, k)

  /** Corpus distribution drift monitor (guard02's kernel — the release
    * gate next to [[corpusDiff]]: diff answers WHICH docs changed,
    * this answers did the MIXTURE move): per `dimCol` cell (lang,
    * source, any mixture key), both corpora's token-mass shares in
    * exact integer micro-units plus the absolute per-cell drift; cells
    * present in only one corpus report the other side at 0, so an
    * appeared or vanished source is loud. Σ drift_micro is the L1
    * distance (2× total variation) a release gate thresholds on.
    * Returns (dim, ref_share_micro, cur_share_micro, drift_micro). */
  def corpusDrift(refDocs: DataFrame, curDocs: DataFrame,
      dimCol: String = "lang", textCol: String = "text"): DataFrame = {
    def cells(df: DataFrame) =
      df.select(col(dimCol).cast("string").as("dim"),
          size(split(col(textCol).cast("string"), " ")).cast("long").as("n_tok"))
        .filter(col("dim").isNotNull && col("n_tok").isNotNull)
    PipelineOps.corpusDriftOf(cells(refDocs), cells(curDocs))
  }

  /** Deterministic md5-interleaved sharded parquet write (sink02's
    * kernel): every row lands in exactly one of `nShards` directories
    * keyed by a hash of `idCol` — an unbiased interleave (the "global
    * shuffle" trainers expect) without a global sort. One shuffle
    * (`repartition` on the shard key), one file per shard per writer
    * wave; a reader of shard i prunes to one directory. Rows with a
    * null id are excluded (a null id would md5 to a null shard — an
    * extra `__HIVE_DEFAULT_PARTITION__` directory outside the promised
    * 0..nShards−1 layout that shard-addressed readers silently miss). */
  def shardedWrite(docs: DataFrame, path: String, nShards: Int,
      idCol: String = "doc_id"): Unit =
    docs
      .filter(col(idCol).isNotNull)
      .withColumn("shard", PipelineOps.shardCol(col(idCol), nShards))
      .repartition(nShards, col("shard"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("shard").parquet(path)
}
