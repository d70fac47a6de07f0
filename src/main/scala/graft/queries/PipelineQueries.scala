package graft.queries

import graft.io.Tables.{table => t}
import graft.pipeline.{Decontaminate, Dedup, Funnels, Graphs, Multimodal, Retrieval, Sampling, Scrub, Similarity, Sketches, TextAnalysis, Tx}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Training-data pipeline queries over the documents/embeddings tables:
 * dedup (exact / minhash-LSH / simhash / embedding-cosine), similarity
 * search (brute-force + LSH ANN), text analysis, multimodal stubs.
 *
 * Oracle notes:
 *  - minhash_dup_pairs has a REAL differential oracle: DuckDB recomputes
 *    exact 3-gram Jaccard over all pairs; LSH recall at the 0.8 threshold
 *    is ~1 (miss probability < 1e-6 for the j>=0.88 population in the
 *    testdata).
 *  - embedding dup/ANN oracles use planted duplicate vectors (the raw
 *    corpus has max off-diagonal cosine 0.60, verified empirically).
 *  - ann_quant_topk quantizes to integer dot products so ranking is
 *    bit-exact across engines; ann_cosine_topk (true cosine) is the
 *    rows-only twin.
 */
object PipelineQueries {

  /** documents plus exact copies of every 10th doc (id +100000). */
  private def docsWithPlanted(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    d.unionAll(d.where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("text")))
  }

  private def embWithPlanted(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    e.unionAll(e.where(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- text analysis ---------------------------------------------------
    "lang_id_counts" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("lang_pred", TextAnalysis.langId(col("text")))
        .groupBy(col("lang_pred")).agg(count(lit(1)).as("n"))
    }),

    "quality_flags" -> ((s, dir) => {
      val cols = TextAnalysis.qualityColumns(col("text"))
      t(s, dir, "documents").select(
        col("doc_id") +: cols.map { case (n, c) => c.as(n) }: _*)
    }),

    "bpe_token_stats" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.bpeTokenCount(col("text")).as("bpe_tokens"),
        TextAnalysis.tokenCount(col("text")).as("ws_tokens"))
    }),

    // overlapping token-window chunking (pretraining/RAG prep): chunk
    // boundaries and text are pure token arithmetic — a narrow 1→N
    // explode, no shuffle — and DuckDB recomputes them with list slices
    "chunk_docs" -> ((s, dir) => {
      TextAnalysis.chunkByTokens(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", chunkTokens = 24, overlap = 8)
    }),

    // integer-staged token-entropy signal (template/spam docs have low
    // unigram entropy): per doc n, distinct, and the Σ c·⌊log2 c⌋
    // numerator of H = log2 n − Σ c·log2 c / n — floor-log2 via binary
    // string length, so both engines replay it without ln() ulps
    "token_entropy" -> ((s, dir) => {
      val toks = t(s, dir, "documents").select(col("doc_id"),
          explode(split(trim(col("text")), "\\s+")).as("tok"))
        .where(col("tok") =!= "")
      toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).as("distinct_tokens"),
          sum(col("c") * (length(bin(col("c"))) - 1)).as("entropy_num"))
    }),

    // lang × quality pivot (the curation dashboard crosstab): Spark's
    // pivot with DECLARED values (deterministic columns, single pass —
    // no values-discovery job); DuckDB replays with conditional sums
    "lang_quality_pivot" -> ((s, dir) => {
      val cols = TextAnalysis.qualityColumns(col("text"))
      val ok = cols.find(_._1 == "quality_ok").get._2
      t(s, dir, "documents")
        .select(col("lang"), ok.as("q"))
        .groupBy(col("lang")).pivot("q", Seq(0, 1))
        .agg(count(lit(1)))
        .select(col("lang"), coalesce(col("0"), lit(0L)).as("n_bad"),
          coalesce(col("1"), lit(0L)).as("n_good"))
    }),

    // equal-POPULATION histogram (the heavy-tail-readable complement to
    // the equal-width doc_length_histogram): exact interior quantiles
    // via the distributed rank machinery, narrow literal-fold bucket
    // assignment, one small rollup
    "equi_depth_histogram" -> ((s, dir) =>
      Sketches.equiDepthHistogram(
        t(s, dir, "documents")
          .select(TextAnalysis.tokenCount(col("text")).as("toks")),
        col("toks"), buckets = 8)),

    // cross-source score calibration: per-lang token-count quantile
    // buckets (integer-staged ceil(buckets·cume_dist)) — "every
    // source's top quartile" becomes comparable before mixing
    "quantile_norm_buckets" -> ((s, dir) =>
      Sampling.quantileNormalizeByGroup(
        t(s, dir, "documents").select(col("doc_id"), col("lang"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("toks")),
        col("lang"), col("toks"), buckets = 4)
        .select(col("doc_id"), col("lang"), col("bucket"))),

    // token-length histogram (the length-distribution diagnostic every
    // curation run starts with): equi-width integer bins, pure integer
    // arithmetic both engines replay
    "doc_length_histogram" -> ((s, dir) => {
      val toks = TextAnalysis.tokenCount(col("text")).cast("long")
      t(s, dir, "documents").select(toks.as("toks"))
        .select(floor(col("toks") / lit(32)).cast("long").as("bin"), col("toks"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), min(col("toks")).as("min_toks"),
          max(col("toks")).as("max_toks"))
    }),

    "fingerprint_md5" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        md5(col("text").cast("binary")).as("fp"))
    }),

    // 64-bit rolling-hash fingerprint (custom expression) — differential
    // oracle: DuckDB recomputes the same mod-2^64 rolling hash + mix64
    // via 32-bit-split HUGEINT arithmetic (see fingerprintOracle below)
    "doc_fingerprint64" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        Tx.doc_fingerprint(col("text")).as("fp64"))
    }),

    // -- dedup families ----------------------------------------------------
    // shingle = 5 like the exact family (see cosine_dup_pairs): the
    // banding recall at the corpus's minimum qualifying J (0.875 at
    // sf0.01) is 1 - (1-0.875^4)^16 ≈ 1 - 7e-7, and signatures are
    // seeded/deterministic — verified green against the exact oracle
    "minhash_dup_pairs" -> ((s, dir) => {
      Dedup.minhashDupPairs(t(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", shingle = 5, numHashes = 64, bands = 16, threshold = 0.8)
    }),

    // NEAR-dup incremental dedup (the fuzzy twin of incremental_dedup):
    // corpus = id%3==0 docs; batch = the rest + planted one-token-
    // appended near-copies of corpus docs (jaccard ~0.99) — the copies
    // must vanish even though exact hashing would keep them
    "near_dedup_incremental" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = d.where(col("doc_id") % 3 === 0)
      val batch = d.where(col("doc_id") % 3 =!= 0)
        .unionAll(corpus.select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" xnear")).as("text")))
      Dedup.dedupNearAgainstCorpus(batch, corpus, "doc_id", "text",
          shingle = 5, threshold = 0.8)
        .select(col("doc_id"))
    }),

    // EXACT prefix-filtered set-similarity join (AllPairs/PPJoin shape):
    // same all-pairs Jaccard oracle as minhash_dup_pairs, but here the
    // match is guaranteed by construction at ANY threshold/data — the
    // prefix filter is lossless, not probabilistic. The two operators
    // passing against ONE oracle is itself the recall-1.0 proof.
    "jaccard_dup_pairs" -> ((s, dir) => {
      Dedup.jaccardDupPairs(t(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", shingle = 5, threshold = 0.8)
    }),

    // EXACT set-cosine (Ochiai) similarity join — the cosine twin of
    // jaccard_dup_pairs, integer-only decision procedure end to end:
    // the output is (overlap, n_a, n_b) integers and the threshold
    // predicate is 10⁶·o² >= m²·n_a·n_b (m = 800 for t = 0.8), so the
    // oracle replays it with zero float formatting concerns.
    // shingle = 5 (not 3): the synthetic corpus draws from a ~40-word
    // vocabulary, so the word-TRIGRAM space is artificially dense
    // (avg bucket ~100 postings — measured 2.8M join pair-mass at
    // sf0.1) in a way no real corpus is; 5-shingles restore realistic
    // sparsity (pair-mass 278k, 10x less). The algorithm is EXACT at
    // any shingle (lossless prefix lemma), so this is a fixture knob,
    // not a recall tradeoff.
    "cosine_dup_pairs" -> ((s, dir) => {
      Dedup.cosineDupPairs(t(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", shingle = 5, threshold = 0.8)
    }),

    // DIRECTED near-subset detection (excerpt/quote/boilerplate case):
    // n-gram containment |A∩B|/|A| >= 0.75 via the lossless overlap
    // prefix filter. Planted excerpts — the first 40% of every 7th
    // doc's characters as a new doc — must surface as
    // (excerpt → original) pairs; Jaccard at the same threshold would
    // miss them (the excerpt is ~40% of the original's grams). The
    // oracle recomputes ALL ordered pairs in DuckDB.
    "containment_dup_pairs" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val base = d.unionAll(d.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          substring(col("text"), lit(1),
            floor(length(col("text")) * 0.4).cast("int")).as("text")))
      Dedup.containmentDupPairs(base, "doc_id", "text",
        shingle = 5, threshold = 0.75)
    }),

    // typo-tolerant record linkage: all pairs at edit distance <= 1
    // over 24-char prefixes, with one planted single-char substitution
    // per 9th doc (position keyed by id). The q-gram count-filter
    // blocking + banded-DP levenshtein refine must reproduce DuckDB's
    // all-pairs levenshtein recompute — both engines implement the
    // classic DP, so the distance itself is integer-exact parity.
    // END-TO-END record linkage: edit-distance blocking feeds the
    // large/small-star connected components, every record gets a
    // cluster label (singletons label themselves) — the operator
    // COMPOSITION under one oracle: DuckDB recomputes plain
    // levenshtein pairs and closes them with a recursive CTE
    "record_linkage_clusters" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), substring(col("text"), lit(1), lit(24)).as("s"))
      val p = (col("doc_id") % 20).cast("int") + lit(3)
      val base = d.unionAll(d.where(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 300000).as("doc_id"),
          concat(substring(col("s"), lit(1), p - 1), lit("~"),
            substring(col("s"), p + 1, lit(1000000))).as("s")))
      val pairs = graft.tools.Joins.editDistancePairs(base, "doc_id", "s",
          maxDist = 1, q = 4)
        .select(col("id_a"), col("id_b"))
      val comps = Dedup.connectedComponentsStar(pairs, "id_a", "id_b")
      base.select(col("doc_id"))
        .join(comps, col("doc_id") === col("id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component"))
    }),

    "edit_distance_pairs" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), substring(col("text"), lit(1), lit(24)).as("s"))
      val p = (col("doc_id") % 20).cast("int") + lit(3)
      val base = d.unionAll(d.where(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 300000).as("doc_id"),
          concat(substring(col("s"), lit(1), p - 1), lit("~"),
            substring(col("s"), p + 1, lit(1000000))).as("s")))
      // q = 3 (not 2): the tiny synthetic alphabet makes char BIGRAM
      // buckets corpus-sized (every bigram is a stop-gram); trigram
      // values are ~30x sparser. The count filter is lossless at any
      // q for strings >= q·(d+1) chars (these are 24), so q is a
      // blocking knob — the oracle recomputes plain levenshtein.
      graft.tools.Joins.editDistancePairs(base, "doc_id", "s",
        maxDist = 1, q = 4)
    }),

    // near-dup CLUSTER dedup end-to-end: LSH pairs -> connected
    // components -> min-id representative per cluster. The oracle
    // recomputes exact all-pairs Jaccard AND the components with a
    // recursive CTE — transitive closure checked cross-engine.
    "dedup_clusters" -> ((s, dir) => {
      Dedup.dedupNearClusters(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          "doc_id", "text", shingle = 3, numHashes = 64, bands = 16,
          threshold = 0.8)
        .select(col("doc_id"))
    }),

    // QUALITY-AWARE cluster dedup: per near-dup cluster keep the
    // LONGEST doc (token count, tie -> min id) instead of the min id —
    // the production survivor rule. One extra component-keyed window
    // over the same LSH + CC machinery; the oracle re-ranks the same
    // recursive-CTE clusters by the same integer score.
    "dedup_clusters_best" -> ((s, dir) => {
      Dedup.dedupNearClustersKeepBest(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          "doc_id", "text",
          TextAnalysis.tokenCount(col("text")).cast("long"),
          shingle = 3, numHashes = 64, bands = 16, threshold = 0.8)
        .select(col("doc_id"))
    }),

    // the SAME cluster dedup through the large/small-star connected
    // components (O(log n) rounds on any graph — the adversarial-chain
    // scale path) — pinned to the SAME recursive-CTE oracle as
    // dedup_clusters: both CC algorithms must agree with DuckDB's
    // transitive closure exactly
    "dedup_clusters_star" -> ((s, dir) => {
      Dedup.dedupNearClusters(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          "doc_id", "text", shingle = 3, numHashes = 64, bands = 16,
          threshold = 0.8, ccAlgorithm = "star")
        .select(col("doc_id"))
    }),

    // cross-document span-duplication diagnostics (the "how much of
    // each doc is copied text" signal): per doc, total 8-token spans
    // and how many first occurred in an EARLIER doc. Hash-keyed like
    // decontamination (8-byte shuffle keys; the string-keyed DuckDB
    // oracle gates hash fidelity the same way decontaminate does);
    // planted full copies make every span of a copy a duplicate. One
    // gh-keyed exchange feeds both the min-doc aggregate and the join
    // back (ReuseExchange) — two scans never happen.
    "span_dup_stats" -> ((s, dir) => {
      val grams = docsWithPlanted(s, dir)
        .select(col("doc_id"), explode(Tx.token_ngram_hashes(col("text"), 8)).as("gh"))
        .repartition(col("gh"))
      val firsts = grams.groupBy(col("gh")).agg(min(col("doc_id")).as("first_doc"))
      grams.join(firsts, "gh")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("doc_id") > col("first_doc"), 1L).otherwise(0L))
            .as("dup_spans"))
    }),

    // duplicate-SPAN removal end-to-end (Lee et al. exact-substring
    // dedup): planted full copies collapse to "", partially-copied docs
    // lose exactly the covered windows. The DuckDB oracle recomputes
    // the whole cut with string grams — gram hashing, coverage
    // expansion, and reassembly all cross-engine-gated.
    "dup_span_removal" -> ((s, dir) => {
      Dedup.removeDupSpans(docsWithPlanted(s, dir), "doc_id", "text", span = 8)
    }),

    // rows-only aggregate (near-dup population varies by sf; the planted
    // -dup correctness matrix lives in DedupSpec)
    "simhash_pair_stats" -> ((s, dir) => {
      val pairs = Dedup.simhashDupPairs(docsWithPlanted(s, dir), "doc_id", "text",
        ngram = 3, maxHamming = 3)
      pairs.agg(count(lit(1)).as("n_pairs"),
        coalesce(min(col("hamming")), lit(-1)).as("min_hamming"),
        coalesce(max(col("hamming")), lit(-1)).as("max_hamming"))
    }),

    // planted exact dups MUST surface as hamming-0 simhash pairs — an
    // end-to-end DuckDB-checked path through the simhash pipeline (the
    // natural near-dup population stays in simhash_pair_stats/DedupSpec)
    "simhash_planted_pairs" -> ((s, dir) => {
      Dedup.simhashDupPairs(docsWithPlanted(s, dir), "doc_id", "text",
          ngram = 3, maxHamming = 3)
        .where(col("id_b") === col("id_a") + 100000 && col("hamming") === 0)
        .select(col("id_a"), col("id_b"))
    }),

    // Sorted-neighborhood blocking (the record-linkage classic) as a
    // THIRD near-dup path next to LSH banding and prefix filtering:
    // global (simhash64, id) order via the distributed two-pass rank
    // (no single-task window), each row compared against only the next
    // 4 rows of that order. The DuckDB oracle replays fingerprint,
    // rank, window join, and hamming bit-for-bit — the whole method is
    // under the hash gate, planted copies included.
    "sorted_neighbor_pairs" -> ((s, dir) => {
      Dedup.sortedNeighborPairs(docsWithPlanted(s, dir), "doc_id", "text",
          ngram = 3, windowSize = 4, maxHamming = 3)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("long").as("hamming"))
    }),

    // The pipeline FunctionRegistry surface itself under the driver
    // gate (the Tx.registerAll twin of the geo sql_surface query):
    // simhash64 and ngram_jaccard invoked from PURE spark.sql TEXT
    "sql_pipeline_surface" -> ((s, dir) => {
      graft.pipeline.Tx.registerAll(s)
      t(s, dir, "documents").createOrReplaceTempView("graft_docs_sql")
      s.sql("""SELECT doc_id, simhash64(text) AS simhash,
                      ngram_jaccard(text, text) AS self_jaccard
               FROM graft_docs_sql""")
    }),

    // FULL differential oracle for the simhash core: DuckDB replays the
    // token byte-hash, the 3-token gram polyFold, both mix64 finishers,
    // and the 64 per-bit ±1 votes in HUGEINT arithmetic — every
    // fingerprint bit-for-bit, not just planted-pair behavior
    "simhash_fingerprints" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        Tx.simhash64(col("text"), ngram = 3, seed = 42L).as("simhash"))
    }),

    // FULL differential oracle for the minhash signature stage (the
    // stage every LSH band rides on): DuckDB replays the 2-universal
    // family h_j = mix64(g^seedA) + j*(mix64(g^seedB)|1) with SIGNED
    // min semantics, long-form (doc_id, j, sig) rows
    "minhash_signatures" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(Tx.minhash_signature(col("text"), shingle = 3,
            numHashes = 16, seed = 42L)))
        .select(col("doc_id"), col("pos").cast("long").as("j"),
          col("col").as("sig"))
    }),

    "embed_dup_pairs" -> ((s, dir) => {
      Dedup.embeddingDupPairs(embWithPlanted(s, dir), "vec_id", "embedding",
          threshold = 0.999999)
        .select(col("id_a"), col("id_b"))
    }),

    // SemDeDup-shape semantic dedup: cluster the embedding space
    // (broadcast-centroid argmax, narrow), prune within-cell cosine
    // near-dups keeping the lowest id. Planted exact copies (id+100000)
    // share their original's cell by construction and MUST be the rows
    // pruned; the natural corpus (max off-diagonal cosine 0.60) survives
    // untouched — so the oracle is exactly the original id set.
    "semantic_dedup" -> ((s, dir) => {
      Dedup.semanticDedup(embWithPlanted(s, dir), "vec_id", "embedding",
          nlist = 16, threshold = 0.99)
        .select(col("vec_id"))
    }),

    "embed_dedup_exact" -> ((s, dir) => {
      embWithPlanted(s, dir)
        .groupBy(col("embedding"))
        .agg(min(col("vec_id")).as("keep_id"), count(lit(1)).as("n"))
        .select(col("keep_id"), col("n"))
    }),

    // -- similarity search -------------------------------------------------
    // exact ranking parity via integer-quantized dot products
    "ann_quant_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val scored = queries.crossJoin(corpus)
        .withColumn("dot", Tx.quantized_dot(col("q_vec"), col("c_vec"), 1000.0))
      val w = Window.partitionBy(col("q_id")).orderBy(col("dot").desc, col("c_id"))
      scored.withColumn("rank", row_number().over(w))
        .where(col("rank") <= 5)
        .select(col("q_id"), col("c_id"), col("dot"), col("rank"))
    }),

    // true-cosine brute force top-k. The cosine is rounded to 12 decimals
    // BEFORE ranking so the DuckDB oracle (list_cosine_similarity uses a
    // different association: 1-ulp differences on self-pairs) orders and
    // hashes identically; ties at 1e-12 break on c_id in both engines.
    "ann_cosine_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(
        emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec")),
        emb.where(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
        "c_id", "c_vec", "q_id", "q_vec", k = 5, roundDigits = 12)
    }),

    // LSH-bucketed approximate ANN (the 100 TB scale path) under the
    // FULL DuckDB gate: the SRP sign bits are exact integer sums over
    // quantized components, so the oracle replays the whole pipeline —
    // sign table (mix64 per (seed, bit, dim)), bucket bits, band
    // collisions, dedup, cosine refine, top-k — bit-for-bit. The
    // engine shuffles (id, band, bucket) keys; only the ORACLE goes
    // all-pairs on the sign grid.
    "ann_srp_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.srpTopK(
        emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec")),
        emb.where(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
        "c_id", "c_vec", "q_id", "q_vec", k = 5, roundDigits = 12)
    }),

    // the SRP plumbing under the FULL DuckDB gate: bits=0 degenerates
    // every band bucket to a single cell, the bucket join is
    // exhaustive, and band→dedup→refine→top-k must reproduce brute
    // force exactly (the nprobe=nlist trick, applied to SRP).
    "ann_srp_exact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.srpTopK(
        emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec")),
        emb.where(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
        "c_id", "c_vec", "q_id", "q_vec", k = 5,
        bandsSeeds = Seq(1L), bits = 0, roundDigits = 12)
    }),

    // IVF-flat ANN (the other scale path — broadcast centroid cells,
    // probe nprobe cells per query) under the FULL DuckDB gate: the
    // centroid sample is a mix64-hash-ordered orderBy/limit the oracle
    // replays exactly, and cell assignment / probe choice / refine are
    // then pure arithmetic. Recall vs brute force additionally
    // asserted in PipelineSpec.
    "ann_ivf_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(
        emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec")),
        emb.where(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
        "c_id", "c_vec", "q_id", "q_vec", k = 5, nlist = 16, nprobe = 4,
        roundDigits = 12)
    }),

    // product-quantization ADC path (codes + LUT scoring + exact
    // refine) under a CONTRACT hash gate: the codebook's FP Lloyd
    // means aren't cross-engine replayable (unlike SRP/IVF above), so
    // the gate checks the property instead — aggregate recall@5 vs the
    // in-plan brute-force truth ≥ 80% — asserted TRUE by the oracle.
    // Same pattern as the sketch contract gates; per-config recall is
    // additionally spec-gated in PipelineSpec.
    "ann_pq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id").as("c_id"),
        col("embedding").as("c_vec"))
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      // refineFactor 32 -> 160 exact-refined candidates of a 500-vector
      // test corpus; these embeddings are near-random (max off-diagonal
      // cosine 0.60), PQ's hardest case — measured recall 86%/96% at
      // sf0.001/sf0.01, comfortably over the 80% contract
      val pq = Similarity.pqTopK(corpus, queries,
        "c_id", "c_vec", "q_id", "q_vec", k = 5, m = 8, ksub = 16,
        refineFactor = 32)
      val exact = Similarity.bruteForceTopK(corpus, queries,
        "c_id", "c_vec", "q_id", "q_vec", k = 5, roundDigits = 12)
      val hits = pq.select(col("q_id"), col("c_id"))
        .join(exact.select(col("q_id"), col("c_id")),
          Seq("q_id", "c_id"), "left_semi")
      exact.agg(count(lit(1)).as("__n_exact"))
        .crossJoin(hits.agg(count(lit(1)).as("__n_hit")))
        .select(
          (col("__n_exact") / 5).cast("long").as("n_queries"),
          (col("__n_hit") * 10 >= col("__n_exact") * 8).as("recall_ok"))
    }),

    // IVF plumbing under the FULL oracle gate: nprobe = nlist degenerates
    // IVF to brute force (every corpus vector sits in exactly one probed
    // cell, so each pair is scored once) — the cell assignment, probe
    // explode, and cell-keyed candidate join are all exercised, and the
    // result must hash-match the brute-force DuckDB oracle. The
    // approximate config stays rows-only + recall-gated (PipelineSpec).
    "ann_ivf_exact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(
        emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec")),
        emb.where(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
        "c_id", "c_vec", "q_id", "q_vec", k = 5, nlist = 16, nprobe = 16,
        roundDigits = 12)
    }),

    // PQ plumbing under the FULL oracle gate: refineFactor large enough
    // that k*refineFactor >= |corpus| at any test sf, so the exact
    // refine set is the whole corpus — codebook training, encode, ADC
    // scoring and the refine joins all run, and the final ranking must
    // hash-match the same brute-force oracle.
    "ann_pq_exact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.pqTopK(
        emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec")),
        emb.where(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
        "c_id", "c_vec", "q_id", "q_vec", k = 5, m = 8, ksub = 16,
        refineFactor = 1000000, roundDigits = 12)
    }),

    // exact n-gram Jaccard proven STANDALONE (it also backs the minhash
    // refine): each doc scored against the next doc id — a linear number
    // of pairs, so the differential DuckDB oracle stays cheap at any sf.
    "ngram_jaccard_adjacent" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val a = docs.select(col("doc_id").as("id_a"), col("text").as("__ta"))
      val b = docs.select((col("doc_id") - 1).as("id_a"), col("text").as("__tb"))
      a.join(b, "id_a")
        .select(col("id_a"), Tx.ngram_jaccard(col("__ta"), col("__tb"), 3).as("jacc"))
    }),

    // -- composed pipeline -------------------------------------------------
    // The realistic training-data chain: quality filter -> exact dedup
    // (keep lowest id per text) -> language distribution. Each stage is
    // an operator proven alone elsewhere; this proves they COMPOSE to
    // the same result as one relational program (each stage stays a
    // keyed shuffle, so the chain runs at corpus scale unchanged).
    "pipeline_compose" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val ok = TextAnalysis.qualityColumns(col("text"))
        .find(_._1 == "quality_ok").get._2
      val good = docs.where(ok === 1)
      val deduped = graft.pipeline.Dedup.exact(good, "text", "doc_id")
      deduped.withColumn("lang_pred", TextAnalysis.langId(col("text")))
        .groupBy(col("lang_pred")).agg(count(lit(1)).as("n"),
          min(col("doc_id")).as("first_id"))
    }),

    // -- deterministic sampling / mixing / decontamination -------------------
    // hash-threshold sampling: same survivors on any run/partitioning
    "det_sample" -> ((s, dir) => {
      Sampling.deterministicSample(t(s, dir, "documents"),
          col("doc_id"), 0.25, "s42")
        .select(col("doc_id"), col("lang"))
    }),

    // deterministic contrastive negatives: 2 per anchor (10% det-sampled
    // anchors), drawn by 60-bit-hash rank lookup over the hash-shuffled
    // candidate order — every draw replayed in the DuckDB oracle
    // (row_number + flat 15-digit hex-to-int arithmetic), self-exclusion
    // falls back to the next rank
    "contrastive_negatives" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Sampling.hashNegatives(
        Sampling.deterministicSample(docs, col("doc_id"), 0.1, "an1"),
        "doc_id", docs, "doc_id", k = 2, numPartitions = 8, salt = "neg")
        .withColumn("j", col("j").cast("long"))
    }),

    // per-group rates = dataset mixture (upsample zh, downsample the rest)
    "mixture_sample" -> ((s, dir) => {
      Sampling.deterministicSampleByGroup(t(s, dir, "documents"),
          col("doc_id"), col("lang"),
          Map("en" -> 0.5, "zh" -> 0.9, "fr" -> 0.25),
          default = 0.1, salt = "mix1")
        .groupBy(col("lang")).agg(count(lit(1)).as("n"))
    }),

    // k smallest hashes per language — deterministic stratified sample
    "stratified_sample" -> ((s, dir) => {
      Sampling.stratifiedTopK(t(s, dir, "documents"),
          col("lang"), col("doc_id"), k = 30, salt = "st7")
        .select(col("doc_id"), col("lang"))
    }),

    // deterministic global training-order shuffle; the rank is the
    // distributed two-pass Ranks path, not a single-task window
    "shuffle_rank" -> ((s, dir) => {
      Sampling.shuffleRank(t(s, dir, "documents").select(col("doc_id")),
        col("doc_id"), "pos", numPartitions = 8, salt = "sh1")
    }),

    // train/eval 8-gram decontamination evidence: every doc sharing an
    // 8-token gram with the held-out slice (doc_id % 10 = 0), with its
    // matched-gram count; 0 rows of overlap => doc survives byNgramOverlap
    "decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val eval = docs.where(col("doc_id") % 10 === 0)
      Decontaminate.contaminatedIds(docs, eval, "doc_id", "text", n = 8)
    }),

    // sequence packing: documents laid out in deterministic shuffled
    // order, cut into <=5000-token shards via the DISTRIBUTED prefix sum
    // (no single-task window); the oracle is the single-window running
    // sum — the two formulations must agree exactly
    "pack_token_shards" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("toks", TextAnalysis.tokenCount(col("text")))
      Sampling.packByTokenBudget(docs, col("doc_id"), col("toks"),
          budget = 5000, outCol = "shard", numPartitions = 8, salt = "pk")
        .select(col("doc_id"), col("shard"))
    }),

    // the LAST MILE to the trainer: token-band quality filter → 24-token
    // overlapping chunks → deterministic-shuffle packing of the chunks
    // into 2000-token shards (the distributed two-pass prefix sum — no
    // single-task window). Three operators, one oracle; shard sizes are
    // budget-exact by construction
    "training_shard_pipeline" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .withColumn("__toks", TextAnalysis.tokenCount(col("text")))
        .where(col("__toks") >= 30)
      val chunks = TextAnalysis.chunkByTokens(
        docs.select(col("doc_id"), col("text")), "doc_id", "text",
        chunkTokens = 24, overlap = 8)
      // collision-free composite pack key: doc_id·2³² + chunk_idx. A
      // stride-16 chunker would need a 64-billion-token document to
      // overflow the low half, and ANSI mode makes the multiply THROW
      // (rather than silently corrupt shards) past 2³¹ doc_ids.
      val keyed = chunks.select(
        (col("doc_id") * 4294967296L + col("chunk_idx")).as("ck"),
        col("doc_id"), col("chunk_idx"),
        TextAnalysis.tokenCount(col("chunk_text")).cast("long").as("ctoks"))
      Sampling.packByTokenBudget(keyed, col("ck"), col("ctoks"),
          budget = 2000, outCol = "shard", numPartitions = 8, salt = "ts")
        .select(col("doc_id"), col("chunk_idx"), col("ctoks"), col("shard"))
    }),

    // Gopher/C4-style repetition features per document
    "repetition_stats" -> ((s, dir) => {
      val cols = TextAnalysis.repetitionColumns(col("text"))
      t(s, dir, "documents").select(
        col("doc_id") +: cols.map { case (nm, c) => c.as(nm) }: _*)
    }),

    // decontamination through the Bloom pre-filter: IDENTICAL results to
    // `decontaminate` (no false negatives; false positives die in the
    // exact join) — pinned to the SAME oracle SQL
    "decontaminate_bloom" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val eval = docs.where(col("doc_id") % 10 === 0)
      Decontaminate.contaminatedIdsBloom(docs, eval, "doc_id", "text", n = 8)
    }),

    // temperature mixture (tau=1/2): per-language keep rate
    // min(1, 8/sqrt(|lang|)) — rates computed in-plan from the group
    // counts; small languages (fr: 8/sqrt(64)=1) are kept in full
    "temperature_mixture" -> ((s, dir) => {
      Sampling.temperatureMixture(t(s, dir, "documents"),
          col("lang"), col("doc_id"), coeff = 8.0, salt = "tm1")
        .groupBy(col("lang")).agg(count(lit(1)).as("n"))
    }),

    // probability-proportional-to-size Poisson sampling: weight = token
    // count (integer: Σw exact, rates a fixed IEEE chain) — long docs
    // proportionally favored; DuckDB replays the identical arithmetic
    "weighted_sample" -> ((s, dir) => {
      Sampling.weightedDeterministicSample(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          col("doc_id"), TextAnalysis.tokenCount(col("text")),
          expectedFraction = 0.3, salt = "ws1")
        .select(col("doc_id"))
    }),

    // deterministic train/val/test split: per-doc band label (the
    // frozen-test-set property: a row's band depends only on earlier
    // fractions) — labels hash-compared row by row
    "split_by_hash" -> ((s, dir) => {
      Sampling.splitByHash(t(s, dir, "documents").select(col("doc_id")),
          col("doc_id"), Seq("train" -> 0.7, "val" -> 0.2, "test" -> 0.1),
          salt = "sp1")
        .select(col("doc_id"), col("split"))
    }),

    // -- web-corpus scrubbing ------------------------------------------------
    // PII detect + redact over deterministically planted emails/phones/
    // IPs (the raw word-soup corpus has none); counts AND the redacted
    // text itself are hash-compared
    "pii_scrub" -> ((s, dir) => {
      val id = col("doc_id")
      val planted = concat(col("text"),
        when(id % 3 === 0, concat(lit(" contact u"), id.cast("string"),
          lit("@ex"), (id % 5).cast("string"), lit(".com"))).otherwise(lit("")),
        when(id % 4 === 0, concat(lit(" call 555-"),
          (id % 900 + 100).cast("string"), lit("-"),
          lpad((id % 10000).cast("string"), 4, "0"))).otherwise(lit("")),
        when(id % 5 === 0, concat(lit(" ip 10."), (id % 256).cast("string"),
          lit(".0."), (id % 100).cast("string"))).otherwise(lit("")))
      val withPii = t(s, dir, "documents").select(id, planted.as("ptext"))
      val counts = Scrub.piiCounts(col("ptext"))
      withPii.select(
        col("doc_id") +: counts.map { case (nm, c) => c.as(nm) } :+
          Scrub.redactPii(col("ptext")).as("redacted"): _*)
    }),

    // THE WHOLE PRODUCT IN ONE QUERY: planted duplicates + planted PII
    // → NFC normalize → PII redact → token-count quality band → exact
    // dedup on the cleaned text (copies redact identically because the
    // PII arithmetic keys on doc_id mod 100000) → deterministic 80%
    // train split. Five chained operators, one relational oracle —
    // the composition gate for the batch curation stack. Plan: two
    // narrow fused projections, ONE dedup window shuffle, a hash-band
    // filter; nothing else.
    "curation_end_to_end" -> ((s, dir) => {
      val base = docsWithPlanted(s, dir)
      val pid = col("doc_id") % 100000
      val planted = concat(col("text"),
        when(pid % 3 === 0, concat(lit(" contact u"), pid.cast("string"),
          lit("@ex"), (pid % 5).cast("string"), lit(".com")))
          .otherwise(lit("")),
        when(pid % 4 === 0, concat(lit(" call 555-"),
          (pid % 900 + 100).cast("string"), lit("-"),
          lpad((pid % 10000).cast("string"), 4, "0"))).otherwise(lit("")))
      val cleaned = base.select(col("doc_id"),
        Scrub.redactPii(Scrub.nfc(planted)).as("t2"))
      val quality = cleaned
        .withColumn("toks", size(regexp_extract_all(col("t2"), lit("\\S+"),
          lit(0))).cast("long"))
        .where(col("toks") >= 10)
      val deduped = Dedup.exact(quality, "t2", "doc_id")
      Sampling.splitByHash(deduped, col("doc_id"), Seq("train" -> 0.8),
          salt = "ce1")
        .where(col("split") === "train")
        .select(col("doc_id"), col("toks"))
    }),

    // URL host extraction + blocklist filter + per-domain counts over
    // deterministically planted links
    "url_domain_counts" -> ((s, dir) => {
      val id = col("doc_id")
      val planted = concat(col("text"),
        when(id % 4 === 0, concat(lit(" see http://site"), (id % 7).cast("string"),
          lit(".example.com/page"))).otherwise(lit("")),
        when(id % 4 === 1, concat(lit(" via https://m"), (id % 3).cast("string"),
          lit(".mirror.org/x"))).otherwise(lit("")))
      val docs = t(s, dir, "documents").select(id, planted.as("ptext"))
      import s.implicits._
      val blocklist = Seq("site0.example.com", "site3.example.com", "m1.mirror.org")
        .toDF("host")
      Scrub.explodeHosts(
          Scrub.filterBlockedHosts(docs, "doc_id", "ptext", blocklist),
          "doc_id", "ptext")
        .groupBy(col("host")).agg(count(lit(1)).as("n"))
    }),

    // URL-level dedup under canonicalization (the frontier visited-set
    // key): id-derived messy URLs — uppercase scheme/host, www.,
    // default vs real ports, root paths, tracking params, fragments —
    // must collapse exactly as the pure string/regex/array pipeline
    // dictates; ids 420 apart differ ONLY in fragment and default-port
    // spelling, so their collapse proves the drop rules. DuckDB replays
    // every canonicalization step verbatim.
    "url_canonical_dedup" -> ((s, dir) => {
      val id = col("doc_id")
      val url = concat(
        when(id % 2 === 0, lit("HTTPS")).otherwise(lit("HTTP")), lit("://"),
        lit("WWW.Site"), (id % 7).cast("string"), lit(".COM"),
        when(id % 3 === 0,
            when(id % 2 === 0, lit(":443")).otherwise(lit(":80")))
          .when(id % 3 === 1, lit(":8080")).otherwise(lit("")),
        when(id % 5 === 0, lit("/"))
          .otherwise(concat(lit("/p"), (id % 5).cast("string"))),
        when(id % 4 === 0, lit("?utm_campaign=x"))
          .otherwise(concat(lit("?utm_source=news&z="), (id % 4).cast("string"),
            lit("&a=1"))),
        lit("#sec"), (id % 9).cast("string"))
      t(s, dir, "documents")
        .select(id, Scrub.canonicalizeUrl(url).as("canon"))
        .groupBy(col("canon"))
        .agg(count(lit(1)).as("n"), min(id).as("keep_id"))
    }),

    // the SAME host counts through the salted two-stage aggregate —
    // identical results by the same oracle (salt-invariance is the
    // correctness claim), different plan (skew-defeating (key, salt)
    // exchange + partial combine, plan-gated in PlanSpec)
    // Skew-defeating REPLICATED JOIN (fact×dim with a hot fact key):
    // same oracle as the direct relational join — salt-invariance at
    // the join level is the checked property, next to the aggregate-
    // level salting of salted_domain_counts
    "salted_join_counts" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"))
      val dim = t(s, dir, "events").select(col("user_id")).distinct()
        .select(col("user_id"), (col("user_id") % 7).as("cohort"))
      graft.tools.Salted.saltedJoin(ev, dim, "user_id",
          saltFromCol = "event_id", salts = 8)
        .groupBy(col("cohort"), col("event_type"))
        .agg(count(lit(1)).as("n"))
    }),

    // Exact covariance-matrix moments over the embedding column (PCA /
    // whitening prep): upper-triangle (i, j, sum_xy, sum_xi, sum_xj, n)
    // in quantized exact integers — one narrow products projection, one
    // vector_sum aggregate, corpus never shuffles
    "embedding_covariance" -> ((s, dir) =>
      Sketches.vectorCovarianceStats(t(s, dir, "embeddings"), "embedding",
        dim = 64)),

    "salted_domain_counts" -> ((s, dir) => {
      val id = col("doc_id")
      val planted = concat(col("text"),
        when(id % 4 === 0, concat(lit(" see http://site"), (id % 7).cast("string"),
          lit(".example.com/page"))).otherwise(lit("")),
        when(id % 4 === 1, concat(lit(" via https://m"), (id % 3).cast("string"),
          lit(".mirror.org/x"))).otherwise(lit("")))
      val docs = t(s, dir, "documents").select(id, planted.as("ptext"))
      import s.implicits._
      val blocklist = Seq("site0.example.com", "site3.example.com", "m1.mirror.org")
        .toDF("host")
      graft.tools.Salted.countByKey(
        Scrub.explodeHosts(
          Scrub.filterBlockedHosts(docs, "doc_id", "ptext", blocklist),
          "doc_id", "ptext"),
        "host", saltFromCol = "doc_id", salts = 16)
    }),

    // serving-side dynamic batching: length buckets (32-token bands) ×
    // id-mod shards, consecutive runs of 8 share a batch id — the
    // padding-waste packer. Window keys on (bucket, shard), never the
    // bare bucket (a hot length band must not sort on one task).
    "length_bucket_batches" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("ntok"))
      Sampling.lengthBucketBatches(d, "doc_id", "ntok",
          bucketWidth = 32, batchSize = 8, shards = 16)
        .select(col("doc_id"), col("bucket"), col("shard"), col("batch_idx"))
    }),

    // ordered conversion funnel over the event stream: stage i+1 counts
    // only events strictly after the user's earliest qualifying stage-i
    // event (unordered type intersection would overcount). Per stage:
    // one filter + one user-keyed join + one min aggregate — no windows,
    // no per-user event collection.
    "funnel_stages" -> ((s, dir) =>
      Funnels.funnelCounts(t(s, dir, "events"), "user_id", "ts", "event_type",
        Seq("signup", "click", "purchase"))),

    // the funnel with a 1-hour ATTRIBUTION WINDOW per stage ("purchased
    // within an hour of clicking"): int64-nanos gap arithmetic, the
    // oracle replays it as timestamp INTERVAL bounds
    "funnel_within_1h" -> ((s, dir) =>
      Funnels.funnelCountsWithin(EventTs.toNanos(t(s, dir, "events")),
        "user_id", "ts", "event_type", Seq("signup", "click", "purchase"),
        maxGap = lit(3600L * 1000000000L))),

    // cohort retention: first-activity day buckets users, later active
    // days count at their offset. Integer epoch-day via Catalyst
    // IntegralDivide (Column `/` is double division — lossy on int64
    // nanos); (user, day) distinct once, min-day reuses it, one final
    // (cohort, offset) aggregate.
    "retention_cohorts" -> ((s, dir) =>
      Funnels.retentionCohorts(EventTs.toNanos(t(s, dir, "events")),
        "user_id", Funnels.epochDayFromNanos(col("ts")))),

    // JSON property extraction (metadata columns ship as JSON blobs):
    // get_json_object pulls $.k per event, integer aggregates per type
    "props_json_stats" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))),

    // BPE merge TRAINING (tokenizer construction): learn the first 8
    // merge rules over the corpus — corpus collapses once to a
    // word-type histogram, each round is one pair-count aggregate on
    // the type table + a narrow block-replace merge; the winning
    // (pair, freq) per round is the only driver traffic. The oracle
    // replays all 8 rounds verbatim over the same separator-doubled
    // block form (whole-block replace = exact greedy merge), so the
    // learned rules must agree bit-for-bit including tie order.
    "bpe_train_merges" -> ((s, dir) => {
      TextAnalysis.bpeTrain(
        t(s, dir, "documents").select(col("text")), "text", merges = 8)
    }),

    // BPE ENCODE with the same learned rules: per-doc word + symbol
    // counts after all 8 merges. The merge chain runs once per word
    // TYPE (the training loop's final type table), encoding is one
    // keyed join + per-doc aggregate — no per-occurrence merge work.
    "bpe_encode_counts" -> ((s, dir) => {
      TextAnalysis.bpeEncodeCounts(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", merges = 8)
    }),

    // phrase-merge candidate mining: top-20 adjacent-token pairs by
    // integer-staged PMI (the association score a tokenizer's merge
    // selection ranks by). Every arithmetic step is integer division
    // both engines replay — full hash parity including tie order.
    "collocations_top" -> ((s, dir) => {
      TextAnalysis.collocationTopK(
        t(s, dir, "documents").select(col("text")), "text", k = 20)
    }),

    // link-graph host authority (the crawl-quality weight): 5 rounds
    // of integer-arithmetic PageRank over a deterministic host graph
    // derived from doc ids. All-integer ranks are order-independent,
    // so DuckDB replaying the same formula (5 unrolled aggregate
    // CTEs) must match bit for bit — an ITERATIVE graph algorithm
    // under the full hash gate, like dedup_clusters before it.
    "pagerank_hosts" -> ((s, dir) => {
      val edges = t(s, dir, "documents")
        .select(concat(lit("h"), (col("doc_id") % 11).cast("string")).as("src"),
          concat(lit("h"), (col("doc_id") % 7).cast("string")).as("dst"))
        .where(col("src") =!= col("dst")).distinct()
      Graphs.pageRankInt(edges, "src", "dst", iters = 5)
    }),

    // PERSONALIZED PageRank (TrustRank proper) over the same host
    // graph: restart mass returns to the seed h3 every round, so ranks
    // measure reachability-from-trust and untrusted islands hold a
    // hard integer 0. Same unrolled-CTE oracle discipline as
    // pagerank_hosts with a seed-gated base term.
    "ppr_hosts" -> ((s, dir) => {
      import s.implicits._
      val edges = t(s, dir, "documents")
        .select(concat(lit("h"), (col("doc_id") % 11).cast("string")).as("src"),
          concat(lit("h"), (col("doc_id") % 7).cast("string")).as("dst"))
        .where(col("src") =!= col("dst")).distinct()
      Graphs.pageRankPersonalizedInt(edges, "src", "dst",
        Seq("h3").toDF("node"), "node", iters = 5)
    }),

    // HITS hubs/authorities over the same host graph: 3 rounds of
    // integer-staged mutual reinforcement with L∞ (max) normalization —
    // a second ITERATIVE graph algorithm under the full hash gate, with
    // a different per-round shape than PageRank (two half-steps + two
    // 1-row max broadcasts)
    "hits_hosts" -> ((s, dir) => {
      val edges = t(s, dir, "documents")
        .select(concat(lit("h"), (col("doc_id") % 11).cast("string")).as("src"),
          concat(lit("h"), (col("doc_id") % 7).cast("string")).as("dst"))
        .where(col("src") =!= col("dst")).distinct()
      Graphs.hitsInt(edges, "src", "dst", iters = 3)
    }),

    // element-wise embedding centroids per group through the
    // VectorSumAgg custom aggregate: quantized to round(x*1000) ints,
    // double sums of integers < 2^53 are exact and order-independent —
    // the vector aggregate itself rides the hash gate. Long-form
    // (grp, dim, sum_q, n) rows (the harness can't sort array cells).
    "embedding_centroids" -> ((s, dir) => {
      val q = transform(col("embedding"),
        x => round(x.cast("double") * 1000))
      t(s, dir, "embeddings")
        .select((col("vec_id") % 8).as("grp"), q.as("__q"))
        .groupBy(col("grp"))
        .agg(Tx.vector_sum(col("__q")).as("__sums"), count(lit(1)).as("n"))
        .select(col("grp"), posexplode(col("__sums")), col("n"))
        .select(col("grp"), col("pos").cast("long").as("dim"),
          col("col").cast("long").as("sum_q"), col("n"))
    }),

    // per-node triangle counts over the same host graph (link-farm
    // density signal): degree-ordered orientation finds each triangle
    // exactly once at its minimum-order vertex; the oracle recounts
    // canonically (x<y<z) over the symmetric closure — two different
    // once-only strategies agreeing is the double-count/miss proof
    "triangle_counts" -> ((s, dir) => {
      val edges = t(s, dir, "documents")
        .select(concat(lit("h"), (col("doc_id") % 11).cast("string")).as("src"),
          concat(lit("h"), (col("doc_id") % 7).cast("string")).as("dst"))
        .where(col("src") =!= col("dst")).distinct()
      Graphs.triangleCounts(edges, "src", "dst")
    }),

    // 2-core extraction over a dense-nucleus + dangling-path graph:
    // the path (p0..p7, bridged to the nucleus at n0) must cascade
    // away ONE NODE PER ROUND — a genuine multi-round peel, not a
    // single low-degree sweep — leaving exactly the nucleus with its
    // induced degrees. The oracle replays the identical peel as a
    // recursive CTE with window-function degrees.
    "kcore_hosts" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val nucleus = d.select(
        concat(lit("n"), (col("doc_id") % 7).cast("string")).as("src"),
        concat(lit("n"), (col("doc_id") % 5).cast("string")).as("dst"))
      val path = d.where(col("doc_id") < 7)
        .select(concat(lit("p"), col("doc_id").cast("string")).as("src"),
          concat(lit("p"), (col("doc_id") + 1).cast("string")).as("dst"))
      val bridge = d.where(col("doc_id") === 0)
        .select(lit("p0").as("src"), lit("n0").as("dst"))
      Graphs.kCore(nucleus.unionAll(path).unionAll(bridge), "src", "dst", k = 2)
    }),

    // multi-source BFS hop distances (the TrustRank-style link-distance
    // prior): ring + doubling edges over 64 vertices give genuinely
    // varied shortest paths, and maxHops = 6 leaves part of the graph
    // UNREACHED — the frontier cutoff itself is under the gate. Exact
    // integer hops; the oracle replays the expansion as a bounded
    // recursive CTE and must agree on every (node, min-hop) row.
    "bfs_hops" -> ((s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents")
      val ring = d.select(
        concat(lit("v"), (col("doc_id") % 64).cast("string")).as("src"),
        concat(lit("v"), ((col("doc_id") + 1) % 64).cast("string")).as("dst"))
      val dbl = d.select(
        concat(lit("v"), (col("doc_id") % 64).cast("string")).as("src"),
        concat(lit("v"), ((col("doc_id") * 2) % 64).cast("string")).as("dst"))
      val edges = ring.unionAll(dbl).where(col("src") =!= col("dst"))
      Graphs.bfsHops(edges, "src", "dst",
        Seq("v9").toDF("node"), "node", maxHops = 6)
    }),

    // hop-bounded CHEAPEST paths (delta-frontier Bellman-Ford) over the
    // same ring+doubling graph with deterministic integer edge weights
    // (7·src + 13·dst mod 20, + 1) — where BFS counts hops, this sums
    // costs, and a cheap long way round must beat an expensive shortcut.
    // Exact integer relaxation; the oracle replays it as a bounded
    // recursive CTE with min-cost per node.
    "cheapest_path_hops" -> ((s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents")
      def mkEdges(dstRes: org.apache.spark.sql.Column) = d.select(
        (col("doc_id") % 64).as("sr"), dstRes.as("dr"))
      val edges = mkEdges((col("doc_id") + 1) % 64)
        .unionAll(mkEdges((col("doc_id") * 2) % 64))
        .where(col("sr") =!= col("dr"))
        .select(concat(lit("v"), col("sr").cast("string")).as("src"),
          concat(lit("v"), col("dr").cast("string")).as("dst"),
          ((col("sr") * 7 + col("dr") * 13) % 20 + 1).as("w"))
        .distinct() // one row per (src, dst, w): the weight is a pure
                    // function of the endpoints, so this is edge dedup
      Graphs.minCostHops(edges, "src", "dst", "w",
        Seq("v9").toDF("node"), "node", maxHops = 6)
    }),

    // normalization-canonical exact dedup: planted variants differing
    // only in case/punctuation/whitespace collapse onto their originals
    "normalize_dedup" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val base = d.unionAll(d.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(upper(col("text")), lit(" !!")).as("text")))
      Scrub.dedupNormalized(base, "doc_id", "text").select(col("doc_id"))
    }),

    // paragraph-level dedup (CCNet shape): synthetic multi-paragraph docs
    // (paragraph = one source doc, grouped by doc_id % 97, '\n'-joined in
    // id order); planted copies land in OTHER groups, so their paragraphs
    // are cross-document duplicates and must vanish from the later doc
    "para_dedup" -> ((s, dir) => {
      val base = docsWithPlanted(s, dir)
      val docs = base
        .groupBy((col("doc_id") % 97).as("gid"))
        .agg(array_join(
          transform(array_sort(collect_list(struct(col("doc_id"), col("text")))),
            x => x("text")), "\n").as("text"))
        .select(col("gid").as("doc_id"), col("text"))
      Dedup.dedupParagraphs(docs, "doc_id", "text")
    }),

    // scrub composition: redact -> normalize -> exact dedup, chained as
    // ONE relational program. Planted near-copies differ in case,
    // punctuation, AND the planted email address — redaction maps both
    // emails to the same <EMAIL> tag and normalization kills the rest,
    // so every copy collapses onto its original (PII-invariant dedup)
    "scrub_pipeline" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"), col("lang"))
      val withPii = d.select(col("doc_id"),
        concat(col("text"), lit(" contact u"), (col("doc_id") % 25).cast("string"),
          lit("@example.com")).as("ptext"), col("lang"))
      val copies = d.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(upper(col("text")), lit(" contact o"), col("doc_id").cast("string"),
            lit("@other.net!!")).as("ptext"), col("lang"))
      val red = withPii.unionAll(copies)
        .withColumn("rtext", Scrub.redactPii(col("ptext")))
      Scrub.dedupNormalized(red, "doc_id", "rtext")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("first_id"))
    }),

    // keep-BEST exact dedup (Dedup.exactKeepBest): planted lower-quality
    // copies (shorter text would score differently; here quality =
    // token count desc, id asc) — per duplicate group the highest-token
    // original survives, not the lowest id
    "dedup_keep_best" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val base = d.unionAll(d.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" extra trailing tokens")).as("text")))
      val keyed = base.withColumn("key",
        substring(regexp_replace(col("text"), "\\s+", " "), 1, 40))
      graft.pipeline.Dedup.exactKeepBest(keyed, "key",
          Seq(size(regexp_extract_all(col("text"), lit("\\S+"), lit(0))).desc,
            col("doc_id")))
        .select(col("doc_id"), col("key"))
    }),

    // per-group quantile-threshold filter (Sampling.topFractionByGroup):
    // top 30% of each language by token count, cume_dist window — the
    // "per-language quality cut" shape with no separate threshold pass
    "quantile_filter" -> ((s, dir) => {
      val toks = size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
      Sampling.topFractionByGroup(
          t(s, dir, "documents").select(col("doc_id"), col("lang"),
            toks.as("toks")),
          col("lang"), 0.3, Seq(col("toks").desc, col("doc_id")))
        .select(col("doc_id"), col("lang"), col("toks"))
    }),

    // EXACT distributed top-k heavy hitters (Sketches.exactTopK):
    // per-partition Misra-Gries summaries merged on the driver pick a
    // provably-complete candidate set, a broadcast semi-join recounts
    // ONLY candidates, and the result is certified exact (kth count >
    // N/capacity). The oracle is the plain exact GROUP BY + LIMIT.
    "top_tokens" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
          .as("tok"))
      Sketches.exactTopK(toks, col("tok"), k = 20, capacity = 256)
        .select(col("v").as("tok"), col("n"))
    }),

    // count–min sketch: the rare sketch that is exactly replayable
    // (fixed row constants, integer cells), so unlike HLL/KLL it gets a
    // full DuckDB hash gate — the cells and the min-estimates for the
    // top-50 true tokens, est_n ≥ true_n by construction. One probe is
    // a PLANTED UNSEEN token (true_n = 0): it exercises the left-join
    // contract that empty cells count as 0 for keys never inserted.
    "cms_token_estimates" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val occurrences = docs.select(
        explode(Tx.token_ngram_hashes(col("text"), 1, 42L)).as("k"))
      val cells = Sketches.cmsCells(occurrences, col("k"),
        depth = 4, logWidth = 10)
      val truth = docs
        .select(explode(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
          .as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("true_n"))
        .orderBy(col("true_n").desc, col("tok")).limit(50)
        .unionByName(docs.sparkSession.range(1).select(
          lit("zzzunseenprobe").as("tok"), lit(0L).as("true_n")))
      val probes = truth.select(col("tok"), col("true_n"),
        element_at(Tx.token_ngram_hashes(col("tok"), 1, 42L), 1).as("__k"))
      Sketches.cmsEstimate(cells, probes, col("__k"))
        .select(col("tok"), col("true_n"), col("est_n"))
    }),

    // Gini concentration of the planted link-host distribution — the
    // "is one domain dominating the crawl?" curation diagnostic,
    // integer-ppm staged so the DuckDB replay is exact
    "domain_gini" -> ((s, dir) => {
      val id = col("doc_id")
      val planted = concat(col("text"),
        when(id % 4 === 0, concat(lit(" see http://site"),
          (id % 7).cast("string"), lit(".example.com/page")))
          .otherwise(lit("")),
        when(id % 4 === 1, concat(lit(" via https://m"),
          (id % 3).cast("string"), lit(".mirror.org/x"))).otherwise(lit("")))
      val docs = t(s, dir, "documents").select(id, planted.as("ptext"))
      Sketches.giniConcentrationPpm(
        Scrub.explodeHosts(docs, "doc_id", "ptext"), col("host"))
    }),

    // train-vs-rest token-distribution drift (total variation ×2, ppm):
    // the split-shift gate; reuses the deterministic hash splitter, all
    // integer arithmetic
    "split_token_drift" -> ((s, dir) => {
      val split = Sampling.splitByHash(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        col("doc_id"), Seq("train" -> 0.7, "val" -> 0.2, "test" -> 0.1),
        salt = "sp1")
      val toks = split.select(col("split"),
        explode(regexp_extract_all(col("text"), lit("\\S+"), lit(0))).as("tok"))
      Sketches.tvDriftPpm(toks, col("split") === "train", col("tok"))
    }),

    // frequency-ordered label dictionary (deterministic StringIndexer):
    // dense 0-based codes by count desc, label asc
    "label_index" -> ((s, dir) => {
      TextAnalysis.labelIndex(t(s, dir, "documents"), col("lang"))
    }),

    // leak-proof GROUP-keyed split: hashing the source (not the doc)
    // sends every doc of a source to ONE split — the train/test
    // leakage guard when near-duplicates cluster within sources. The
    // distinct-split count per source proves the invariant; the doc
    // counts prove the ~80/20 mass
    "group_split_leakproof" -> ((s, dir) => {
      Sampling.splitByHash(
          t(s, dir, "documents").select(col("doc_id"), col("source")),
          col("source"), Seq("train" -> 0.8, "test" -> 0.2), salt = "gs1")
        .groupBy(col("split"))
        .agg(countDistinct(col("source")).as("n_sources"),
          count(lit(1)).as("n_docs"))
    }),

    // exact quantized moments of the event value per type (deci-unit
    // staging: every Σ including the cubes is an exact BIGINT — a
    // double Σv³ would be order-dependent across engines/partitionings)
    "moment_stats" -> ((s, dir) => {
      Sketches.quantizedMomentsByGroup(t(s, dir, "events"),
        col("event_type"), col("value"), scale = 10.0)
    }),

    // quantized tf-idf top terms per doc: score = tf * floor(1e6*N/df),
    // integer-valued both engines, ties on the term string
    "tfidf_top_terms" -> ((s, dir) => {
      TextAnalysis.tfidfTopTerms(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", top = 3)
    }),

    // -- sketch statistics (rows-only: approximate by design) ---------------
    // per-group HLL++ distinct users next to exact row counts
    // APPROXIMATE sketch under a HASH gate via its CONTRACT: the HLL++
    // estimate itself is engine-internal (different sketch impls can't
    // hash-match), but the accuracy contract CAN be checked exactly —
    // per group: exact distinct, row count, and a boolean "estimate
    // within ±15% (3·rsd at the default rsd = 0.05)". The oracle
    // computes the same exact values and asserts the boolean TRUE, so
    // the gate fails if the sketch ever drifts outside its bound. The
    // exact side is the CHECK, not the scale path — at 100 TB you run
    // only the sketch.
    "sketch_distinct" -> ((s, dir) => {
      val est = Sketches.approxDistinctByGroup(t(s, dir, "events"),
        col("event_type"), col("user_id"))
      val exact = t(s, dir, "events").groupBy(col("event_type").as("grp"))
        .agg(count_distinct(col("user_id")).as("n_exact"))
      est.join(exact, "grp")
        .select(col("grp"), col("n_exact"), col("n"),
          (abs(col("approx_distinct") - col("n_exact")) * 100 <=
            col("n_exact") * 15).as("within_tol"))
    }),

    // per-group KLL-style quantiles of the event value, hash-gated by
    // the RANK CONTRACT: percentile_approx(acc) guarantees the
    // returned value's rank is within n/acc of p·n. Emit the exact
    // strict/weak rank checks (integer permyriad staging, one row of
    // slack for the boundary) — the oracle asserts both TRUE per
    // (group, prob). The estimate value stays engine-internal.
    "sketch_quantiles" -> ((s, dir) => {
      val q = Sketches.approxQuantilesByGroupLong(t(s, dir, "events"),
        col("event_type"), col("value"), Seq(0.25, 0.5, 0.9))
      val ev = t(s, dir, "events")
        .select(col("event_type").as("grp"), col("value"))
      q.join(ev, "grp")
        .groupBy(col("grp"), col("prob"))
        .agg(count(col("value")).as("n"),
          sum(when(col("value") < col("quantile"), 1L).otherwise(0L))
            .as("__n_lt"),
          sum(when(col("value") <= col("quantile"), 1L).otherwise(0L))
            .as("__n_le"))
        .select(col("grp"), col("prob"), col("n"),
          // rank error <= n/acc (acc = 10000): in permyriad,
          // n_lt/n <= p + 1/acc + 1/n  and  n_le/n >= p - 1/acc - 1/n
          (col("__n_lt") * 10000 <=
            (col("prob") * 10000).cast("long") * col("n") + col("n")
              + 10000).as("lt_ok"),
          (col("__n_le") * 10000 >=
            (col("prob") * 10000).cast("long") * col("n") - col("n")
              - 10000).as("le_ok"))
    }),

    // the sketch path under the FULL oracle gate by exact degeneration
    // (same trick as ann_ivf_exact): percentile_approx retains every
    // value while the group size stays <= accuracy, so with a large
    // accuracy the sketch answer IS the exact discrete quantile and
    // must hash-match DuckDB's quantile_disc. The production-accuracy
    // config stays rows-only (different sketches can't hash-match).
    "sketch_quantiles_exact" -> ((s, dir) => {
      Sketches.approxQuantilesByGroupLong(t(s, dir, "events"),
        col("event_type"), col("value"), Seq(0.25, 0.5, 0.9),
        acc = 1000000)
    }),

    // DETERMINISTIC MERGEABLE ε-QUANTILE SUMMARY (Munro-Paterson/MRL
    // per-partition order statistics): two summaries built over
    // DISJOINT halves of the data union-merge — weights and error
    // bounds ADD — and the merged sketch's quantiles carry an EXACT
    // self-described rank bound. The gate has no statistical slack:
    // the engine recounts true ranks against the data in-plan and the
    // oracle asserts count(<=qv) >= target and
    // count(<qv) <= target-1+bound as hard TRUE booleans. The build
    // never shuffles the data (narrow local sorts + a P-row counts
    // broadcast) — the 100 TB profile pass exact quantiles can't give.
    "quantile_sketch_merge" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .where(col("value").isNotNull && col("event_id").isNotNull)
        .select(col("event_id"), col("value"))
      val a = Sketches.quantileSummary(
        ev.where(col("event_id") % 2 === 0).select(col("value")),
        col("value"), k = 64, tag = "a")
      val b = Sketches.quantileSummary(
        ev.where(col("event_id") % 2 =!= 0).select(col("value")),
        col("value"), k = 64, tag = "b")
      // pin the kilobyte summary: summaryBound + the two references in
      // quantilesFromSummary must read ONE materialization, not re-run
      // the two-pass build per reference
      val merged = a.unionByName(b).localCheckpoint(true)
      val qs = Sketches.quantilesFromSummary(merged,
        Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99), Sketches.summaryBound(merged))
      ev.select(col("value")).crossJoin(broadcast(qs))
        .groupBy(col("prob"), col("n"), col("target"), col("bound"))
        .agg(sum(when(col("value") <= col("qv"), 1L).otherwise(0L))
            .as("__le"),
          sum(when(col("value") < col("qv"), 1L).otherwise(0L)).as("__lt"))
        .select(col("prob"), col("n"),
          (col("__le") >= col("target")).as("le_ok"),
          (col("__lt") <= col("target") - 1 + col("bound")).as("lt_ok"))
    }),

    // the TREE-MERGE path: a built summary re-compressed to <= 256
    // rows (the between-levels step of a cluster-scale roll-up; each
    // compression is one new sorted run whose bound composes by
    // ADDITION with the input's). Same exact-integer gate.
    "quantile_sketch_compress" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .where(col("value").isNotNull).select(col("value"))
      // pinned like the merge twin: sk feeds compressSummary AND its
      // own bound; comp feeds the quantile read twice
      val sk = Sketches.quantileSummary(ev, col("value"), k = 64, tag = "s")
        .localCheckpoint(true)
      val comp = Sketches.compressSummary(sk, k = 256, tag = "c")
        .localCheckpoint(true)
      val bound = Sketches.summaryBound(sk)
        .crossJoin(Sketches.summaryBound(comp)
          .withColumnRenamed("bound", "__b2"))
        .select((col("bound") + col("__b2")).as("bound"))
      val qs = Sketches.quantilesFromSummary(comp,
        Seq(0.05, 0.5, 0.95), bound)
      ev.crossJoin(broadcast(qs))
        .groupBy(col("prob"), col("n"), col("target"), col("bound"))
        .agg(sum(when(col("value") <= col("qv"), 1L).otherwise(0L))
            .as("__le"),
          sum(when(col("value") < col("qv"), 1L).otherwise(0L)).as("__lt"))
        .select(col("prob"), col("n"),
          (col("__le") >= col("target")).as("le_ok"),
          (col("__lt") <= col("target") - 1 + col("bound")).as("lt_ok"))
    }),

    // the PER-GROUP twin: one summary per event_type, still zero data
    // shuffles (run starts derive from the P×|groups| counts table,
    // never the data) — the per-language/per-source distribution
    // profile of a corpus card. Same exact-integer gate, checked per
    // (group, prob).
    "quantile_sketch_by_group" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .where(col("value").isNotNull && col("event_type").isNotNull)
        .select(col("event_type").as("g"), col("value"))
      val sk = Sketches.quantileSummaryByGroup(ev, "g", col("value"),
        k = 48, tag = "s").localCheckpoint(true)
      val qs = Sketches.quantilesFromSummaryByGroup(sk,
        Seq(0.25, 0.5, 0.9), Sketches.summaryBoundByGroup(sk))
      ev.join(broadcast(qs), "g")
        .groupBy(col("g"), col("prob"), col("n"), col("target"),
          col("bound"))
        .agg(sum(when(col("value") <= col("qv"), 1L).otherwise(0L))
            .as("__le"),
          sum(when(col("value") < col("qv"), 1L).otherwise(0L)).as("__lt"))
        .select(col("g").as("grp"), col("prob"), col("n"),
          (col("__le") >= col("target")).as("le_ok"),
          (col("__lt") <= col("target") - 1 + col("bound")).as("lt_ok"))
    }),

    // the STREAMING profile path: each micro-batch folds into ONE
    // running mergeable summary inside foreachBatch (union a per-batch
    // build, re-compress past a size threshold — the tree merge
    // unrolled over time). Driver state = the kilobyte summary + one
    // carried bound scalar; the stream itself is never rescanned. The
    // final quantiles pass the SAME exact-integer gate, with the bound
    // composed across every compression (carried + current, the
    // additive law compressSummary documents).
    "stream_quantile_sketch" -> ((s, dir) => {
      val schema = t(s, dir, "events").schema
      val src = EventTs.toTimestamp(s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
        .where(col("value").isNotNull).select(col("value"))
      // running summary + the bound carried across compressions:
      // invariant — true rank error <= carriedBound +
      // summaryBound(current). AvailableNow runs batches sequentially,
      // so plain vars are safe (same discipline as the CDC sink).
      var current: Option[org.apache.spark.sql.DataFrame] = None
      var carriedBound = 0L
      val qName = "graft_stream_quantile_sketch"
      s.streams.active.filter(q => q.name == qName).foreach(_.stop())
      Queries.streamScoped(s) {
        val q = src.writeStream.queryName(qName)
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
            val bs = Sketches.quantileSummary(batch, col("value"),
              k = 64, tag = s"b$id")
            val merged = current.map(_.unionByName(bs)).getOrElse(bs)
              .localCheckpoint(true)
            current = Some(
              if (merged.count() <= 4096) merged
              else {
                // fold the pre-compression bound into the carried scalar
                // BEFORE the part structure is erased
                carriedBound += Sketches.summaryBound(merged)
                  .head().getLong(0)
                Sketches.compressSummary(merged, k = 1024, tag = s"c$id")
                  .localCheckpoint(true)
              })
            ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      val summary = current.getOrElse(
        throw new IllegalStateException("stream delivered no batches"))
      val bound = Sketches.summaryBound(summary)
        .select((col("bound") + lit(carriedBound)).as("bound"))
      val qs = Sketches.quantilesFromSummary(summary,
        Seq(0.1, 0.5, 0.9), bound)
      t(s, dir, "events").where(col("value").isNotNull)
        .select(col("value")).crossJoin(broadcast(qs))
        .groupBy(col("prob"), col("n"), col("target"), col("bound"))
        .agg(sum(when(col("value") <= col("qv"), 1L).otherwise(0L))
            .as("__le"),
          sum(when(col("value") < col("qv"), 1L).otherwise(0L)).as("__lt"))
        .select(col("prob"), col("n"),
          (col("__le") >= col("target")).as("le_ok"),
          (col("__lt") <= col("target") - 1 + col("bound")).as("lt_ok"))
    }),

    // mergeable DataSketches HLL: per-group sketches union-rolled to
    // one global estimate WITHOUT rescanning the table — hash-gated by
    // TWO exact invariants the oracle asserts TRUE: the merged
    // estimate is within ±5% (3σ at lgK = 12) of the exact global
    // distinct, and it is at least the largest single group's exact
    // distinct (roll-up monotonicity, with the same 5% slack).
    "sketch_union_distinct" -> ((s, dir) => {
      val events = t(s, dir, "events")
      val est = Sketches.hllUnionEstimate(
        Sketches.hllSketchByGroup(events, col("event_type"), col("user_id")))
      val exact = events.agg(
        count_distinct(col("user_id")).as("global_exact"))
      val maxGrp = events.groupBy(col("event_type"))
        .agg(count_distinct(col("user_id")).as("__gd"))
        .agg(max(col("__gd")).as("max_group_exact"))
      est.crossJoin(exact).crossJoin(maxGrp)
        .select(col("global_exact"), col("max_group_exact"),
          (abs(col("global_distinct") - col("global_exact")) * 100 <=
            col("global_exact") * 5).as("within_tol"),
          (col("global_distinct") * 100 >=
            col("max_group_exact") * 95).as("ge_max_group"))
    }),

    // -- multimodal stubs ----------------------------------------------------
    // INVARIANT-GATED stub plumbing (the sketch-gating trick): the
    // codec output itself is a documented deterministic fake (non-JDK
    // formats), so a DuckDB *decode* oracle is impossible — but the
    // plumbing contracts are oracled exactly: the payload byte length
    // passes through the decode path untouched (hash-compared per row
    // against octet_length in DuckDB) and every stub output lands in
    // its documented range/set, asserted TRUE per row.
    "multimodal_features" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("content"))
      val meta = Multimodal.decodeStub(col("content"))
      val f0 = element_at(Multimodal.extractFeaturesStub(col("content"), 8), 1)
      docs.select(col("doc_id"),
        length(col("content")).cast("long").as("byte_len"),
        (meta.getField("width") >= 32 && meta.getField("width") <= 1951)
          .as("width_ok"),
        (meta.getField("height") >= 32 && meta.getField("height") <= 1111)
          .as("height_ok"),
        meta.getField("format").isin("jpeg", "png", "webp").as("format_ok"),
        (f0 >= 0f && f0 < 1f).as("f0_ok"))
    }),

    // resize + video frame-sampling plumbing (1->N explode), gated on
    // the structural invariants: everyN=4 over a 1..64 stub frame count
    // samples 1..16 frames; resize(maxSide=512) never exceeds 512 on
    // either axis and never collapses below 1 (floor of scale >= 512/
    // 1951 times width >= 32); byte length passes through per row.
    "multimodal_frames" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("content"))
      val small = Multimodal.resizeStub(Multimodal.decodeStub(col("content")), 512)
      val nFrames = size(Multimodal.frameSampleStub(col("content"), 4))
      docs.select(col("doc_id"),
        length(col("content")).cast("long").as("byte_len"),
        (nFrames >= 1 && nFrames <= 16).as("n_frames_ok"),
        (greatest(small.getField("width"), small.getField("height")) <= 512)
          .as("resize_max_ok"),
        (least(small.getField("width"), small.getField("height")) >= 1)
          .as("resize_pos_ok"))
    }),

    // the batched per-partition decode path (mapPartitions — the Scala
    // analog of mapInPandas; text payloads are not images, so every row
    // takes the deterministic stub fallback). Gated on the batch
    // contracts DuckDB CAN recompute: the pass preserves the row count
    // and the total payload bytes EXACTLY (columns ride through
    // mapPartitions untouched), the decode is a pure function of the
    // payload (equal contents never disagree on meta), and every meta
    // lands in the documented range/set.
    "multimodal_batch_decode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("content"))
      val dec = Multimodal.mapDecodePartitions(docs, "content", batchSize = 128)
      dec.groupBy(col("content"))
        .agg(count(lit(1)).as("__cnt"),
          count_distinct(col("meta")).as("__nm"),
          max(length(col("content")).cast("long")).as("__len"),
          max(col("meta.width")).as("__w"),
          min(col("meta.width")).as("__w0"),
          bool_and(col("meta.format").isin("jpeg", "png", "webp")).as("__fok"))
        .agg(sum(col("__cnt")).as("total_n"),
          sum(col("__cnt") * col("__len")).as("sum_bytes"),
          bool_and(col("__nm") === 1).as("deterministic"),
          bool_and(col("__w") <= 1951 && col("__w0") >= 32).as("width_ok"),
          bool_and(col("__fok")).as("formats_ok"))
    }),

    // REAL image decode under the FULL oracle gate: per row a genuine
    // (doc_id%7+3) x (doc_id%5+2) PNG is encoded with ImageIO on the
    // executors, pushed through the batched decode path, and the
    // recovered header metadata must equal the id arithmetic DuckDB
    // recomputes independently — the codec itself (not a stub) is in
    // the checked path end-to-end.
    "multimodal_png_decode" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val withPng = Multimodal.syntheticPngs(docs, "doc_id", "content")
      Multimodal.mapDecodePartitions(withPng, "content", batchSize = 64)
        .select(col("doc_id"), col("meta.width").as("width"),
          col("meta.height").as("height"), col("meta.format").as("format"))
    }),

    // REAL pixel decode under the FULL oracle gate: the executor-encoded
    // PNGs are decoded back to their PIXELS (not just header dims) and
    // per-channel RGB sums must equal pure id arithmetic — feature
    // extraction (mean color/luminance) with a genuine lossless codec
    // in the loop
    "multimodal_pixel_stats" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val withPng = Multimodal.syntheticPngs(docs, "doc_id", "content")
      Multimodal.mapPixelStatsPartitions(withPng, "content", batchSize = 64)
        .select(col("doc_id"), col("pix.w").as("w"), col("pix.h").as("h"),
          col("pix.sum_r").as("sum_r"), col("pix.sum_g").as("sum_g"),
          col("pix.sum_b").as("sum_b"))
    }),

    // REAL animated-GIF frame sampling under the FULL oracle gate:
    // id-derived multi-frame GIFs are written ON THE EXECUTORS by
    // ImageIO's sequence writer, every 2nd frame is sampled back out
    // through the real reader's frame-descriptor walk, and the exploded
    // (frame_idx, width, height) rows must equal pure id arithmetic —
    // the 1->N video-sampling shape with a genuine codec in the loop.
    "multimodal_gif_frames" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val withGif = Multimodal.syntheticGifs(docs, "doc_id", "content")
      Multimodal.mapFrameSamplePartitions(withGif, "content", everyN = 2, batchSize = 64)
        .select(col("doc_id"), explode(col("frames")).as("f"))
        .select(col("doc_id"), col("f.frame_idx").as("frame_idx"),
          col("f.width").as("width"), col("f.height").as("height"))
    }),

    // REAL audio codec in the checked path: id-derived PCM WAVs are
    // written ON THE EXECUTORS by the JDK's javax.sound, decoded back
    // through the hand-rolled RIFF parser (an independent
    // implementation), and the metadata must equal pure id arithmetic
    "multimodal_wav_decode" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val withWav = Multimodal.syntheticWavs(docs, "doc_id", "content")
      Multimodal.mapAudioDecodePartitions(withWav, "content", batchSize = 64)
        .select(col("doc_id"),
          col("audio_meta.sample_rate").as("sample_rate"),
          col("audio_meta.channels").as("channels"),
          col("audio_meta.bits").as("bits"),
          col("audio_meta.n_frames").as("n_frames"),
          col("audio_meta.codec").as("codec"))
    }),

    // REAL image RESIZE under the FULL oracle gate: nearest-neighbor
    // downscale with OUR floor source mapping (no library resampler),
    // so the resized image's per-channel sums are engine-replayable id
    // arithmetic — the resize stub retired by a genuine decode→resample
    // path
    "multimodal_resize_stats" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val withPng = Multimodal.syntheticPngs(docs, "doc_id", "content")
      Multimodal.mapResizeStatsPartitions(withPng, "content", maxSide = 4,
          batchSize = 64)
        .select(col("doc_id"), col("rsz.w").as("w"), col("rsz.h").as("h"),
          col("rsz.new_w").as("new_w"), col("rsz.new_h").as("new_h"),
          col("rsz.sum_r").as("sum_r"), col("rsz.sum_g").as("sum_g"),
          col("rsz.sum_b").as("sum_b"))
    }),

    // Perceptual image hashing (dHash) under the FULL oracle gate: the
    // executor-encoded PNGs flow through decode → 9×8 floor-mapped
    // luminance grid → adjacent-pair bits, and every 64-bit hash must
    // equal DuckDB's replay of the same arithmetic
    "image_dhash" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val withPng = Multimodal.syntheticPngs(docs, "doc_id", "content")
      Multimodal.mapDHashPartitions(withPng, "content", batchSize = 64)
        .select(col("doc_id"), col("dhash"))
    }),

    // image EMBEDDING, exact: 2-D Walsh–Hadamard sequency coefficients
    // over the decoded 8×8 luminance field — the integer-exact stand-in
    // for the pHash DCT block, every coefficient DuckDB-replayed
    // through decode → floor map → luminance → ±1 transform
    "image_wht_embedding" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val withPng = Multimodal.syntheticPngs(docs, "doc_id", "content")
      Multimodal.mapImageWhtPartitions(withPng, "content", batchSize = 64)
        .select(col("doc_id"), posexplode(col("iwht")))
        .select(col("doc_id"), col("pos").cast("long").as("k"),
          col("col").as("coeff"))
    }),

    // REAL image feature extraction under the FULL gate: joint RGB
    // color histograms (the classical CBIR embedding) over the decoded
    // pixels, long-form (doc_id, dim, n) incl. zero bins — the
    // "embedding from image" path with a genuine featurizer, not the
    // hash stub
    "image_histogram_features" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val withPng = Multimodal.syntheticPngs(docs, "doc_id", "content")
      Multimodal.mapHistogramFeaturesPartitions(withPng, "content",
          bins = 4, batchSize = 64)
        .select(col("doc_id"), posexplode(col("features")))
        .select(col("doc_id"), col("pos").cast("long").as("dim"),
          col("col").as("n"))
    }),

    // image NEAR-DUP pairs: dHash + the generalized fingerprint banding
    // (the simhash machinery over an arbitrary 64-bit column) — planted
    // byte-identical copies must surface at hamming 0, and the full
    // pair set is recomputed all-pairs by the oracle. On a doc subsample:
    // the tiny gradient fixtures are perceptually NEAR-IDENTICAL by
    // construction (dHash collapses them — that's its job), so the
    // full-corpus pair set would be quadratic in cluster size; the
    // linear-at-scale operator over the whole corpus is image_dedup
    "image_dhash_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
        .where(col("doc_id") % 25 === 0)
      val withPng = Multimodal.syntheticPngs(docs, "doc_id", "content")
      val planted = withPng.unionAll(
        withPng.where(col("doc_id") % 50 === 0)
          .select((col("doc_id") + 100000).as("doc_id"), col("content")))
      val hashed = Multimodal.mapDHashPartitions(planted, "content",
          batchSize = 64)
        .select(col("doc_id"), col("dhash"))
      Dedup.fingerprintDupPairs(hashed, "doc_id", "dhash", maxHamming = 2)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("long").as("hamming"))
    }),

    // perceptual image DEDUP: one survivor per distinct dHash (the
    // single-shuffle exact-dedup plan keyed on the 8-byte hash) — the
    // linear-at-any-scale image dedup surface
    "image_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val withPng = Multimodal.syntheticPngs(docs, "doc_id", "content")
      val hashed = Multimodal.mapDHashPartitions(withPng, "content",
          batchSize = 64)
        .select(col("doc_id"), col("dhash"))
      Dedup.exact(hashed, "dhash", "doc_id")
    }),

    // REAL PCM sample decode under the FULL oracle gate: the JDK-written
    // WAVs decode back to their SAMPLES (not just the header), and the
    // signed sum / abs-sum per doc must equal pure id arithmetic — the
    // loudness/DC-offset audio feature step with a genuine codec pair
    // (independent writer vs hand-rolled parser) in the loop
    "multimodal_wav_samples" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val withWav = Multimodal.syntheticWavs(docs, "doc_id", "content")
      Multimodal.mapWavSampleStatsPartitions(withWav, "content", batchSize = 64)
        .select(col("doc_id"), col("pcm.rate").as("rate"),
          col("pcm.channels").as("channels"), col("pcm.frames").as("frames"),
          col("pcm.sum_s").as("sum_s"), col("pcm.sum_abs").as("sum_abs"))
    }),

    // audio FEATURE EXTRACTION, not just stats: first 8 Walsh–Hadamard
    // (sequency) coefficients of each file's first 32 PCM samples —
    // the ±1-only transform keeps the features exact integers, so the
    // whole decode→transform chain is DuckDB-replayed per coefficient
    "multimodal_wav_wht" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val withWav = Multimodal.syntheticWavs(docs, "doc_id", "content")
      Multimodal.mapWavWhtPartitions(withWav, "content", batchSize = 64)
        .select(col("doc_id"), posexplode(col("wht")))
        .select(col("doc_id"), col("pos").cast("long").as("k"),
          col("col").as("coeff"))
    }),

    // -- line/LM/index/incremental curation ops ------------------------------
    // line-level Gopher format+repetition stats over deterministic
    // multi-line docs: every doc repeats its own text as a second line
    // (planted duplicate line), every 7th gains a bullet line, every
    // 5th an ellipsis line — all recomputable as pure string arithmetic
    "line_stats" -> ((s, dir) => {
      val id = col("doc_id")
      val ptext = concat(col("text"), lit("\n"), col("text"),
        when(id % 7 === 0, concat(lit("\n- item "), id.cast("string")))
          .otherwise(lit("")),
        when(id % 5 === 0, lit("\nmore soon...")).otherwise(lit("")))
      val withLines = t(s, dir, "documents").select(id, ptext.as("ptext"))
      val cols = TextAnalysis.lineColumns(col("ptext"))
      withLines.select(
        col("doc_id") +: cols.map { case (n, c) => c.as(n) }: _*)
    }),

    // char-bigram LM familiarity, self-trained on the corpus: the model
    // is a broadcast-sized aggregate, the score pure integer floor-log2
    // arithmetic (length(bin(cnt))-1) both engines compute exactly
    "lm_familiarity" -> ((s, dir) => {
      TextAnalysis.lmFamiliaritySelf(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
    }),

    // inverted index with a df band: stopword posting lists are dropped
    // as COUNTS before any list materializes (the scale contract);
    // postings explode back to scalar rows for the harness compare
    "inverted_index" -> ((s, dir) => {
      // sf-invariant stopword cut: drop terms present in > 80% of docs
      // (the count is a cheap columnar scan). Non-release variant: same
      // convention as tfidf_top_terms (tf cache stays until clearCache;
      // the query stays lazy for Bench).
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val maxDf = (docs.count() * 8L) / 10L
      val idx = TextAnalysis.invertedIndex(docs, "doc_id", "text",
        minDf = 2L, maxDf = maxDf)
      idx.select(col("term"), col("df"), explode(col("postings")).as("p"))
        .select(col("term"), col("df"), col("p.id").as("doc_id"), col("p.tf").as("tf"))
    }),

    // sparse lexical retrieval (RAG curation: find the corpus docs most
    // relevant to each probe query): integer-staged BM25 — floor-log2
    // idf, pivoted length normalization by integer division — so the
    // per-query top-10 ranking is bit-identical in DuckDB. Queries are
    // the first 3 tokens of every 100th doc; corpus tf shuffles once,
    // query side broadcasts, top-k runs as WindowGroupLimit.
    "bm25_topk" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val probes = docs.where(col("doc_id") % 100 === 7)
        .select(col("doc_id").as("query_id"),
          array_join(slice(regexp_extract_all(col("text"), lit("\\S+"),
            lit(0)), 1, 3), " ").as("qtext"))
      Retrieval.bm25TopK(docs, "doc_id", "text", probes, "query_id", "qtext")
        .select(col("query_id"), col("id").as("doc_id"), col("score"),
          col("rank"))
    }),

    // retrieval EVAL on top of bm25_topk: each probe's source doc is its
    // relevant answer; MRR@10 staged as exact ppm integers. The oracle
    // replays the whole bm25 chain plus the metric roll-up.
    "bm25_mrr" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val probes = docs.where(col("doc_id") % 100 === 7)
        .select(col("doc_id").as("query_id"),
          array_join(slice(regexp_extract_all(col("text"), lit("\\S+"),
            lit(0)), 1, 3), " ").as("qtext"))
      val topk = Retrieval.bm25TopK(docs, "doc_id", "text", probes,
        "query_id", "qtext")
      val rel = probes.select(col("query_id"), col("query_id").as("rel_doc"))
      Retrieval.mrrAtK(topk, "query_id", "id", "rank", rel,
        "query_id", "rel_doc", k = 10)
    }),

    // nDCG@10 over the bm25 ranking with a 3-doc relevance set per
    // query ({qid, qid+1, qid+2} — binary relevance for the eval
    // machinery): the log₂ discount rides a fixed-point weight TABLE
    // (computed once, shared with the oracle as literals) so the
    // metric is exact integer ppm, never a libm re-evaluation
    "bm25_ndcg" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val probes = docs.where(col("doc_id") % 100 === 7)
        .select(col("doc_id").as("query_id"),
          array_join(slice(regexp_extract_all(col("text"), lit("\\S+"),
            lit(0)), 1, 3), " ").as("qtext"))
      val topk = Retrieval.bm25TopK(docs, "doc_id", "text", probes,
        "query_id", "qtext")
      val rel = probes.select(col("query_id"),
          explode(array(col("query_id"), col("query_id") + 1,
            col("query_id") + 2)).as("rel_doc"))
      Retrieval.ndcgAtK(topk, "query_id", "id", "rank", rel,
        "query_id", "rel_doc", k = 10)
    }),

    // Winnowing fingerprints (the MOSS algorithm): min gram hash per
    // hash window, per-doc distinct — position-robust fingerprint
    // sampling with the shared-run guarantee. A fully NARROW plan; the
    // oracle replays gram hashing (the seed-42 chain both simhash and
    // minhash already gate) plus the window minima and the short-doc
    // degenerate case.
    "winnow_fingerprints" -> ((s, dir) => {
      Dedup.winnowingFingerprints(t(s, dir, "documents"), "doc_id", "text",
        ngram = 4, window = 4)
    }),

    // Robust MAD outlier stats per event type (median absolute
    // deviation — the robust z-score): TWO passes of the exact grouped
    // quantile machinery (median, then median deviation), quantized
    // integers end to end, 3×MAD flag counts per type
    "value_mad_outliers" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"),
        round(col("value") * 1000).cast("long").as("v"))
      // both quantile frames are |event_types| rows but lazily wrap a
      // full group-windowed pass — pin them so the pass runs once, not
      // once per downstream consumer (mad's window re-evaluates med,
      // the final aggregate re-evaluates both)
      val med = Sketches.exactQuantilesByGroup(ev, col("event_type"),
          col("v"), Seq(0.5))
        .select(col("grp").as("event_type"), col("quantile").as("med"))
        .localCheckpoint(false)
      val withDev = ev.join(broadcast(med), "event_type")
        .withColumn("dev", abs(col("v") - col("med")))
      val mad = Sketches.exactQuantilesByGroup(withDev, col("event_type"),
          col("dev"), Seq(0.5))
        .select(col("grp").as("event_type"), col("quantile").as("mad"))
        .localCheckpoint(false)
      withDev.join(broadcast(mad), "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("dev") > lit(3) * col("mad"), 1L).otherwise(0L))
            .as("n_outliers"),
          min(col("med")).as("med"), min(col("mad")).as("mad"))
    }),

    // Key-skew profile over the event stream's user key: per-key count
    // quantiles, hottest-key ppm share — the pre-shuffle skew
    // diagnostic as a first-class operator, exact integers end to end.
    "key_skew_profile" -> ((s, dir) =>
      Sketches.keySkewProfile(t(s, dir, "events"), col("user_id"))),

    // Johnson-Lindenstrauss projection APPLY (dim reduction 64→8):
    // LCG-generated integer matrix as a literal, exact quantized dot
    // products, zero corpus exchanges — every output coordinate
    // replayed in DuckDB
    "embedding_projection" -> ((s, dir) =>
      Similarity.projectVectors(t(s, dir, "embeddings"), "vec_id",
        "embedding", Similarity.lcgMatrix(64, 8))),

    // k-means ASSIGNMENT over embeddings against a deterministic
    // 8-centroid table (topic bucketing / IVF partitioning as its own
    // operator): quantized int64 distances, argmin folded per-row over
    // a collected centroid literal — zero shuffles on the corpus scan.
    "kmeans_assign" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      val cents = embs.where(col("vec_id") % 97 === 3)
        .orderBy(col("vec_id")).limit(8)
      Retrieval.kmeansAssign(embs, "vec_id", "embedding",
        cents, "vec_id", "embedding")
    }),

    // IVF-PARTITIONED VECTOR LAKE: the corpus lands hive-partitioned by
    // its nearest-centroid cell (cluster=K directories); a probe
    // computes its nprobe=2 nearest cells and READS ONLY THOSE
    // DIRECTORIES (partition pruning applied to ANN — at 100 TB the
    // other cells cost zero IO), then ranks candidates by quantized dot.
    // Integer metric end to end; DuckDB replays assignment, cell
    // choice, and ranking.
    "ivf_partitioned_probe" -> ((s, dir) => {
      val out = Queries.processTmpDir(s, "ivflake", dir)
      val embs = t(s, dir, "embeddings")
      val cents = embs.where(col("vec_id") % 97 === 3)
        .orderBy(col("vec_id")).limit(8)
      Retrieval.kmeansAssign(embs, "vec_id", "embedding",
          cents, "vec_id", "embedding")
        .join(embs.select(col("vec_id"), col("embedding")), Seq("vec_id"))
        .select(col("vec_id"), col("cluster"), col("embedding"))
        .write.partitionBy("cluster").parquet(out)
      // probe = vector 7; its 2 nearest cells from the k collected
      // centroids (bounded driver state, the k-means contract)
      val quant: Column => Column =
        v => transform(v, x => round(x.cast("double") * 1000).cast("long"))
      val qv = embs.where(col("vec_id") === 7)
        .select(quant(col("embedding")).as("qv")).collect()(0)
        .getSeq[Long](0)
      val centArr = cents
        .select(col("vec_id").cast("long").as("cid"),
          quant(col("embedding")).as("cv")).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1)))
        .map { case (cid, cv) =>
          val d2 = cv.zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum
          (d2, cid)
        }.sorted.take(2).map(_._2)
      val qlit = array(qv.map(lit(_)): _*)
      val w = Window.orderBy(col("dot").desc, col("c_id"))
      Queries.collectAndClean(s, out, s.read.parquet(out)
        .where(col("cluster").isin(centArr: _*)) // directory pruning
        .select(col("vec_id").as("c_id"), col("cluster"),
          aggregate(zip_with(quant(col("embedding")), qlit,
            (a, b) => a * b), lit(0L), (acc, x) => acc + x).as("dot"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= 5)
        .select(col("c_id"), col("cluster").cast("long").as("cluster"),
          col("dot"), col("rank")))
    }),

    // epoch-mixture materialization: source srcN sees (N % 3) + 1
    // training epochs — each doc repeats per epoch with its index, via
    // a narrow per-row sequence explode (no shuffle; the row blow-up IS
    // the epoch budget).
    "mixture_epochs" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("source"))
      val epochs = substring(col("source"), 4, 10).cast("int") % 3 + 1
      Sampling.epochMixture(docs, epochs)
        .select(col("doc_id"), col("source"), col("epoch").cast("long").as("epoch"))
    }),

    // metadata-FILTERED vector search (hybrid retrieval: "most similar
    // within my topic"): candidates equi-join the query on label — the
    // per-label bucket IS the join key, so the corpus partitions by
    // label instead of a full cross join — then quantized-dot top-5.
    "ann_filtered_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id").as("c_id"),
        col("embedding").as("c_vec"), col("label").as("c_label"))
      val probes = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
          col("label").as("q_label"))
      val scored = probes.join(corpus,
          col("q_label") === col("c_label") && col("q_id") =!= col("c_id"))
        .withColumn("dot", Tx.quantized_dot(col("q_vec"), col("c_vec"), 1000.0))
      val w = Window.partitionBy(col("q_id")).orderBy(col("dot").desc, col("c_id"))
      scored.withColumn("rank", row_number().over(w))
        .where(col("rank") <= 5)
        .select(col("q_id"), col("c_id"), col("dot"), col("rank"))
    }),

    // column-level data-quality profile (the dataset-card staple):
    // total / null / exact-distinct counts per column in one
    // aggregation pass (Expand-planned multi-distinct), long-form rows.
    "column_profile" -> ((s, dir) => {
      val base = t(s, dir, "orders").select(col("o_custkey"),
        expr("nullif(o_orderstatus, 'F')").as("status"),
        col("o_orderpriority"))
      Sketches.columnProfile(base,
        Seq("o_custkey", "status", "o_orderpriority"))
    }),

    // dataset snapshot diff (the versioning primitive of iterative
    // curation): old = docs mod5!=4, new = docs mod5!=3 with every 7th
    // text revised — classify added/removed/changed/unchanged via one
    // full-outer join on (id, content-hash) projections.
    "snapshot_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val oldSnap = docs.where(col("doc_id") % 5 =!= 4)
      val newSnap = docs.where(col("doc_id") % 5 =!= 3)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" [v2]")))
            .otherwise(col("text")).as("text"))
      Retrieval.snapshotDiff(oldSnap, newSnap, "doc_id", Seq("text"))
        .select(col("id").as("doc_id"), col("status"))
    }),

    // CDC changelog APPLY (Retrieval.applyChangelog) — the MERGE INTO
    // / upsert shape: a synthetic changelog with two-version updates
    // (latest wins), deletes, a delete-then-update conflict (the later
    // update must resurrect the row), and inserts of new keys, folded
    // into the documents snapshot. The engine's map-side struct-max
    // latest-row pick must equal the oracle's window-rank formulation.
    "cdc_apply_latest" -> ((s, dir) => {
      val snap = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        col("n_chars"))
      Retrieval.applyChangelog(snap, cdcChangelog(snap),
        "doc_id", "ts", "seq", "op")
    }),

    // The STREAMING upsert sink on the same oracle: the landing table
    // stores one (ts, seq, op, payload) row per key INCLUDING "D"
    // tombstones, and each micro-batch folds in via the
    // split-invariant Retrieval.mergeVersioned (per-key struct max is
    // associative+commutative, so ANY batch split — or out-of-order
    // batches — converges to the identical table; an old update can
    // never resurrect a newer delete). Final view (op != 'D') must
    // hash-match the one-shot batch apply — merge-on-read CDC as a
    // checked property.
    "stream_cdc_upsert" -> ((s, dir) => {
      val landing = Queries.processTmpDir(s, "cdc_landing", dir)
      // init: the snapshot itself as version (0, 0, 'I') rows
      t(s, dir, "documents")
        .select(col("doc_id"), lit(0).as("ts"), lit(0).as("seq"),
          lit("I").as("op"), col("lang"), col("n_chars"))
        .write.parquet(landing)
      val schema = t(s, dir, "documents").schema
      val chg = cdcChangelog(
        s.readStream.schema(schema)
          .option("pathGlobFilter", "documents.parquet").parquet(dir)
          .select(col("doc_id"), col("lang"), col("n_chars")))
      val qName = "graft_stream_cdc_upsert"
      s.streams.active.filter(q => q.name == qName).foreach(_.stop())
      Queries.streamScoped(s) {
        val q = chg.writeStream.queryName(qName)
          .foreachBatch { (batch: DataFrame, _: Long) =>
            // recoverable swap (the sidecar writer's discipline): merge
            // into a FRESH directory first, so a COMPLETE table exists on
            // disk at every instant — mode("overwrite") would delete the
            // old files while the new write could still fail, losing the
            // table outright. The delete→move window can still leave only
            // the ".next" dir at a crash (old gone, new not yet renamed),
            // but the data survives there for manual recovery
            val tmp = new java.io.File(landing + ".next")
            org.apache.commons.io.FileUtils.deleteQuietly(tmp)
            Retrieval.mergeVersioned(s.read.parquet(landing), batch,
                "doc_id", "ts", "seq", "op")
              .write.parquet(tmp.getPath)
            org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(landing))
            org.apache.commons.io.FileUtils.moveDirectory(tmp, new java.io.File(landing))
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      Queries.collectAndClean(s, landing,
        s.read.parquet(landing).where(col("op") =!= "D")
          .select(col("doc_id"), col("lang"), col("n_chars")))
    }),

    // content-defined chunking: corpus plus PREFIX-SHIFTED copies —
    // CDC boundaries re-synchronize after the insertion (the dedup
    // property fixed-size chunking lacks); every chunk of every doc is
    // hash-compared against DuckDB replaying the same window-hash
    // arithmetic
    "cdc_chunks" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = d.unionAll(d.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(lit("XYZ PREFIX "), col("text")).as("text")))
      corpus.select(col("doc_id"),
          posexplode(TextAnalysis.cdcChunks(col("text"), window = 8, maskBits = 5)))
        .select(col("doc_id"), (col("pos") + 1).as("chunk_idx"),
          col("col").as("chunk"))
    }),

    // chunk-level dedup over the CDC boundaries: prefix-shifted copies
    // lose exactly their copied span (boundaries re-sync) and keep the
    // novel prefix — partial-copy stripping that paragraph dedup and
    // whole-doc dedup both miss
    "cdc_chunk_dedup" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = d.unionAll(d.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(lit("XYZ PREFIX "), col("text")).as("text")))
      Dedup.dedupCdcChunks(corpus, "doc_id", "text",
        window = 8, maskBits = 5)
    }),

    // in-document line dedup (the C4/Gopher removal op, not just the
    // stats): docs repeat their own text as lines 2 and 4; the deduped
    // text must keep exactly first occurrences in order
    "dedup_lines_in_doc" -> ((s, dir) => {
      val id = col("doc_id")
      val ptext = concat(col("text"), lit("\n"), col("text"),
        when(id % 3 === 0, concat(lit("\nunique tail "), id.cast("string")))
          .otherwise(lit("")),
        lit("\n"), col("text"))
      val d = t(s, dir, "documents").select(id, ptext.as("ptext"))
      d.select(col("doc_id"),
        Scrub.dedupLinesInDoc(col("ptext")).as("text"))
    }),

    // HTML -> text extraction (the WET step): docs wrapped in a full
    // page — script with a '<' in code, style, comment, heading, and
    // (every 4th doc) an entity gauntlet including the &amp;lt; double
    // -decode trap — must come back as clean text. Both engines replay
    // the identical wrap + strip rules (shared regex dialect).
    "html_text_extract" -> ((s, dir) => {
      val id = col("doc_id")
      val page = concat(
        lit("<html><head><script type=\"text/javascript\">var x = 1 < 2;" +
          "</script><style>.m{color:#fff}</style><!-- nav --></head>" +
          "<body><h1>Doc "),
        id.cast("string"), lit("</h1><p>"), col("text"), lit("</p>"),
        when(id % 4 === 0,
          lit("<p>a &amp; b &lt;tag&gt; &quot;q&quot; &#39;s&#39;" +
            "&nbsp;end tricky &amp;lt;notag&amp;gt;</p>"))
          .otherwise(lit("")),
        lit("</body></html>"))
      t(s, dir, "documents")
        .select(id, Scrub.stripHtml(page).as("text"))
    }),

    // per-domain boilerplate line removal (CCNet-style): every doc of a
    // source shares a copyright line, every even doc a subscribe line —
    // both cross the minDocs=5 threshold within their 25-doc source and
    // must drop; the body and the per-doc ref line are unique and must
    // survive in order. The oracle recomputes the same frequency rule
    // with NOT EXISTS + ordered string_agg.
    "boilerplate_lines" -> ((s, dir) => {
      val id = col("doc_id")
      val ptext = concat(
        lit("(c) "), col("source"), lit(" rights reserved\n"),
        col("text"), lit("\n"),
        when(id % 2 === 0,
          concat(lit("subscribe to "), col("source"), lit("\n")))
          .otherwise(lit("")),
        lit("ref "), id.cast("string"))
      val d = t(s, dir, "documents")
        .select(id, col("source"), ptext.as("text"))
      Scrub.removeBoilerplate(d, "doc_id", "text", "source", minDocs = 5L)
        .select(col("doc_id"), col("text"))
    }),

    // embedding-norm outlier filter: quantized squared norms (exact
    // integers in any engine) -> exact distributed 0.9-quantile
    // threshold -> keep the central mass. The "drop degenerate/outlier
    // vectors before indexing" curation step, composing the quantized
    // arithmetic with the exact-quantile machinery
    "embed_norm_filter" -> ((s, dir) => {
      // lazy localCheckpoint: norms feed the quantile's rank pass AND
      // the final filter — without the pin the 64-dim dot products run
      // twice over the corpus (two narrow longs per row pinned instead)
      val norms = t(s, dir, "embeddings").select(col("vec_id"),
        Tx.quantized_dot(col("embedding"), col("embedding"))
          .cast("long").as("qnorm"))
        .localCheckpoint(false)
      val thr = Sketches.exactQuantiles(norms, col("qnorm"), Seq(0.9))
        .select(col("quantile").as("__thr"))
      norms.crossJoin(broadcast(thr))
        .where(col("qnorm") <= col("__thr"))
        .select(col("vec_id"), col("qnorm"))
    }),

    // EXACT global discrete quantiles with NO single-task window: the
    // two-pass distributed rank selects the ceil(p*n)-th value — the
    // exact-at-any-scale complement to the sketch path (whose
    // exact-degenerate config only holds while groups fit the accuracy)
    "exact_quantiles_global" -> ((s, dir) =>
      Sketches.exactQuantiles(t(s, dir, "events"), col("value"),
        Seq(0.25, 0.5, 0.9))),

    // per-group exact quantiles: group-partitioned rank window
    // (distributed across groups) + rank-selection filter
    "exact_quantiles_group" -> ((s, dir) =>
      Sketches.exactQuantilesByGroup(t(s, dir, "events"),
        col("event_type"), col("value"), Seq(0.25, 0.5, 0.9))),

    // vocabulary coverage curve (tokenizer sizing): top-v term share of
    // all token occurrences, distributed term rank, one aggregate pass
    "vocab_coverage" -> ((s, dir) =>
      TextAnalysis.vocabCoverage(t(s, dir, "documents"), "text",
        Seq(5, 10, 20))),

    // Unicode NFC composition stats: planted decomposed sequences
    // (e + U+0301, A + U+030A) shrink by exactly one code point each
    // under canonical composition — both engines implement the same
    // Unicode transformation
    "nfc_stats" -> ((s, dir) => {
      val id = col("doc_id")
      // the suffix literals below are the DECOMPOSED forms (e + U+0301,
      // A + U+030A) — visually identical to the composed glyphs
      val ptext = concat(col("text"),
        when(id % 4 === 0, lit(" café")).otherwise(lit("")),
        when(id % 6 === 0, lit(" Ångstrom")).otherwise(lit("")))
      t(s, dir, "documents").select(id, ptext.as("ptext"))
        .select(col("doc_id"),
          length(col("ptext")).as("len_raw"),
          length(Scrub.nfc(col("ptext"))).as("len_nfc"),
          (length(col("ptext")) - length(Scrub.nfc(col("ptext"))))
            .as("composed"))
    }),

    // NFC-invariant exact dedup: originals carry a DECOMPOSED suffix,
    // planted copies the COMPOSED form of the same suffix — byte-level
    // different, canonically equal, so every copy must collapse onto
    // its original after Scrub.nfc
    "nfc_dedup" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      // originals get the DECOMPOSED suffix (e + U+0301), copies the
      // COMPOSED one (U+00E9) — visually identical, byte-different
      val originals = d.select(col("doc_id"),
        concat(col("text"), lit(" café")).as("ptext"))
      val copies = d.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" café")).as("ptext"))
      Dedup.exact(
          originals.unionAll(copies)
            .withColumn("__k", Scrub.nfc(col("ptext"))),
          "__k", "doc_id")
        .select(col("doc_id"))
    }),

    // hashed-feature linear classifier scoring (fastText quality-model
    // shape): per-token fingerprint -> bucket weight lookup -> doc sum,
    // ONE narrow projection (model = literal array, no join); DuckDB
    // recomputes the fingerprint in HUGEINT arithmetic over the same
    // literal weight table
    "quality_linear_score" -> ((s, dir) => {
      val toks = TextAnalysis.tokenCount(col("text"))
      val score = TextAnalysis.hashedLinearScore(col("text"),
        TextAnalysis.demoQualityWeights)
      t(s, dir, "documents").select(col("doc_id"),
        toks.as("n_tokens"), score.as("score"),
        when(toks > 0, floor(score * 100 / toks)).otherwise(lit(0))
          .cast("long").as("avg_x100"))
    }),

    // DSIR-style importance weights (Data Selection via Importance
    // Resampling): hashed-unigram target (lang='en') vs raw bucket
    // distributions -> integer floor-log2 ratio model (<= 64 rows,
    // broadcast) -> per-doc token-sum log-weight. All-integer
    // arithmetic; DuckDB replays the token fingerprint CLOSED-FORM
    // (power-table recursive CTE + list_sum — no list_reduce)
    "dsir_logweights" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val target = t(s, dir, "documents").where(col("lang") === "en")
        .select(col("doc_id"), col("text"))
      TextAnalysis.importanceWeights(d, "doc_id", "text",
          TextAnalysis.importanceModel(d, target, "text", buckets = 64),
          buckets = 64)
        .withColumnRenamed("id", "doc_id")
    }),

    // the resampling end-to-end: keep the most target-like half at the
    // exact distributed median of logweight (>= threshold: ties keep
    // more, never less — same convention as the oracle's quantile_disc)
    "dsir_resample" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val target = t(s, dir, "documents").where(col("lang") === "en")
        .select(col("doc_id"), col("text"))
      TextAnalysis.importanceResample(d, target, "doc_id", "text",
          buckets = 64, keepFraction = 0.5)
        .withColumnRenamed("id", "doc_id")
    }),

    // incremental snapshot dedup: docs with id%3==0 are the "existing
    // corpus"; the new batch is everything else plus planted copies of
    // half the corpus (id+200000, same text) — exactly those copies
    // must vanish
    "incremental_dedup" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = d.where(col("doc_id") % 3 === 0)
      val fresh = d.where(col("doc_id") % 3 =!= 0)
        .unionAll(corpus.where(col("doc_id") % 2 === 0)
          .select((col("doc_id") + 200000).as("doc_id"), col("text")))
      Dedup.againstCorpus(fresh, corpus, "text")
        .select(col("doc_id"))
    }),

    // the sort-merge-bucket layout for RECURRING cross-snapshot dedup:
    // corpus hashes persist bucketed+sorted, the probe shuffles ONLY
    // the new batch — pinned to the SAME oracle as incremental_dedup
    // (its timing covers the whole save+probe lifecycle, like
    // sjoin_bucketed)
    "incremental_dedup_bucketed" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = d.where(col("doc_id") % 3 === 0)
      val fresh = d.where(col("doc_id") % 3 =!= 0)
        .unionAll(corpus.where(col("doc_id") % 2 === 0)
          .select((col("doc_id") + 200000).as("doc_id"), col("text")))
      val table = "graft_bucketed_corpus"
      Dedup.saveCorpusBucketedByHash(corpus, "text", table, numBuckets = 8)
      Dedup.againstCorpusBucketed(fresh, table, "text")
        .select(col("doc_id"))
    }),

    // the Bloom pre-split path must return the IDENTICAL survivor set
    // (no false negatives; false positives cleared by the exact join)
    "incremental_dedup_bloom" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = d.where(col("doc_id") % 3 === 0)
      val fresh = d.where(col("doc_id") % 3 =!= 0)
        .unionAll(corpus.where(col("doc_id") % 2 === 0)
          .select((col("doc_id") + 200000).as("doc_id"), col("text")))
      Dedup.againstCorpusBloom(fresh, corpus, "text")
        .select(col("doc_id"))
    })
  )

  // ---- oracle SQL -------------------------------------------------------

  private def occSql(padded: String, w: String): String =
    s"CAST((length($padded)-length(replace($padded,'$w','')))/${w.length} AS INT)"

  private def langScoreSql(lang: String): String =
    TextAnalysis.langStopwords(lang).map(w => occSql("p", w)).mkString("(", " + ", ")")

  private val langCase: String = {
    val langs = Seq("en", "de", "fr", "es")
    val best = "greatest(" + langs.map(l => s"s_$l").mkString(",") + ")"
    val whens = langs.map(l => s"WHEN s_$l = $best AND $best > 0 THEN '$l'").mkString(" ")
    s"CASE $whens ELSE 'unknown' END"
  }

  // regex patterns shared VERBATIM with the Spark side (Scrub.*) — the
  // common Java/RE2 dialect, injected into the SQL as-is (DuckDB string
  // literals do not process backslashes)
  private val emailSql = Scrub.emailPattern
  private val phoneSql = Scrub.phonePattern
  private val ipv4Sql = Scrub.ipv4Pattern
  private val urlSql = Scrub.urlHostPattern

  // count–min sketch replay: cells = counts of (row, top-10-bits of
  // gfp·C_d mod 2^64) over the seed-42 token-hash chain; probe hashes
  // recomputed from the token STRINGS through the same two-stage fold,
  // estimate = min over the 4 cells. 2^54 = the bucket shift for
  // logWidth 10.
  private lazy val cmsTokenOracle: String = {
    def bucket(gfpHugeint: String): String =
      s"CAST((${Fp.mulmodVar(gfpHugeint, "c.c")}) // 18014398509481984" +
        " AS BIGINT)"
    s"""WITH RECURSIVE ${Fp.powsCte(4096)},
       ${gramHashCtes(1)},
       cdef(d, c) AS (VALUES
         (0, CAST(2654435761 AS HUGEINT)), (1, CAST(2246822519 AS HUGEINT)),
         (2, CAST(3266489917 AS HUGEINT)), (3, CAST(668265263 AS HUGEINT))),
       cells AS (
         SELECT c.d, ${bucket("CAST(g.gfp AS HUGEINT)")} AS bucket,
                count(*) AS cnt
         FROM ghash g CROSS JOIN cdef c
         GROUP BY 1, 2),
       truth0 AS (
         SELECT tok, count(*) AS true_n FROM toks2
         GROUP BY tok ORDER BY true_n DESC, tok LIMIT 50),
       truth AS (
         SELECT * FROM truth0
         UNION ALL SELECT 'zzzunseenprobe', CAST(0 AS BIGINT)),
       ptr AS (
         SELECT tok, true_n,
                ${Fp.polyFold("list_transform(range(1, length(tok)+1), " +
                  "i -> CAST(ord(substr(tok, i, 1)) AS HUGEINT))")} AS r
         FROM truth CROSS JOIN pw),
       pth AS (SELECT tok, true_n,
               ${Fp.mix64Stages("CAST(r AS UBIGINT)", "t")}
               FROM ptr),
       pgr AS (SELECT tok, true_n,
               ${Fp.polyFold("[CAST(tfp AS HUGEINT)]")} AS r
               FROM pth CROSS JOIN pw),
       pgh AS (SELECT tok, true_n,
               ${Fp.mix64Stages("CAST(r AS UBIGINT)", "g")}
               FROM pgr)
       SELECT p.tok, p.true_n,
              min(coalesce(cl.cnt, CAST(0 AS BIGINT))) AS est_n
       FROM pgh p CROSS JOIN cdef c
       LEFT JOIN cells cl
         ON cl.d = c.d AND cl.bucket = ${bucket("CAST(p.gfp AS HUGEINT)")}
       GROUP BY 1, 2"""
  }

  // shared by ann_cosine_topk and the exact-degenerate IVF/PQ configs
  // (nprobe = nlist / refine set = whole corpus reproduce brute force)
  private val bruteForceCosineOracle =
    """SELECT q_id, c_id, cosine, rank FROM (
         SELECT q.vec_id AS q_id, c.vec_id AS c_id,
                round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                             CAST(c.embedding AS DOUBLE[])), 12) AS cosine,
                row_number() OVER (PARTITION BY q.vec_id
                                   ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                                         CAST(c.embedding AS DOUBLE[])), 12) DESC,
                                            c.vec_id) AS rank
         FROM embeddings q, embeddings c WHERE q.vec_id < 10
       ) WHERE rank <= 5"""

  // ---- ann_srp_topk full replay --------------------------------------
  // The SRP pipeline bit-for-bit in DuckDB: sign table = mix64(seed ^
  // (j<<32) ^ d) & 1 over the 8 band seeds x 12 bits x 64 dims (the
  // ORACLE goes all-pairs on this grid; the engine caches it per
  // executor), bucket bits = signs of EXACT integer sums over
  // round(x*2^20)-quantized components (order-independent, so the
  // GROUP BY replays the engine's sequential fold exactly), candidates
  // = band collisions, then the same round-12 cosine refine + top-k as
  // the brute-force oracle.
  private lazy val srpTopkOracle: String =
    s"""WITH sgrid AS (
         SELECT band, seed, j, d
         FROM (VALUES (0,1),(1,2),(2,3),(3,4),(4,5),(5,6),(6,7),(7,8))
              b(band, seed),
              range(0, 12) t1(j), range(0, 64) t2(d)),
       sraw AS (
         SELECT band, j, d,
                xor(xor(CAST(seed AS BIGINT),
                        CAST(j AS BIGINT) * 4294967296), CAST(d AS BIGINT))
                  AS z
         FROM sgrid),
       shash AS (
         SELECT band, j, d,
         ${Fp.mix64Stages("CAST(z AS UBIGINT)", "s")}
         FROM sraw),
       signs AS (
         SELECT band, j,
                list(CASE WHEN sfp % 2 = 1 THEN CAST(1 AS BIGINT)
                          ELSE CAST(-1 AS BIGINT) END ORDER BY d) AS sg
         FROM shash GROUP BY band, j),
       qz AS (
         SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
                  x -> CAST(round(x * 1048576) AS BIGINT)) AS q
         FROM embeddings),
       proj AS (
         SELECT v.vec_id, g.band, g.j,
                list_sum(list_transform(range(1, len(v.q) + 1),
                  i -> g.sg[i] * v.q[i])) AS y
         FROM qz v CROSS JOIN signs g),
       bkts AS (
         SELECT vec_id, band,
                CAST(sum(CASE WHEN y > 0 THEN (CAST(1 AS BIGINT) << j)
                              ELSE 0 END) AS BIGINT) AS bucket
         FROM proj GROUP BY vec_id, band),
       cand AS (
         SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS c_id
         FROM bkts q JOIN bkts c ON q.band = c.band AND q.bucket = c.bucket
         WHERE q.vec_id < 10),
       srp_scored AS (
         SELECT cd.q_id, cd.c_id,
                round(list_cosine_similarity(
                  CAST(qe.embedding AS DOUBLE[]),
                  CAST(ce.embedding AS DOUBLE[])), 12) AS cosine
         FROM cand cd
         JOIN embeddings qe ON qe.vec_id = cd.q_id
         JOIN embeddings ce ON ce.vec_id = cd.c_id)
       SELECT q_id, c_id, cosine, rank FROM (
         SELECT q_id, c_id, cosine,
                row_number() OVER (PARTITION BY q_id
                                   ORDER BY cosine DESC, c_id) AS rank
         FROM srp_scored) WHERE rank <= 5"""

  // ---- ann_ivf_topk full replay --------------------------------------
  // Centroids = the mix64-hash-ordered orderBy/limit sample the engine
  // takes (signed pmod replayed from the UBIGINT avalanche), cell
  // assignment = per-vector argmax cosine with ties to the HIGHER cell
  // (the engine's greatest(struct) lexicographic order), probes = each
  // query's top-4 cells under the same order, then the round-12 cosine
  // refine + top-k.
  private lazy val ivfTopkOracle: String =
    s"""WITH ch AS (
         SELECT vec_id, embedding,
         ${Fp.mix64Stages("CAST(vec_id AS UBIGINT)", "c")}
         FROM embeddings),
       csel AS (
         SELECT vec_id, embedding,
                ((CASE WHEN cfp >= 9223372036854775808
                       THEN CAST(cfp AS HUGEINT) - ${Fp.MOD}
                       ELSE CAST(cfp AS HUGEINT) END % 1000003) + 1000003)
                  % 1000003 AS h
         FROM ch),
       cents AS (
         SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS BIGINT)
                  AS cell,
                CAST(embedding AS DOUBLE[]) AS cv
         FROM csel ORDER BY h, vec_id LIMIT 16),
       asg AS (
         SELECT vec_id, cell FROM (
           SELECT e.vec_id, ct.cell,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY round(list_cosine_similarity(
                      CAST(e.embedding AS DOUBLE[]), ct.cv), 12) DESC,
                    ct.cell DESC) AS rn
           FROM embeddings e CROSS JOIN cents ct)
         WHERE rn = 1),
       probes AS (
         SELECT vec_id AS q_id, cell FROM (
           SELECT e.vec_id, ct.cell,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY round(list_cosine_similarity(
                      CAST(e.embedding AS DOUBLE[]), ct.cv), 12) DESC,
                    ct.cell DESC) AS rn
           FROM embeddings e CROSS JOIN cents ct
           WHERE e.vec_id < 10)
         WHERE rn <= 4),
       cand AS (
         SELECT p.q_id, a.vec_id AS c_id
         FROM probes p JOIN asg a USING (cell)),
       ivf_scored AS (
         SELECT cd.q_id, cd.c_id,
                round(list_cosine_similarity(
                  CAST(qe.embedding AS DOUBLE[]),
                  CAST(ce.embedding AS DOUBLE[])), 12) AS cosine
         FROM cand cd
         JOIN embeddings qe ON qe.vec_id = cd.q_id
         JOIN embeddings ce ON ce.vec_id = cd.c_id)
       SELECT q_id, c_id, cosine, rank FROM (
         SELECT q_id, c_id, cosine,
                row_number() OVER (PARTITION BY q_id
                                   ORDER BY cosine DESC, c_id) AS rank
         FROM ivf_scored) WHERE rank <= 5"""

  // ---- doc_fingerprint64 differential oracle ---------------------------
  // DuckDB reimplementation of TextEval.fingerprint (GeomEval.scala):
  // per-token byte-rolling hash h = h*P + byte (mod 2^64) finished with
  // the splitmix64 avalanche, then the same fold over the ordered token
  // hashes. DuckDB has no wrapping 64-bit arithmetic, so every multiply
  // is split into 32-bit halves and reduced mod 2^64 in HUGEINT:
  //   a*C mod 2^64 = (lo(a)*C  +  (lo(a)*hi(C) + hi(a)*lo(C) mod 2^32)<<32) mod 2^64
  // All folds keep the accumulator a plain lambda variable, so the
  // generated SQL stays linear in size (no expression blowup); the
  // mix64 stages go through lateral column aliases for the same reason.
  // Documents are pure ASCII (verified), so ord(char) == UTF-8 byte.
  private object Fp {
    val P = 1099511628211L // 0x100000001b3
    val MOD = "18446744073709551616" // 2^64
    val B32 = "4294967296" // 2^32

    /** (acc*P + b) mod 2^64; acc, b HUGEINT in [0, 2^64). */
    def mulmodPPlus(acc: String, b: String): String =
      s"((($acc) // $B32 * $P % $B32) * $B32" +
        s" + (($acc) % $B32) * $P + ($b)) % $MOD"

    /** a*b mod 2^64 for two in-range HUGEINT values (split one factor
      * at 32 bits so no intermediate exceeds HUGEINT). */
    def mulmodVar(a: String, b: String): String =
      s"((($a) % $B32) * ($b)" +
        s" + (($a) // $B32) * (($b) % $B32) % $B32 * $B32) % $MOD"

    /** The polynomial closed form of the sequential seed-42 fold
      * h = fold(h*P + x) over `xs` (a list of HUGEINT in [0, 2^64)):
      * h = 42·P^L + Σ xs[i]·P^(L−i) (mod 2^64). `pl` must be the
      * power-table list with pl[k+1] = P^k mod 2^64 (the recursive
      * `powsCte` below). Exact algebraic expansion — replaces
      * list_reduce, which DuckDB 1.0.0 corrupts in fused plans. */
    def polyFold(xs: String, pl: String = "pl"): String =
      s"""(CAST(42 AS HUGEINT) * $pl[len($xs) + 1]
           + list_sum(list_transform(range(1, len($xs) + 1),
               i -> ${mulmodVar(s"($xs)[i]", s"$pl[len($xs) - i + 1]")})))
          % $MOD"""

    /** Recursive CTE producing the P-power table `pw(pl)` with
      * pl[k+1] = P^k mod 2^64, k <= maxExp. */
    def powsCte(maxExp: Int): String =
      s"""pows(k, v) AS (
           SELECT 0, CAST(1 AS HUGEINT)
           UNION ALL SELECT k + 1, (v * $P) % $MOD
           FROM pows WHERE k < $maxExp),
         pw AS (SELECT list(v ORDER BY k) AS pl FROM pows)"""

    /** z*C mod 2^64 for a full 64-bit constant C; z UBIGINT. */
    private def mulmod64(z: String, c: java.math.BigInteger): String = {
      val ch = c.shiftRight(32).toString
      val cl = c.and(java.math.BigInteger.valueOf(0xffffffffL)).toString
      val hz = s"CAST($z AS HUGEINT)"
      s"CAST((($hz % $B32) * $cl" +
        s" + (($hz % $B32) * $ch + ($hz // $B32) * $cl) % $B32 * $B32)" +
        s" % $MOD AS UBIGINT)"
    }

    private val C1 = new java.math.BigInteger("bf58476d1ce4e5b9", 16)
    private val C2 = new java.math.BigInteger("94d049bb133111eb", 16)

    /** splitmix64 finisher as lateral-alias SELECT stages; input `z`
      * UBIGINT, output alias `${pfx}fp`. */
    def mix64Stages(z: String, pfx: String): String = Seq(
      s"xor($z, $z >> 30) AS ${pfx}a1",
      s"${mulmod64(s"${pfx}a1", C1)} AS ${pfx}z1",
      s"xor(${pfx}z1, ${pfx}z1 >> 27) AS ${pfx}a2",
      s"${mulmod64(s"${pfx}a2", C2)} AS ${pfx}z2",
      s"xor(${pfx}z2, ${pfx}z2 >> 31) AS ${pfx}fp").mkString(",\n         ")

    /** mix64 on the JVM — the zero-token fallback constant. */
    private def mix64(z0: Long): Long = graft.functions.TextHashing.mix64(z0)
    val emptyFp: Long = mix64(42L)
  }

  // Both folds (per-token over chars, per-doc over token fingerprints)
  // are replayed via Fp.polyFold's closed form — list_reduce is banned
  // in oracles (DuckDB 1.0.0 corrupts its accumulator in fused plans,
  // see the CDC oracle note).
  private val fingerprintOracle: String =
    s"""WITH RECURSIVE ${Fp.powsCte(4096)},
       toks AS (
         SELECT doc_id, unnest(ts) AS tok, generate_subscripts(ts, 1) AS pos
         FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts
               FROM documents)),
       toks2 AS (SELECT doc_id, tok, pos FROM toks WHERE tok <> ''),
       traw AS (
         SELECT doc_id, pos,
                ${Fp.polyFold(
                  "list_transform(range(1, length(tok)+1), " +
                    "i -> CAST(ord(substr(tok, i, 1)) AS HUGEINT))")} AS r
         FROM toks2 CROSS JOIN pw),
       thash AS (
         SELECT doc_id, pos,
         ${Fp.mix64Stages("CAST(r AS UBIGINT)", "t")}
         FROM traw),
       dlist AS (SELECT doc_id, list(CAST(tfp AS HUGEINT) ORDER BY pos) AS hs
                 FROM thash GROUP BY doc_id),
       draw AS (
         SELECT doc_id, ${Fp.polyFold("hs")} AS r
         FROM dlist CROSS JOIN pw),
       dhash AS (
         SELECT doc_id,
         ${Fp.mix64Stages("CAST(r AS UBIGINT)", "d")}
         FROM draw)
       SELECT d.doc_id,
              COALESCE(CAST(CASE WHEN h.dfp >= 9223372036854775808
                                 THEN CAST(h.dfp AS HUGEINT) - ${Fp.MOD}
                                 ELSE CAST(h.dfp AS HUGEINT) END AS BIGINT),
                       CAST(${Fp.emptyFp} AS BIGINT)) AS fp64
       FROM documents d LEFT JOIN dhash h USING (doc_id)"""

  /** Shared CTE chain ending in `ghash(doc_id, gpos, gfp)` — the
    * mix64-finished hash of every overlapping `ngram`-token gram of
    * every document, exactly TextHashing.tokenHashes + gramHash
    * (token byte-rolling hash → mix64, then the seed-42 polyFold over
    * the gram's token hashes → mix64). The prefix both the simhash and
    * minhash differential oracles replay. Must follow a
    * `WITH RECURSIVE ${Fp.powsCte(...)}` header (uses `pw`). */
  private def gramHashCtes(ngram: Int, src: String = "documents"): String =
    s"""toks AS (
         SELECT doc_id, unnest(ts) AS tok, generate_subscripts(ts, 1) AS pos
         FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts
               FROM $src)),
       toks2 AS (SELECT doc_id, tok, pos FROM toks WHERE tok <> ''),
       traw AS (
         SELECT doc_id, pos,
                ${Fp.polyFold(
                  "list_transform(range(1, length(tok)+1), " +
                    "i -> CAST(ord(substr(tok, i, 1)) AS HUGEINT))")} AS r
         FROM toks2 CROSS JOIN pw),
       thash AS (
         SELECT doc_id, pos,
         ${Fp.mix64Stages("CAST(r AS UBIGINT)", "t")}
         FROM traw),
       tlist AS (SELECT doc_id, list(CAST(tfp AS HUGEINT) ORDER BY pos) AS hs
                 FROM thash GROUP BY doc_id),
       graw AS (
         SELECT doc_id, unnest(range(1, len(hs) - ${ngram - 2})) AS gpos, hs
         FROM tlist WHERE len(hs) >= $ngram),
       graw2 AS (
         SELECT doc_id, gpos, ${Fp.polyFold(s"hs[gpos:gpos+${ngram - 1}]")} AS r
         FROM graw CROSS JOIN pw),
       ghash AS (
         SELECT doc_id, gpos,
         ${Fp.mix64Stages("CAST(r AS UBIGINT)", "g")}
         FROM graw2)"""

  private val signedMax = "9223372036854775808" // 2^63

  /** dHash replay over the synthetic-PNG pixel formula: 9×8 floor-map
    * luminance grid, adjacent-pair bits summed through a power-of-two
    * table, signed wrap — ends in `dfp(doc_id, dhash)` over base doc
    * ids. Must follow a `WITH RECURSIVE` header. */
  private val dhashCtes: String =
    s"""dp2(b, v) AS (
         SELECT 0, CAST(1 AS HUGEINT)
         UNION ALL SELECT b + 1, v * 2 FROM dp2 WHERE b < 63),
       dbase AS (SELECT doc_id, doc_id % 7 + 3 AS w, doc_id % 5 + 2 AS h
                 FROM documents),
       dg AS (
         SELECT b.doc_id, x.x AS gx, y.y AS gy,
                (b.doc_id * 31 + ((x.x * b.w) // 9) * 7
                 + ((y.y * b.h) // 8)) % 16777215 AS v
         FROM dbase b,
              LATERAL (SELECT unnest(range(0, 9)) AS x) x,
              LATERAL (SELECT unnest(range(0, 8)) AS y) y),
       dl AS (
         SELECT doc_id, gx, gy,
                299 * (v // 65536) + 587 * ((v // 256) % 256)
                + 114 * (v % 256) AS lum
         FROM dg),
       dbits AS (
         SELECT a.doc_id, a.gy * 8 + a.gx AS k,
                CASE WHEN a.lum < c.lum THEN 1 ELSE 0 END AS bit
         FROM dl a JOIN dl c
           ON c.doc_id = a.doc_id AND c.gy = a.gy AND c.gx = a.gx + 1
         WHERE a.gx < 8),
       dfp AS (
         SELECT doc_id,
                CAST(CASE WHEN u >= $signedMax THEN u - ${Fp.MOD}
                          ELSE u END AS BIGINT) AS dhash
         FROM (SELECT p.doc_id,
                      SUM(CASE WHEN p.bit = 1 THEN dp2.v
                               ELSE CAST(0 AS HUGEINT) END) AS u
               FROM dbits p JOIN dp2 ON dp2.b = p.k
               GROUP BY p.doc_id))"""

  /** Shared replay of the bm25TopK pipeline (tf/idf/dl/score/rank)
    * ending in `ranked(query_id, doc_id, score, rank)` — the bm25_topk
    * oracle and the bm25_mrr metric roll-up both build on it. */
  private val bm25Ctes: String =
    """WITH tf AS (
         SELECT doc_id AS id, term, count(*) AS tf
         FROM (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS term
               FROM documents)
         GROUP BY 1, 2),
       n AS (SELECT count(*) AS n FROM documents),
       idf AS (
         SELECT term,
                length(bin((SELECT n FROM n) // df)) - 1 + 1 AS idf
         FROM (SELECT term, count(*) AS df FROM tf GROUP BY term)),
       dl AS (SELECT id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY id),
       qt AS (
         SELECT doc_id AS query_id,
                unnest(list_distinct(regexp_extract_all(text, '\S+')[1:3])) AS term
         FROM documents WHERE doc_id % 100 = 7),
       sc AS (
         SELECT q.query_id, t.id,
                CAST(sum(t.tf * i.idf) AS BIGINT) AS num
         FROM tf t JOIN idf i USING (term) JOIN qt q USING (term)
         GROUP BY 1, 2),
       ranked AS (
         SELECT s.query_id, s.id AS doc_id,
                (1000 * s.num) // (50 + d.dl) AS score,
                row_number() OVER (
                  PARTITION BY s.query_id
                  ORDER BY (1000 * s.num) // (50 + d.dl) DESC, s.id) AS rank
         FROM sc s JOIN dl d USING (id))"""

  // simhash64 replay: per-bit ±1 votes over the gram hashes, sign of
  // each vote-sum sets the bit. Bit tests and reconstruction go through
  // a power-of-two table (HUGEINT // 2^b parity — no shift-semantics
  // dependence); docs with < ngram tokens have zero grams → fingerprint
  // 0, exactly the Scala empty-counts path.
  /** CTE chain from `src(doc_id, text)` to `sims(doc_id, simhash)` —
    * the full simhash64 replay. Must follow a
    * `WITH RECURSIVE ${Fp.powsCte(...)}` header. */
  private def simhashCtes(src: String): String =
    s"""p2(b, v) AS (
         SELECT 0, CAST(1 AS HUGEINT)
         UNION ALL SELECT b + 1, v * 2 FROM p2 WHERE b < 63),
       ${gramHashCtes(3, src)},
       bits AS (
         SELECT g.doc_id, p2.b,
                SUM(CASE WHEN (CAST(g.gfp AS HUGEINT) // p2.v) % 2 = 1
                         THEN 1 ELSE -1 END) AS vote
         FROM ghash g CROSS JOIN p2
         GROUP BY g.doc_id, p2.b),
       fp AS (
         SELECT bits.doc_id,
                SUM(CASE WHEN vote > 0 THEN p2.v ELSE CAST(0 AS HUGEINT) END) AS u
         FROM bits JOIN p2 USING (b)
         GROUP BY bits.doc_id),
       sims AS (
         SELECT d.doc_id,
                COALESCE(CAST(CASE WHEN f.u >= $signedMax
                                   THEN f.u - ${Fp.MOD} ELSE f.u END AS BIGINT),
                         0) AS simhash
         FROM $src d LEFT JOIN fp f ON f.doc_id = d.doc_id)"""

  private val simhashOracle: String =
    s"""WITH RECURSIVE ${Fp.powsCte(4096)},
       ${simhashCtes("documents")}
       SELECT doc_id, simhash FROM sims"""

  // the synthetic changelog shared by cdc_apply_latest (batch
  // snapshot source) and stream_cdc_upsert (readStream source) —
  // two-version updates, deletes, a delete-then-update resurrect,
  // absent-key inserts — over whatever (doc_id, lang, n_chars) source
  // `src` yields. BY-NAME on purpose: the streaming caller needs a
  // fresh file source per branch.
  private def cdcChangelog(src: => DataFrame): DataFrame = {
    def c(cond: Column, ts: Int, op: String, id: Column, lang: Column,
          nchars: Column) =
      src.where(cond).select(id.as("doc_id"), lit(ts).as("ts"),
        lit(0).as("seq"), lit(op).as("op"), lang.as("lang"),
        nchars.as("n_chars"))
    c(col("doc_id") % 7 === 1, 1, "U", col("doc_id"), col("lang"),
        col("n_chars") + 1000)
      .unionAll(c(col("doc_id") % 7 === 1, 2, "U", col("doc_id"),
        col("lang"), col("n_chars") + 2000))
      .unionAll(c(col("doc_id") % 11 === 3, 3, "D", col("doc_id"),
        col("lang"), col("n_chars")))
      .unionAll(c(col("doc_id") % 13 === 5, 4, "D", col("doc_id"),
        col("lang"), col("n_chars")))
      .unionAll(c(col("doc_id") % 13 === 5, 5, "U", col("doc_id"),
        col("lang"), col("n_chars") + 7))
      .unionAll(c(col("doc_id") % 17 === 2, 1, "I",
        col("doc_id") + 500000, lit("xx"), col("doc_id")))
  }

  // shared by the one-shot batch changelog apply and the streaming
  // versioned-merge upsert sink: both must produce the identical
  // latest-wins view of cdcChangelog's synthetic changelog
  private val cdcApplyOracle: String =
    """WITH snap AS (SELECT doc_id, lang, n_chars FROM documents),
       chg AS (
         SELECT doc_id, 1 AS ts, 0 AS seq, 'U' AS op, lang,
                n_chars + 1000 AS n_chars FROM snap WHERE doc_id % 7 = 1
         UNION ALL SELECT doc_id, 2, 0, 'U', lang, n_chars + 2000
           FROM snap WHERE doc_id % 7 = 1
         UNION ALL SELECT doc_id, 3, 0, 'D', lang, n_chars
           FROM snap WHERE doc_id % 11 = 3
         UNION ALL SELECT doc_id, 4, 0, 'D', lang, n_chars
           FROM snap WHERE doc_id % 13 = 5
         UNION ALL SELECT doc_id, 5, 0, 'U', lang, n_chars + 7
           FROM snap WHERE doc_id % 13 = 5
         UNION ALL SELECT doc_id + 500000, 1, 0, 'I', 'xx', doc_id
           FROM snap WHERE doc_id % 17 = 2),
       latest AS (
         SELECT * FROM (
           SELECT *, row_number() OVER (PARTITION BY doc_id
                                        ORDER BY ts DESC, seq DESC) AS rn
           FROM chg) WHERE rn = 1)
       SELECT s.doc_id, s.lang, s.n_chars FROM snap s
       WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.doc_id = s.doc_id)
       UNION ALL
       SELECT doc_id, lang, n_chars FROM latest WHERE op <> 'D'"""

  // sorted-neighborhood replay: the SAME fingerprint chain over the
  // planted corpus, then row_number over (simhash, doc_id) and a
  // rank-window self-join — rank, window, hamming all bit-for-bit
  private val sortedNeighborOracle: String =
    s"""WITH RECURSIVE ${Fp.powsCte(4096)},
       docs AS (
         SELECT doc_id, text FROM documents
         UNION ALL
         SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0),
       ${simhashCtes("docs")},
       ranked AS (
         SELECT doc_id, simhash,
                row_number() OVER (ORDER BY simhash, doc_id) AS rn
         FROM sims)
       SELECT DISTINCT least(a.doc_id, b.doc_id) AS id_a,
              greatest(a.doc_id, b.doc_id) AS id_b,
              CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       FROM ranked a JOIN ranked b
         ON b.rn BETWEEN a.rn + 1 AND a.rn + 4
       WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"""

  // minhash signature replay: h_j = h1 + j*h2 (mod 2^64) with
  // h1 = mix64(g ^ seedA), h2 = mix64(g ^ seedB) | 1, minimized over
  // grams under SIGNED Long comparison (the Scala `<`); gram-less docs
  // keep Long.MaxValue sentinels.
  private val minhashSignaturesOracle: String = {
    import graft.functions.TextHashing.mix64
    val golden = 0x9e3779b97f4a7c15L
    val seedA = java.lang.Long.toUnsignedString(mix64(42L + golden))
    val seedB = java.lang.Long.toUnsignedString(mix64(42L + 2 * golden))
    val hj = s"(h1 + j.j * h2) % ${Fp.MOD}"
    s"""WITH RECURSIVE ${Fp.powsCte(4096)},
       ${gramHashCtes(3)},
       mh AS (
         SELECT doc_id,
         ${Fp.mix64Stages(s"xor(gfp, CAST('$seedA' AS UBIGINT))", "a")},
         ${Fp.mix64Stages(s"xor(gfp, CAST('$seedB' AS UBIGINT))", "b")}
         FROM ghash),
       mh2 AS (
         SELECT doc_id, CAST(afp AS HUGEINT) AS h1,
                CAST(bfp AS HUGEINT) // 2 * 2 + 1 AS h2
         FROM mh),
       sigs AS (
         SELECT doc_id, j.j AS j,
                min(CAST(CASE WHEN $hj >= $signedMax
                               THEN $hj - ${Fp.MOD} ELSE $hj END AS BIGINT)) AS sig
         FROM mh2 CROSS JOIN (SELECT unnest(range(0, 16)) AS j) j
         GROUP BY doc_id, j.j)
       SELECT d.doc_id, js.j, COALESCE(s.sig, 9223372036854775807) AS sig
       FROM documents d CROSS JOIN (SELECT unnest(range(0, 16)) AS j) js
       LEFT JOIN sigs s ON s.doc_id = d.doc_id AND s.j = js.j"""
  }

  // shared by minhash_dup_pairs (probabilistic candidates, exact refine)
  // and jaccard_dup_pairs (lossless prefix filter): all pairs with
  // 3-token-gram Jaccard >= 0.8, recomputed brute-force
  // integer PageRank replay: 5 unrolled aggregate CTEs (DuckDB bans
  // aggregates in recursive terms), same scaled-Long formula as
  // Graphs.pageRankInt — `//` floor division == Spark `div` truncation
  // on the all-positive operands, and integer Σ is order-independent
  /** Unrolled replay of [[TextAnalysis.bpeTrain]]'s k rounds: vI is the
    * word-type histogram after i merges, tI the round-i winner. The merge
    * runs over the separator-DOUBLED block form (see bpeTrain's scaladoc:
    * whole-block matches make replace exactly greedy, runs included) and
    * both engines' replace agree, so training replays bit-for-bit
    * including tie order. Every CTE is MATERIALIZED: DuckDB re-inlines
    * plain CTEs at each reference, which makes the vI chain exponential
    * in rounds (k=8 never finished; materialized it's 0.13s). */
  /** The shared training CTE chain (v0..vK, tI winners). */
  private def bpeOracleCtes(k: Int): String = {
    val rounds = (1 to k).map { i =>
      s"""p$i AS MATERIALIZED (
           SELECT pair, sum(cnt) AS freq FROM (
             SELECT unnest(list_transform(range(1, len(a)),
                      j -> a[j] || ' ' || a[j+1])) AS pair, cnt
             FROM (SELECT string_split(seq, ' ') AS a, cnt FROM v${i - 1})
             WHERE len(a) >= 2
           ) GROUP BY pair),
         t$i AS MATERIALIZED (SELECT pair, freq FROM p$i
                 ORDER BY freq DESC, pair ASC LIMIT 1),
         v$i AS MATERIALIZED (SELECT replace(trim(replace(
                    ' ' || replace(seq, ' ', '  ') || ' ',
                    ' ' || (SELECT replace(pair, ' ', '  ') FROM t$i) || ' ',
                    ' ' || (SELECT replace(pair, ' ', '') FROM t$i) || ' ')),
                    '  ', ' ') AS seq, cnt
                 FROM v${i - 1})"""
    }.mkString(",\n         ")
    s"""v0 AS MATERIALIZED (
           SELECT array_to_string(list_transform(range(1, len(word) + 1),
                    i -> word[i]), ' ') AS seq,
                  count(*) AS cnt
           FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
                 FROM documents)
           WHERE len(word) > 0 GROUP BY 1),
         $rounds"""
  }

  private def bpeTrainOracle(k: Int): String = {
    val finals = (1 to k).map { i =>
      s"""SELECT $i AS merge_rank,
                 string_split((SELECT pair FROM t$i), ' ')[1] AS lhs,
                 string_split((SELECT pair FROM t$i), ' ')[2] AS rhs,
                 CAST((SELECT freq FROM t$i) AS BIGINT) AS freq"""
    }.mkString("\n         UNION ALL\n         ")
    s"""WITH ${bpeOracleCtes(k)}
         $finals"""
  }

  /** Encode replay: the learned vK table maps every word type to its
    * merged symbol sequence, so per-doc symbol counts are a join of the
    * doc's words against vK — no per-word merge chain re-evaluation. */
  private def bpeEncodeOracle(k: Int): String =
    s"""WITH ${bpeOracleCtes(k)},
         wsyms AS MATERIALIZED (
           SELECT replace(seq, ' ', '') AS word,
                  len(string_split(seq, ' ')) AS ns
           FROM v$k),
         docw AS (
           SELECT doc_id, word FROM (
             SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
             FROM documents) WHERE len(word) > 0)
       SELECT d.doc_id, count(*) AS n_words,
              CAST(sum(w.ns) AS BIGINT) AS n_symbols
       FROM docw d JOIN wsyms w USING (word)
       GROUP BY d.doc_id"""

  private val pagerankHostsOracle: String = {
    val steps = (1 to 5).map { k =>
      s"""r$k AS (
           SELECT n.node,
                  CAST(150000000 + COALESCE((
                    SELECT SUM((p.r * 17) // (20 * dg.d))
                    FROM edges e
                    JOIN r${k - 1} p ON p.node = e.src
                    JOIN deg dg ON dg.src = e.src
                    WHERE e.dst = n.node), 0) AS BIGINT) AS r
           FROM nodes n)"""
    }.mkString(",\n         ")
    s"""WITH edges AS (
           SELECT DISTINCT 'h' || CAST(doc_id % 11 AS VARCHAR) AS src,
                           'h' || CAST(doc_id % 7 AS VARCHAR) AS dst
           FROM documents WHERE doc_id % 11 <> doc_id % 7),
         nodes AS (SELECT src AS node FROM edges
                   UNION SELECT dst FROM edges),
         deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
         r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS r FROM nodes),
         $steps
       SELECT node, r AS rank FROM r5"""
  }

  // personalized replay: identical unrolled rounds, but the restart
  // base lands ONLY on the seed (LEFT JOIN gate) and r0 is
  // seed-concentrated — untrusted islands must come out exactly 0
  private val pprHostsOracle: String = {
    val steps = (1 to 5).map { k =>
      s"""r$k AS (
           SELECT n.node,
                  CAST(CASE WHEN s.node IS NOT NULL THEN 150000000
                            ELSE 0 END + COALESCE((
                    SELECT SUM((p.r * 17) // (20 * dg.d))
                    FROM edges e
                    JOIN r${k - 1} p ON p.node = e.src
                    JOIN deg dg ON dg.src = e.src
                    WHERE e.dst = n.node), 0) AS BIGINT) AS r
           FROM nodes n LEFT JOIN seeds s ON s.node = n.node)"""
    }.mkString(",\n         ")
    s"""WITH edges AS (
           SELECT DISTINCT 'h' || CAST(doc_id % 11 AS VARCHAR) AS src,
                           'h' || CAST(doc_id % 7 AS VARCHAR) AS dst
           FROM documents WHERE doc_id % 11 <> doc_id % 7),
         nodes AS (SELECT src AS node FROM edges
                   UNION SELECT dst FROM edges),
         seeds AS (SELECT 'h3' AS node),
         deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
         r0 AS (SELECT n.node,
                       CAST(CASE WHEN s.node IS NOT NULL
                                 THEN 1000000000 ELSE 0 END AS BIGINT) AS r
                FROM nodes n LEFT JOIN seeds s ON s.node = n.node),
         $steps
       SELECT node, r AS rank FROM r5"""
  }

  // shared by url_domain_counts (direct groupBy) and
  // salted_domain_counts (two-stage salted aggregate): salting must
  // not change a single count
  private lazy val urlDomainCountsOracle: String =
    s"""WITH docs AS (
           SELECT doc_id, text
             || CASE WHEN doc_id % 4 = 0 THEN ' see http://site' || CAST(doc_id % 7 AS VARCHAR)
                  || '.example.com/page' ELSE '' END
             || CASE WHEN doc_id % 4 = 1 THEN ' via https://m' || CAST(doc_id % 3 AS VARCHAR)
                  || '.mirror.org/x' ELSE '' END AS ptext
           FROM documents),
         hosts AS (
           SELECT doc_id, unnest(regexp_extract_all(ptext, '$urlSql', 1)) AS host
           FROM docs),
         blocked AS (
           SELECT DISTINCT doc_id FROM hosts
           WHERE host IN ('site0.example.com', 'site3.example.com', 'm1.mirror.org'))
         SELECT host, count(*) AS n FROM hosts
         WHERE doc_id NOT IN (SELECT doc_id FROM blocked)
         GROUP BY host"""

  // HITS replay: 3 unrolled rounds of the integer max-normalized
  // mutual-reinforcement formula; `//` floor division == Spark `div`
  // truncation on the all-positive operands
  private val hitsHostsOracle: String = {
    val scale = 100000L
    val rounds = (1 to 3).map { k =>
      s"""ar$k AS (
           SELECT e.dst AS node, SUM(h${k - 1}.h) AS v
           FROM edges e JOIN h${k - 1} ON h${k - 1}.node = e.src
           GROUP BY e.dst),
         am$k AS (SELECT greatest(max(v), 1) AS m FROM ar$k),
         a$k AS (SELECT n.node,
                   COALESCE((SELECT ar$k.v * $scale // am$k.m
                             FROM ar$k, am$k WHERE ar$k.node = n.node), 0) AS a
                 FROM nodes n),
         hr$k AS (
           SELECT e.src AS node, SUM(a$k.a) AS v
           FROM edges e JOIN a$k ON a$k.node = e.dst
           GROUP BY e.src),
         hm$k AS (SELECT greatest(max(v), 1) AS m FROM hr$k),
         h$k AS (SELECT n.node,
                   COALESCE((SELECT hr$k.v * $scale // hm$k.m
                             FROM hr$k, hm$k WHERE hr$k.node = n.node), 0) AS h
                 FROM nodes n)"""
    }.mkString(",\n         ")
    s"""WITH edges AS (
           SELECT DISTINCT 'h' || CAST(doc_id % 11 AS VARCHAR) AS src,
                           'h' || CAST(doc_id % 7 AS VARCHAR) AS dst
           FROM documents WHERE doc_id % 11 <> doc_id % 7),
         nodes AS (SELECT src AS node FROM edges
                   UNION SELECT dst FROM edges),
         h0 AS (SELECT node, CAST($scale AS BIGINT) AS h FROM nodes),
         $rounds
       SELECT h3.node, CAST(h3.h AS BIGINT) AS hub,
              CAST(a3.a AS BIGINT) AS authority
       FROM h3 JOIN a3 USING (node)"""
  }

  // shared by near_dedup_incremental (batch) and stream_near_dedup
  // (the same operator per micro-batch): brute-force cross Jaccard
  // against the corpus snapshot, survivors = batch minus near-dups
  private val nearDedupIncrementalOracle =
    """WITH corpus AS (
         SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
       batch AS (
         SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0
         UNION ALL
         SELECT doc_id + 200000, text || ' xnear' FROM documents
         WHERE doc_id % 3 = 0),
       gb AS (
         SELECT doc_id,
                list_distinct(list_transform(range(1, len(w)-3),
                  i -> w[i]||chr(31)||w[i+1]||chr(31)||w[i+2]||chr(31)||w[i+3]||chr(31)||w[i+4])) AS g
         FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM batch)),
       gc AS (
         SELECT doc_id,
                list_distinct(list_transform(range(1, len(w)-3),
                  i -> w[i]||chr(31)||w[i+1]||chr(31)||w[i+2]||chr(31)||w[i+3]||chr(31)||w[i+4])) AS g
         FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM corpus)),
       dups AS (
         SELECT DISTINCT b.doc_id FROM gb b, gc c
         WHERE len(b.g) + len(c.g) - len(list_intersect(b.g, c.g)) > 0
           AND CAST(len(list_intersect(b.g, c.g)) AS DOUBLE)
                 / (len(b.g) + len(c.g) - len(list_intersect(b.g, c.g))) >= 0.8)
       SELECT doc_id FROM batch
       WHERE doc_id NOT IN (SELECT doc_id FROM dups)"""

  private val allPairsJaccardOracle =
    """WITH grams AS (
         SELECT doc_id,
                list_distinct(list_transform(range(1, len(w)-3),
                  i -> w[i]||chr(31)||w[i+1]||chr(31)||w[i+2]||chr(31)||w[i+3]||chr(31)||w[i+4])) AS g
         FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents)
       )
       SELECT id_a, id_b, jaccard FROM (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                  / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) AS jaccard
         FROM grams a, grams b WHERE a.doc_id < b.doc_id
       ) WHERE jaccard >= 0.8"""

  // shared by dedup_clusters (min-label propagation) and
  // dedup_clusters_star (large/small-star): both connected-components
  // algorithms must reproduce DuckDB's recursive-CTE transitive closure
  private val dedupClustersOracle =
    """WITH RECURSIVE grams AS (
           SELECT doc_id,
                  list_distinct(list_transform(range(1, len(w)-1),
                    i -> w[i]||chr(31)||w[i+1]||chr(31)||w[i+2])) AS g
           FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents)
         ),
         pairs AS (
           SELECT id_a, id_b FROM (
             SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                    CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                      / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) AS jaccard
             FROM grams a, grams b WHERE a.doc_id < b.doc_id
           ) WHERE jaccard >= 0.8
         ),
         sym AS (SELECT id_a AS s, id_b AS d FROM pairs
                 UNION SELECT id_b, id_a FROM pairs),
         reach(id, lab) AS (
           SELECT s, s FROM sym
           UNION
           SELECT sym.d, reach.lab FROM reach JOIN sym ON sym.s = reach.id
         ),
         losers AS (
           SELECT id FROM (SELECT id, min(lab) AS component FROM reach GROUP BY id)
           WHERE component <> id)
         SELECT doc_id FROM documents
         WHERE doc_id NOT IN (SELECT id FROM losers)"""

  /** [[dedupClustersOracle]] with the keep-best survivor rule: same
    * recursive-CTE transitive closure, losers are every cluster member
    * except the (score DESC, id ASC) leader. */
  private val dedupClustersBestOracle =
    """WITH RECURSIVE grams AS (
           SELECT doc_id,
                  list_distinct(list_transform(range(1, len(w)-1),
                    i -> w[i]||chr(31)||w[i+1]||chr(31)||w[i+2])) AS g
           FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents)
         ),
         pairs AS (
           SELECT id_a, id_b FROM (
             SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                    CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                      / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) AS jaccard
             FROM grams a, grams b WHERE a.doc_id < b.doc_id
           ) WHERE jaccard >= 0.8
         ),
         sym AS (SELECT id_a AS s, id_b AS d FROM pairs
                 UNION SELECT id_b, id_a FROM pairs),
         reach(id, lab) AS (
           SELECT s, s FROM sym
           UNION
           SELECT sym.d, reach.lab FROM reach JOIN sym ON sym.s = reach.id
         ),
         members AS (SELECT id, min(lab) AS component FROM reach GROUP BY id),
         ranked AS (
           SELECT m.id,
                  row_number() OVER (PARTITION BY m.component
                    ORDER BY q.score DESC, m.id ASC) AS rn
           FROM members m
           JOIN (SELECT doc_id AS id,
                        len(regexp_extract_all(text, '\S+')) AS score
                 FROM documents) q USING (id)),
         losers AS (SELECT id FROM ranked WHERE rn > 1)
         SELECT doc_id FROM documents
         WHERE doc_id NOT IN (SELECT id FROM losers)"""

  // shared by `decontaminate` and `decontaminate_bloom`: the Bloom
  // pre-filter must not change the result
  private val decontaminateOracle =
    """WITH toks AS (
         SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
       grams AS (
         SELECT doc_id,
                [array_to_string(w[i:i+7], ' ') for i in range(1, len(w)-6)] AS g
         FROM toks),
       eg AS (SELECT DISTINCT unnest(g) AS gram FROM grams WHERE doc_id % 10 = 0),
       tg AS (SELECT doc_id, unnest(g) AS gram FROM grams)
       SELECT tg.doc_id, count(*) AS overlap_grams
       FROM tg JOIN eg USING (gram) GROUP BY tg.doc_id"""

  val oracles: Map[String, String] = Map(
    "dedup_keep_best" ->
      """WITH base AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 100000, text || ' extra trailing tokens'
           FROM documents WHERE doc_id % 10 = 0),
         keyed AS (
           SELECT doc_id,
                  substr(regexp_replace(text, '\s+', ' ', 'g'), 1, 40) AS key,
                  len(regexp_extract_all(text, '\S+')) AS toks
           FROM base)
       SELECT doc_id, key FROM (
         SELECT doc_id, key,
                row_number() OVER (PARTITION BY key
                  ORDER BY toks DESC, doc_id) AS rn
         FROM keyed)
       WHERE rn = 1""",
    "quantile_filter" ->
      """SELECT doc_id, lang, toks FROM (
           SELECT doc_id, lang,
                  len(regexp_extract_all(text, '\S+')) AS toks,
                  cume_dist() OVER (PARTITION BY lang
                    ORDER BY len(regexp_extract_all(text, '\S+')) DESC,
                             doc_id) AS cd
           FROM documents)
         WHERE cd <= 0.3""",
    "top_tokens" ->
      """SELECT tok, count(*) AS n
         FROM (SELECT unnest(regexp_extract_all(text, '\S+')) AS tok FROM documents)
         GROUP BY tok ORDER BY n DESC, tok LIMIT 20""",
    "cms_token_estimates" -> cmsTokenOracle,
    "label_index" ->
      """SELECT lang AS label, count(*) AS n,
                row_number() OVER (ORDER BY count(*) DESC, lang) - 1
                  AS label_idx
         FROM documents GROUP BY lang""",
    "group_split_leakproof" ->
      s"""SELECT split, count(DISTINCT source) AS n_sources,
                 count(*) AS n_docs
          FROM (
            SELECT source,
              CASE WHEN substr(md5(concat_ws('|','gs1',source)),1,8)
                     < '${Sampling.thresholdHex(0.8)}' THEN 'train'
                   WHEN substr(md5(concat_ws('|','gs1',source)),1,8)
                     < '${Sampling.thresholdHex(1.0)}' THEN 'test'
                   ELSE NULL END AS split
            FROM documents)
          GROUP BY split""",
    "moment_stats" ->
      """SELECT event_type AS grp, count(*) AS n,
                CAST(sum(q) AS BIGINT) AS s1,
                CAST(sum(q * q) AS BIGINT) AS s2,
                CAST(sum(q * q * q) AS BIGINT) AS s3
         FROM (SELECT event_type,
                      CAST(round(value * 10.0) AS BIGINT) AS q
               FROM events)
         GROUP BY event_type""",
    "domain_gini" ->
      s"""WITH docs AS (
           SELECT doc_id, text
             || CASE WHEN doc_id % 4 = 0 THEN ' see http://site' || CAST(doc_id % 7 AS VARCHAR)
                  || '.example.com/page' ELSE '' END
             || CASE WHEN doc_id % 4 = 1 THEN ' via https://m' || CAST(doc_id % 3 AS VARCHAR)
                  || '.mirror.org/x' ELSE '' END AS ptext
           FROM documents),
         counts AS (
           SELECT k, count(*) AS n FROM (
             SELECT unnest(regexp_extract_all(ptext, '$urlSql', 1)) AS k
             FROM docs)
           GROUP BY k),
         ranked AS (
           SELECT n, row_number() OVER (ORDER BY n, k) AS i FROM counts),
         agg AS (
           SELECT count(*) AS n_keys, sum(n) AS total, sum(i * n) AS s1
           FROM ranked)
         SELECT n_keys, CAST(total AS BIGINT) AS total,
                CAST((1000000 * (2 * s1 - (n_keys + 1) * total))
                     // (n_keys * total) AS BIGINT) AS gini_ppm
         FROM agg""",
    "split_token_drift" ->
      s"""WITH s AS (
           SELECT CASE WHEN substr(md5(concat_ws('|','sp1',CAST(doc_id AS VARCHAR))),1,8)
                         < '${Sampling.thresholdHex(0.7)}' THEN 'train'
                       WHEN substr(md5(concat_ws('|','sp1',CAST(doc_id AS VARCHAR))),1,8)
                         < '${Sampling.thresholdHex(0.9)}' THEN 'val'
                       WHEN substr(md5(concat_ws('|','sp1',CAST(doc_id AS VARCHAR))),1,8)
                         < '${Sampling.thresholdHex(1.0)}' THEN 'test'
                       ELSE NULL END AS split,
                  unnest(regexp_extract_all(text, '\\S+')) AS tok
           FROM documents),
         t AS (
           SELECT tok,
                  sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS na,
                  sum(CASE WHEN split = 'train' THEN 0 ELSE 1 END) AS nb
           FROM s GROUP BY tok),
         tot AS (SELECT sum(na) AS ta, sum(nb) AS tb FROM t)
         SELECT count(*) AS n_keys,
                CAST(sum(abs(na * 1000000 // ta - nb * 1000000 // tb))
                     AS BIGINT) AS sum_abs_ppm
         FROM t CROSS JOIN tot""",
    "tfidf_top_terms" ->
      """WITH tf AS (
           SELECT id, term, count(*) AS tf FROM (
             SELECT doc_id AS id, unnest(regexp_extract_all(text, '\S+')) AS term
             FROM documents)
           GROUP BY id, term),
         dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
         scored AS (
           SELECT tf.id, tf.term, tf.tf, dfq.df,
                  tf.tf * CAST(floor(1000000.0 * nd.n / dfq.df) AS BIGINT) AS score
           FROM tf JOIN dfq USING (term) CROSS JOIN nd),
         ranked AS (
           SELECT *, row_number() OVER (PARTITION BY id
                       ORDER BY score DESC, term) AS rn
           FROM scored)
       SELECT id, term, tf, df, score FROM ranked WHERE rn <= 3""",
    "lang_id_counts" ->
      s"""SELECT $langCase AS lang_pred, count(*) AS n FROM (
            SELECT ${Seq("en", "de", "fr", "es").map(l => s"${langScoreSql(l)} AS s_$l").mkString(", ")}
            FROM (SELECT ' '||lower(text)||' ' AS p FROM documents)
          ) GROUP BY 1""",
    "quality_flags" ->
      s"""SELECT doc_id, tokens, chars, stop_hits, punct,
            CASE WHEN tokens > 0 THEN CAST(floor((chars*100)/tokens) AS BIGINT) ELSE 0 END AS mean_tok_len_x100,
            CASE WHEN chars > 0 THEN CAST(floor((punct*1000)/chars) AS BIGINT) ELSE 0 END AS punct_x1000,
            CAST((tokens >= 5 AND
                  (CASE WHEN tokens > 0 THEN CAST(floor((chars*100)/tokens) AS BIGINT) ELSE 0 END) BETWEEN 200 AND 2000
                  AND stop_hits >= 1
                  AND (CASE WHEN chars > 0 THEN CAST(floor((punct*1000)/chars) AS BIGINT) ELSE 0 END) <= 300) AS INT) AS quality_ok
          FROM (
            SELECT doc_id,
              len(regexp_extract_all(text, '\\S+')) AS tokens,
              length(text) AS chars,
              ${langScoreSql("en")} AS stop_hits,
              ${Seq(".", ",", "!", "?", ";", ":").map(c =>
                s"(length(text)-length(replace(text,'$c','')))").mkString("(", " + ", ")")} AS punct
            FROM (SELECT doc_id, text, ' '||lower(text)||' ' AS p FROM documents)
          )""",
    "lang_quality_pivot" ->
      s"""WITH q AS (
            SELECT lang,
              CAST((tokens >= 5 AND
                    (CASE WHEN tokens > 0 THEN CAST(floor((chars*100)/tokens) AS BIGINT) ELSE 0 END) BETWEEN 200 AND 2000
                    AND stop_hits >= 1
                    AND (CASE WHEN chars > 0 THEN CAST(floor((punct*1000)/chars) AS BIGINT) ELSE 0 END) <= 300) AS INT) AS ok
            FROM (
              SELECT lang,
                len(regexp_extract_all(text, '\\S+')) AS tokens,
                length(text) AS chars,
                ${langScoreSql("en")} AS stop_hits,
                ${Seq(".", ",", "!", "?", ";", ":").map(c =>
                  s"(length(text)-length(replace(text,'$c','')))").mkString("(", " + ", ")")} AS punct
              FROM (SELECT lang, text, ' '||lower(text)||' ' AS p FROM documents)))
          SELECT lang,
                 CAST(sum(CASE WHEN ok = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
                 CAST(sum(CASE WHEN ok = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_good
          FROM q GROUP BY lang""",
    "bpe_token_stats" ->
      s"""SELECT doc_id,
            len(regexp_extract_all(text, '${TextAnalysis.bpePattern.replace("'", "''")}')) AS bpe_tokens,
            len(regexp_extract_all(text, '\\S+')) AS ws_tokens
          FROM documents""",
    "fingerprint_md5" ->
      "SELECT doc_id, md5(text) AS fp FROM documents",
    "token_entropy" ->
      """SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                count(*) AS distinct_tokens,
                CAST(sum(c * (length(bin(c)) - 1)) AS BIGINT) AS entropy_num
         FROM (
           SELECT doc_id, tok, count(*) AS c
           FROM (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS tok
                 FROM documents)
           GROUP BY doc_id, tok)
         GROUP BY doc_id""",
    "equi_depth_histogram" -> {
      val qs = (1 until 8).map(i =>
        s"CAST(quantile_disc(toks, ${i / 8.0}) AS BIGINT)").mkString(", ")
      s"""WITH v AS (SELECT len(regexp_extract_all(text, '\\S+')) AS toks
                     FROM documents),
         b AS (SELECT [$qs] AS bs FROM v),
         r AS (SELECT toks,
                      1 + len(list_filter(b.bs, x -> toks > x)) AS bucket
               FROM v CROSS JOIN b)
         SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n,
                CAST(min(toks) AS BIGINT) AS min_v,
                CAST(max(toks) AS BIGINT) AS max_v
         FROM r GROUP BY 1"""
    },
    "quantile_norm_buckets" ->
      """SELECT doc_id, lang, CAST((4 * cle + n - 1) // n AS BIGINT) AS bucket
         FROM (SELECT doc_id, lang,
                 count(*) OVER (PARTITION BY lang ORDER BY toks
                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cle,
                 count(*) OVER (PARTITION BY lang) AS n
               FROM (SELECT doc_id, lang,
                       len(regexp_extract_all(text, '\S+')) AS toks
                     FROM documents))""",
    "doc_length_histogram" ->
      """SELECT len(regexp_extract_all(text, '\S+')) // 32 AS bin,
                count(*) AS n,
                min(len(regexp_extract_all(text, '\S+'))) AS min_toks,
                max(len(regexp_extract_all(text, '\S+'))) AS max_toks
         FROM documents GROUP BY 1""",
    "chunk_docs" ->
      """WITH toks AS (
           SELECT doc_id, regexp_extract_all(text, '\S+') AS w FROM documents),
         nn AS (SELECT doc_id, w, len(w) AS n FROM toks WHERE len(w) > 0),
         chunks AS (
           SELECT doc_id, w,
                  unnest(range(0,
                    CAST(greatest(ceil(CAST(n - 24 AS DOUBLE)/16), 0) AS BIGINT) + 1))
                    AS chunk_idx
           FROM nn)
         SELECT doc_id, chunk_idx,
                array_to_string(w[chunk_idx*16 + 1 : chunk_idx*16 + 24], ' ')
                  AS chunk_text
         FROM chunks""",
    "det_sample" ->
      s"""SELECT doc_id, lang FROM documents
          WHERE substr(md5(concat_ws('|','s42',CAST(doc_id AS VARCHAR))),1,8)
                  < '${Sampling.thresholdHex(0.25)}'""",
    // every negative draw replayed: hash-shuffled candidate ranks
    // (row_number over the same md5 order), probe target = the first 15
    // md5 hex digits as a 60-bit integer (flat positional arithmetic —
    // each term (digit)·16^(15-i), max sum 16^15 < 2^63) mod count,
    // +1 fallback on self-collision picked by arg_min over pref
    "contrastive_negatives" -> {
      val hex = (1 to 15).map { i =>
        s"(strpos('0123456789abcdef', substr(h,$i,1))-1)*${1L << (4 * (15 - i))}"
      }.mkString(" + ")
      s"""WITH c AS (SELECT doc_id,
                row_number() OVER (ORDER BY
                  md5(concat_ws('|','negc',CAST(doc_id AS VARCHAR))), doc_id)
                  - 1 AS rnk
              FROM documents),
           n AS (SELECT count(*) AS cnt FROM documents),
           a AS (SELECT doc_id AS anchor_id FROM documents
                 WHERE substr(md5(concat_ws('|','an1',CAST(doc_id AS VARCHAR))),1,8)
                         < '${Sampling.thresholdHex(0.1)}'),
           p AS (SELECT anchor_id, j,
                   md5(concat_ws('|','negp',CAST(anchor_id AS VARCHAR),
                       CAST(j AS VARCHAR))) AS h
                 FROM a, range(0,2) t(j)),
           q AS (SELECT anchor_id, j, ($hex) % cnt AS t0, cnt FROM p, n),
           x AS (SELECT anchor_id, j, 0 AS pref, t0 AS rnk FROM q
                 UNION ALL
                 SELECT anchor_id, j, 1 AS pref, (t0+1) % cnt AS rnk FROM q)
         SELECT anchor_id, j, arg_min(c.doc_id, pref) AS neg_id
         FROM x JOIN c USING (rnk)
         WHERE c.doc_id != anchor_id
         GROUP BY anchor_id, j""".stripMargin
    },
    "mixture_sample" ->
      s"""SELECT lang, count(*) AS n FROM documents
          WHERE substr(md5(concat_ws('|','mix1',CAST(doc_id AS VARCHAR))),1,8) <
            CASE lang WHEN 'en' THEN '${Sampling.thresholdHex(0.5)}'
                      WHEN 'zh' THEN '${Sampling.thresholdHex(0.9)}'
                      WHEN 'fr' THEN '${Sampling.thresholdHex(0.25)}'
                      ELSE '${Sampling.thresholdHex(0.1)}' END
          GROUP BY 1""",
    "stratified_sample" ->
      """SELECT doc_id, lang FROM (
           SELECT doc_id, lang,
                  row_number() OVER (PARTITION BY lang
                    ORDER BY md5(concat_ws('|','st7',CAST(doc_id AS VARCHAR))),
                             doc_id) AS rn
           FROM documents) WHERE rn <= 30""",
    "shuffle_rank" ->
      """SELECT doc_id,
                CAST(row_number() OVER (
                  ORDER BY md5(concat_ws('|','sh1',CAST(doc_id AS VARCHAR))),
                           doc_id) AS BIGINT) AS pos
         FROM documents""",
    "decontaminate" -> decontaminateOracle,
    // the Bloom path must reproduce the exact-path result bit-for-bit
    "decontaminate_bloom" -> decontaminateOracle,
    "weighted_sample" ->
      s"""WITH w AS (
           SELECT doc_id, len(regexp_extract_all(text, '\\S+')) AS wt
           FROM documents
           WHERE len(regexp_extract_all(text, '\\S+')) > 0),
         tot AS (SELECT count(*) AS n, sum(wt) AS s FROM w)
         SELECT doc_id FROM w CROSS JOIN tot
         WHERE substr(md5(concat_ws('|','ws1',CAST(doc_id AS VARCHAR))),1,8) <
           CASE WHEN least(1.0, 0.3 * n * wt / s) >= 1.0 THEN 'g'
                ELSE lpad(lower(to_hex(CAST(floor(
                       least(1.0, 0.3 * n * wt / s) * 4294967296) AS BIGINT))), 8, '0')
           END""",
    "split_by_hash" ->
      s"""SELECT doc_id,
            CASE WHEN substr(md5(concat_ws('|','sp1',CAST(doc_id AS VARCHAR))),1,8)
                        < '${Sampling.thresholdHex(0.0 + 0.7)}' THEN 'train'
                 WHEN substr(md5(concat_ws('|','sp1',CAST(doc_id AS VARCHAR))),1,8)
                        < '${Sampling.thresholdHex(0.0 + 0.7 + 0.2)}' THEN 'val'
                 WHEN substr(md5(concat_ws('|','sp1',CAST(doc_id AS VARCHAR))),1,8)
                        < '${Sampling.thresholdHex(0.0 + 0.7 + 0.2 + 0.1)}' THEN 'test'
                 ELSE NULL END AS split
          FROM documents""",
    "temperature_mixture" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
         t AS (SELECT lang,
                 CASE WHEN least(1.0, 8.0/sqrt(CAST(n AS DOUBLE))) >= 1.0 THEN 'g'
                      ELSE lpad(lower(to_hex(CAST(floor(
                             least(1.0, 8.0/sqrt(CAST(n AS DOUBLE))) * 4294967296) AS BIGINT))), 8, '0')
                 END AS th
               FROM c)
         SELECT d.lang, count(*) AS n
         FROM documents d JOIN t USING (lang)
         WHERE substr(md5(concat_ws('|','tm1',CAST(doc_id AS VARCHAR))),1,8) < th
         GROUP BY d.lang""",
    "pii_scrub" ->
      s"""WITH pii AS (
           SELECT doc_id, text
             || CASE WHEN doc_id % 3 = 0 THEN ' contact u' || CAST(doc_id AS VARCHAR)
                  || '@ex' || CAST(doc_id % 5 AS VARCHAR) || '.com' ELSE '' END
             || CASE WHEN doc_id % 4 = 0 THEN ' call 555-' || CAST(doc_id % 900 + 100 AS VARCHAR)
                  || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
             || CASE WHEN doc_id % 5 = 0 THEN ' ip 10.' || CAST(doc_id % 256 AS VARCHAR)
                  || '.0.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END AS ptext
           FROM documents)
         SELECT doc_id,
           len(regexp_extract_all(ptext, '$emailSql')) AS emails,
           len(regexp_extract_all(ptext, '$phoneSql')) AS phones,
           len(regexp_extract_all(ptext, '$ipv4Sql')) AS ipv4s,
           regexp_replace(regexp_replace(regexp_replace(ptext,
             '$emailSql', '<EMAIL>', 'g'),
             '$ipv4Sql', '<IP>', 'g'),
             '$phoneSql', '<PHONE>', 'g') AS redacted
         FROM pii""",
    "curation_end_to_end" ->
      s"""WITH p AS (
           SELECT doc_id, doc_id % 100000 AS pid, text FROM (
             SELECT doc_id, text FROM documents
             UNION ALL
             SELECT doc_id + 100000, text FROM documents
             WHERE doc_id % 10 = 0)),
         pl AS (
           SELECT doc_id, nfc_normalize(text
             || CASE WHEN pid % 3 = 0 THEN ' contact u' || CAST(pid AS VARCHAR)
                  || '@ex' || CAST(pid % 5 AS VARCHAR) || '.com' ELSE '' END
             || CASE WHEN pid % 4 = 0 THEN ' call 555-'
                  || CAST(pid % 900 + 100 AS VARCHAR) || '-'
                  || lpad(CAST(pid % 10000 AS VARCHAR), 4, '0')
                ELSE '' END) AS t1
           FROM p),
         rd AS (
           SELECT doc_id,
                  regexp_replace(regexp_replace(regexp_replace(t1,
                    '$emailSql', '<EMAIL>', 'g'),
                    '$ipv4Sql', '<IP>', 'g'),
                    '$phoneSql', '<PHONE>', 'g') AS t2
           FROM pl),
         ql AS (
           SELECT doc_id, t2, len(regexp_extract_all(t2, '\\S+')) AS toks
           FROM rd),
         dd AS (
           SELECT doc_id, toks FROM (
             SELECT doc_id, toks,
                    row_number() OVER (PARTITION BY t2 ORDER BY doc_id) AS rn
             FROM ql WHERE toks >= 10)
           WHERE rn = 1)
         SELECT doc_id, CAST(toks AS BIGINT) AS toks
         FROM dd
         WHERE substr(md5(concat_ws('|','ce1',CAST(doc_id AS VARCHAR))),1,8)
                 < '${Sampling.thresholdHex(0.8)}'""",
    "url_domain_counts" -> urlDomainCountsOracle,
    // the salted two-stage aggregate must be salt-invariant: same oracle
    "salted_domain_counts" -> urlDomainCountsOracle,
    // every canonicalization step replayed verbatim: lowercase, www./
    // default-port/fragment/root-path drops, tracking-param filter +
    // param sort
    "url_canonical_dedup" ->
      """WITH u AS (
           SELECT doc_id,
             (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'HTTP' END) || '://' ||
             'WWW.Site' || CAST(doc_id % 7 AS VARCHAR) || '.COM' ||
             (CASE WHEN doc_id % 3 = 0 THEN
                    (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END)
                   WHEN doc_id % 3 = 1 THEN ':8080' ELSE '' END) ||
             (CASE WHEN doc_id % 5 = 0 THEN '/'
                   ELSE '/p' || CAST(doc_id % 5 AS VARCHAR) END) ||
             (CASE WHEN doc_id % 4 = 0 THEN '?utm_campaign=x'
                   ELSE '?utm_source=news&z=' || CAST(doc_id % 4 AS VARCHAR) || '&a=1' END) ||
             '#sec' || CAST(doc_id % 9 AS VARCHAR) AS url
           FROM documents),
         parts AS (
           SELECT doc_id,
             lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
             lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS hostport,
             regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path0,
             regexp_extract(url, '\?([^#]*)', 1) AS query
           FROM u),
         canon AS (
           SELECT doc_id, scheme || '://' ||
             regexp_replace(
               CASE WHEN (scheme = 'http' AND
                          regexp_extract(hostport, ':([0-9]+)$', 1) = '80')
                      OR (scheme = 'https' AND
                          regexp_extract(hostport, ':([0-9]+)$', 1) = '443')
                    THEN regexp_replace(hostport, ':[0-9]+$', '')
                    ELSE hostport END, '^www\.', '') ||
             (CASE WHEN path0 = '/' THEN '' ELSE path0 END) ||
             (CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&')
                   ELSE '' END) AS canon
           FROM (SELECT *, list_sort(list_filter(string_split(query, '&'),
                   p -> NOT regexp_matches(p, '^(utm_[A-Za-z0-9_]*|gclid|fbclid|msclkid|ref)=')
                        AND p <> '')) AS kept
                 FROM parts))
       SELECT canon, count(*) AS n, min(doc_id) AS keep_id
       FROM canon GROUP BY canon""",
    "scrub_pipeline" ->
      s"""WITH base AS (
           SELECT doc_id,
                  text || ' contact u' || CAST(doc_id % 25 AS VARCHAR) || '@example.com' AS ptext,
                  lang
           FROM documents
           UNION ALL
           SELECT doc_id + 100000,
                  upper(text) || ' contact o' || CAST(doc_id AS VARCHAR) || '@other.net!!',
                  lang
           FROM documents WHERE doc_id % 10 = 0),
         red AS (
           SELECT doc_id, lang,
                  regexp_replace(regexp_replace(regexp_replace(ptext,
                    '$emailSql', '<EMAIL>', 'g'),
                    '$ipv4Sql', '<IP>', 'g'),
                    '$phoneSql', '<PHONE>', 'g') AS rtext
           FROM base),
         norm AS (
           SELECT doc_id, lang,
                  trim(regexp_replace(lower(rtext), '[^a-z0-9]+', ' ', 'g')) AS nt
           FROM red),
         kept AS (
           SELECT doc_id, lang FROM (
             SELECT doc_id, lang,
                    row_number() OVER (PARTITION BY nt ORDER BY doc_id) AS rn
             FROM norm) WHERE rn = 1)
         SELECT lang, count(*) AS n, min(doc_id) AS first_id
         FROM kept GROUP BY lang""",
    "normalize_dedup" ->
      """WITH base AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 100000, upper(text) || ' !!' FROM documents WHERE doc_id % 10 = 0),
         norm AS (
           SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS nt
           FROM base)
         SELECT doc_id FROM (
           SELECT doc_id, row_number() OVER (PARTITION BY nt ORDER BY doc_id) AS rn
           FROM norm) WHERE rn = 1""",
    "para_dedup" ->
      """WITH base AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0),
         docs AS (
           SELECT doc_id % 97 AS gid, string_agg(text, chr(10) ORDER BY doc_id) AS dtext
           FROM base GROUP BY 1),
         lists AS (SELECT gid, string_split(dtext, chr(10)) AS l FROM docs),
         paras AS (
           SELECT gid, unnest(range(1, len(l)+1)) AS pos, unnest(l) AS para FROM lists),
         firsts AS (
           SELECT gid, pos, para,
                  row_number() OVER (PARTITION BY para ORDER BY gid, pos) AS rn
           FROM paras)
         SELECT gid AS doc_id, string_agg(para, chr(10) ORDER BY pos) AS text
         FROM firsts WHERE rn = 1 GROUP BY gid""",
    "training_shard_pipeline" ->
      """WITH toks AS (
           SELECT doc_id, regexp_extract_all(text, '\S+') AS w
           FROM documents),
         nn AS (SELECT doc_id, w, len(w) AS n FROM toks WHERE len(w) >= 30),
         chunks AS (
           SELECT doc_id, n,
                  unnest(range(0,
                    CAST(greatest(ceil(CAST(n - 24 AS DOUBLE)/16), 0) AS BIGINT) + 1))
                    AS chunk_idx
           FROM nn),
         ck AS (
           SELECT doc_id, chunk_idx,
                  doc_id * 4294967296 + chunk_idx AS ck,
                  least(CAST(n - chunk_idx * 16 AS BIGINT), 24) AS ctoks
           FROM chunks)
         SELECT doc_id, chunk_idx, ctoks,
                CAST(floor((sum(ctoks) OVER (
                       ORDER BY md5(concat_ws('|','ts',CAST(ck AS VARCHAR))), ck
                       ROWS UNBOUNDED PRECEDING) - ctoks) / 2000) AS BIGINT)
                  AS shard
         FROM ck""",
    "pack_token_shards" ->
      """SELECT doc_id,
                CAST(floor((sum(toks) OVER (ORDER BY h, doc_id
                              ROWS UNBOUNDED PRECEDING) - toks) / 5000) AS BIGINT)
                  AS shard
         FROM (SELECT doc_id,
                      len(regexp_extract_all(text, '\S+')) AS toks,
                      md5(concat_ws('|','pk',CAST(doc_id AS VARCHAR))) AS h
               FROM documents)""",
    "repetition_stats" ->
      """WITH toks AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents)
         SELECT doc_id, len(t) AS n_tokens, len(list_distinct(t)) AS n_distinct,
                len(t) - len(list_distinct(t)) AS dup_tokens,
                len(list_distinct([t[i]||' '||t[i+1] for i in range(1, len(t))]))
                  AS distinct_bigrams,
                CASE WHEN len(t) > 0 THEN
                  list_max([len(list_filter(t, x -> x = u)) for u in list_distinct(t)])
                ELSE 0 END AS top_tok
         FROM toks""",
    "pipeline_compose" ->
      s"""WITH feat AS (
            SELECT doc_id, text, tokens, chars, stop_hits, punct,
              CASE WHEN tokens > 0 THEN CAST(floor((chars*100)/tokens) AS BIGINT) ELSE 0 END AS mtl,
              CASE WHEN chars > 0 THEN CAST(floor((punct*1000)/chars) AS BIGINT) ELSE 0 END AS px
            FROM (
              SELECT doc_id, text,
                len(regexp_extract_all(text, '\\S+')) AS tokens,
                length(text) AS chars,
                ${langScoreSql("en")} AS stop_hits,
                ${Seq(".", ",", "!", "?", ";", ":").map(c =>
                  s"(length(text)-length(replace(text,'$c','')))").mkString("(", " + ", ")")} AS punct
              FROM (SELECT doc_id, text, ' '||lower(text)||' ' AS p FROM documents)
            )
          ),
          keep AS (
            SELECT text, min(doc_id) AS doc_id FROM feat
            WHERE tokens >= 5 AND mtl BETWEEN 200 AND 2000
              AND stop_hits >= 1 AND px <= 300
            GROUP BY text
          ),
          scored AS (
            SELECT doc_id, ${Seq("en", "de", "fr", "es").map(l =>
              s"${langScoreSql(l)} AS s_$l").mkString(", ")}
            FROM (SELECT doc_id, ' '||lower(text)||' ' AS p FROM keep)
          )
          SELECT $langCase AS lang_pred, count(*) AS n, min(doc_id) AS first_id
          FROM scored GROUP BY 1""",
    "near_dedup_incremental" -> nearDedupIncrementalOracle,
    // the per-micro-batch streaming run must keep the same survivors
    // as the batch twin (foreachBatch applies the identical operator)
    "stream_near_dedup" -> nearDedupIncrementalOracle,
    "minhash_dup_pairs" -> allPairsJaccardOracle,
    // the exact prefix-filtered join must reproduce the SAME all-pairs
    // result — for it this is a by-construction guarantee, not a
    // recall observation
    "jaccard_dup_pairs" -> allPairsJaccardOracle,
    // all-pairs set-cosine recompute with the SAME integer predicate
    // the Spark side uses (t = 0.8 → m² = 640000) — every output
    // column is an integer, so the hash match is exact by construction
    "cosine_dup_pairs" ->
      """WITH grams AS (
           SELECT doc_id,
                  list_distinct(list_transform(range(1, len(w)-3),
                    i -> w[i]||chr(31)||w[i+1]||chr(31)||w[i+2]||chr(31)||w[i+3]||chr(31)||w[i+4])) AS g
           FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents)
         )
         SELECT id_a, id_b, overlap, n_a, n_b FROM (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  len(list_intersect(a.g, b.g)) AS overlap,
                  len(a.g) AS n_a, len(b.g) AS n_b
           FROM grams a, grams b
           WHERE a.doc_id < b.doc_id AND len(a.g) >= 1 AND len(b.g) >= 1
         ) WHERE 1000000 * overlap * overlap >= 640000 * n_a * n_b""",
    // all ORDERED pairs under the asymmetric containment measure
    // |A∩B|/|A| — the planted 40%-prefix excerpts must appear as
    // (excerpt → original) rows that symmetric Jaccard would miss
    "containment_dup_pairs" ->
      """WITH base AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 200000,
                  substr(text, 1, CAST(floor(length(text) * 0.4) AS INT))
           FROM documents WHERE doc_id % 7 = 0),
         grams AS (
           SELECT doc_id,
                  list_distinct(list_transform(range(1, len(w)-3),
                    i -> w[i]||chr(31)||w[i+1]||chr(31)||w[i+2]||chr(31)||w[i+3]||chr(31)||w[i+4])) AS g
           FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM base)
         )
         SELECT id_a, id_b, containment FROM (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                    / len(a.g) AS containment
           FROM grams a, grams b
           WHERE a.doc_id <> b.doc_id AND len(a.g) >= 1
         ) WHERE containment >= 0.75""",
    "dedup_clusters" -> dedupClustersOracle,
    "dedup_clusters_best" -> dedupClustersBestOracle,
    // the star-CC path must reproduce the same transitive closure
    "dedup_clusters_star" -> dedupClustersOracle,
    "bpe_train_merges" -> bpeTrainOracle(8),
    "bpe_encode_counts" -> bpeEncodeOracle(8),
    // each stage joins the previous stage's reach times; strict-after
    // ordering replayed identically
    "funnel_stages" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS r FROM events
                     WHERE event_type = 'signup' GROUP BY user_id),
           s2 AS (SELECT e.user_id, min(e.ts) AS r FROM events e
                  JOIN s1 USING (user_id)
                  WHERE e.event_type = 'click' AND e.ts > s1.r
                  GROUP BY e.user_id),
           s3 AS (SELECT e.user_id, min(e.ts) AS r FROM events e
                  JOIN s2 USING (user_id)
                  WHERE e.event_type = 'purchase' AND e.ts > s2.r
                  GROUP BY e.user_id)
         SELECT 1 AS stage_idx, 'signup' AS stage,
                (SELECT count(*) FROM s1) AS n_users
         UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
         UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)""",
    "funnel_within_1h" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS r FROM events
                     WHERE event_type = 'signup' GROUP BY user_id),
           s2 AS (SELECT e.user_id, min(e.ts) AS r FROM events e
                  JOIN s1 USING (user_id)
                  WHERE e.event_type = 'click' AND e.ts > s1.r
                    AND e.ts <= s1.r + INTERVAL 1 HOUR
                  GROUP BY e.user_id),
           s3 AS (SELECT e.user_id, min(e.ts) AS r FROM events e
                  JOIN s2 USING (user_id)
                  WHERE e.event_type = 'purchase' AND e.ts > s2.r
                    AND e.ts <= s2.r + INTERVAL 1 HOUR
                  GROUP BY e.user_id)
         SELECT 1 AS stage_idx, 'signup' AS stage,
                (SELECT count(*) FROM s1) AS n_users
         UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
         UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)""",
    // epoch-day via floor(epoch/86400) == the nanos integer division
    // (both exact for positive timestamps)
    "retention_cohorts" ->
      """WITH days AS (SELECT DISTINCT user_id,
                         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day
                       FROM events),
           coh AS (SELECT user_id, min(day) AS cohort FROM days
                   GROUP BY user_id)
         SELECT cohort AS cohort_day, day - cohort AS day_offset,
                count(*) AS n_users
         FROM days JOIN coh USING (user_id)
         GROUP BY 1, 2""",
    "props_json_stats" ->
      """SELECT event_type, count(*) AS n,
                CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
                max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
         FROM events GROUP BY event_type""",
    "pagerank_hosts" -> pagerankHostsOracle,
    "ppr_hosts" -> pprHostsOracle,
    "hits_hosts" -> hitsHostsOracle,
    "embedding_centroids" ->
      """SELECT grp, dim, CAST(sum(round(x * 1000)) AS BIGINT) AS sum_q,
                count(*) AS n
         FROM (
           SELECT vec_id % 8 AS grp,
                  generate_subscripts(e, 1) - 1 AS dim, unnest(e) AS x
           FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                 FROM embeddings))
         GROUP BY 1, 2""",
    "triangle_counts" ->
      """WITH edges AS (
           SELECT DISTINCT 'h' || CAST(doc_id % 11 AS VARCHAR) AS src,
                           'h' || CAST(doc_id % 7 AS VARCHAR) AS dst
           FROM documents WHERE doc_id % 11 <> doc_id % 7),
         und AS (
           SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
           FROM edges WHERE src <> dst),
         sym AS (SELECT u AS a, v AS b FROM und
                 UNION ALL SELECT v, u FROM und),
         tri AS (
           SELECT t1.a AS x, t1.b AS y, t2.b AS z
           FROM sym t1
           JOIN sym t2 ON t2.a = t1.b AND t1.a < t1.b AND t2.b > t1.b
           JOIN und t3 ON t3.u = t1.a AND t3.v = t2.b),
         pern AS (SELECT unnest([x, y, z]) AS node FROM tri),
         nodes AS (SELECT u AS node FROM und UNION SELECT v FROM und)
       SELECT n.node, COALESCE(c.cnt, 0) AS triangles
       FROM nodes n LEFT JOIN
         (SELECT node, count(*) AS cnt FROM pern GROUP BY node) c
         USING (node)""",
    // the identical peel as a recursive CTE: each iteration keeps only
    // rows whose BOTH endpoints hold window-counted degree >= 2, and
    // recursion stops at the fixpoint (mindeg >= 2 emits nothing); the
    // k-core is the last completed iteration's edge set
    "kcore_hosts" ->
      """WITH RECURSIVE base AS (
           SELECT DISTINCT least(u0, v0) AS u, greatest(u0, v0) AS v FROM (
             SELECT 'n' || CAST(doc_id % 7 AS VARCHAR) AS u0,
                    'n' || CAST(doc_id % 5 AS VARCHAR) AS v0 FROM documents
             UNION ALL
             SELECT 'p' || CAST(doc_id AS VARCHAR),
                    'p' || CAST(doc_id + 1 AS VARCHAR)
             FROM documents WHERE doc_id < 7
             UNION ALL
             SELECT 'p0', 'n0' FROM documents WHERE doc_id = 0
           ) WHERE u0 <> v0),
         sym AS (SELECT u, v FROM base UNION ALL SELECT v, u FROM base),
         peel(iter, u, v) AS (
           SELECT 0, u, v FROM sym
           UNION ALL
           SELECT iter + 1, u, v FROM (
             SELECT iter, u, v, du, dv, min(least(du, dv)) OVER () AS mindeg
             FROM (SELECT iter, u, v,
                          count(*) OVER (PARTITION BY u) AS du,
                          count(*) OVER (PARTITION BY v) AS dv
                   FROM peel)
           ) WHERE du >= 2 AND dv >= 2 AND mindeg < 2)
       SELECT u AS node, count(*) AS deg
       FROM peel WHERE iter = (SELECT max(iter) FROM peel)
       GROUP BY u""",
    // the identical level expansion as a bounded recursive CTE: UNION
    // (not UNION ALL) dedups (node, h) rows so the recursion is finite,
    // and min(h) per node is the BFS distance; h < 6 replays the
    // engine's maxHops frontier cutoff exactly
    "bfs_hops" ->
      """WITH RECURSIVE e AS (
           SELECT DISTINCT src, dst FROM (
             SELECT 'v' || CAST(doc_id % 64 AS VARCHAR) AS src,
                    'v' || CAST((doc_id + 1) % 64 AS VARCHAR) AS dst
             FROM documents
             UNION ALL
             SELECT 'v' || CAST(doc_id % 64 AS VARCHAR),
                    'v' || CAST((doc_id * 2) % 64 AS VARCHAR)
             FROM documents
           ) WHERE src <> dst),
         r(node, h) AS (
           SELECT 'v9', 0
           UNION
           SELECT e.dst, r.h + 1 FROM r JOIN e ON e.src = r.node
           WHERE r.h < 6)
       SELECT node, CAST(min(h) AS BIGINT) AS hops FROM r GROUP BY node""",
    // the weighted twin: identical expansion, cost accumulates the
    // deterministic (7 src + 13 dst) mod 20 + 1 edge weight, min cost
    // per node within the 6-hop horizon
    "cheapest_path_hops" ->
      """WITH RECURSIVE e AS (
           SELECT DISTINCT 'v' || CAST(sr AS VARCHAR) AS src,
                  'v' || CAST(dr AS VARCHAR) AS dst,
                  (sr * 7 + dr * 13) % 20 + 1 AS w
           FROM (
             SELECT doc_id % 64 AS sr, (doc_id + 1) % 64 AS dr
             FROM documents
             UNION ALL
             SELECT doc_id % 64, (doc_id * 2) % 64 FROM documents
           ) WHERE sr <> dr),
         r(node, c, h) AS (
           SELECT 'v9', CAST(0 AS BIGINT), 0
           UNION
           SELECT e.dst, r.c + e.w, r.h + 1
           FROM r JOIN e ON e.src = r.node
           WHERE r.h < 6)
       SELECT node, CAST(min(c) AS BIGINT) AS cost FROM r GROUP BY node""",
    // same bucket/shard/rank arithmetic over the shared token-count
    // definition (len of regexp_extract_all \S+)
    "length_bucket_batches" ->
      """SELECT doc_id, ntok // 32 AS bucket, doc_id % 16 AS shard,
                (ROW_NUMBER() OVER (PARTITION BY ntok // 32, doc_id % 16
                                    ORDER BY doc_id) - 1) // 8 AS batch_idx
         FROM (SELECT doc_id, len(regexp_extract_all(text, '\S+')) AS ntok
               FROM documents)""",
    // identical staged-integer PMI: ((cab*n)//ca)*n*100 // (cb*m),
    // deterministic tie order on the pair strings
    "collocations_top" ->
      """WITH toks AS (
           SELECT string_split_regex(trim(text), '\s+') AS w FROM documents
           WHERE len(string_split_regex(trim(text), '\s+')) >= 1),
         uni AS (SELECT unnest(w) AS tok FROM toks),
         ucnt AS (SELECT tok, count(*) AS c FROM uni GROUP BY tok),
         tot AS (SELECT count(*) AS n FROM uni),
         big AS (
           SELECT p[1] AS w1, p[2] AS w2 FROM (
             SELECT unnest(list_transform(range(1, len(w)),
               i -> [w[i], w[i+1]])) AS p
             FROM toks WHERE len(w) >= 2)),
         bcnt AS (SELECT w1, w2, count(*) AS cab FROM big GROUP BY w1, w2),
         btot AS (SELECT count(*) AS m FROM big)
         SELECT w1, w2,
                (((cab * n) // ca.c) * n * 100) // (cb.c * m) AS score
         FROM bcnt
         JOIN ucnt ca ON ca.tok = w1
         JOIN ucnt cb ON cb.tok = w2, tot, btot
         ORDER BY score DESC, w1, w2 LIMIT 20""",
    // all-pairs levenshtein recompute over the same planted-typo frame;
    // both engines run the classic DP so dist is integer-exact
    "record_linkage_clusters" ->
      """WITH RECURSIVE
         pre AS (SELECT doc_id, substr(text, 1, 24) AS s FROM documents),
         base AS (
           SELECT doc_id, s FROM pre
           UNION ALL
           SELECT doc_id + 300000,
                  substr(s, 1, CAST(doc_id % 20 AS INT) + 2) || '~' ||
                  substr(s, CAST(doc_id % 20 AS INT) + 4)
           FROM pre WHERE doc_id % 9 = 0
         ),
         edges AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM base a, base b
           WHERE a.doc_id < b.doc_id AND levenshtein(a.s, b.s) <= 1),
         sym AS (SELECT id_a AS s, id_b AS d FROM edges
                 UNION SELECT id_b, id_a FROM edges),
         reach(id, lab) AS (
           SELECT s, s FROM sym
           UNION
           SELECT sym.d, reach.lab FROM reach JOIN sym ON sym.s = reach.id
         ),
         comp AS (SELECT id, min(lab) AS component FROM reach GROUP BY id)
         SELECT b.doc_id, COALESCE(c.component, b.doc_id) AS component
         FROM base b LEFT JOIN comp c ON c.id = b.doc_id""",
    "edit_distance_pairs" ->
      """WITH pre AS (SELECT doc_id, substr(text, 1, 24) AS s FROM documents),
         base AS (
           SELECT doc_id, s FROM pre
           UNION ALL
           SELECT doc_id + 300000,
                  substr(s, 1, CAST(doc_id % 20 AS INT) + 2) || '~' ||
                  substr(s, CAST(doc_id % 20 AS INT) + 4)
           FROM pre WHERE doc_id % 9 = 0
         )
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                levenshtein(a.s, b.s) AS dist
         FROM base a, base b
         WHERE a.doc_id < b.doc_id AND levenshtein(a.s, b.s) <= 1""",
    "ngram_jaccard_adjacent" ->
      """WITH grams AS (
           SELECT doc_id,
                  list_distinct(list_transform(range(1, len(w)-1),
                    i -> w[i]||chr(31)||w[i+1]||chr(31)||w[i+2])) AS g
           FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents)
         )
         SELECT a.doc_id AS id_a,
                CASE WHEN len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)) = 0 THEN 0.0
                     ELSE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                          / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) END AS jacc
         FROM grams a JOIN grams b ON b.doc_id = a.doc_id + 1""",
    "simhash_planted_pairs" ->
      """SELECT doc_id AS id_a, doc_id + 100000 AS id_b
         FROM documents WHERE doc_id % 10 = 0""",
    // pigeonhole banding with maxHamming+1 chunks is LOSSLESS (≤3
    // flipped bits leave ≥1 of 4 chunks intact), so the engine's banded
    // pair set equals the brute-force all-pairs hamming ≤ 3 population
    // — replayed here over the full simhash chain + an all-pairs join
    // (fine at oracle scale; the ENGINE never goes all-pairs)
    "simhash_pair_stats" ->
      s"""WITH RECURSIVE ${Fp.powsCte(4096)},
         docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0),
         ${simhashCtes("docs")},
         ph AS (
           SELECT bit_count(xor(a.simhash, b.simhash)) AS h
           FROM sims a JOIN sims b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.simhash, b.simhash)) <= 3)
         SELECT count(*) AS n_pairs,
                coalesce(min(h), -1) AS min_hamming,
                coalesce(max(h), -1) AS max_hamming
         FROM ph""",
    "embed_dup_pairs" ->
      """SELECT vec_id AS id_a, vec_id + 100000 AS id_b
         FROM embeddings WHERE vec_id % 10 = 0""",
    // survivors = every original id: each planted copy collapses onto
    // its original (same cell, cosine 1), nothing else reaches 0.99
    "semantic_dedup" ->
      "SELECT vec_id FROM embeddings",
    // exact-degenerate sketch config: group sizes <= accuracy make
    // percentile_approx the exact discrete quantile (smallest value
    // with rank >= ceil(p*n)) == DuckDB's quantile_disc
    "sketch_quantiles_exact" ->
      """WITH q AS (
           SELECT event_type AS grp,
                  quantile_disc(value, 0.25) AS q25,
                  quantile_disc(value, 0.5) AS q50,
                  quantile_disc(value, 0.9) AS q90
           FROM events GROUP BY 1)
         SELECT grp, CAST(0.25 AS DOUBLE) AS prob, q25 AS quantile FROM q
         UNION ALL SELECT grp, CAST(0.5 AS DOUBLE), q50 FROM q
         UNION ALL SELECT grp, CAST(0.9 AS DOUBLE), q90 FROM q""",
    // approximate sketches, hash-gated by their exact CONTRACT columns
    // (the estimates themselves are engine-internal): the oracle
    // recomputes the exact sides and asserts the invariants TRUE
    "sketch_distinct" ->
      """SELECT event_type AS grp,
                count(DISTINCT user_id) AS n_exact,
                count(user_id) AS n,
                TRUE AS within_tol
         FROM events GROUP BY 1""",
    "sketch_union_distinct" ->
      """SELECT count(DISTINCT user_id) AS global_exact,
                (SELECT max(gd) FROM (
                   SELECT count(DISTINCT user_id) AS gd
                   FROM events GROUP BY event_type)) AS max_group_exact,
                TRUE AS within_tol,
                TRUE AS ge_max_group
         FROM events""",
    "sketch_quantiles" ->
      """WITH g AS (
           SELECT event_type AS grp, count(value) AS n
           FROM events GROUP BY 1)
         SELECT grp, CAST(p AS DOUBLE) AS prob, n,
                TRUE AS lt_ok, TRUE AS le_ok
         FROM g CROSS JOIN (SELECT unnest([0.25, 0.5, 0.9]) AS p)""",
    // the merged MRL summary's invariants are EXACT integers computed
    // in-plan by the engine; the oracle pins the scaffold (probs, n)
    // and asserts the booleans
    "quantile_sketch_merge" ->
      """WITH nn AS (SELECT count(*) AS n FROM events
                     WHERE value IS NOT NULL AND event_id IS NOT NULL)
         SELECT CAST(p AS DOUBLE) AS prob, n, TRUE AS le_ok, TRUE AS lt_ok
         FROM nn CROSS JOIN
           (SELECT unnest([0.1, 0.25, 0.5, 0.75, 0.9, 0.99]) AS p)""",
    "quantile_sketch_compress" ->
      """WITH nn AS (SELECT count(*) AS n FROM events
                     WHERE value IS NOT NULL)
         SELECT CAST(p AS DOUBLE) AS prob, n, TRUE AS le_ok, TRUE AS lt_ok
         FROM nn CROSS JOIN (SELECT unnest([0.05, 0.5, 0.95]) AS p)""",
    "stream_quantile_sketch" ->
      """WITH nn AS (SELECT count(*) AS n FROM events
                     WHERE value IS NOT NULL)
         SELECT CAST(p AS DOUBLE) AS prob, n, TRUE AS le_ok, TRUE AS lt_ok
         FROM nn CROSS JOIN (SELECT unnest([0.1, 0.5, 0.9]) AS p)""",
    "quantile_sketch_by_group" ->
      """WITH g AS (SELECT event_type AS grp, count(*) AS n FROM events
                    WHERE value IS NOT NULL AND event_type IS NOT NULL
                    GROUP BY 1)
         SELECT grp, CAST(p AS DOUBLE) AS prob, n,
                TRUE AS le_ok, TRUE AS lt_ok
         FROM g CROSS JOIN (SELECT unnest([0.25, 0.5, 0.9]) AS p)""",
    "span_dup_stats" ->
      """WITH base AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0),
         toks AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM base),
         grams AS (
           SELECT doc_id,
                  unnest([array_to_string(w[i:i+7], ' ') for i in range(1, len(w)-6)]) AS g
           FROM toks WHERE len(w) >= 8),
         firsts AS (SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY g)
         SELECT doc_id, count(*) AS n_spans,
                CAST(sum(CASE WHEN doc_id > first_doc THEN 1 ELSE 0 END) AS BIGINT)
                  AS dup_spans
         FROM grams JOIN firsts USING (g)
         GROUP BY doc_id""",
    "dup_span_removal" ->
      """WITH base AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0),
         toks AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM base),
         pos AS (
           SELECT doc_id, unnest(w) AS tok, generate_subscripts(w, 1) AS idx
           FROM toks),
         g1 AS (
           SELECT doc_id, unnest(range(1, len(w) - 6)) AS gp, w
           FROM toks WHERE len(w) >= 8),
         grams AS (
           SELECT doc_id, gp, array_to_string(w[gp:gp+7], ' ') AS g FROM g1),
         firsts AS (SELECT g, min(doc_id) AS fd FROM grams GROUP BY g),
         dup AS (
           SELECT grams.doc_id, gp FROM grams JOIN firsts USING (g)
           WHERE grams.doc_id > fd),
         covered AS (
           SELECT DISTINCT doc_id, unnest(range(gp, gp + 8)) AS idx FROM dup),
         kept AS (
           SELECT p.doc_id, p.tok, p.idx
           FROM pos p ANTI JOIN covered c USING (doc_id, idx)),
         clean AS (
           SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS text,
                  count(*) AS kept_tokens
           FROM kept GROUP BY doc_id)
       SELECT t.doc_id, COALESCE(c.text, '') AS text,
              COALESCE(c.kept_tokens, 0) AS kept_tokens,
              len(w) - COALESCE(c.kept_tokens, 0) AS removed_tokens
       FROM toks t LEFT JOIN clean c USING (doc_id)""",
    "ann_cosine_topk" -> bruteForceCosineOracle,
    // bits=0 SRP degenerates to brute force: same oracle, and the whole
    // band/bucket/refine pipeline is what's under test
    "ann_srp_exact" -> bruteForceCosineOracle,
    // exact-degenerate IVF/PQ configs reproduce brute force bit-for-bit:
    // SAME oracle SQL — only the Spark plan differs
    "ann_ivf_exact" -> bruteForceCosineOracle,
    "ann_pq_exact" -> bruteForceCosineOracle,
    // the APPROXIMATE configs under full replay: integer-staged SRP
    // bits / mix64-ordered centroid sample make the whole approximate
    // pipeline deterministic cross-engine
    "ann_srp_topk" -> srpTopkOracle,
    "ann_ivf_topk" -> ivfTopkOracle,
    // PQ contract gate: recall@5 >= 80% vs the in-plan brute force
    "ann_pq_topk" ->
      """SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n_queries,
                TRUE AS recall_ok
         FROM embeddings WHERE vec_id < 10""",
    "doc_fingerprint64" -> fingerprintOracle,
    "simhash_fingerprints" -> simhashOracle,
    // same fingerprint chain; self-jaccard is 1.0 exactly when the doc
    // has at least one 3-token gram (empty-vs-empty compares 0.0)
    "sql_pipeline_surface" ->
      s"""WITH RECURSIVE ${Fp.powsCte(4096)},
         ${simhashCtes("documents")}
         SELECT s.doc_id, s.simhash,
                CAST(CASE WHEN EXISTS (SELECT 1 FROM ghash g
                                       WHERE g.doc_id = s.doc_id)
                          THEN 1.0 ELSE 0.0 END AS DOUBLE) AS self_jaccard
         FROM sims s""",
    "sorted_neighbor_pairs" -> sortedNeighborOracle,
    // winnowing replay: the seed-42 gram-hash chain (ngram=4), then the
    // min over each 4-hash window as a ROWS window frame; start
    // positions run to m-3 (or just 1 when a doc has fewer than 4
    // grams — the frame then truncates to "min of all", the same
    // degenerate case the Scala side special-cases)
    "winnow_fingerprints" ->
      s"""WITH RECURSIVE ${Fp.powsCte(4096)},
         ${gramHashCtes(4)},
         gsig AS (
           SELECT doc_id, gpos,
                  CAST(CASE WHEN CAST(gfp AS HUGEINT) >= $signedMax
                            THEN CAST(gfp AS HUGEINT) - ${Fp.MOD}
                            ELSE CAST(gfp AS HUGEINT) END AS BIGINT) AS h
           FROM ghash),
         wins AS (
           SELECT doc_id, gpos,
                  min(h) OVER (PARTITION BY doc_id ORDER BY gpos
                               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
                  count(*) OVER (PARTITION BY doc_id) AS m
           FROM gsig)
         SELECT DISTINCT doc_id, fp FROM wins
         WHERE gpos <= greatest(m - 3, 1)""",
    "salted_join_counts" ->
      """SELECT user_id % 7 AS cohort, event_type, count(*) AS n
         FROM events GROUP BY 1, 2""",
    "embedding_covariance" ->
      """WITH q AS (
           SELECT list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
           FROM embeddings),
         idx AS (SELECT i.i AS i, j.j AS j
                 FROM range(0, 64) i(i), range(0, 64) j(j) WHERE j.j >= i.i),
         pr AS (SELECT idx.i, idx.j,
                       CAST(sum(q.v[idx.i + 1] * q.v[idx.j + 1]) AS BIGINT)
                         AS sum_xy
                FROM q CROSS JOIN idx GROUP BY 1, 2),
         sx AS (SELECT i.i AS i, CAST(sum(q.v[i.i + 1]) AS BIGINT) AS s
                FROM q CROSS JOIN range(0, 64) i(i) GROUP BY 1),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings)
         SELECT p.i, p.j, p.sum_xy, a.s AS sum_xi, b.s AS sum_xj,
                (SELECT n FROM nn) AS n
         FROM pr p JOIN sx a ON a.i = p.i JOIN sx b ON b.i = p.j""",
    "value_mad_outliers" ->
      """WITH e AS (SELECT event_type,
                           CAST(round(value * 1000) AS BIGINT) AS v
                    FROM events),
         m AS (SELECT event_type, CAST(quantile_disc(v, 0.5) AS BIGINT) AS med
               FROM e GROUP BY 1),
         d AS (SELECT e.event_type, v, abs(v - m.med) AS dev, m.med
               FROM e JOIN m USING (event_type)),
         md AS (SELECT event_type,
                       CAST(quantile_disc(dev, 0.5) AS BIGINT) AS mad
                FROM d GROUP BY 1)
         SELECT d.event_type, count(*) AS n,
                CAST(sum(CASE WHEN dev > 3 * md.mad THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_outliers,
                min(d.med) AS med, min(md.mad) AS mad
         FROM d JOIN md USING (event_type)
         GROUP BY 1""",
    "key_skew_profile" ->
      """WITH counts AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
         stats AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
                          CAST(sum(n) AS BIGINT) AS n_rows,
                          CAST(max(n) AS BIGINT) AS max_n
                   FROM counts)
         SELECT 'n_keys' AS metric, n_keys AS value FROM stats
         UNION ALL SELECT 'n_rows', n_rows FROM stats
         UNION ALL SELECT 'max_n', max_n FROM stats
         UNION ALL SELECT 'top1_share_ppm', (1000000 * max_n) // n_rows
           FROM stats
         UNION ALL SELECT 'p50_n', CAST(quantile_disc(n, 0.5) AS BIGINT)
           FROM counts
         UNION ALL SELECT 'p90_n', CAST(quantile_disc(n, 0.9) AS BIGINT)
           FROM counts
         UNION ALL SELECT 'p99_n', CAST(quantile_disc(n, 0.99) AS BIGINT)
           FROM counts""",
    "minhash_signatures" -> minhashSignaturesOracle,
    // stub-codec plumbing gates: byte length passes through the decode
    // path per row; every stub output is asserted into its documented
    // range/set (the invariant columns must all be TRUE)
    "multimodal_features" ->
      """SELECT doc_id,
                CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
                TRUE AS width_ok, TRUE AS height_ok,
                TRUE AS format_ok, TRUE AS f0_ok
         FROM documents""",
    "multimodal_frames" ->
      """SELECT doc_id,
                CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
                TRUE AS n_frames_ok, TRUE AS resize_max_ok,
                TRUE AS resize_pos_ok
         FROM documents""",
    // batched decode: row count + total payload bytes preserved
    // exactly; decode purity and range/set membership asserted TRUE
    "multimodal_batch_decode" ->
      """SELECT CAST(count(*) AS BIGINT) AS total_n,
                CAST(sum(octet_length(encode(text))) AS BIGINT) AS sum_bytes,
                TRUE AS deterministic, TRUE AS width_ok, TRUE AS formats_ok
         FROM documents""",
    // the real-PNG fixture dimensions are pure id arithmetic
    "multimodal_png_decode" ->
      """SELECT doc_id, CAST(doc_id % 7 + 3 AS INT) AS width,
                CAST(doc_id % 5 + 2 AS INT) AS height,
                'png' AS format
         FROM documents""",
    // the PNG fixture's pixels are (id*31 + x*7 + y) % 0xffffff — the
    // lossless roundtrip means per-channel sums are LATERAL-range
    // arithmetic
    "multimodal_pixel_stats" ->
      """SELECT doc_id,
                CAST(doc_id % 7 + 3 AS INT) AS w,
                CAST(doc_id % 5 + 2 AS INT) AS h,
                CAST(sum(v // 65536) AS BIGINT) AS sum_r,
                CAST(sum((v // 256) % 256) AS BIGINT) AS sum_g,
                CAST(sum(v % 256) AS BIGINT) AS sum_b
         FROM (SELECT d.doc_id,
                      (d.doc_id * 31 + x.x * 7 + y.y) % 16777215 AS v
               FROM documents d,
                    LATERAL (SELECT unnest(range(0, d.doc_id % 7 + 3)) AS x) x,
                    LATERAL (SELECT unnest(range(0, d.doc_id % 5 + 2)) AS y) y)
         GROUP BY doc_id""",
    // the GIF fixture frame structure is pure id arithmetic; range()
    // replays the every-2nd-frame sampling
    "multimodal_gif_frames" ->
      """SELECT doc_id,
                CAST(unnest(range(0, doc_id % 6 + 2, 2)) AS INT) AS frame_idx,
                CAST(doc_id % 7 + 3 AS INT) AS width,
                CAST(doc_id % 5 + 2 AS INT) AS height
         FROM documents""",
    "multimodal_wav_decode" ->
      """SELECT doc_id,
                CAST(8000 + (doc_id % 4) * 4000 AS INT) AS sample_rate,
                CAST(doc_id % 2 + 1 AS INT) AS channels,
                CAST(16 AS INT) AS bits,
                CAST(doc_id % 50 + 10 AS BIGINT) AS n_frames,
                'pcm_wav' AS codec
         FROM documents""",
    "image_dhash" ->
      s"""WITH RECURSIVE $dhashCtes
         SELECT doc_id, dhash FROM dfp""",
    "image_dhash_pairs" ->
      s"""WITH RECURSIVE $dhashCtes,
         ids AS (SELECT doc_id, doc_id AS src FROM documents
                 WHERE doc_id % 25 = 0
                 UNION ALL
                 SELECT doc_id + 100000, doc_id FROM documents
                 WHERE doc_id % 50 = 0),
         hs AS (SELECT i.doc_id, f.dhash
                FROM ids i JOIN dfp f ON f.doc_id = i.src)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
         FROM hs a JOIN hs b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.dhash, b.dhash)) <= 2""",
    "image_dedup" ->
      s"""WITH RECURSIVE $dhashCtes
         SELECT min(doc_id) AS doc_id, dhash FROM dfp GROUP BY dhash""",
    // histogram replay: per-pixel joint RGB bin from the id formula,
    // all 64 dims emitted (zero bins included, like posexplode)
    "image_histogram_features" ->
      """WITH px AS (
           SELECT d.doc_id,
                  (d.doc_id * 31 + x.x * 7 + y.y) % 16777215 AS v
           FROM documents d,
                LATERAL (SELECT unnest(range(0, d.doc_id % 7 + 3)) AS x) x,
                LATERAL (SELECT unnest(range(0, d.doc_id % 5 + 2)) AS y) y),
         cnt AS (
           SELECT doc_id,
                  ((v // 65536) // 64 * 4 + (v // 256) % 256 // 64) * 4
                  + (v % 256) // 64 AS dim,
                  count(*) AS n
           FROM px GROUP BY 1, 2),
         dims AS (SELECT doc_id, j.j AS dim
                  FROM documents, range(0, 64) j(j))
         SELECT dims.doc_id, CAST(dims.dim AS BIGINT) AS dim,
                CAST(COALESCE(cnt.n, 0) AS BIGINT) AS n
         FROM dims LEFT JOIN cnt
           ON cnt.doc_id = dims.doc_id AND cnt.dim = dims.dim""",
    // resize replay: dims by the same floor arithmetic, pixels sampled
    // at sx = x*w//nw, sy = y*h//nh from the id-derived pixel formula
    "multimodal_resize_stats" ->
      """WITH base AS (
           SELECT doc_id, doc_id % 7 + 3 AS w, doc_id % 5 + 2 AS h,
                  greatest(doc_id % 7 + 3, doc_id % 5 + 2) AS m
           FROM documents),
         dims AS (
           SELECT doc_id, w, h,
                  CASE WHEN m <= 4 THEN w
                       ELSE greatest(1, (w * 4) // m) END AS nw,
                  CASE WHEN m <= 4 THEN h
                       ELSE greatest(1, (h * 4) // m) END AS nh
           FROM base),
         px AS (
           SELECT d.doc_id, d.w, d.h, d.nw, d.nh,
                  (d.doc_id * 31 + ((x.x * d.w) // d.nw) * 7
                   + ((y.y * d.h) // d.nh)) % 16777215 AS v
           FROM dims d,
                LATERAL (SELECT unnest(range(0, d.nw)) AS x) x,
                LATERAL (SELECT unnest(range(0, d.nh)) AS y) y)
         SELECT doc_id, CAST(w AS INT) AS w, CAST(h AS INT) AS h,
                CAST(nw AS INT) AS new_w, CAST(nh AS INT) AS new_h,
                CAST(sum(v // 65536) AS BIGINT) AS sum_r,
                CAST(sum((v // 256) % 256) AS BIGINT) AS sum_g,
                CAST(sum(v % 256) AS BIGINT) AS sum_b
         FROM px GROUP BY 1, 2, 3, 4, 5""",
    // the WAV fixture's PCM bytes are (id*131 + i*17) % 256 - 128; the
    // decoded 16-bit little-endian samples are LATERAL-range arithmetic
    "multimodal_wav_samples" ->
      """WITH base AS (SELECT doc_id,
                              8000 + (doc_id % 4) * 4000 AS rate,
                              doc_id % 2 + 1 AS channels,
                              doc_id % 50 + 10 AS frames
                       FROM documents),
         samp AS (SELECT b.doc_id, b.rate, b.channels, b.frames,
                         (b.doc_id * 131 + (2 * k.k) * 17 + 128) % 256
                         + 256 * ((b.doc_id * 131 + (2 * k.k + 1) * 17 + 128)
                                  % 256) AS sraw
                  FROM base b,
                       LATERAL (SELECT unnest(range(0, b.frames * b.channels))
                                AS k) k),
         sgn AS (SELECT doc_id, rate, channels, frames,
                        CASE WHEN sraw >= 32768 THEN sraw - 65536
                             ELSE sraw END AS s
                 FROM samp)
         SELECT doc_id, CAST(rate AS INT) AS rate,
                CAST(channels AS INT) AS channels,
                CAST(frames AS BIGINT) AS frames,
                CAST(sum(s) AS BIGINT) AS sum_s,
                CAST(sum(abs(s)) AS BIGINT) AS sum_abs
         FROM sgn GROUP BY 1, 2, 3, 4""",
    "image_wht_embedding" ->
      """WITH wb AS (SELECT doc_id, doc_id % 7 + 3 AS w, doc_id % 5 + 2 AS h
                     FROM documents),
         wg AS (
           SELECT b.doc_id, x.x AS gx, y.y AS gy,
                  (b.doc_id * 31 + ((x.x * b.w) // 8) * 7
                   + ((y.y * b.h) // 8)) % 16777215 AS v
           FROM wb b,
                LATERAL (SELECT unnest(range(0, 8)) AS x) x,
                LATERAL (SELECT unnest(range(0, 8)) AS y) y),
         wl AS (
           SELECT doc_id, gx, gy,
                  299 * (v // 65536) + 587 * ((v // 256) % 256)
                  + 114 * (v % 256) AS lum
           FROM wg),
         uv AS (SELECT u.u, v.v
                FROM (SELECT unnest(range(0, 4)) AS u) u,
                     (SELECT unnest(range(0, 4)) AS v) v)
         SELECT doc_id, CAST(u * 4 + v AS BIGINT) AS k,
                CAST(sum(lum * (1 - 2 * (bit_count(gx & u) % 2))
                             * (1 - 2 * (bit_count(gy & v) % 2)))
                     AS BIGINT) AS coeff
         FROM wl CROSS JOIN uv GROUP BY 1, 2""",
    "multimodal_wav_wht" ->
      """WITH base AS (SELECT doc_id,
                              (doc_id % 50 + 10) * (doc_id % 2 + 1) AS ns
                       FROM documents),
         samp AS (SELECT b.doc_id, n.n,
                         (b.doc_id * 131 + (2 * n.n) * 17 + 128) % 256
                         + 256 * ((b.doc_id * 131 + (2 * n.n + 1) * 17 + 128)
                                  % 256) AS sraw
                  FROM base b,
                       LATERAL (SELECT unnest(range(0, least(b.ns, 32)))
                                AS n) n),
         sgn AS (SELECT doc_id, n,
                        CASE WHEN sraw >= 32768 THEN sraw - 65536
                             ELSE sraw END AS s
                 FROM samp),
         ks AS (SELECT unnest(range(0, 8)) AS k)
         SELECT doc_id, CAST(k AS BIGINT) AS k,
                CAST(sum(s * CASE WHEN bit_count(n & k) % 2 = 0
                                  THEN 1 ELSE -1 END) AS BIGINT) AS coeff
         FROM sgn CROSS JOIN ks GROUP BY 1, 2""",
    "embed_dedup_exact" ->
      """SELECT min(vec_id) AS keep_id, count(*) AS n FROM (
           SELECT vec_id, embedding FROM embeddings
           UNION ALL
           SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 10 = 0
         ) GROUP BY embedding""",
    "ann_quant_topk" ->
      """SELECT q_id, c_id, dot, rank FROM (
           SELECT q.vec_id AS q_id, c.vec_id AS c_id,
                  list_dot_product(list_transform(CAST(q.embedding AS DOUBLE[]), x -> round(x*1000)),
                                   list_transform(CAST(c.embedding AS DOUBLE[]), x -> round(x*1000))) AS dot,
                  row_number() OVER (PARTITION BY q.vec_id
                                     ORDER BY list_dot_product(list_transform(CAST(q.embedding AS DOUBLE[]), x -> round(x*1000)),
                                                               list_transform(CAST(c.embedding AS DOUBLE[]), x -> round(x*1000))) DESC,
                                              c.vec_id) AS rank
           FROM embeddings q, embeddings c WHERE q.vec_id < 10
         ) WHERE rank <= 5""",
    // line-level Gopher stats: identical split/trim/length arithmetic
    "line_stats" ->
      """WITH p AS (
           SELECT doc_id,
                  text || chr(10) || text
                    || CASE WHEN doc_id % 7 = 0
                            THEN chr(10) || '- item ' || CAST(doc_id AS VARCHAR)
                            ELSE '' END
                    || CASE WHEN doc_id % 5 = 0
                            THEN chr(10) || 'more soon...' ELSE '' END AS ptext
           FROM documents),
         l AS (
           SELECT doc_id,
                  list_filter(list_transform(string_split(ptext, chr(10)), x -> trim(x)),
                              x -> length(x) > 0) AS lines
           FROM p)
         SELECT doc_id,
                len(lines) AS n_lines,
                len(lines) - len(list_distinct(lines)) AS dup_lines,
                CAST(coalesce(list_sum(list_transform(lines, x -> length(x))), 0)
                   - coalesce(list_sum(list_transform(list_distinct(lines), x -> length(x))), 0)
                   AS BIGINT) AS dup_line_chars,
                len(list_filter(lines, x -> substr(x, 1, 2) IN ('- ', '* '))) AS bullet_lines,
                len(list_filter(lines, x -> ends_with(x, '...'))) AS ellipsis_lines
         FROM l""",
    // char-bigram LM familiarity: floor-log2 via length(bin(cnt))-1 —
    // exact integers in both engines, no ln() ulp divergence
    "lm_familiarity" ->
      """WITH grams AS (
           SELECT doc_id, substr(text, i, 2) AS gram
           FROM documents, unnest(range(1, length(text))) AS t(i)),
         model AS (SELECT gram, count(*) AS cnt FROM grams GROUP BY 1)
         SELECT g.doc_id,
                count(*) AS n_grams,
                CAST(sum(length(bin(m.cnt)) - 1) AS BIGINT) AS sum_log2,
                CAST(floor(sum(length(bin(m.cnt)) - 1) * 100.0 / count(*)) AS BIGINT)
                  AS fam_x100
         FROM grams g JOIN model m USING (gram)
         GROUP BY g.doc_id""",
    // inverted index, long form: tf join df with the [2, 250] df band
    "inverted_index" ->
      """WITH toks AS (
           SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1
                 HAVING count(*) >= 2
                    AND count(*) <= (SELECT (count(*) * 8) // 10 FROM documents))
         SELECT t.term, d.df, t.doc_id, t.tf
         FROM tf t JOIN dfq d USING (term)""",
    "bm25_topk" ->
      s"""$bm25Ctes
         SELECT query_id, doc_id, CAST(score AS BIGINT) AS score,
                CAST(rank AS BIGINT) AS rank
         FROM ranked WHERE rank <= 10""",
    // MRR replay on top of the SAME bm25 chain: first relevant rank per
    // query (relevant == the doc the query was cut from), left-joined
    // so missed queries still count in n_queries
    "bm25_mrr" ->
      s"""$bm25Ctes,
         hits AS (
           SELECT query_id, min(rank) AS first_rank
           FROM ranked WHERE rank <= 10 AND doc_id = query_id
           GROUP BY query_id),
         qs AS (SELECT DISTINCT doc_id AS query_id FROM documents
                WHERE doc_id % 100 = 7)
         SELECT count(*) AS n_queries,
                count(h.first_rank) AS n_hit,
                COALESCE(CAST(sum(1000000 // h.first_rank) AS BIGINT), 0)
                  AS sum_rr_ppm
         FROM qs LEFT JOIN hits h USING (query_id)""",
    "bm25_ndcg" -> {
      val w = Retrieval.ndcgWeights(10)
      val cum = w.scanLeft(0L)(_ + _).tail
      val wt = w.zipWithIndex.map { case (v, i) => s"(${i + 1}, $v)" }
        .mkString(", ")
      val cumt = cum.zipWithIndex.map { case (v, i) => s"(${i + 1}, $v)" }
        .mkString(", ")
      s"""$bm25Ctes,
         wt(r, w) AS (VALUES $wt),
         cumt(n, cw) AS (VALUES $cumt),
         relq AS (SELECT doc_id AS query_id FROM documents
                  WHERE doc_id % 100 = 7),
         rel AS (SELECT query_id, query_id + x.x AS rel_doc
                 FROM relq,
                      LATERAL (SELECT unnest(range(0, 3)) AS x) x),
         nrel AS (SELECT query_id, count(*) AS n_rel FROM rel GROUP BY 1),
         dcg AS (
           SELECT r.query_id, sum(wt.w) AS dcg
           FROM ranked r
           JOIN rel ON r.query_id = rel.query_id AND r.doc_id = rel.rel_doc
           JOIN wt ON wt.r = r.rank
           WHERE r.rank <= 10
           GROUP BY 1)
         SELECT n.query_id AS qid,
                CAST(coalesce(1000000 * d.dcg // c.cw, 0) AS BIGINT)
                  AS ndcg_ppm
         FROM nrel n
         JOIN cumt c ON c.n = least(n.n_rel, 10)
         LEFT JOIN dcg d ON d.query_id = n.query_id"""
    },
    "embedding_projection" ->
      """WITH q AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
           FROM embeddings)
         SELECT q.vec_id, j.j AS j,
                CAST(sum(q.v[i.i + 1] *
                     (((1103515245 * (i.i * 8 + j.j) + 12345) % 2147483648)
                      % 2001 - 1000)) AS BIGINT) AS y_q
         FROM q, range(0, 64) i(i), range(0, 8) j(j)
         GROUP BY 1, 2""",
    "ivf_partitioned_probe" ->
      """WITH q AS (
           SELECT vec_id,
                  list_transform(embedding,
                    x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
           FROM embeddings),
         c AS (SELECT vec_id AS cid, v AS cv FROM q
               WHERE vec_id % 97 = 3 ORDER BY vec_id LIMIT 8),
         qv AS (SELECT v FROM q WHERE vec_id = 7),
         pc AS (SELECT cid FROM (
                  SELECT c.cid, row_number() OVER (ORDER BY
                    list_sum(list_transform(range(1, len(c.cv) + 1),
                      i -> (c.cv[i] - qv.v[i]) * (c.cv[i] - qv.v[i]))),
                    c.cid) AS rn
                  FROM c CROSS JOIN qv)
                WHERE rn <= 2),
         d AS (
           SELECT q.vec_id, c.cid,
                  CAST(list_sum(list_transform(range(1, len(q.v) + 1),
                    i -> (q.v[i] - c.cv[i]) * (q.v[i] - c.cv[i]))) AS BIGINT)
                    AS dist2
           FROM q CROSS JOIN c),
         asg AS (SELECT vec_id, cid AS cluster FROM (
                   SELECT vec_id, cid,
                          row_number() OVER (PARTITION BY vec_id
                                             ORDER BY dist2, cid) AS rn
                   FROM d)
                 WHERE rn = 1),
         cand AS (SELECT q.vec_id, q.v, a.cluster
                  FROM q JOIN asg a USING (vec_id)
                  WHERE a.cluster IN (SELECT cid FROM pc)),
         scored AS (
           SELECT cand.vec_id AS c_id, cand.cluster,
                  CAST(list_sum(list_transform(range(1, len(cand.v) + 1),
                    i -> cand.v[i] * qv.v[i])) AS BIGINT) AS dot
           FROM cand CROSS JOIN qv)
         SELECT c_id, CAST(cluster AS BIGINT) AS cluster, dot,
                CAST(row_number() OVER (ORDER BY dot DESC, c_id) AS BIGINT)
                  AS rank
         FROM scored QUALIFY rank <= 5""",
    "kmeans_assign" ->
      """WITH q AS (
           SELECT vec_id,
                  list_transform(embedding,
                    x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
           FROM embeddings),
         c AS (SELECT vec_id AS cid, v AS cv FROM q
               WHERE vec_id % 97 = 3 ORDER BY vec_id LIMIT 8),
         d AS (
           SELECT q.vec_id, c.cid,
                  CAST(list_sum(list_transform(range(1, len(q.v) + 1),
                    i -> (q.v[i] - c.cv[i]) * (q.v[i] - c.cv[i]))) AS BIGINT)
                    AS dist2
           FROM q CROSS JOIN c),
         r AS (SELECT vec_id, cid, dist2,
                      row_number() OVER (PARTITION BY vec_id
                                         ORDER BY dist2, cid) AS rn
               FROM d)
         SELECT vec_id, cid AS cluster, dist2 FROM r WHERE rn = 1""",
    "mixture_epochs" ->
      """SELECT doc_id, source, CAST(e.epoch AS BIGINT) AS epoch
         FROM documents,
              LATERAL (SELECT unnest(range(1,
                CAST(substr(source, 4) AS INT) % 3 + 2)) AS epoch) e""",
    "ann_filtered_topk" ->
      """SELECT q_id, c_id, dot, rank FROM (
           SELECT q.vec_id AS q_id, c.vec_id AS c_id,
                  list_dot_product(list_transform(CAST(q.embedding AS DOUBLE[]), x -> round(x*1000)),
                                   list_transform(CAST(c.embedding AS DOUBLE[]), x -> round(x*1000))) AS dot,
                  row_number() OVER (PARTITION BY q.vec_id
                                     ORDER BY list_dot_product(list_transform(CAST(q.embedding AS DOUBLE[]), x -> round(x*1000)),
                                                               list_transform(CAST(c.embedding AS DOUBLE[]), x -> round(x*1000))) DESC,
                                              c.vec_id) AS rank
           FROM embeddings q, embeddings c
           WHERE q.vec_id < 10 AND q.label = c.label AND q.vec_id <> c.vec_id
         ) WHERE rank <= 5""",
    "column_profile" ->
      """WITH base AS (SELECT o_custkey, nullif(o_orderstatus, 'F') AS status,
                              o_orderpriority
                       FROM orders)
         SELECT 'o_custkey' AS col_name, count(*) AS n,
                count(*) - count(o_custkey) AS n_null,
                count(DISTINCT o_custkey) AS n_distinct FROM base
         UNION ALL
         SELECT 'status', count(*), count(*) - count(status),
                count(DISTINCT status) FROM base
         UNION ALL
         SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
                count(DISTINCT o_orderpriority) FROM base""",
    "cdc_apply_latest" -> cdcApplyOracle,
    "stream_cdc_upsert" -> cdcApplyOracle,
    "snapshot_diff" ->
      """WITH o AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 4),
         nw AS (SELECT doc_id,
                       CASE WHEN doc_id % 7 = 0 THEN text || ' [v2]'
                            ELSE text END AS text
                FROM documents WHERE doc_id % 5 <> 3)
         SELECT COALESCE(o.doc_id, nw.doc_id) AS doc_id,
                CASE WHEN o.doc_id IS NULL THEN 'added'
                     WHEN nw.doc_id IS NULL THEN 'removed'
                     WHEN o.text = nw.text THEN 'unchanged'
                     ELSE 'changed' END AS status
         FROM o FULL OUTER JOIN nw ON o.doc_id = nw.doc_id""",
    // both incremental paths must equal the plain text anti-join
    "incremental_dedup" -> incrementalDedupOracle,
    "incremental_dedup_bucketed" -> incrementalDedupOracle,
    "incremental_dedup_bloom" -> incrementalDedupOracle,
    "quality_linear_score" -> linearScoreOracle,
    "dsir_logweights" -> dsirLogweightsOracle,
    "dsir_resample" -> dsirResampleOracle,
    "nfc_stats" ->
      """WITH p AS (
           SELECT doc_id,
                  text || CASE WHEN doc_id % 4 = 0
                               THEN ' cafe' || chr(769) ELSE '' END
                       || CASE WHEN doc_id % 6 = 0
                               THEN ' A' || chr(778) || 'ngstrom' ELSE '' END
                    AS ptext
           FROM documents)
         SELECT doc_id, length(ptext) AS len_raw,
                length(nfc_normalize(ptext)) AS len_nfc,
                length(ptext) - length(nfc_normalize(ptext)) AS composed
         FROM p""",
    // NFC-canonical equality collapses every composed copy onto its
    // decomposed original: survivors are exactly the original ids
    "nfc_dedup" -> "SELECT doc_id FROM documents",
    "cdc_chunks" -> cdcChunksOracle,
    "cdc_chunk_dedup" -> cdcChunkDedupOracle,
    "dedup_lines_in_doc" ->
      """WITH p AS (
           SELECT doc_id,
                  text || chr(10) || text
                    || CASE WHEN doc_id % 3 = 0
                            THEN chr(10) || 'unique tail ' || CAST(doc_id AS VARCHAR)
                            ELSE '' END
                    || chr(10) || text AS ptext
           FROM documents),
         l AS (
           SELECT doc_id,
                  list_filter(list_transform(string_split(ptext, chr(10)), x -> trim(x)),
                              x -> length(x) > 0) AS lines
           FROM p)
         SELECT doc_id,
                array_to_string(
                  list_transform(
                    list_filter(range(1, len(lines) + 1),
                                i -> list_position(lines, lines[i]) = i),
                    i -> lines[i]),
                  chr(10)) AS text
         FROM l""",
    // same wrap + strip rules, replayed in DuckDB's RE2 (inline (?is)
    // flags, 'g' for global — Spark's regexp_replace is global by
    // default) and chained replace() for the entity decode (amp LAST)
    "html_text_extract" ->
      """WITH p AS (
           SELECT doc_id,
                  '<html><head><script type="text/javascript">var x = 1 < 2;'
                    || '</script><style>.m{color:#fff}</style><!-- nav --></head>'
                    || '<body><h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1><p>'
                    || text || '</p>'
                    || CASE WHEN doc_id % 4 = 0
                            THEN '<p>a &amp; b &lt;tag&gt; &quot;q&quot; '
                                 || '&#39;s&#39;&nbsp;end tricky '
                                 || '&amp;lt;notag&amp;gt;</p>'
                            ELSE '' END
                    || '</body></html>' AS page
           FROM documents),
         s AS (
           SELECT doc_id,
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(
                        regexp_replace(page,
                          '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                        '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                      '(?s)<!--.*?-->', ' ', 'g'),
                    '<[^>]+>', ' ', 'g') AS t0
           FROM p)
         SELECT doc_id,
                trim(regexp_replace(
                  replace(replace(replace(replace(replace(replace(t0,
                    '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                    '&quot;', '"'), '&#39;', chr(39)), '&amp;', '&'),
                  '[ ' || chr(9) || chr(13) || chr(10) || chr(12) || ']+',
                  ' ', 'g')) AS text
         FROM s""",
    // the same per-(source, trimmed line) distinct-doc frequency rule,
    // NOT EXISTS against the >= 5 keys, ordered string_agg reassembly
    "boilerplate_lines" ->
      """WITH p AS (
           SELECT doc_id, source,
                  '(c) ' || source || ' rights reserved' || chr(10)
                    || text || chr(10)
                    || CASE WHEN doc_id % 2 = 0
                            THEN 'subscribe to ' || source || chr(10)
                            ELSE '' END
                    || 'ref ' || CAST(doc_id AS VARCHAR) AS ptext
           FROM documents),
         lines AS (
           SELECT doc_id, source, i AS pos, parts[i] AS line,
                  trim(parts[i]) AS lt
           FROM (SELECT doc_id, source, string_split(ptext, chr(10)) AS parts
                 FROM p),
                unnest(range(1, len(parts) + 1)) AS t(i)),
         boiler AS (
           SELECT source, lt
           FROM (SELECT DISTINCT source, lt, doc_id
                 FROM lines WHERE lt <> '')
           GROUP BY source, lt HAVING count(*) >= 5)
         SELECT d.doc_id,
                coalesce((SELECT string_agg(l.line, chr(10) ORDER BY l.pos)
                          FROM lines l
                          WHERE l.doc_id = d.doc_id
                            AND NOT EXISTS (SELECT 1 FROM boiler b
                                            WHERE b.source = l.source
                                              AND b.lt = l.lt)), '') AS text
         FROM documents d""",
    "embed_norm_filter" ->
      """WITH n AS (
           SELECT vec_id,
                  CAST(list_dot_product(
                    list_transform(CAST(embedding AS DOUBLE[]), x -> round(x*1000)),
                    list_transform(CAST(embedding AS DOUBLE[]), x -> round(x*1000)))
                    AS BIGINT) AS qnorm
           FROM embeddings),
         t AS (SELECT quantile_disc(qnorm, 0.9) AS thr FROM n)
         SELECT vec_id, qnorm FROM n CROSS JOIN t WHERE qnorm <= thr""",
    "exact_quantiles_global" ->
      """WITH q AS (
           SELECT quantile_disc(value, 0.25) AS q25,
                  quantile_disc(value, 0.5) AS q50,
                  quantile_disc(value, 0.9) AS q90
           FROM events)
         SELECT CAST(0.25 AS DOUBLE) AS prob, q25 AS quantile FROM q
         UNION ALL SELECT CAST(0.5 AS DOUBLE), q50 FROM q
         UNION ALL SELECT CAST(0.9 AS DOUBLE), q90 FROM q""",
    "exact_quantiles_group" ->
      """WITH q AS (
           SELECT event_type AS grp,
                  quantile_disc(value, 0.25) AS q25,
                  quantile_disc(value, 0.5) AS q50,
                  quantile_disc(value, 0.9) AS q90
           FROM events GROUP BY 1)
         SELECT grp, CAST(0.25 AS DOUBLE) AS prob, q25 AS quantile FROM q
         UNION ALL SELECT grp, CAST(0.5 AS DOUBLE), q50 FROM q
         UNION ALL SELECT grp, CAST(0.9 AS DOUBLE), q90 FROM q""",
    "vocab_coverage" ->
      """WITH c AS (
           SELECT term, count(*) AS cnt FROM (
             SELECT unnest(regexp_extract_all(text, '\S+')) AS term
             FROM documents) GROUP BY 1),
         r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, term) AS rank
               FROM c),
         tot AS (SELECT sum(cnt) AS total FROM c)
         SELECT v,
                CAST(sum(CASE WHEN rank <= v THEN cnt ELSE 0 END) AS BIGINT)
                  AS covered,
                CAST(floor(sum(CASE WHEN rank <= v THEN cnt ELSE 0 END)
                           * 1000000.0 / any_value(total)) AS BIGINT) AS ppm
         FROM r CROSS JOIN (VALUES (5), (10), (20)) AS vals(v) CROSS JOIN tot
         GROUP BY v"""
  )

  // hashed-linear-classifier oracle: per-token rolling-hash fingerprint
  // (the Fp HUGEINT reimplementation, token fold then the one-element
  // doc fold) -> low-6-bit bucket -> literal weight table lookup ->
  // per-doc integer sum. Same weights as TextAnalysis.demoQualityWeights.
  private lazy val linearScoreOracle: String = {
    val wList = graft.pipeline.TextAnalysis.demoQualityWeights
      .mkString("[", ", ", "]")
    s"""WITH RECURSIVE ${Fp.powsCte(4096)},
       toks AS (
         SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS tok
         FROM documents),
       traw AS (
         SELECT doc_id,
                ${Fp.polyFold(
                  "list_transform(range(1, length(tok)+1), " +
                    "i -> CAST(ord(substr(tok, i, 1)) AS HUGEINT))")} AS r
         FROM toks CROSS JOIN pw),
       thash AS (
         SELECT doc_id,
         ${Fp.mix64Stages("CAST(r AS UBIGINT)", "t")}
         FROM traw),
       draw AS (
         SELECT doc_id,
                ${Fp.mulmodPPlus("CAST(42 AS HUGEINT)", "CAST(tfp AS HUGEINT)")} AS r2
         FROM thash),
       dhash AS (
         SELECT doc_id,
         ${Fp.mix64Stages("CAST(r2 AS UBIGINT)", "d")}
         FROM draw),
       scored AS (
         SELECT doc_id, ($wList)[CAST(dfp % 64 AS INT) + 1] AS w FROM dhash),
       agg AS (SELECT doc_id, count(*) AS n_tokens,
                      CAST(sum(w) AS BIGINT) AS score
               FROM scored GROUP BY 1)
       SELECT d.doc_id, COALESCE(a.n_tokens, 0) AS n_tokens,
              COALESCE(a.score, 0) AS score,
              CASE WHEN COALESCE(a.n_tokens, 0) > 0
                   THEN CAST(floor(a.score * 100.0 / a.n_tokens) AS BIGINT)
                   ELSE 0 END AS avg_x100
       FROM documents d LEFT JOIN agg a USING (doc_id)"""
  }

  // DSIR oracle: replay the token fingerprint with the polynomial
  // CLOSED FORM h = 42·P^L + Σ ord(c_i)·P^(L−i) (mod 2^64) — the exact
  // algebraic expansion of the sequential fold, with P^k from a
  // recursive power-table CTE and the Σ as list_sum over a
  // list_transform (list_reduce is BANNED in oracles, see the CDC note
  // below). Then the one-token doc fold + mix64 finisher, bucket =
  // dfp % 64, target (lang='en') vs raw counts, floor-log2 ratio
  // model, per-doc sum. Term bounds: ord <= 0x10FFFF, P^k mod 2^64
  // < 2^64, product < 2e25, token sums < 2^127 — no HUGEINT overflow.
  private lazy val dsirCtes: String =
    s"""WITH RECURSIVE pows(k, v) AS (
         SELECT 0, CAST(1 AS HUGEINT)
         UNION ALL SELECT k + 1, (v * ${Fp.P}) % ${Fp.MOD}
         FROM pows WHERE k < 128),
       pw AS (SELECT list(v ORDER BY k) AS pl FROM pows),
       toks AS (
         SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS tok
         FROM documents),
       traw AS (
         SELECT doc_id,
                (CAST(42 AS HUGEINT) * pl[length(tok) + 1]
                 + list_sum(list_transform(range(1, length(tok) + 1),
                     i -> CAST(ord(substr(tok, i, 1)) AS HUGEINT)
                            * pl[length(tok) - i + 1])))
                % ${Fp.MOD} AS r
         FROM toks CROSS JOIN pw),
       thash AS (
         SELECT doc_id,
         ${Fp.mix64Stages("CAST(r AS UBIGINT)", "t")}
         FROM traw),
       draw AS (
         SELECT doc_id,
                ${Fp.mulmodPPlus("CAST(42 AS HUGEINT)", "CAST(tfp AS HUGEINT)")} AS r2
         FROM thash),
       dhash AS (
         SELECT doc_id,
         ${Fp.mix64Stages("CAST(r2 AS UBIGINT)", "d")}
         FROM draw),
       tb AS (SELECT doc_id, CAST(dfp % 64 AS BIGINT) AS bucket FROM dhash),
       rc AS (SELECT bucket, count(*) AS rcnt FROM tb GROUP BY 1),
       tc AS (SELECT bucket, count(*) AS tcnt
              FROM tb JOIN documents USING (doc_id)
              WHERE lang = 'en' GROUP BY 1),
       model AS (
         SELECT rc.bucket,
                (length(bin(coalesce(tc.tcnt, 0) + 1)) - 1)
                  - (length(bin(rc.rcnt + 1)) - 1) AS s
         FROM rc LEFT JOIN tc ON rc.bucket = tc.bucket),
       scored AS (
         SELECT t.doc_id, count(*) AS n_tokens,
                CAST(sum(coalesce(m.s, 0)) AS BIGINT) AS logweight
         FROM tb t LEFT JOIN model m ON t.bucket = m.bucket
         GROUP BY 1)"""

  private lazy val dsirLogweightsOracle: String =
    s"""$dsirCtes
       SELECT doc_id, n_tokens, logweight FROM scored"""

  private lazy val dsirResampleOracle: String =
    s"""$dsirCtes,
       thr AS (SELECT quantile_disc(logweight, 0.5) AS t FROM scored)
       SELECT doc_id, n_tokens, logweight
       FROM scored CROSS JOIN thr WHERE logweight >= t"""

  // CDC oracle CTEs: per gram position j, the window hash is the same
  // seeded char fold as the fingerprint oracle's traw stage (no
  // tokenization, no finisher); candidate cut after j+7 when its low 5
  // bits are zero; chunks are string slices between consecutive cuts.
  // The rolling window hash is UNROLLED into 8 plain HUGEINT
  // multiply-add-mod steps and the sequential min-gap fold is a
  // recursive CTE, NOT list_reduce: DuckDB 1.0.0's list_reduce silently
  // corrupts its accumulator in fused plans (observed: a fold over a
  // correct candidate list returning [] for some rows — row- and
  // plan-dependent — with a one-row repro of list_reduce-inside-
  // list_transform feeding another list_reduce). Everything here is
  // list_transform/list_filter + recursion, which DuckDB executes
  // correctly.
  private lazy val cdcWindowHash: String =
    (0 until 8).foldLeft("CAST(42 AS HUGEINT)") { (acc, k) =>
      s"((($acc) * 1099511628211 + CAST(ord(substr(text, j + $k, 1)) AS HUGEINT))" +
        " % 18446744073709551616)"
    }

  private lazy val cdcChunksCtes: String =
    s"""WITH RECURSIVE base AS (
         SELECT doc_id, text FROM documents
         UNION ALL
         SELECT doc_id + 100000, 'XYZ PREFIX ' || text FROM documents
         WHERE doc_id % 10 = 0),
       g AS (
         SELECT doc_id, text, length(text) AS tchars,
                CASE WHEN length(text) >= 8
                     THEN list_filter(list_transform(range(1, length(text) - 6),
                            j -> CASE WHEN ($cdcWindowHash % 32) = 0
                                 THEN j + 7 ELSE 0 END),
                            p -> p > 0)
                     ELSE [] END AS cand
         FROM base),
       kseq(doc_id, last) AS (
         SELECT doc_id, CAST(0 AS BIGINT) FROM g
         UNION ALL
         SELECT k.doc_id, list_min(list_filter(g.cand, p -> p - k.last >= 16))
         FROM kseq k JOIN g ON g.doc_id = k.doc_id
         WHERE list_min(list_filter(g.cand, p -> p - k.last >= 16)) IS NOT NULL),
       k AS (
         SELECT g.doc_id, g.text, g.tchars,
                coalesce((SELECT list(s.last ORDER BY s.last) FROM kseq s
                          WHERE s.doc_id = g.doc_id AND s.last > 0), []) AS ends
         FROM g),
       e AS (
         SELECT doc_id, text,
                CASE WHEN len(ends) > 0 AND ends[len(ends)] = tchars
                     THEN ends ELSE list_append(ends, tchars) END AS ef
         FROM k),
       c AS (
         SELECT doc_id,
                list_transform(range(1, len(ef) + 1),
                  i -> text[(CASE WHEN i = 1 THEN 0 ELSE ef[i-1] END) + 1 : ef[i]])
                  AS chunks
         FROM e)"""

  private lazy val cdcChunksOracle: String =
    s"""$cdcChunksCtes
       SELECT doc_id, generate_subscripts(chunks, 1) AS chunk_idx,
              unnest(chunks) AS chunk
       FROM c"""

  // chunk dedup on top of the CDC pipeline: first (doc, pos) holder of
  // every chunk value survives, survivors string_agg back in order
  private lazy val cdcChunkDedupOracle: String =
    s"""$cdcChunksCtes,
       x AS (
         SELECT doc_id, generate_subscripts(chunks, 1) AS chunk_idx,
                unnest(chunks) AS chunk
         FROM c),
       firsts AS (
         SELECT doc_id, chunk_idx, chunk,
                row_number() OVER (PARTITION BY chunk
                                   ORDER BY doc_id, chunk_idx) AS rn
         FROM x)
       SELECT doc_id, string_agg(chunk, '' ORDER BY chunk_idx) AS text
       FROM firsts WHERE rn = 1 GROUP BY doc_id"""

  private lazy val incrementalDedupOracle: String =
    """WITH corpus AS (
         SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
       fresh AS (
         SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0
         UNION ALL
         SELECT doc_id + 200000, text FROM documents
         WHERE doc_id % 3 = 0 AND doc_id % 2 = 0)
       SELECT f.doc_id FROM fresh f
       WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.text = f.text)"""
}
