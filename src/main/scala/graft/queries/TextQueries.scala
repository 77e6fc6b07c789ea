package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextOps
import graft.operators.Dedup
import graft.sources.Tables

/** Text-analysis + dedup queries over the `documents` table — the
  * LLM-data-pipeline extension surface (BASELINE.json north star).
  * MinHash/SimHash signatures are engine-specific hashes, so those two
  * queries carry no DuckDB oracle (rows-only); the exact shingle-Jaccard
  * query is their oracle-checked ground truth.
  */
object TextQueries {

  /** The taxonomy_tag dictionary: category → phrase (1- and 2-token
    * phrases), shared verbatim between the Spark query and the DuckDB
    * oracle's VALUES list so both engines screen the same list.
    */
  private[graft] val TagDict: Seq[(String, String)] = Seq(
    "perf" -> "slow",
    "perf" -> "slow scan",
    "perf" -> "fast scan",
    "joins" -> "hash join",
    "joins" -> "merge join",
    "joins" -> "join",
    "streaming" -> "stream",
    "streaming" -> "window",
    "streaming" -> "batch window")

  private[graft] def tagDictValues: String =
    TagDict.map { case (c, p) => s"('$c', '$p')" }.mkString(", ")

  /** Near-dup clusters as a stored content-keyed fixture — the artifact
    * a production pipeline persists once and every downstream consumer
    * (splits, survivor selection, triplet mining) reads. The star
    * contraction is deterministic, so the fixture is bit-identical to a
    * fresh build; `dedup_clusters_star` itself keeps the full in-body
    * build (its row gates — and its bench row prices — the contraction).
    */
  private[graft] def storedStarClusters(s: SparkSession,
      dir: String): DataFrame =
    Fixtures.stored(s,
      s"star_clusters_sh5_j50_v1_${Tables.contentStamp(dir, "documents")}") {
      val docs = Tables.documents(s, dir)
      Dedup.duplicateClustersStar(docs, "doc_id",
        Dedup.shingleJaccardPairs(docs, "text", "doc_id",
          shingleLen = 5, minJaccard = 0.5))
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // THE composed flagship: the document-prep pipeline a training-data
    // run executes — tokenize → quality gate → normalize → exact-dedup
    // representative → language-ID + fingerprint — as ONE declarative
    // plan. Scale shape: the dedup key is the 16-byte md5 of the
    // normalized text, never the text itself (shuffling multi-KB string
    // keys is the classic exact-dedup mistake), and the representative
    // choice is a fingerprint-PARTITIONED window over one pass — no
    // second aggregate branch recomputing the gated frame, no self-join.
    // Survivors carry the features a curriculum/mixture sampler consumes.
    "pipeline_docs" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      // token stats as ONE compiled per-row scan (SpaceTokenStats), not
      // explode→groupBy→rejoin: the struct fields ≡ the oracle's
      // unnest-count/stopword-sum exactly, but the engine never shuffles
      // the token stream (corpus tokens ≫ docs; at 100 TB that explode
      // shuffle IS the job), never scans documents twice for a
      // self-join, and never allocates a token array per row. One scan;
      // the fingerprint window below is the plan's only exchange. The
      // two-step projection keeps the struct evaluated once per row
      // (CollapseProject refuses to duplicate the non-cheap producer).
      val gated = docs
        .select(col("*"), TextOps.spaceTokenStats(col("text")).as("__st"))
        .select(col("doc_id"), col("text"),
          col("__st.n_tokens").as("n_tokens"),
          col("__st.n_stop").as("n_stop"),
          col("__st.n_vowels").as("n_vowels"))
        .withColumn("quality",
          least(lit(1.0), col("n_tokens") / lit(100.0))
            * (lit(1.0) - col("n_stop") / col("n_tokens")))
        .where(col("quality") >= 0.5)
        .withColumn("fingerprint",
          TextOps.docFingerprint(TextOps.cleanText(col("text"))))
        // everything downstream needs COUNTS, not the text: langId is
        // n_vowels/n_chars (≡ the regex formulation). Project the text
        // away BEFORE the fingerprint exchange so the window shuffles
        // and sorts ~60-byte rows, not multi-KB documents — shuffling
        // the corpus text through a dedup window is the plan's 100 TB
        // failure mode (and was this row's measured first-run cost).
        .select(col("doc_id"), col("n_tokens"), col("n_vowels"),
          length(col("text")).cast("long").as("n_chars"),
          col("quality"), col("fingerprint"))
      val byFp = Window.partitionBy(col("fingerprint"))
      gated
        .withColumn("rep_id", min(col("doc_id")).over(byFp))
        .withColumn("n_dups", count(lit(1)).over(byFp))
        .where(col("doc_id") === col("rep_id"))
        .select(col("doc_id"),
          TextOps.langIdFromCounts(
            col("n_vowels"), col("n_chars")).as("lang_pred"),
          col("n_tokens"),
          round(col("quality"), 4).as("quality_score"),
          col("fingerprint"), col("n_dups"))
    }),

    // Corpus cleaning pass: lowercase, strip markup, collapse whitespace
    // — the normalization step that precedes dedup/quality scoring.
    "text_clean" -> ((s, dir) => {
      Tables.documents(s, dir).select(
        col("doc_id"), TextOps.cleanText(col("text")).as("clean_text"))
    }),

    // Unicode NFC normalization: the canonical-composition pass that
    // precedes any hash/equality step in a multilingual corpus. The
    // synthetic corpus is ASCII, so the query first DECOMPOSES it
    // deterministically (every 'a' gains a combining acute U+0301) and
    // then proves the codegen'd normalizer recomposes: the NFC text is
    // shorter in codepoints and hashes identically across engines.
    "text_normalize" -> ((s, dir) => {
      val decomposed = regexp_replace(col("text"), "a", "a\u0301")
      val norm = TextOps.nfcNormalize(decomposed)
      Tables.documents(s, dir).select(
        col("doc_id"),
        length(decomposed).cast("long").as("len_decomposed"),
        length(norm).cast("long").as("len_nfc"),
        md5(norm.cast("binary")).as("nfc_hash"))
    }),

    // Token counting (whitespace tokenizer).
    "text_tokens" -> ((s, dir) => {
      Tables.documents(s, dir).select(
        col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars_computed"))
    }),

    // Quality scoring: token stats + stopword ratio + a length-capped score.
    "text_quality" -> ((s, dir) => {
      val toks = Tables.documents(s, dir).select(col("doc_id"),
        explode(TextOps.tokens(col("text"))).as("t"))
      toks.groupBy(col("doc_id")).agg(
          count(lit(1)).as("n_tokens"),
          sum(col("t").isin("the", "a").cast("long")).as("n_stop"),
          round(avg(length(col("t"))), 4).as("avg_token_len"))
        .withColumn("stop_ratio", round(col("n_stop") / col("n_tokens"), 4))
        .withColumn("quality_score",
          round(least(lit(1.0), col("n_tokens") / lit(100.0))
            * (lit(1.0) - col("n_stop") / col("n_tokens")), 4))
    }),

    // Language ID: deterministic vowel-ratio heuristic (stand-in for a
    // char-trigram profile — same featurize→bucket decision shape).
    "text_langid" -> ((s, dir) => {
      Tables.documents(s, dir).select(
        col("doc_id"), col("lang"),
        round(TextOps.vowelRatio(col("text")), 4).as("vowel_ratio"),
        TextOps.langId(col("text")).as("lang_pred"))
    }),

    // Document fingerprinting: whole-doc md5 + min-8-gram-md5 (a
    // 1-permutation character MinHash, robust to local edits).
    "text_fingerprint" -> ((s, dir) => {
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextOps.docFingerprint(col("text")).as("doc_md5"),
        TextOps.minShingleFingerprint(col("text"), 8).as("min_shingle_md5"))
    }),

    // Exact 5-word-shingle Jaccard near-dup pairs (inverted-index join,
    // no n² cross product) — ground truth for the MinHash variant.
    "dedup_ngram_jaccard" -> ((s, dir) => {
      Dedup.shingleJaccardPairs(Tables.documents(s, dir), "text", "doc_id",
        shingleLen = 5, minJaccard = 0.5)
    }),

    // Prefix-filtered set-similarity join (SetSimJoin, the SSJoin /
    // All-Pairs / PPJoin discipline): exact token-set Jaccard ≥ 0.8
    // pairs where the candidate index holds only each doc's globally
    // RAREST |x|−⌈τ|x|⌉+1 tokens — provably lossless, so the oracle is
    // the EXHAUSTIVE token-Jaccard join and a hash match proves the
    // prefix filter dropped nothing. Scoped to ONE language partition
    // (the realistic within-lang near-dup pass): the synthetic corpus
    // is template-generated, so the cross-lang unigram pair set is
    // quadratically dense (~9M qualifying pairs at sf0.1 even at
    // τ=0.5) — that's a property of the fixture, not the operator.
    "dedup_setsim_prefix" -> ((s, dir) => {
      graft.operators.SetSimJoin.jaccardPrefixPairs(
        Tables.documents(s, dir).where(col("lang") === "de"),
        "text", "doc_id", minJaccard = 0.8)
    }),

    // BM25 retrieval scoring (k1=1.2, b=0.75, the standard Robertson
    // parameters) for a fixed 3-term query — the ranking function
    // behind retrieval-based data curation (select pretraining docs by
    // relevance to a target domain). One token explode feeds document
    // lengths AND term frequencies; document frequencies derive from
    // the tf table (no second corpus scan); idf/length stats broadcast.
    // Per-term contributions are fixed to DECIMAL(20,8) before the
    // per-doc sum for aggregation-order independence.
    "text_bm25" -> ((s, dir) => {
      val terms = Seq("hash", "join", "scan")
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("t"))
        .where(col("t") =!= "")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("len"))
      val stats = dl.agg(avg(col("len")).as("avgdl"), count(lit(1)).as("n_docs"))
      val tf = toks.where(col("t").isin(terms: _*))
        .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
      val dft = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
      tf.join(broadcast(dft), Seq("t"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(stats))
        .withColumn("idf",
          log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5))
            / (col("df") + lit(0.5))))
        .withColumn("term",
          (col("idf") * ((col("tf") * lit(2.2))
            / (col("tf") + lit(1.2) * (lit(1.0) - lit(0.75)
              + lit(0.75) * col("len") / col("avgdl")))))
            .cast("decimal(20,8)"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_terms"),
          round(sum(col("term")).cast("double"), 4).as("bm25"))
    }),

    // Batch BM25 retrieval: every 50th document's 8-token prefix as a
    // query set, top-5 corpus hits per query through the inverted-index
    // probe (Retrieval.bm25TopK) — postings prune to the query
    // vocabulary before any join, the per-query cut is a WindowGroupLimit
    // rank window, and DECIMAL-snapped terms make the ranks replay
    // exactly in SQL.
    "bm25_batch_topk" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val queries = docs.where(pmod(col("doc_id"), lit(50)) === 0)
        .select(col("doc_id").as("query_id"),
          array_join(slice(split(col("text"), " ", -1), 1, 8), " ").as("qtext"))
      graft.operators.Retrieval.bm25TopK(docs, queries, k = 5)
    }),

    // The stream-maintained BM25 index AS a gate row: documents replay
    // as three id-range batches through Bm25Stream.applyBatch and the
    // SAME prefix-query top-5 reads from the maintained postings —
    // hash-matching the one-shot oracle is the incremental ≡ batch
    // proof for the retrieval index (df/dl/avgdl all derive from the
    // postings, so nothing can drift out of sync).
    "bm25_maintained" -> ((s, dir) => {
      val base = graft.streaming.Maintained.stateRoot("bm25-gate")
      val ixDir = s"$base/postings"
      val docs = Tables.documents(s, dir)
      graft.streaming.Maintained.thirds(docs, "doc_id").zipWithIndex.foreach {
        case (b, i) => graft.streaming.Bm25Stream.applyBatch(b, "text", "doc_id", ixDir, i)
      }
      val queries = docs.where(pmod(col("doc_id"), lit(50)) === 0)
        .select(col("doc_id").as("query_id"),
          array_join(slice(split(col("text"), " ", -1), 1, 8), " ").as("qtext"))
      graft.streaming.Bm25Stream.topK(s, ixDir, queries, k = 5)
    }),

    // Retrieval evaluation over the batch hits: each prefix query's
    // RELEVANT document is its own source, so recall@5 and MRR@5 come
    // straight off the hit list — the self-retrieval sanity harness an
    // index change is judged by, in exact ppm integers.
    "retrieval_eval" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val queries = docs.where(pmod(col("doc_id"), lit(50)) === 0)
        .select(col("doc_id").as("query_id"),
          array_join(slice(split(col("text"), " ", -1), 1, 8), " ").as("qtext"))
      val hits = graft.operators.Retrieval.bm25TopK(docs, queries, k = 5)
      val nq = queries.select(count(lit(1)).as("n_queries"))
      hits.where(col("doc_id") === col("query_id"))
        .agg(count(lit(1)).as("__n_hit"),
          sum(expr("1000000L div rank")).as("__rr_sum"))
        .crossJoin(broadcast(nq))
        .select(col("n_queries"), col("__n_hit").as("n_self_found"),
          expr("(1000000L * __n_hit) div n_queries").as("recall_at5_ppm"),
          expr("__rr_sum div n_queries").as("mrr_at5_ppm"))
    }),

    // Two-pass retrieval with pseudo-relevance feedback (RM3-lite):
    // pass one's top-3 feedback docs donate their 2 heaviest non-query
    // terms with df ≤ 20% of the corpus (the cap keeps pass two off
    // the corpus's largest posting lists — PRF picks heavy terms by
    // construction), pass two scores the expanded term set — both
    // passes, the df cap (integer permille arithmetic), and the
    // expansion selection replay exactly in SQL.
    "bm25_prf_topk" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val queries = docs.where(pmod(col("doc_id"), lit(50)) === 0)
        .select(col("doc_id").as("query_id"),
          array_join(slice(split(col("text"), " ", -1), 1, 8), " ").as("qtext"))
      graft.operators.Retrieval.bm25PrfTopK(docs, queries, k = 5)
    }),

    // Hard-negative mining for contrastive retrieval training: each
    // query's top BM25 hits EXCLUDING its own relevant document (the
    // self-hit) — the standard "BM25 negatives" recipe for training
    // dense retrievers (lexically close, not relevant). One rank
    // deeper than the output depth so dropping the self-hit still
    // leaves five negatives; neg_rank renumbers after the drop.
    "hard_negatives" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val queries = docs.where(pmod(col("doc_id"), lit(50)) === 0)
        .select(col("doc_id").as("query_id"),
          array_join(slice(split(col("text"), " ", -1), 1, 8), " ").as("qtext"))
      val hits = graft.operators.Retrieval.bm25TopK(docs, queries, k = 6)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("rank").asc)
      hits.where(col("doc_id") =!= col("query_id"))
        .withColumn("neg_rank", row_number().over(w).cast("long"))
        .where(col("neg_rank") <= 5)
        .select(col("query_id"), col("doc_id"), col("neg_rank"), col("bm25"))
    }),

    // Batch hybrid retrieval: the SAME query set fused across both
    // modalities — lexical top-5 (bm25_batch_topk's prefix queries) and
    // dense top-5 (each query doc's embedding; vec_id aligns with
    // doc_id in the star schema) combined by reciprocal-rank fusion.
    // Both sides are k-bounded per query before the fuse, so the
    // full-outer join and rank window touch ≤ 2k rows per query.
    "hybrid_batch_rrf" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val queries = docs.where(pmod(col("doc_id"), lit(50)) === 0)
        .select(col("doc_id").as("query_id"),
          array_join(slice(split(col("text"), " ", -1), 1, 8), " ").as("qtext"))
      val lex = graft.operators.Retrieval.bm25TopK(docs, queries, k = 5)
      val e = Tables.embeddings(s, dir)
      val dense = graft.operators.SimilaritySearch.knnJoinBruteForce(
        e, e.where(pmod(col("vec_id"), lit(50)) === 0),
        "embedding", "vec_id", k = 5)
      graft.operators.Retrieval.rrfFuse(lex, dense, k = 5)
    }),

    // The scale path for the same fusion: identical lexical arm, but
    // the dense arm is the IVF-pruned k-NN join (knn_join_ivf's exact
    // computation — stored ivf8 quantizer, nprobe=2 of 8 cells, cosine
    // restricted to the probed cells) instead of brute-force cosine.
    // The brute row above stays as the quality ground truth
    // (ann_recall_audit pins candidate recall); this arm's pair space
    // is |Q|·|C|·(nprobe/kCells) with kCells re-derived ~√n at real
    // scale (SCALE.md: knn_join_ivf measured 3.3× at 10× data — the
    // measured reason it is the arm, not the ADC path whose per-code
    // constant dominates at this SF). Hash-gated: the oracle fuses the
    // (already hash-passing) BM25 replay with the engine's own
    // knn_join_ivf dump.
    "hybrid_batch_rrf_ivf" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val queries = docs.where(pmod(col("doc_id"), lit(50)) === 0)
        .select(col("doc_id").as("query_id"),
          array_join(slice(split(col("text"), " ", -1), 1, 8), " ").as("qtext"))
      val lex = graft.operators.Retrieval.bm25TopK(docs, queries, k = 5)
      val e = Tables.embeddings(s, dir)
      val dense = graft.operators.SimilaritySearch.knnJoinIvf(
        e, e.where(pmod(col("vec_id"), lit(50)) === 0),
        "embedding", "vec_id", k = 5,
        VectorQueries.centroidsFromDF(VectorQueries.storedIvf8Raw(s, dir)),
        nprobe = 2)
      graft.operators.Retrieval.rrfFuse(lex, dense, k = 5)
    }),

    // Hybrid retrieval (RAG curation ranker): BM25 top-50 for the fixed
    // 3-term query FUSED with embedding-cosine top-50 to vector 0 by
    // reciprocal-rank fusion (rrf = Σ 1/(60+rank)). Lexical and dense
    // signals come from the engine's own scorers (text_bm25's
    // decimal-exact terms; bruteForceTopK's 4dp cosine — both
    // engine-stable, so the RANKS are too). Ranks are computed as a
    // join-count over the TakeOrdered-bounded 50-row frames (rank =
    // #rows at-or-before in (score desc, id asc) order): a k² broadcast
    // join with k = 50 — NOT a global window, so the engine-wide
    // no-partitionless-Window invariant holds even here.
    // embeddings.vec_id aligns with documents.doc_id in the star schema.
    "hybrid_rrf" -> ((s, dir) => {
      val terms = Seq("hash", "join", "scan")
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("t"))
        .where(col("t") =!= "")
      val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("len"))
      val stats = dl.agg(avg(col("len")).as("avgdl"), count(lit(1)).as("n_docs"))
      val tf = toks.where(col("t").isin(terms: _*))
        .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
      val dft = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
      val bm50 = tf.join(broadcast(dft), Seq("t"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(stats))
        .withColumn("idf",
          log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5))
            / (col("df") + lit(0.5))))
        .withColumn("term",
          (col("idf") * ((col("tf") * lit(2.2))
            / (col("tf") + lit(1.2) * (lit(1.0) - lit(0.75)
              + lit(0.75) * col("len") / col("avgdl")))))
            .cast("decimal(20,8)"))
        .groupBy(col("doc_id")).agg(sum(col("term")).as("bm"))
        .orderBy(col("bm").desc, col("doc_id").asc).limit(50)
      // rank r(x) = |{y : y.score > x.score ∨ (y.score = x.score ∧
      // y.id ≤ x.id)}| over the bounded top-k frame (each row counts
      // itself, so ranks start at 1) — window-free by construction
      def joinRank(df: org.apache.spark.sql.DataFrame, scoreCol: String,
          rankName: String) = {
        val other = df.select(col("doc_id").as("od"), col(scoreCol).as("os"))
        df.join(broadcast(other),
            col("os") > col(scoreCol) ||
              (col("os") === col(scoreCol) && col("od") <= col("doc_id")))
          .groupBy(col("doc_id")).agg(count(lit(1)).as(rankName))
      }
      val bmRanked = joinRank(bm50, "bm", "rb")
      val cosRanked = joinRank(
        graft.operators.SimilaritySearch
          .bruteForceTopK(Tables.embeddings(s, dir), "embedding", "vec_id",
            queryId = 0L, k = 50)
          .select(col("vec_id").as("doc_id"), col("cosine")),
        "cosine", "rc")
      bmRanked.join(cosRanked, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          round(coalesce(lit(1.0) / (lit(60) + col("rb")), lit(0.0))
            + coalesce(lit(1.0) / (lit(60) + col("rc")), lit(0.0)), 6)
            .as("rrf_score"))
        .orderBy(col("rrf_score").desc, col("doc_id").asc).limit(20)
    }),

    // Corpus token-frequency profile: top 100 tokens by count — the
    // vocabulary statistic every corpus analysis starts with. Partial
    // aggregation does the heavy lifting; only (distinct tokens) rows
    // shuffle, and TakeOrdered bounds the result.
    "text_wordfreq" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(explode(TextOps.tokens(col("text"))).as("token"))
        .where(col("token") =!= "")
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(100)
    }),

    // Distinctive vocabulary per source: log-odds-ratio with a
    // Dirichlet prior, z-scored (the "Fightin' Words" statistic,
    // Monroe et al. 2008) — which terms characterize a source AGAINST
    // the rest of the corpus, the curation read raw frequency can't
    // give (frequent-everywhere terms cancel). One token explode feeds
    // source×term cells; term/source/grand totals derive from the
    // cells; the z is double math on exact integer counts with an
    // identical expression on both engines, rounded to 4dp BEFORE the
    // per-source top-10 rank (term-asc tiebreak) so the cut is stable.
    // Vocabulary coverage curve: tokens ranked by corpus frequency
    // (DenseId — no partitionless window) with the CUMULATIVE share of
    // all token occurrences each rank prefix covers (distributed
    // PrefixSum), top-100 emitted — the read that sizes a tokenizer
    // vocabulary ("how many types cover 95% of tokens"), Zipf's law
    // made actionable. Exact integer ppm.
    "vocab_coverage" -> ((s, dir) => {
      val freq = Tables.documents(s, dir)
        .select(explode(TextOps.tokens(col("text"))).as("token"))
        .where(col("token") =!= "")
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
      val tot = freq.agg(sum(col("n")).as("__tot"))
      val ranked = graft.operators.DenseId.withOrderedId(
        freq.select((-col("n")).as("__neg"), col("token"), col("n")),
        "__rk", "__neg", "token")
      graft.operators.PrefixSum.withRunningTotal(ranked, "n", "__cum", "__rk")
        .where(col("__rk") < 100)
        .crossJoin(broadcast(tot))
        .select(col("token"), (col("__rk") + 1).as("rank"), col("n"),
          expr("(__cum * 1000000L) div __tot").as("coverage_ppm"))
    }),

    // Gopher quality rules (Rae et al. 2021 §A1.1, the named ruleset
    // every pretrain pipeline reimplements): word-count window, mean
    // word length window, alphabetic-word fraction — per-rule verdicts
    // and the overall gate, all in exact integer ppm (no float ratio
    // anywhere). One explode + one per-doc aggregate.
    "quality_gopher" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("w"))
        .where(col("w") =!= "")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
          sum(length(col("w")).cast("long")).as("__chars"),
          sum(col("w").rlike("[a-zA-Z]").cast("long")).as("__alpha"))
        .select(col("doc_id"), col("n_words"),
          expr("(__chars * 1000000L) div n_words").as("mwl_ppm"),
          expr("(__alpha * 1000000L) div n_words").as("alpha_ppm"))
        .select(col("doc_id"), col("n_words"), col("mwl_ppm"),
          col("alpha_ppm"),
          (col("n_words") >= 50 && col("n_words") <= 100000).as("pass_len"),
          (col("mwl_ppm") >= 3000000L && col("mwl_ppm") <= 10000000L)
            .as("pass_mwl"),
          (col("alpha_ppm") >= 800000L).as("pass_alpha"))
        .withColumn("keep",
          col("pass_len") && col("pass_mwl") && col("pass_alpha"))
    }),

    // Zipf fit: OLS of ln(freq) on ln(rank) over the top-100 types —
    // the one-number corpus-health read (natural text slopes ≈ −1;
    // template/synthetic corpora flatten). Ranks via DenseId (no
    // partitionless window); the OLS sums snap per-term to DECIMAL so
    // the closed form is aggregation-order-free; slope/intercept/R² in
    // identical double expressions.
    "zipf_fit" -> ((s, dir) => {
      val freq = Tables.documents(s, dir)
        .select(explode(TextOps.tokens(col("text"))).as("token"))
        .where(col("token") =!= "")
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
      // products in DOUBLE, snapped per term to DECIMAL for the sums
      // (exact), then the closed form entirely in double over the
      // exactly-converted small sums — decimal×decimal would hit both
      // engines' different precision-reduction rules
      val ranked = graft.operators.DenseId.withOrderedId(
        freq.select((-col("n")).as("__neg"), col("token"), col("n")),
        "__rk", "__neg", "token")
        .where(col("__rk") < 100)
        .select(log(col("__rk") + 1).as("x"), log(col("n")).as("y"))
      val m = ranked.agg(count(lit(1)).cast("double").as("k"),
        sum(col("x").cast("decimal(28,10)")).cast("double").as("sx"),
        sum(col("y").cast("decimal(28,10)")).cast("double").as("sy"),
        sum((col("x") * col("x")).cast("decimal(28,10)")).cast("double").as("sxx"),
        sum((col("x") * col("y")).cast("decimal(28,10)")).cast("double").as("sxy"),
        sum((col("y") * col("y")).cast("decimal(28,10)")).cast("double").as("syy"))
      m.select(col("k").cast("long").as("n_types"),
        round((col("k") * col("sxy") - col("sx") * col("sy"))
          / (col("k") * col("sxx") - col("sx") * col("sx")), 4).as("slope"),
        round((col("sy") - ((col("k") * col("sxy") - col("sx") * col("sy"))
          / (col("k") * col("sxx") - col("sx") * col("sx")))
          * col("sx")) / col("k"), 4).as("intercept"),
        round(((col("k") * col("sxy") - col("sx") * col("sy"))
          * (col("k") * col("sxy") - col("sx") * col("sy")))
          / ((col("k") * col("sxx") - col("sx") * col("sx"))
            * (col("k") * col("syy") - col("sy") * col("sy"))), 4).as("r2"))
    }),

    // Pair-counting clustering agreement (Stats.clusteringAgreement):
    // Rand index + pair precision/recall of the length-bucket
    // partition against exact-duplicate groups — the label-free way to
    // score a candidate blocking/clustering against a reference (here:
    // "how well does 100-char length bucketing act as a dup blocking
    // key"). Binomial sums over the contingency table — the row-pair
    // space is never enumerated; all cells exact int64.
    "clustering_agreement" -> ((s, dir) => {
      graft.operators.Stats.clusteringAgreement(
        Tables.documents(s, dir)
          .select(md5(col("text")).as("dup_cluster"),
            expr("n_chars div 100").as("len_bucket")),
        "dup_cluster", "len_bucket")
    }),

    // Token-pair PMI over document co-occurrence: which word pairs
    // appear together more than their marginals predict — collocation /
    // topical-structure mining, the pairwise complement of tf-idf. The
    // pair space is bounded by a deterministic top-200-df vocabulary
    // (df desc, token asc cut) and generated per-document by
    // Association.pairSupports' basket self-join — Σ per-doc k², never
    // corpus n², with all counts exact integers. PMI =
    // ln(n_ab·N / (n_a·n_b)) computed from those exact integers and
    // 4dp-snapped BEFORE the top-20 rank (the distinctive-terms
    // discipline), pair-lexicographic tiebreak.
    "text_pmi_pairs" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val nDocs = docs.count()
      val tok = docs
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
        .where(col("token") =!= "").distinct()
      val vocab = tok.groupBy(col("token")).agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("token").asc).limit(200)
        .select(col("token"))
      val ft = tok.join(broadcast(vocab), Seq("token"))
      graft.operators.Association.pairSupports(ft, "doc_id", "token",
          minSupport = 5L)
        .select(col("item_a").as("token_a"), col("item_b").as("token_b"),
          col("n_ab"), col("n_a"), col("n_b"),
          round(log((col("n_ab") * lit(nDocs)).cast("double") /
            (col("n_a") * col("n_b")).cast("double")), 4).as("pmi"))
        .orderBy(col("pmi").desc, col("token_a").asc, col("token_b").asc)
        .limit(20)
    }),

    // RAKE keyphrases (Rake.keywordScores): stopword-delimited token
    // runs scored by Σ deg/freq of their words — gaps-and-islands
    // segmentation, exact integer degree/frequency, one ppm division
    // per word. Top 20 corpus keyphrases, hash-exact.
    "text_keywords_rake" -> ((s, dir) => {
      graft.operators.Rake.keywordScores(
        Tables.documents(s, dir), "doc_id", "text",
        stopwords = Seq("a", "the"))
        .orderBy(col("score_ppm").desc, col("phrase"))
        .limit(20)
    }),

    // Dunning log-likelihood collocations — the statistically sound
    // ranking PMI can't give (PMI explodes on rare pairs; G² weighs
    // evidence): ADJACENT bigrams (sequence order, complementing
    // text_pmi_pairs' document co-occurrence) scored by the 4-cell
    // entropy form 2·Σ k·ln(kN/RC), each term an exact integer ratio
    // under one ln, snapped to DECIMAL(20,8) — hash-exact top 20.
    "text_collocations_llr" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(split(col("text"), " ").as("__t"))
        .where(size(col("__t")) >= 2)
      val bg = toks.select(explode(expr(
          """transform(sequence(0, size(__t) - 2),
             i -> struct(__t[i] AS w1, __t[i + 1] AS w2))""")).as("__b"))
        .select(col("__b.w1").as("w1"), col("__b.w2").as("w2"))
        .where(col("w1") =!= "" && col("w2") =!= "")
        .localCheckpoint(true)
      val k11 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("k11"))
      val c1 = bg.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
      val c2 = bg.groupBy(col("w2")).agg(count(lit(1)).as("c2"))
      val n = bg.agg(count(lit(1)).as("nn"))
      def term(k: String, r: String, c: String) = expr(
        s"""CAST(CASE WHEN $k = 0 THEN 0.0 ELSE
            CAST($k AS DOUBLE) * ln(CAST($k AS DOUBLE) * CAST(nn AS DOUBLE)
              / (CAST($r AS DOUBLE) * CAST($c AS DOUBLE)))
            END AS DECIMAL(20,8))""")
      k11.join(c1, Seq("w1")).join(c2, Seq("w2"))
        .crossJoin(broadcast(n))
        .where(col("k11") >= 5)
        .withColumn("__k12", col("c1") - col("k11"))
        .withColumn("__k21", col("c2") - col("k11"))
        .withColumn("__k22", col("nn") - col("c1") - col("c2") + col("k11"))
        .withColumn("__llr",
          term("k11", "c1", "c2") + term("__k12", "c1", "nn - c2") +
          term("__k21", "nn - c1", "c2") + term("__k22", "nn - c1", "nn - c2"))
        .select(col("w1"), col("w2"), col("k11"), col("c1"), col("c2"),
          round((col("__llr") * 2).cast("double"), 4).as("llr"))
        .orderBy(col("llr").desc, col("w1"), col("w2"))
        .limit(20)
    }),

    "source_distinctive_terms" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val alpha = 0.01
      val cells = Tables.documents(s, dir)
        .select(col("source"), explode(TextOps.tokens(col("text"))).as("t"))
        .where(col("t") =!= "")
        .groupBy(col("source"), col("t")).agg(count(lit(1)).as("y"))
        .localCheckpoint(true)
      val termTot = cells.groupBy(col("t")).agg(sum(col("y")).as("yw"))
      val srcTot = cells.groupBy(col("source")).agg(sum(col("y")).as("ns"))
      val grand = cells.agg(sum(col("y")).as("nn"),
        countDistinct(col("t")).as("vv"))
      val j = cells.join(termTot, Seq("t")).join(broadcast(srcTot), Seq("source"))
        .crossJoin(broadcast(grand))
        .withColumn("yrest", col("yw") - col("y"))
        .withColumn("nrest", col("nn") - col("ns"))
      val aV = lit(alpha) * col("vv").cast("double")
      def lodds(y: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =
        log((y.cast("double") + lit(alpha)) /
          (n.cast("double") + aV - y.cast("double") - lit(alpha)))
      val delta = lodds(col("y"), col("ns")) - lodds(col("yrest"), col("nrest"))
      val variance = lit(1.0) / (col("y").cast("double") + lit(alpha)) +
        lit(1.0) / (col("yrest").cast("double") + lit(alpha))
      val z = round(delta / sqrt(variance), 4)
      val w = Window.partitionBy(col("source"))
        .orderBy(col("z").desc, col("t").asc)
      j.withColumn("z", z)
        .withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= 10)
        .select(col("source"), col("t").as("token"), col("y"),
          col("z"), col("rank"))
    }),

    // Per-document out-of-vocabulary rate against the corpus top-20
    // vocabulary (the synthetic corpus has ~31 distinct tokens; a real
    // vocab is top-k for larger k, same plan) — the tokenizer-coverage
    // audit run before committing a vocab:
    // one explode feeds both the vocabulary fit (deterministic
    // (count desc, token) cutoff) and the per-doc probe, which re-joins
    // the keys-sized vocab as a broadcast. Rate is truncating integer
    // fixed-point (ppm) — identical doubles on both engines, no
    // round-half ties (the agg_delta_merge lesson).
    "text_oov_rate" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
        .where(col("token") =!= "")
      val vocab = toks.groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc).limit(20)
        .select(col("token"), lit(1).as("__v"))
      toks.join(broadcast(vocab), Seq("token"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("__v").isNull, 1L).otherwise(0L)).as("n_oov"))
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          (expr("cast((n_oov * 1000000) div n_tokens as double)") / lit(1e6))
            .as("oov_rate"))
    }),

    // Duplicate-cluster resolution: shingle-Jaccard pairs → connected
    // components (min-label propagation) → one cluster id per doc. The
    // step that turns near-dup PAIRS into a deduped corpus.
    "dedup_clusters" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.shingleJaccardPairs(docs, "text", "doc_id",
        shingleLen = 5, minJaccard = 0.5)
      Dedup.duplicateClusters(docs, "doc_id", pairs)
    }),

    // Same cluster resolution through the large-star/small-star rounds —
    // the O(log² n)-round variant a billion-edge graph needs. Same
    // recursive-CTE oracle as dedup_clusters: both must converge to
    // cluster = min reachable doc id.
    "dedup_clusters_star" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.shingleJaccardPairs(docs, "text", "doc_id",
        shingleLen = 5, minJaccard = 0.5)
      Dedup.duplicateClustersStar(docs, "doc_id", pairs)
    }),

    // MinHash+LSH near-dup (banded signature join → exact verify).
    // Oracle-matched: the slot/band hashes are 48-bit md5 (the KMV
    // draw discipline), so [[minhashOracleSql]] replays signatures,
    // buckets, candidates, and the exact-Jaccard verify bit for bit.
    "dedup_minhash" -> ((s, dir) => {
      Dedup.minHashLshPairs(Tables.documents(s, dir), "text", "doc_id")
    }),

    // SimHash near-dup (4×16-bit segment join, Hamming ≤ 3).
    // Oracle-matched: SimHash64's token hash is a 64-bit md5 prefix,
    // so the oracle replays per-token votes, the signature, segment
    // buckets, and the Hamming verify exactly.
    "dedup_simhash" -> ((s, dir) => {
      Dedup.simHashPairs(Tables.documents(s, dir), "text", "doc_id")
    }),

    // Per-source corpus health report — the daily artifact a corpus
    // curation pipeline publishes: doc/token counts, mean quality, and
    // exact-duplicate rate per source, in one composed plan. The dup
    // flag joins the md5 exact-dedup representative back on the
    // 16-byte hash (never the text); all aggregates are partial-agg
    // friendly.
    "corpus_report" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val stats = docs
        .select(col("doc_id"), col("source"),
          col("text"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      val reps = docs
        .groupBy(md5(col("text").cast("binary")).as("h"))
        .agg(min(col("doc_id")).as("rep_id"))
      stats
        .join(reps, md5(col("text").cast("binary")) === col("h"))
        .withColumn("is_dup", (col("doc_id") =!= col("rep_id")).cast("long"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          round(avg(col("n_tokens")), 4).as("avg_tokens"),
          sum(col("is_dup")).as("n_dups"),
          round(avg(col("is_dup")), 4).as("dup_rate"))
    }),

    // TF-IDF term weights: the classic retrieval/featurization weight,
    // top-3 terms per document. One token explode feeds BOTH the
    // term-frequency aggregate and (via a second grouping of the same
    // frame) the document-frequency table; idf = ln(N / df) with the
    // corpus size folded to a literal; per-doc top-k is a partitioned
    // WindowGroupLimit, never a global sort.
    "text_tfidf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      val n = docs.count()
      val toks = docs.select(col("doc_id"),
        explode(TextOps.tokens(col("text"))).as("t"))
        .where(col("t") =!= "")
      val tf = toks.groupBy(col("doc_id"), col("t"))
        .agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
      val weighted = tf.join(dfreq, Seq("t"))
        .withColumn("tfidf", col("tf") * log(lit(n.toDouble) / col("df")))
      val byDoc = Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("t").asc)
      weighted.withColumn("rnk", row_number().over(byDoc).cast("long"))
        .where(col("rnk") <= 3)
        .select(col("doc_id"), col("t").as("term"), col("tf"),
          col("df"), round(col("tfidf"), 4).as("tfidf"), col("rnk"))
    }),

    // Intra-document repetition: 1 − distinct/total 3-gram shingles —
    // the Gopher-style repeated-text quality signal. Total shingle count
    // is pure column math (size − n + 1 clipped at 1); only the distinct
    // side materializes shingles (compiled flatMap with local dedup).
    "text_repetition" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val totals = docs.select(col("doc_id"),
        greatest(size(TextOps.tokens(col("text"))) - lit(2), lit(1))
          .cast("long").as("n_shingles"))
      val distincts = Dedup.shingleRows(docs, "text", "doc_id", 3)
        .select(col("doc").as("doc_id"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_distinct"))
      totals.join(distincts, Seq("doc_id"))
        .withColumn("repetition",
          round(lit(1.0) - col("n_distinct") / col("n_shingles"), 4))
    }),

    // Incremental exact dedup: today's batch (doc_id % 10 ≠ 0) deduped
    // within itself, then anti-joined against the fingerprint index of
    // the already-ingested corpus (doc_id % 10 = 0) — the daily-delta
    // shape that never re-dedupes the full corpus.
    "dedup_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val seen = docs.where(pmod(col("doc_id"), lit(10)) === 0)
        .select(md5(col("text").cast("binary")).as("h")).distinct()
      Dedup.incrementalExact(
        docs.where(pmod(col("doc_id"), lit(10)) =!= 0), "text", "doc_id", seen)
    }),

    // Cross-document repeated n-grams: 8-gram shingles appearing in ≥ 2
    // documents, heaviest first — the memorization-risk audit (verbatim
    // text repeated across training documents is what models regurgitate;
    // Lee et al.'s substring-dedup motivation). Inverted-index aggregate
    // + TakeOrdered; never a pair join.
    "repeated_ngrams" -> ((s, dir) => {
      Dedup.shingleRows(Tables.documents(s, dir), "text", "doc_id", 8)
        .groupBy(col("g"))
        .agg(count(lit(1)).as("df"), min(col("doc")).as("example_doc"))
        .where(col("df") >= 2)
        .orderBy(col("df").desc, col("g").asc)
        .limit(50)
    }),

    // Substring-duplication coverage (the ExactSubstr measurement):
    // per document, the fraction of TOKENS covered by any 8-gram that
    // also appears in another document — the statistic behind
    // "remove duplicated spans, not whole documents" dedup. Shape:
    // positional shingles (posexplode keeps the start index), the
    // distinct-doc df table marks corpus-duplicated shingles, and
    // coverage is the distinct union of each duplicated shingle's
    // 8-token span (clipped at the doc tail), counted per doc — joins
    // and hash aggregates only, no per-doc interval logic.
    "dedup_substring_coverage" -> ((s, dir) => {
      val k = 8
      val docs = Tables.documents(s, dir)
      val totals = docs.select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      val sh = docs.select(col("doc_id"),
          posexplode(TextOps.wordShingles(col("text"), k)))
        .select(col("doc_id"), col("pos"), col("col").as("g"))
      val dup = sh.select(col("doc_id"), col("g")).distinct()
        .groupBy(col("g")).agg(count(lit(1)).as("df"))
        .where(col("df") >= 2).select(col("g"))
      val covered = sh.join(dup, Seq("g"))
        .join(totals, Seq("doc_id"))
        .select(col("doc_id"), col("n_tokens"),
          explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("cpos"))
        .where(col("cpos") < col("n_tokens"))
        .select(col("doc_id"), col("cpos")).distinct()
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup"))
      totals.join(covered, Seq("doc_id"), "left")
        .withColumn("n_dup_tokens", coalesce(col("n_dup"), lit(0L)))
        .select(col("doc_id"), col("n_tokens"), col("n_dup_tokens"),
          round(col("n_dup_tokens") / col("n_tokens"), 4).as("dup_token_ratio"))
    }),

    // The deduplicated corpus itself: keep one representative per
    // near-dup cluster (min doc id reachable through Jaccard ≥ 0.5
    // pairs) — the end product every dedup variant above feeds.
    "dedup_corpus" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.shingleJaccardPairs(docs, "text", "doc_id",
        shingleLen = 5, minJaccard = 0.5)
      Dedup.duplicateClusters(docs, "doc_id", pairs)
        .where(col("id") === col("cluster"))
        .select(col("id").as("doc_id"))
    }),

    // Document chunking: split each document into overlapping token
    // windows (64 tokens, stride 48 → 16-token overlap) — the unit a
    // retrieval index or a long-context pretraining pipeline actually
    // stores. Pure per-row expansion (sequence + explode + slice), no
    // shuffle at all; chunk count is arithmetic on the token count.
    "chunk_documents" -> ((s, dir) => {
      val toks = TextOps.tokens(col("text"))
      Tables.documents(s, dir)
        .select(col("doc_id"), toks.as("toks"))
        .select(col("doc_id"),
          explode(sequence(lit(0),
            floor((size(col("toks")) - 1) / lit(48)).cast("int"))).as("chunk_id"),
          col("toks"))
        .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
          concat_ws(" ",
            slice(col("toks"), col("chunk_id") * 48 + 1, lit(64))).as("chunk_text"))
        .withColumn("n_chunk_tokens",
          size(split(col("chunk_text"), " ")).cast("long"))
    }),

    // Pack materialization: the step after pack assignment that emits
    // trainer-ready sequences — documents of each (shard, pack)
    // concatenated in id order with an <eos> separator. The ordered
    // concat is a per-pack collect_list + array_sort: bounded by the
    // token budget by construction, so the aggregation buffer can never
    // exceed ~budget tokens regardless of corpus size.
    "pack_materialize" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      graft.operators.CorpusPrep.packByTokenBudget(
          docs, "doc_id", "n_tokens", budget = 512L, shards = 8)
        .groupBy(col("shard"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("pack_tokens"),
          array_join(transform(
            array_sort(collect_list(struct(col("doc_id"), col("text")))),
            x => x.getField("text")), " <eos> ").as("packed_text"))
    }),

    // Sequence packing: assign documents to 512-token training packs,
    // sharded by id hash so the running-offset window is partitioned
    // (pack quality doesn't need packs to span shards).
    "pack_sequences" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      graft.operators.CorpusPrep.packByTokenBudget(
        docs, "doc_id", "n_tokens", budget = 512L, shards = 8)
    }),

    // Length-bucketed batching (CorpusPrep.lengthBucketBatches): group
    // documents of similar length into fixed-size batches so padding
    // goes to the bucket max, not the corpus max — the dynamic-batching
    // prep step between packing (exact budget fill) and naive fixed
    // batches. 200-char buckets, 16-row batches, md5-shuffled within
    // bucket; the full assignment is a pure function of (doc_id,
    // n_chars) and the oracle hash proves every row's batch.
    "batch_by_length" -> ((s, dir) => {
      graft.operators.CorpusPrep.lengthBucketBatches(
        Tables.documents(s, dir).select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", bucketWidth = 200L, batchSize = 16)
    }),

    // Benchmark decontamination: corpus documents carrying ≥ 60% of a
    // held-out "benchmark" doc's 5-gram shingles (every 10th doc plays
    // the benchmark; the rest are the training corpus). Runs with the
    // Bloom semi-join reduction ON: a distributed sketch of the (small)
    // benchmark side drops corpus shingles map-side before the
    // inverted-index shuffle; no false negatives, so the oracle hash
    // matching the unpruned SQL is the per-round identity proof.
    "decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.crossCorpusOverlap(
        docs.where(pmod(col("doc_id"), lit(10)) =!= 0),
        docs.where(pmod(col("doc_id"), lit(10)) === 0),
        "text", "doc_id", shingleLen = 5, minOverlap = 0.6,
        bloomPrune = true)
    }),

    // Incremental NEAR-dup: the daily-delta shape for near-duplicates —
    // a "new batch" (doc_id ≡ 0 mod 7) Jaccard-paired against the
    // standing corpus through the batch⋈corpus inverted index, never a
    // corpus self-join. Catches the reworded/boilerplate-shifted copies
    // the md5 index of dedup_incremental cannot.
    "dedup_incremental_near" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.crossJaccardPairs(
        docs.where(pmod(col("doc_id"), lit(7)) === 0),
        docs.where(pmod(col("doc_id"), lit(7)) =!= 0),
        "text", "doc_id", shingleLen = 5, minJaccard = 0.5,
        bloomPrune = true)
    }),

    // Token-distribution entropy per document (H = ln n − Σ c·ln c / n)
    // — the low-diversity quality signal (spam and boilerplate sit at
    // low entropy). Per-term c·ln c is fixed to DECIMAL(20,8) before the
    // sum so the per-doc total is independent of aggregation order.
    "text_entropy" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
        .select(col("doc_id"), col("c"),
          (col("c") * log(col("c"))).cast("decimal(20,8)").as("clnc"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_tokens"),
          round(log(sum(col("c")))
            - sum(col("clnc")).cast("double") / sum(col("c")), 4).as("entropy"))
    }),

    // Per-source distribution drift: KL(source ‖ corpus) over the
    // unigram distribution — the corpus-mix monitor that flags a source
    // whose text stopped looking like the rest (scraper breakage, format
    // drift). One token explode feeds the (source, w) counts; source
    // totals broadcast; the probability ratio stays an exact integer
    // ratio (c_sw·N)/(n_s·c_w) until the final ln.
    "source_divergence" -> ((s, dir) => {
      // one corpus scan: the (source, w) count table is Σ per-source
      // vocab sized — persist it and derive source totals, corpus
      // totals and N from it instead of four re-scans of the corpus
      val csw = Tables.documents(s, dir)
        .select(col("source"), explode(TextOps.tokens(col("text"))).as("w"))
        .where(col("w") =!= "")
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c_sw"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val ns = csw.groupBy(col("source")).agg(sum(col("c_sw")).as("n_s"))
      val cw = csw.groupBy(col("w")).agg(sum(col("c_sw")).as("c_w"))
      val nTot = ns.agg(sum(col("n_s")).as("n_tot"))
      csw.join(broadcast(ns), Seq("source"))
        .join(cw, Seq("w"))
        .crossJoin(broadcast(nTot))
        .select(col("source"),
          // products go through double BEFORE multiplying: at corpus
          // scale (token counts ~1e13) c_sw·n_tot overflows a 64-bit
          // long and silently wraps in non-ANSI mode; as doubles the
          // products are exact up to 2^53 (all of TESTDATA) and beyond
          // that carry ~1e-16 relative error — invisible under the ln
          // and the 4-decimal round
          ((col("c_sw") / col("n_s"))
            * log((col("c_sw").cast("double") * col("n_tot"))
              / (col("n_s").cast("double") * col("c_w"))))
            .cast("decimal(20,8)").as("term"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_terms"),
          round(sum(col("term")).cast("double"), 4).as("kl_divergence"))
    }),

    // Fixed-quota per-source sampling: the 10 lowest-md5 docs per source
    // — deterministic reservoir-style sampling (WindowGroupLimit bounds
    // the shuffle to ~k rows per partition × group).
    "sample_per_group" -> ((s, dir) => {
      graft.operators.CorpusPrep.samplePerGroup(
          Tables.documents(s, dir), "doc_id", "source", k = 10)
        .select(col("doc_id"), col("source"), col("sample_rank"))
    }),

    // THE composed pretrain-prep flagship: clean → PII-redact → token
    // gate → exact-dedup representative → curriculum stage + shuffle key,
    // one declarative plan over the corpus. The dedup key is the 16-byte
    // md5 of the redacted body (never the text), the representative
    // window is fingerprint-partitioned, and every step reuses the
    // library operators the standalone queries verify.
    "pipeline_pretrain" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val base = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          TextOps.redactPii(TextOps.cleanText(col("text"))).as("body"))
        .withColumn("n_tokens", size(TextOps.tokens(col("body"))).cast("long"))
        .where(col("n_tokens") >= 20)
        .withColumn("fingerprint", md5(col("body").cast("binary")))
      val byFp = Window.partitionBy(col("fingerprint"))
      val deduped = base
        .withColumn("rep_id", min(col("doc_id")).over(byFp))
        .where(col("doc_id") === col("rep_id"))
      graft.operators.CorpusPrep.curriculumOrder(
          deduped, "doc_id", "n_tokens", stageWidth = 64L, maxStage = 3L)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("stage"), col("shuffle_key"), col("fingerprint"))
    }),

    // PII redaction: scrub emails / IPv4s / phone-like digit runs to
    // typed placeholders, plus per-kind hit counts on the raw text. The
    // scanned text is the document plus a deterministic synthetic PII
    // suffix derived from doc_id (TESTDATA text carries no real PII), so
    // the oracle verifies non-trivially that both engines' regex
    // semantics agree byte-for-byte on every redacted string.
    "text_pii_redact" -> ((s, dir) => {
      val aug = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com from 10.0."),
        pmod(col("doc_id"), lit(256)).cast("string"),
        lit(".17 call +1 555 0123 99"))
      Tables.documents(s, dir)
        .select(col("doc_id"), aug.as("a"))
        .select(col("doc_id"),
          TextOps.redactPii(col("a")).as("redacted"),
          TextOps.piiCounts(col("a")).as("pii"))
        .select(col("doc_id"), col("redacted"),
          col("pii.n_emails").as("n_emails"),
          col("pii.n_ips").as("n_ips"),
          col("pii.n_phones").as("n_phones"))
    }),

    // Corpus-LM document scoring (the CCNet-style quality filter): per-doc
    // mean negative log-likelihood under the corpus's own bigram MLE.
    // Bigrams come from a doc-PARTITIONED lag window (never a global
    // sort); c1 is vocab-sized and broadcasts, c2 joins on the bigram
    // key. Per-bigram NLL is fixed to DECIMAL(20,8) before summing so
    // the per-doc mean is independent of partial-aggregation order (and
    // of the 1-ulp ln() differences between engines).
    "text_lm_score" -> ((s, dir) => {
      graft.operators.CorpusLm.bigramNll(
        Tables.documents(s, dir), "text", "doc_id")
    }),

    // Kneser-Ney-smoothed LM scoring (CorpusLm.bigramKnNll, D=0.5): the
    // real perplexity-filter model — continuation-probability mass for
    // rare follows instead of raw MLE. All four statistics fold out of
    // the one bigram-vocab-sized count table.
    "text_lm_kn" -> ((s, dir) => {
      graft.operators.CorpusLm.bigramKnNll(
        Tables.documents(s, dir), "text", "doc_id")
    }),

    // Held-out LM scoring — the perplexity filter's DEPLOYMENT mode:
    // KN statistics frozen on the even-doc_id half, the odd half
    // (never seen by the model) scored under them. Unseen bigrams,
    // unseen continuations, and unseen left-words all get positive
    // smoothed mass (see CorpusLm.bigramKnHeldout); the LEFT-join
    // null branches replay exactly in SQL.
    "text_lm_heldout" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.CorpusLm.bigramKnHeldout(
        docs.where(pmod(col("doc_id"), lit(2)) === 0),
        docs.where(pmod(col("doc_id"), lit(2)) === 1),
        "text", "doc_id")
    }),

    // CCNet perplexity cut: the LM scores above, ntiled into
    // head/middle/tail WITHOUT a partitionless window (DenseId global
    // rank + the closed-form ANSI ntile in (rank, n, k)); keep =
    // everything but the tail bucket. Ranks order by the
    // already-rounded score (doc_id tiebreak) so the bucket edges are
    // engine-stable.
    "ppl_buckets" -> ((s, dir) => {
      graft.operators.CorpusLm.pplBuckets(
        graft.operators.CorpusLm.bigramNll(
          Tables.documents(s, dir), "text", "doc_id"),
        "doc_id", k = 3)
    }),

    // Perplexity curriculum: the CCNet buckets as curriculum stages
    // (clean/head text first, noisy tail last) with the deterministic
    // md5 shuffle inside each stage — LM-score difficulty instead of
    // the length proxy curriculum_order uses. Composes two r16 pieces;
    // sort by (stage, shuffle_key) IS the training order.
    "curriculum_ppl" -> ((s, dir) => {
      graft.operators.CorpusPrep.curriculumOrder(
        graft.operators.CorpusLm.pplBuckets(
          graft.operators.CorpusLm.bigramNll(
            Tables.documents(s, dir), "text", "doc_id"),
          "doc_id", k = 3)
          .select(col("doc_id"), col("ppl_bucket")),
        "doc_id", "ppl_bucket", stageWidth = 1L, maxStage = 3L)
        .select(col("doc_id"), col("stage"), col("shuffle_key"))
    }),

    // Taxonomy / blocklist screen: one corpus scan matches the token
    // stream ∪ adjacent-bigram stream against a broadcast
    // category→phrase dictionary; the only shuffle is the (doc,
    // category) rollup. Regex alternation would re-scan per pattern
    // and can't attribute hits to categories.
    "taxonomy_tag" -> ((s, dir) => {
      graft.operators.DictTag.tag(
        Tables.documents(s, dir), "text", "doc_id", TagDict)
    }),

    // Curriculum ordering: difficulty stages (token-length buckets) + a
    // deterministic md5 shuffle key — sort by (stage, shuffle_key) is
    // easy→hard order with a reproducible shuffle inside each stage.
    "curriculum_order" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      graft.operators.CorpusPrep.curriculumOrder(
        docs, "doc_id", "n_tokens", stageWidth = 64L, maxStage = 3L)
    }),

    // A17 — sketch-based distinct counts per source next to the exact
    // answer: the O(1)-memory HLL path that replaces an exact
    // COUNT(DISTINCT) shuffle at 100 TB (the exact column doubles as
    // the in-row accuracy reference). Since r17 this runs the OWN-HLL
    // estimator over an md5-48-bit key of the text (exact-gated: the
    // md5 prefix, the XxSql hashLong unroll, bit-length rho, and the
    // 2^62-scaled harmonic sum all replay in DuckDB); Spark's built-in
    // `approx_count_distinct` is the drop-in library alternative
    // (TextOpsPiiSpec pins its accuracy — blob internals, no oracle).
    "a17_approx_distinct" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val keyed = docs.select(col("source"),
        conv(substring(md5(col("text").cast("binary")), 1, 12), 16, 10)
          .cast("long").as("__k"))
      graft.operators.Sketches.hllLongEstimate(
          graft.operators.Sketches.hllLongFit(keyed, "__k", "source", p = 4),
          "source", p = 4)
        .join(docs.groupBy(col("source"))
          .agg(countDistinct(col("text")).as("exact_distinct"),
            count(lit(1)).as("n_docs")), Seq("source"))
    }),

    // Sketch-union rollup: per-source HLL distinct-text sketches whose
    // UNION (register-wise max — an exact merge, no re-scan) yields the
    // corpus-wide row — the mergeable pre-aggregation pattern that lets
    // per-shard/per-day sketches answer any-range distinct queries at
    // constant cost at 100 TB. Since r17 on the own-HLL registers, so
    // BOTH the per-source estimates and the merged `__all` row are
    // exact-gated (union-of-registers ≡ registers-of-union is the
    // mergeability law the oracle replays); the DataSketches
    // `hll_sketch_agg`/`hll_union_agg` form stays available as
    // [[graft.operators.Sketches.hllRollup]] (SketchSpec pins merged ≡
    // direct-global and the error vs exact).
    "sketch_union_rollup" -> ((s, dir) => {
      val keyed = Tables.documents(s, dir).select(col("source"),
        conv(substring(md5(col("text").cast("binary")), 1, 12), 16, 10)
          .cast("long").as("__k"))
      val regs = graft.operators.Sketches
        .hllLongFit(keyed, "__k", "source", p = 4)
        .localCheckpoint(true)
      val groups = graft.operators.Sketches
        .hllLongEstimate(regs, "source", p = 4)
        .select(col("source").cast("string").as("grp"),
          col("est").as("n_distinct_est"))
      val merged = regs.groupBy(col("bucket"))
        .agg(max(col("rho_max")).cast("int").as("rho_max"))
        .withColumn("__g", lit("__all"))
      val rollup = graft.operators.Sketches
        .hllLongEstimate(merged, Seq("__g"), p = 4)
        .select(col("__g").as("grp"), col("est").as("n_distinct_est"))
      groups.unionByName(rollup)
    }),

    // Count-min-sketch heavy hitters: token counts estimated from a
    // 4×2048 counter table built in one aggregate pass — bounded memory
    // for an unbounded key universe, additive across shards. Oracle
    // since r16 via the dumped `cms_buckets` cell mapping (the
    // ann_quantizer technique): with the mapping, every counter cell,
    // min-estimate, and the top-20 cut replay exactly in SQL;
    // SketchesSpec additionally proves est ≥ exact and the +εN bound.
    "heavy_hitters_cms" -> ((s, dir) => {
      graft.operators.Sketches.cmsHeavyHitters(
        Tables.documents(s, dir)
          .select(explode(TextOps.tokens(col("text"))).as("token"))
          .where(col("token") =!= ""),
        "token", k = 20, width = 2048, depth = 4)
    }),

    // The dumped (token, d, bucket) hash-cell mapping the CMS oracles
    // replay against — vocab-bounded (4·|vocab| rows); its own gate is
    // rows-only because the xxhash64 cell VALUES are engine-specific
    // (exactly like the ann_quantizer_* kernel dumps).
    "cms_buckets" -> ((s, dir) => {
      graft.operators.Sketches.cmsBuckets(
        Tables.documents(s, dir)
          .select(explode(TextOps.tokens(col("text"))).as("token"))
          .where(col("token") =!= ""),
        "token", width = 2048, depth = 4)
    }),

    // Streaming-maintained CMS (CmsStream): the corpus arrives in 3
    // doc-keyed batches, each folded into the durable counter table by
    // the additive merge; heavy hitters off the MAINTAINED state
    // hash-match the one-shot oracle (maintained ≡ one-shot BY the
    // oracle — counters are additive, so batch packing cannot matter).
    "cms_maintained" -> ((s, dir) => {
      val base = graft.streaming.Maintained.stateRoot("cms-gate")
      val skDir = s"$base/counters"
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
        .where(col("token") =!= "")
        .localCheckpoint(true)
      for (b <- 0 until 3)
        graft.streaming.CmsStream.applyBatch(
          toks.where(pmod(col("doc_id"), lit(3)) === b),
          "token", width = 2048, depth = 4, skDir, b)
      graft.operators.Sketches.cmsEstimate(toks,
          graft.streaming.Maintained.current(s, skDir),
          "token", width = 2048, depth = 4)
        .orderBy(col("est").desc, col("token").asc).limit(20)
    }),

    // Mixture sampling: deterministic per-source downsampling to target
    // weights (1.0 / 0.5 / 0.2 tiers over the 20 sources) via an md5
    // uniform gate — reproducible across engines, runs and retries.
    "mixture_sample" -> ((s, dir) => {
      val weights = (0 until 20).map(i =>
        s"src$i" -> (if (i < 5) 1.0 else if (i < 10) 0.5 else 0.2)).toMap
      graft.operators.CorpusPrep.mixtureSample(
          Tables.documents(s, dir), "doc_id", "source", weights)
        .select(col("doc_id"), col("source"))
    }),

    // Weighted sampling without replacement (Efraimidis-Spirakis /
    // Gumbel-top-k): token-count-proportional draw of 100 documents.
    // ln(u)/w keys + TakeOrdered — no sequential selection, no rand();
    // the md5 uniform makes the exact sample reproducible on any
    // engine (this is how "sample proportional to length/quality"
    // stays auditable at 100 TB).
    "weighted_sample" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      graft.operators.CorpusPrep
        .weightedSample(docs, "doc_id", "n_tokens", n = 100)
    }),

    // Token-balanced data-parallel shards: every document placed by the
    // sorted snake (CorpusPrep.snakeShards) — global rank via PrefixSum
    // (never a partitionless window), shard by pure arithmetic on the
    // rank. The oracle replays rank and snake exactly; the balance
    // claim itself is read through shard_snake_balance.
    "shard_snake" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        size(split(col("text"), " ", -1)).cast("long").as("n_tokens"))
      graft.operators.CorpusPrep.snakeShards(docs, "doc_id", "n_tokens",
        nShards = 8)
    }),

    // The report a trainer reads off the snake assignment: per-shard
    // document count and token total — the max-min spread is what the
    // placement exists to minimize (≤ one document's tokens).
    "shard_snake_balance" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        size(split(col("text"), " ", -1)).cast("long").as("n_tokens"))
      graft.operators.CorpusPrep.snakeShards(docs, "doc_id", "n_tokens",
        nShards = 8)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
    }),

    // The leakage experiment, measured: under a naive ROW-level md5
    // split, near-duplicate pairs straddle the train/test boundary
    // (test answers in the training set); under the cluster-aware gate
    // the straddle count is zero BY CONSTRUCTION — both counted over
    // the same exact-Jaccard pair set, in one report.
    "split_leakage_audit" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.shingleJaccardPairs(docs, "text", "doc_id",
        shingleLen = 5, minJaccard = 0.5)
        .select(col("doc_a"), col("doc_b")).localCheckpoint(true)
      val rowGate = conv(substring(md5(col("id").cast("string")), 1, 4),
        16, 10).cast("long")
      val rowSplit = docs.select(col("doc_id").as("id"))
        .withColumn("split",
          when(rowGate < lit(0.2) * lit(65536), lit("test"))
            .otherwise(lit("train")))
        .withColumn("mode", lit("row_gate"))
      val clusterSplit = graft.operators.CorpusPrep
        .leakageSafeSplit(storedStarClusters(s, dir), "id", "cluster", 0.2)
        .select(col("id"), col("split"))
        .withColumn("mode", lit("cluster_gate"))
      val splits = rowSplit.unionByName(clusterSplit)
      pairs
        .join(splits.select(col("mode"), col("id").as("doc_a"),
          col("split").as("__sa")), Seq("doc_a"))
        .join(splits.select(col("mode"), col("id").as("doc_b"),
          col("split").as("__sb")), Seq("mode", "doc_b"))
        .groupBy(col("mode"))
        .agg(count(lit(1)).as("n_pairs"),
          sum((col("__sa") =!= col("__sb")).cast("long")).as("n_cross_split"))
    }),

    // Leakage-safe holdout: near-dup CLUSTERS (the star contraction over
    // shingle-Jaccard pairs — same resolution dedup_clusters_star gates)
    // draw ONE md5 uniform each, so a test document's near-duplicate can
    // never train the model on the answer. Singletons are their own
    // cluster and split at the same 20%.
    "split_leakage_safe" -> ((s, dir) => {
      graft.operators.CorpusPrep.leakageSafeSplit(
        storedStarClusters(s, dir), "id", "cluster", testFraction = 0.2)
    }),

    // Winnowing fingerprint index (MOSS): the per-doc digest of the
    // window-minimum gram hashes a contamination checker persists —
    // count, min, and bit_xor reconstruct set equality without dumping
    // every fingerprint. Any shared run of ≥ window+shingleLen−1 = 8
    // tokens is guaranteed a shared fingerprint at ~2/(window+1) the
    // index density of the full shingle set.
    "winnow_index" -> ((s, dir) => {
      Dedup.winnowFingerprints(Tables.documents(s, dir), "text", "doc_id",
        shingleLen = 5, window = 4)
        .groupBy(col("doc"))
        .agg(count(lit(1)).as("n_fp"), min(col("fp")).as("fp_min"),
          expr("bit_xor(fp)").as("fp_xor"))
    }),

    // The stream-maintained winnowing index AS a gate row: documents
    // replay as three id-range batches through WinnowStream.applyBatch
    // (union + distinct folds, DurableIters-versioned) and the
    // maintained index's per-doc digest is compared against the ONE-SHOT
    // oracle — the hash match IS the incremental ≡ batch proof, in the
    // gate itself (the quantile/kmv discipline applied to the
    // contamination index).
    "winnow_maintained" -> ((s, dir) => {
      val base = graft.streaming.Maintained.stateRoot("winnow-gate")
      val ixDir = s"$base/index"
      val docs = Tables.documents(s, dir)
      graft.streaming.Maintained.thirds(docs, "doc_id").zipWithIndex.foreach {
        case (b, i) => graft.streaming.WinnowStream.applyBatch(b, "text", "doc_id", ixDir, i)
      }
      graft.streaming.Maintained.current(s, ixDir)
        .groupBy(col("doc"))
        .agg(count(lit(1)).as("n_fp"), min(col("fp")).as("fp_min"),
          expr("bit_xor(fp)").as("fp_xor"))
    }),

    // Screening a new batch against the maintained index: candidate
    // contamination pairs between the arriving 1/7th of the corpus and
    // everything already indexed — the decontamination read the index
    // exists for. The join is keyed by fingerprint, so the probe cost
    // follows the BATCH's fingerprints, never the index's bulk.
    "winnow_screen" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val ix = Dedup.winnowFingerprints(
        docs.where(pmod(col("doc_id"), lit(7)) =!= 0), "text", "doc_id")
      val batch = Dedup.winnowFingerprints(
        docs.where(pmod(col("doc_id"), lit(7)) === 0), "text", "doc_id")
      graft.streaming.WinnowStream.screen(batch, ix, minShared = 1)
    }),

    // Winnowing candidate pairs: documents sharing ≥2 fingerprints with
    // the exact fp-set Jaccard — the screening join the guarantee above
    // makes sound. The oracle replays grams, hashes, window minima,
    // the df cap, and the pair math bit for bit.
    "dedup_winnowing" -> ((s, dir) => {
      Dedup.winnowingPairs(Tables.documents(s, dir), "text", "doc_id",
        shingleLen = 5, window = 4, minShared = 2)
    }),

    // Deterministic per-epoch training order: 2 epochs × 4 shards, each
    // epoch a fresh md5("epoch:id") reshuffle — order AND shard change
    // per epoch, yet a crashed run resumes exactly the order it was
    // consuming (a rand() shuffle gives a different epoch on retry).
    "training_order" -> ((s, dir) => {
      graft.operators.CorpusPrep.epochOrder(
        Tables.documents(s, dir), "doc_id", epochs = 2, shards = 4)
    }),

    // Quality-aware dedup survivor: per near-dup cluster (the star
    // contraction over shingle-Jaccard pairs), keep the member with the
    // MOST tokens (ties → smallest id) — the "keep the clean original,
    // drop the truncated scrapes" policy, instead of min-id.
    "dedup_best_rep" -> ((s, dir) => {
      val quality = Tables.documents(s, dir).select(col("doc_id"),
        size(split(col("text"), " ", -1)).cast("long").as("n_tokens"))
      Dedup.bestRepresentatives(storedStarClusters(s, dir), "id", "cluster",
        quality, "doc_id", "n_tokens")
    }),

    // Contrastive triplet mining: near-dup clusters supply positives,
    // the brute-force cosine k-NN on the anchors supplies hard
    // negatives (the nearest CROSS-cluster hit) — the embedding-model
    // training set assembled from artifacts the pipeline already
    // computes. vec_id aligns with doc_id in the star schema.
    "contrastive_triplets" -> ((s, dir) => {
      val clusters = storedStarClusters(s, dir)
      val sizes = clusters.groupBy(col("cluster")).agg(count(lit(1)).as("__n"))
      val anchors = clusters.join(sizes.where(col("__n") >= 2), Seq("cluster"))
        .select(col("id"))
      val e = Tables.embeddings(s, dir)
      val knn = graft.operators.SimilaritySearch.knnJoinBruteForce(
        e, e.join(anchors, e("vec_id") === anchors("id")).select(e("*")),
        "embedding", "vec_id", k = 5)
      graft.operators.CorpusPrep.contrastiveTriplets(clusters, knn)
    }),

    // Temperature-scaled mixture (α = 0.5, the multilingual-pretraining
    // reweighting): per-source keep rate ∝ (n_s)^(α-1), normalized so
    // the SMALLEST source keeps everything — rate_s = sqrt(min_n/n_s)
    // (the corpus-size factor cancels). Rates come from one grouped
    // count broadcast back onto the scan; the gate is the same md5
    // uniform as mixture_sample, so the downsample is deterministic
    // and auditable. This is how a mixture stops the biggest source
    // from drowning the tail without hand-written weights.
    "mixture_temperature" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("ns"))
      val minNs = counts.agg(min(col("ns")).as("mn"))
      val rates = counts.crossJoin(broadcast(minNs))
        .select(col("source"), sqrt(col("mn") / col("ns")).as("rate"))
      val gate = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
      docs.join(broadcast(rates), Seq("source"))
        .where(gate < col("rate") * lit(65536.0))
        .select(col("doc_id"), col("source"),
          (round(col("rate"), 6) + lit(0.0)).as("rate_r"))
    }),

    // Exact-proportion stratified split: every source lands within one
    // row of 80/10/10 (rank·10 vs n·integer cuts over a deterministic
    // md5 shuffle) — the guarantee the md5-GATE splits can't give small
    // strata. Emitted as the per-(source, split) census.
    "split_stratified_exact" -> ((s, dir) => {
      graft.operators.CorpusPrep.stratifiedExactSplit(
          Tables.documents(s, dir), "doc_id", "source")
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
    }),

    // False-negative-free contrastive batches: near-dup clusters (the
    // stored star fixture) scattered so no batch ever holds two members
    // of one cluster — the in-batch-negative layout that keeps InfoNCE
    // negatives honest. Collision-free by arithmetic (stratum × md5
    // scatter), one per-cluster rank window, engine-replayable.
    "contrastive_batches" -> ((s, dir) => {
      graft.operators.CorpusPrep.contrastiveBatches(
        storedStarClusters(s, dir), "id", "cluster", groupsPerStratum = 16)
    }),

    // Data-repetition budget (the data-constrained-scaling planner):
    // per-source token totals vs the mixture's demanded share at a 10M
    // target — effective epochs in ppm, the >4-epoch repetition flag,
    // and the cap-adjusted obtainable tokens. One grouped aggregate +
    // integer arithmetic; the plan's cost is corpus-size-free beyond
    // the token count scan.
    "repetition_budget" -> ((s, dir) => {
      val perSource = Tables.documents(s, dir)
        .select(col("source"),
          size(TextOps.tokens(col("text"))).cast("long").as("nt"))
        .groupBy(col("source")).agg(sum(col("nt")).as("n_tokens"))
      val weights = (0 until 20).map(i =>
        s"src$i" -> (if (i < 5) 1000L else if (i < 10) 500L else 200L)).toMap
      graft.operators.CorpusPrep.repetitionBudget(
        perSource, "source", "n_tokens", weights,
        targetTokens = 10000000L)
    }),

    // DoReMi-style mixture reweighting (the multiplicative-weights
    // update over per-domain excess loss): per-source KN-smoothed LM
    // loss as the proxy, the MLE floor as the reference — sources
    // whose text stays hard even after smoothing carry headroom and
    // get exponentially upweighted, smoothed 10% toward uniform.
    // Completes the mixture-planning family (temperature, repetition
    // budget, curriculum). Both scores come off the ONE bigram count
    // table; the whole update replays in SQL (decimal-snapped sums,
    // one double division per mean, exp snapped to DECIMAL(18,8)).
    "mixture_doremi" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val perDoc = graft.operators.CorpusLm
        .bigramBothNll(docs, "text", "doc_id")
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      graft.operators.CorpusPrep.doremiWeights(
        perDoc, "source", lossCol = "kn_score", refCol = "lm_score")
    }),

    // Document clustering by own deterministic k-means — the
    // cluster-then-X primitive (SemDeDup's first stage, topic-balanced
    // sampling, per-cluster quota curation): each doc becomes a 16-dim
    // hashed term-frequency vector (md5-bucket counts / doc length,
    // the feature_hash trick — d fixed however large the vocab),
    // grid-snapped, fit with LloydKmeans (k=4, 2 rounds) and every doc
    // assigned to its final cell. Hash-gated END TO END: featurization,
    // seeding, both Lloyd rounds, and the final assignment all replay
    // in SQL (KmeansSql.ivfOwnAssignOracleSql). At 100 TB the fit runs
    // on a hash sample exactly like the ANN quantizers; assignment
    // stays one codegen'd argmin scan.
    "text_clusters_kmeans" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val toks = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("w"))
      val bucket = (conv(substring(md5(col("w")), 1, 4), 16, 10)
        .cast("int") % 16).as("b")
      val counts = toks.groupBy(col("doc_id"), bucket)
        .agg(count(lit(1)).as("c"))
      val n = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val vecs = counts.groupBy(col("doc_id"))
        .agg(map_from_entries(collect_list(struct(col("b"), col("c"))))
          .as("m"))
        .join(n, Seq("doc_id"))
        .select(col("doc_id"),
          graft.operators.LloydKmeans.snapVec(
            transform(sequence(lit(0), lit(15)),
              i => coalesce(element_at(col("m"), i), lit(0L)).cast("double")
                / col("n"))).as("fvec"))
        // consumed by the fit loop AND the final assignment — snapshot
        // the docs×16 frame once
        .localCheckpoint(true)
      val cents = graft.operators.LloydKmeans.fitIvfOwn(vecs, "fvec",
        "doc_id", k = 4, rounds = 2)
      graft.operators.SimilaritySearch.assignToCentroids(vecs, "fvec", cents)
        .select(col("doc_id"), col("cell").cast("long").as("cluster"))
    }),

    // ITERATED DoReMi (the published reweight→retrain→rescore loop,
    // r17 verdict item 5): three unrolled rounds where round k's
    // domain weights REFIT the bigram-KN proxy on ppm·k-scaled integer
    // counts and the rescored excess drives the next multiplicative-
    // weights update — upweighted domains see their loss fall toward
    // the MLE floor, so the weights converge. Round 1 (uniform) is
    // exactly mixture_doremi's fit in scaled-integer arithmetic. The
    // full 3-round trajectory dumps like bpe_dict_states; every round
    // replays in SQL (integer weighted counts, DECIMAL-snapped NLL and
    // MW state).
    "mixture_doremi_k" -> ((s, dir) => {
      graft.operators.CorpusPrep.doremiIterate(
        Tables.documents(s, dir), "text", "doc_id", "source", rounds = 3)
    }),

    // Per-source weighted sample: 5 docs per source, probability
    // proportional to token count — the same Gumbel keys ranked in a
    // source-partitioned window, so the plan keeps samplePerGroup's
    // map-side WindowGroupLimit (≤ k rows per partition×group reach
    // the shuffle).
    "weighted_sample_per_group" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      graft.operators.CorpusPrep
        .weightedSamplePerGroup(docs, "doc_id", "source", "n_tokens", k = 5)
    }),

    // DSIR-shape importance weights (hashed-bag importance resampling,
    // the data-selection technique behind "train on raw web, reweight
    // toward a target domain"): every document scores by the
    // log-likelihood ratio of a hashed-unigram model fit on the TARGET
    // slice (source src0) vs the RAW pool (the rest), Laplace-smoothed.
    // Buckets are seedless md5 bits (the mixture_sample gate), so any
    // engine reproduces the features; both models fit in ONE grouped
    // pass over the token stream (a conditional sum per side beats two
    // scans), the 256-row ratio table broadcasts, and the per-token
    // log-ratio accumulates in DECIMAL for order independence. The
    // resampling step itself is mixture_sample's md5 gate applied to
    // these weights downstream.
    "dsir_weights" -> ((s, dir) => {
      val nBuckets = 256
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          explode(TextOps.tokens(col("text"))).as("t"))
        .where(col("t") =!= "")
        .withColumn("b",
          conv(substring(md5(col("t")), 1, 4), 16, 10).cast("long") % nBuckets)
      // bucket-count table is vocab-bounded (≤256 rows) — persist IT,
      // never the corpus-sized token stream (lm_score's rationale)
      val counts = toks.groupBy(col("b")).agg(
          sum((col("source") === "src0").cast("long")).as("ct"),
          sum((col("source") =!= "src0").cast("long")).as("cr"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val stats = counts.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"))
      val ratio = counts.crossJoin(broadcast(stats))
        .select(col("b"),
          (log((col("ct") + lit(1.0)) / (col("nt") + lit(nBuckets)))
            - log((col("cr") + lit(1.0)) / (col("nr") + lit(nBuckets))))
            .as("logr"))
      toks.join(broadcast(ratio), Seq("b"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          round(sum(col("logr").cast("decimal(20,8)")).cast("double"), 4)
            .as("dsir_logweight"))
    })
  )

  /** DuckDB replay of `dedup_minhash` (Dedup.minHashLshPairs with the
    * default 8 bands × 2 rows): word-5-gram shingles (the proven
    * dedup_ngram_jaccard fragment), 16 Kirsch-Mitzenmacher signature
    * slots from two md5-48 draws, md5-48 band buckets over the slot
    * strings, candidate pairs per (band, bucket), exact Jaccard ≥ 0.5
    * verify. The bucket cap is omitted — TESTDATA never reaches it
    * (the operator probes first).
    */
  private def minhashOracleSql(bands: Int, rowsPerBand: Int): String = {
    val k = bands * rowsPerBand
    def h48(arg: String) =
      s"CAST(('0x' || substr(md5($arg), 1, 12)) AS BIGINT)"
    val two48 = 1L << 48
    val slots = (0 until k)
      .map(i => s"min((h1 + $i * h2) % $two48) AS h$i")
      .mkString(",\n             ")
    val bandCols = (0 until bands).map { b =>
      val parts = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(i => s"CAST(h$i AS VARCHAR)").mkString(" || ':' || ")
      s"${h48(parts)} AS b$b"
    }.mkString(",\n             ")
    val bandUnion = (0 until bands)
      .map(b => s"SELECT doc_id, $b AS band, b$b AS bucket FROM bsel")
      .mkString("\n           UNION ALL ")
    s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       idx AS (SELECT doc_id, toks,
                 unnest(generate_series(1, greatest(len(toks) - 4, 1))) AS i FROM tok),
       sh AS (SELECT DISTINCT doc_id,
                array_to_string(toks[CAST(i AS INT):CAST(i AS INT)+4], ' ') AS g FROM idx),
       sd AS (SELECT doc_id, g, ${h48("g")} AS h1, ${h48("'#' || g")} AS h2
           FROM sh),
       sig AS (SELECT doc_id,
             $slots
           FROM sd GROUP BY doc_id),
       bsel AS (SELECT doc_id,
             $bandCols
           FROM sig),
       bnd AS ($bandUnion),
       cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM bnd a JOIN bnd b
             ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       card AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       inter AS (SELECT c.doc_a, c.doc_b, count(*) AS inter
           FROM cand c
           JOIN sh sa ON sa.doc_id = c.doc_a
           JOIN sh sb ON sb.doc_id = c.doc_b AND sb.g = sa.g
           GROUP BY 1, 2)
       SELECT doc_a, doc_b,
              round(inter * 1.0 / (ca.n + cb.n - inter), 4) AS jaccard
       FROM inter JOIN card ca ON doc_a = ca.doc_id
                  JOIN card cb ON doc_b = cb.doc_id
       WHERE inter * 1.0 / (ca.n + cb.n - inter) >= 0.5"""
  }

  /** The own-HLL p=4 register CTE chain over an md5-48-bit key of
    * `text` grouped by source — shared by a17_approx_distinct /
    * sketch_union_rollup (the distinct_hll_replay construction: XxSql
    * hashLong unroll, low-4-bit buckets, bit-length rho on the 60-bit
    * suffix). Ends with CTE `regs` = (source, bucket, rho).
    */
  private val HllTextRegisterCtes: String = {
    val (hashFrag, hashLast) = XxSql.chain("hb",
      XxSql.xx64Steps(XxSql.u64("k"), "42", "h", "htx"), "htxc")
    s"""WITH hb AS (SELECT source,
           CAST(('0x' || substr(md5(text), 1, 12)) AS BIGINT) AS k
         FROM documents)
       $hashFrag,
       regs AS (SELECT source, h % 16 AS bucket,
           max(CASE WHEN h // 16 = 0 THEN 61
               ELSE 61 - length(bin(CAST(h // 16 AS HUGEINT))) END) AS rho
         FROM $hashLast GROUP BY 1, 2)"""
  }

  /** The p=4 estimator tail over a (grp, bucket, rho) CTE `$src`:
    * scaled-integer harmonic denominator + the linear-counting switch
    * (m=16, α=0.673) — lands in CTE `est_$src` = (grp, n_obs, est).
    */
  private def hllEstimateTail(src: String): String =
    s"""agg_$src AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_obs,
           sum(CAST(CAST(1 AS BIGINT) << CAST(62 - rho AS INT)
             AS HUGEINT)) AS ds
         FROM $src GROUP BY 1),
       e_$src AS (SELECT grp, n_obs,
           0.673 * 256 * CAST(CAST(1 AS BIGINT) << 62 AS DOUBLE)
             / CAST(ds + (16 - n_obs)
                 * CAST(CAST(1 AS BIGINT) << 62 AS HUGEINT) AS DOUBLE)
             AS eraw
         FROM agg_$src),
       est_$src AS (SELECT grp, n_obs,
           round(CASE WHEN eraw <= 40.0 AND n_obs < 16
                 THEN 16 * ln(16.0 / (16 - n_obs)) ELSE eraw END, 4) AS est
         FROM e_$src)"""

  /** `mixture_doremi_k`: the iterated DoReMi loop unrolled — per
    * round, the bigram-KN proxy refits on ppm·k-scaled INTEGER counts
    * (round 1's uniform scale is exactly 10⁶, making it the unweighted
    * fit in scaled arithmetic; the absolute discount scales to
    * 0.5·10⁶), rescores every doc, and the MW state chains through
    * DECIMAL(18,8) snaps — mirroring CorpusPrep.doremiIterate's snap
    * points term for term.
    */
  private def doremiKOracleSql(rounds: Int, eta: Double = 1.0,
      smoothPermille: Long = 100L, discount: Double = 0.5): String = {
    // the same derived constants CorpusPrep.doremiIterate computes —
    // interpolated (not hardcoded) so a query passing non-default
    // eta/discount/smoothPermille gets a matching oracle, never a
    // silently divergent one (r18 advice)
    val dScaled = discount * 1000000.0
    val keep = (1000L - smoothPermille).toDouble / 1000.0
    val floorPpm = (smoothPermille * 1000L).toDouble
    val sb = new StringBuilder
    sb.append(
      """WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS toks
           FROM documents),
       bi AS MATERIALIZED (SELECT doc_id, source,
              toks[CAST(i AS INT)] AS w1, toks[CAST(i AS INT) + 1] AS w2
           FROM (SELECT doc_id, source, toks,
                   unnest(generate_series(1, len(toks) - 1)) AS i
                 FROM tok WHERE len(toks) >= 2)),
       c2d AS MATERIALIZED (SELECT source, w1, w2, count(*) AS c2d
           FROM bi GROUP BY 1, 2, 3),
       c2 AS MATERIALIZED (SELECT w1, w2, sum(c2d) AS c2 FROM c2d GROUP BY 1, 2),
       lft AS MATERIALIZED (SELECT w1, sum(c2) AS c1, count(*) AS n1f
           FROM c2 GROUP BY 1),
       rgt AS MATERIALIZED (SELECT w2, count(*) AS n1b FROM c2 GROUP BY 1),
       ty AS (SELECT count(*) AS nt FROM c2),
       refdom AS MATERIALIZED (
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(CAST(ref AS DECIMAL(18,6))) AS DOUBLE) / count(*)
                  AS ref0
         FROM (SELECT bi.doc_id, bi.source,
                 round(CAST(sum(CAST(-ln(c2.c2 * 1.0 / lft.c1)
                       AS DECIMAL(20,8))) AS DOUBLE) / count(*), 4) AS ref
               FROM bi JOIN c2 ON bi.w1 = c2.w1 AND bi.w2 = c2.w2
                       JOIN lft ON bi.w1 = lft.w1
               GROUP BY 1, 2)
         GROUP BY source),
       kd AS (SELECT CAST(count(*) AS BIGINT) AS k FROM refdom),
       w0 AS (SELECT source, CAST(1.0 AS DECIMAL(18,8)) AS w,
              CAST(1000000 AS BIGINT) AS ppmk FROM refdom)""")
    for (r <- 1 to rounds) {
      val p = r - 1
      sb.append(s""",
       c2w$r AS MATERIALIZED (SELECT d.w1, d.w2, sum(wp.ppmk * d.c2d) AS c2w
           FROM c2d d JOIN w$p wp USING (source) GROUP BY 1, 2),
       c1w$r AS (SELECT w1, sum(c2w) AS c1w FROM c2w$r GROUP BY 1),
       dom$r AS (
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(CAST(kn AS DECIMAL(18,6))) AS DOUBLE) / count(*)
                  AS loss0
         FROM (SELECT n.doc_id, n.source,
                 round(CAST(sum(n.nll) AS DOUBLE) / count(*), 4) AS kn
               FROM (SELECT bi.doc_id, bi.source,
                       CAST(-ln(greatest(cw.c2w - $dScaled, 0.0) / lw.c1w
                         + ($dScaled * lft.n1f / lw.c1w)
                           * (rgt.n1b * 1.0 / ty.nt))
                         AS DECIMAL(20,8)) AS nll
                     FROM bi JOIN c2w$r cw ON bi.w1 = cw.w1 AND bi.w2 = cw.w2
                             JOIN c1w$r lw ON bi.w1 = lw.w1
                             JOIN lft ON bi.w1 = lft.w1
                             JOIN rgt ON bi.w2 = rgt.w2
                             CROSS JOIN ty) n
               GROUP BY 1, 2)
         GROUP BY source),
       st$r AS (SELECT d.source, d.n_docs, d.loss0, rd.ref0,
                greatest(d.loss0 - rd.ref0, 0.0) AS excess,
                CAST(CAST(wp.w AS DOUBLE)
                  * exp($eta * greatest(d.loss0 - rd.ref0, 0.0))
                  AS DECIMAL(18,8)) AS w
              FROM dom$r d JOIN refdom rd USING (source)
                   JOIN w$p wp USING (source)),
       tw$r AS (SELECT sum(w) AS tw FROM st$r),
       out$r AS (SELECT s.source, s.n_docs, s.loss0, s.ref0, s.excess,
                 CAST(round($keep * (CAST(s.w AS DOUBLE) / CAST(t.tw AS DOUBLE))
                   * 1000000.0 + $floorPpm / (SELECT k FROM kd), 0)
                   AS BIGINT) AS ppm
               FROM st$r s CROSS JOIN tw$r t),
       w$r AS (SELECT o.source, s.w, o.ppm * (SELECT k FROM kd) AS ppmk
               FROM out$r o JOIN st$r s USING (source))""")
    }
    sb.append((1 to rounds).map { r =>
      s"""
       SELECT CAST($r AS BIGINT) AS round, source, n_docs,
              round(loss0, 4) AS loss, round(ref0, 4) AS ref_loss,
              round(excess, 4) AS excess, ppm AS weight_ppm FROM out$r"""
    }.mkString(" UNION ALL "))
    sb.toString
  }

  def oracleSql: Map[String, String] = Map(
    "heavy_hitters_cms" -> CmsHeavyHittersOracle,
    "cms_maintained" -> CmsHeavyHittersOracle,
    "a17_approx_distinct" ->
      s"""$HllTextRegisterCtes,
         g AS (SELECT source AS grp, bucket, rho FROM regs),
         ${hllEstimateTail("g")},
         x AS (SELECT source,
                 CAST(count(DISTINCT text) AS BIGINT) AS exact_distinct,
                 CAST(count(*) AS BIGINT) AS n_docs
               FROM documents GROUP BY 1)
         SELECT grp AS source, n_obs, est, exact_distinct, n_docs
         FROM est_g JOIN x ON est_g.grp = x.source""",
    "sketch_union_rollup" ->
      s"""$HllTextRegisterCtes,
         ar AS (SELECT CAST(source AS VARCHAR) AS grp, bucket, rho FROM regs
                UNION ALL
                SELECT '__all' AS grp, bucket, max(rho) AS rho
                FROM regs GROUP BY 2),
         ${hllEstimateTail("ar")}
         SELECT grp, est AS n_distinct_est FROM est_ar""",
    "dedup_minhash" -> minhashOracleSql(bands = 8, rowsPerBand = 2),
    // SimHash replay: one vote row per (token occurrence × bit), the
    // signature as a HUGEINT power sum (bit 63 would overflow BIGINT),
    // u64 shifts for the segment keys, bit_count(xor) for Hamming
    "dedup_simhash" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
           FROM documents),
         th AS (SELECT doc_id,
             CAST(('0x' || substr(md5(t), 1, 16)) AS UBIGINT) AS h FROM tok),
         votes AS (SELECT doc_id, jj.j,
             sum(CASE WHEN (h >> CAST(jj.j AS INT)) & 1 = 1
                 THEN 1 ELSE -1 END) AS v
           FROM th CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j) jj
           GROUP BY doc_id, jj.j),
         sig AS (SELECT doc_id,
             CAST(sum(CASE WHEN v > 0 THEN CAST(2 ** j AS HUGEINT)
                 ELSE CAST(0 AS HUGEINT) END) AS UBIGINT) AS s
           FROM votes GROUP BY doc_id),
         seg AS (SELECT doc_id, s, gg.seg,
             (s >> CAST(gg.seg * 16 AS INT)) & 65535 AS segval
           FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS seg) gg),
         pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.s, b.s)) AS INT) AS hamming
           FROM seg a JOIN seg b ON a.seg = b.seg AND a.segval = b.segval
             AND a.doc_id < b.doc_id)
         SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3""",
    "pipeline_docs" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
         agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(sum(CASE WHEN t IN ('the','a') THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
                 FROM toks GROUP BY doc_id),
         gated AS (SELECT d.doc_id, d.text, a.n_tokens,
                 least(1.0, a.n_tokens / 100.0)
                   * (1.0 - a.n_stop * 1.0 / a.n_tokens) AS quality,
                 md5(trim(regexp_replace(regexp_replace(lower(d.text), '<[^>]*>', ' ', 'g'),
                      '\s+', ' ', 'g'))) AS fingerprint
               FROM documents d JOIN agg a USING (doc_id)
               WHERE least(1.0, a.n_tokens / 100.0)
                   * (1.0 - a.n_stop * 1.0 / a.n_tokens) >= 0.5),
         wd AS (SELECT *,
                  min(doc_id) OVER (PARTITION BY fingerprint) AS rep_id,
                  CAST(count(*) OVER (PARTITION BY fingerprint) AS BIGINT) AS n_dups
                FROM gated)
         SELECT doc_id,
                CASE WHEN vr < 0.20 THEN 'zh' WHEN vr < 0.26 THEN 'de'
                     WHEN vr < 0.31 THEN 'en' ELSE 'es' END AS lang_pred,
                n_tokens, round(quality, 4) AS quality_score,
                fingerprint, n_dups
         FROM (SELECT *, (length(text) - length(regexp_replace(text, '[aeiou]', '', 'g'))) * 1.0
                         / length(text) AS vr FROM wd)
         WHERE doc_id = rep_id""",
    "text_clean" ->
      """SELECT doc_id,
              trim(regexp_replace(regexp_replace(lower(text), '<[^>]*>', ' ', 'g'),
                   '\s+', ' ', 'g')) AS clean_text
         FROM documents""",
    "text_tokens" ->
      """SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
              CAST(length(text) AS BIGINT) AS n_chars_computed
         FROM documents""",
    // chr(769) = U+0301 combining acute: decompose deterministically,
    // then both engines' NFC must recompose to identical bytes
    "text_normalize" ->
      """WITH d AS (SELECT doc_id, replace(text, 'a', 'a' || chr(769)) AS dec
                FROM documents)
         SELECT doc_id,
                CAST(length(dec) AS BIGINT) AS len_decomposed,
                CAST(length(nfc_normalize(dec)) AS BIGINT) AS len_nfc,
                md5(nfc_normalize(dec)) AS nfc_hash
         FROM d""",
    "text_quality" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
         agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(sum(CASE WHEN t IN ('the','a') THEN 1 ELSE 0 END) AS BIGINT) AS n_stop,
                   round(avg(length(t)), 4) AS avg_token_len
                 FROM toks GROUP BY doc_id)
         SELECT doc_id, n_tokens, n_stop, avg_token_len,
                round(n_stop * 1.0 / n_tokens, 4) AS stop_ratio,
                round(least(1.0, n_tokens / 100.0) * (1.0 - n_stop * 1.0 / n_tokens), 4) AS quality_score
         FROM agg""",
    "text_langid" ->
      """WITH f AS (SELECT doc_id, lang,
             (length(text) - length(regexp_replace(text, '[aeiou]', '', 'g'))) * 1.0
               / length(text) AS vr FROM documents)
         SELECT doc_id, lang, round(vr, 4) AS vowel_ratio,
                CASE WHEN vr < 0.20 THEN 'zh' WHEN vr < 0.26 THEN 'de'
                     WHEN vr < 0.31 THEN 'en' ELSE 'es' END AS lang_pred
         FROM f""",
    "text_fingerprint" ->
      """WITH pos AS (SELECT doc_id, text,
             unnest(generate_series(1, greatest(length(text) - 7, 1))) AS i
           FROM documents)
         SELECT doc_id, md5(any_value(text)) AS doc_md5,
                min(md5(substr(text, CAST(i AS INT), 8))) AS min_shingle_md5
         FROM pos GROUP BY doc_id""",
    "dedup_ngram_jaccard" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         idx AS (SELECT doc_id, toks,
                   unnest(generate_series(1, greatest(len(toks) - 4, 1))) AS i FROM tok),
         sh AS (SELECT DISTINCT doc_id,
                  array_to_string(toks[CAST(i AS INT):CAST(i AS INT)+4], ' ') AS g FROM idx),
         card AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                   FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
         SELECT doc_a, doc_b,
                round(inter * 1.0 / (ca.n + cb.n - inter), 4) AS jaccard
         FROM pairs JOIN card ca ON doc_a = ca.doc_id JOIN card cb ON doc_b = cb.doc_id
         WHERE inter * 1.0 / (ca.n + cb.n - inter) >= 0.5""",
    // EXHAUSTIVE token-set Jaccard — deliberately unfiltered: equality
    // with the Spark side is the prefix-filter losslessness proof
    "dedup_setsim_prefix" ->
      """WITH tok AS (SELECT DISTINCT doc_id, t FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS t
                FROM documents WHERE lang = 'de') WHERE t <> ''),
         card AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     count(*) AS inter
                   FROM tok a JOIN tok b ON a.t = b.t AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
         SELECT doc_a, doc_b,
                round(inter * 1.0 / (ca.n + cb.n - inter), 4) AS jaccard
         FROM pairs JOIN card ca ON doc_a = ca.doc_id
                    JOIN card cb ON doc_b = cb.doc_id
         WHERE inter * 1.0 / (ca.n + cb.n - inter) >= 0.8""",
    "text_oov_rate" ->
      """WITH toks AS (SELECT doc_id, t AS token
               FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                     FROM documents)
               WHERE t <> ''),
         vocab AS (SELECT token FROM (
                 SELECT token, count(*) AS n FROM toks GROUP BY token
                 ORDER BY n DESC, token ASC LIMIT 20)),
         j AS (SELECT toks.doc_id,
                 CASE WHEN vocab.token IS NULL THEN 1 ELSE 0 END AS oov
               FROM toks LEFT JOIN vocab ON toks.token = vocab.token)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                CAST(sum(oov) AS BIGINT) AS n_oov,
                CAST((sum(oov) * 1000000) // count(*) AS DOUBLE) / 1e6
                  AS oov_rate
         FROM j GROUP BY doc_id""",
    "vocab_coverage" ->
      """WITH f AS (SELECT t AS token, CAST(count(*) AS BIGINT) AS n
           FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
           WHERE t <> '' GROUP BY 1),
         tt AS (SELECT sum(n) AS tot FROM f),
         r AS (SELECT token, n,
             row_number() OVER (ORDER BY n DESC, token) AS rank,
             sum(n) OVER (ORDER BY n DESC, token
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM f)
         SELECT token, CAST(rank AS BIGINT) AS rank, n,
           CAST((cum * 1000000) // tot AS BIGINT) AS coverage_ppm
         FROM r CROSS JOIN tt WHERE rank <= 100""",
    "clustering_agreement" ->
      """WITH c AS (SELECT md5(text) AS a, n_chars // 100 AS b FROM documents),
         cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n
           FROM c GROUP BY 1, 2),
         tpc AS (SELECT CAST(sum((n * (n - 1)) // 2) AS BIGINT) AS tp,
             CAST(sum(n) AS BIGINT) AS n FROM cells),
         pac AS (SELECT CAST(sum((na * (na - 1)) // 2) AS BIGINT) AS pa
           FROM (SELECT sum(n) AS na FROM cells GROUP BY a)),
         pbc AS (SELECT CAST(sum((nb * (nb - 1)) // 2) AS BIGINT) AS pb
           FROM (SELECT sum(n) AS nb FROM cells GROUP BY b)),
         m AS (SELECT n, tp, pa, pb, (n * (n - 1)) // 2 AS ap
           FROM tpc, pac, pbc)
         SELECT n, tp, CAST(pa - tp AS BIGINT) AS fp,
           CAST(pb - tp AS BIGINT) AS fn,
           CAST(ap - pa - pb + tp AS BIGINT) AS tn,
           CAST(((ap - pa - pb + 2 * tp) * 1000000) // ap AS BIGINT)
             AS rand_ppm,
           CAST(CASE WHEN pa > 0 THEN (tp * 1000000) // pa END AS BIGINT)
             AS precision_ppm,
           CAST(CASE WHEN pb > 0 THEN (tp * 1000000) // pb END AS BIGINT)
             AS recall_ppm
         FROM m""",
    "text_keywords_rake" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents),
         p AS (SELECT doc_id, u.i AS pos, toks[u.i] AS w
           FROM t, unnest(generate_series(1, len(toks))) AS u(i)),
         f AS (SELECT doc_id, pos, w,
             CASE WHEN w IN ('a', 'the') OR w = '' THEN 1 ELSE 0 END AS stop
           FROM p),
         r AS (SELECT *, sum(stop) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
           FROM f),
         ph AS (SELECT doc_id, run,
             string_agg(w, ' ' ORDER BY pos) AS phrase,
             CAST(count(*) AS BIGINT) AS len
           FROM r WHERE stop = 0 GROUP BY 1, 2),
         ws AS (SELECT u.w, CAST(sum(ph.len) AS BIGINT) AS deg,
             CAST(count(*) AS BIGINT) AS freq
           FROM ph, unnest(string_split(ph.phrase, ' ')) AS u(w)
           GROUP BY 1),
         sc AS (SELECT w, (1000000 * deg) // freq AS score FROM ws),
         occ AS (SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences
           FROM ph GROUP BY 1)
         SELECT o.phrase, o.n_occurrences,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(sc.score) AS BIGINT) AS score_ppm
         FROM occ o, unnest(string_split(o.phrase, ' ')) AS u(w)
         JOIN sc ON sc.w = u.w
         GROUP BY 1, 2
         ORDER BY score_ppm DESC, phrase LIMIT 20""",
    "text_collocations_llr" ->
      """WITH x AS (SELECT string_split(text, ' ') AS toks FROM documents
           WHERE len(string_split(text, ' ')) >= 2),
         bg AS (SELECT toks[u.i] AS w1, toks[u.i + 1] AS w2
           FROM x, unnest(generate_series(1, len(toks) - 1)) AS u(i)
           WHERE toks[u.i] <> '' AND toks[u.i + 1] <> ''),
         k AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS k11
           FROM bg GROUP BY 1, 2),
         a AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM bg GROUP BY 1),
         b AS (SELECT w2, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY 1),
         nt AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM bg),
         j AS (SELECT k.w1, k.w2, k11, c1, c2, nn,
             c1 - k11 AS k12, c2 - k11 AS k21,
             nn - c1 - c2 + k11 AS k22
           FROM k JOIN a USING (w1) JOIN b USING (w2) CROSS JOIN nt
           WHERE k11 >= 5),
         t AS (SELECT w1, w2, k11, c1, c2,
             CAST(CASE WHEN k11 = 0 THEN 0.0 ELSE
               CAST(k11 AS DOUBLE) * ln(CAST(k11 AS DOUBLE) * CAST(nn AS DOUBLE)
                 / (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE)))
               END AS DECIMAL(20,8))
             + CAST(CASE WHEN k12 = 0 THEN 0.0 ELSE
               CAST(k12 AS DOUBLE) * ln(CAST(k12 AS DOUBLE) * CAST(nn AS DOUBLE)
                 / (CAST(c1 AS DOUBLE) * CAST(nn - c2 AS DOUBLE)))
               END AS DECIMAL(20,8))
             + CAST(CASE WHEN k21 = 0 THEN 0.0 ELSE
               CAST(k21 AS DOUBLE) * ln(CAST(k21 AS DOUBLE) * CAST(nn AS DOUBLE)
                 / (CAST(nn - c1 AS DOUBLE) * CAST(c2 AS DOUBLE)))
               END AS DECIMAL(20,8))
             + CAST(CASE WHEN k22 = 0 THEN 0.0 ELSE
               CAST(k22 AS DOUBLE) * ln(CAST(k22 AS DOUBLE) * CAST(nn AS DOUBLE)
                 / (CAST(nn - c1 AS DOUBLE) * CAST(nn - c2 AS DOUBLE)))
               END AS DECIMAL(20,8)) AS llr8
           FROM j)
         SELECT w1, w2, k11, c1, c2,
           round(CAST(llr8 * 2 AS DOUBLE), 4) AS llr
         FROM t ORDER BY llr DESC, w1, w2 LIMIT 20""",
    "text_pmi_pairs" ->
      """WITH tok AS (SELECT DISTINCT doc_id, t AS token
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                 FROM documents) WHERE t <> ''),
         vocab AS (SELECT token FROM (
             SELECT token,
               row_number() OVER (ORDER BY count(*) DESC, token ASC) AS rk
             FROM tok GROUP BY token) WHERE rk <= 200),
         ft AS (SELECT doc_id, token FROM tok JOIN vocab USING (token)),
         counts AS (SELECT token, CAST(count(*) AS BIGINT) AS n
           FROM ft GROUP BY 1),
         pairs AS (SELECT a.token AS token_a, b.token AS token_b,
             CAST(count(*) AS BIGINT) AS n_ab
           FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.token < b.token
           GROUP BY 1, 2 HAVING count(*) >= 5),
         nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
         SELECT token_a, token_b, n_ab, ca.n AS n_a, cb.n AS n_b,
                round(ln(CAST(n_ab * n_docs AS DOUBLE)
                       / CAST(ca.n * cb.n AS DOUBLE)), 4) AS pmi
         FROM pairs JOIN counts ca ON token_a = ca.token
              JOIN counts cb ON token_b = cb.token
              CROSS JOIN nd
         ORDER BY pmi DESC, token_a ASC, token_b ASC LIMIT 20""",
    "source_distinctive_terms" ->
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS t
           FROM documents),
         cells AS (SELECT source, t, CAST(count(*) AS BIGINT) AS y
           FROM tok WHERE t <> '' GROUP BY 1, 2),
         tt AS (SELECT t, sum(y) AS yw FROM cells GROUP BY 1),
         st AS (SELECT source, sum(y) AS ns FROM cells GROUP BY 1),
         g AS (SELECT sum(y) AS nn, count(DISTINCT t) AS vv FROM cells),
         j AS (SELECT c.source, c.t, c.y, tt.yw - c.y AS yrest, st.ns,
                 g.nn - st.ns AS nrest, g.vv
               FROM cells c JOIN tt ON c.t = tt.t
               JOIN st ON c.source = st.source CROSS JOIN g),
         zt AS (SELECT source, t, y,
             round((ln((CAST(y AS DOUBLE) + 0.01)
                 / (CAST(ns AS DOUBLE) + 0.01 * CAST(vv AS DOUBLE)
                    - CAST(y AS DOUBLE) - 0.01))
               - ln((CAST(yrest AS DOUBLE) + 0.01)
                 / (CAST(nrest AS DOUBLE) + 0.01 * CAST(vv AS DOUBLE)
                    - CAST(yrest AS DOUBLE) - 0.01)))
               / sqrt(1.0 / (CAST(y AS DOUBLE) + 0.01)
                    + 1.0 / (CAST(yrest AS DOUBLE) + 0.01)), 4) AS z
           FROM j),
         r AS (SELECT *, row_number() OVER (PARTITION BY source
                 ORDER BY z DESC, t ASC) AS rnk FROM zt)
         SELECT source, t AS token, y, z, CAST(rnk AS BIGINT) AS rank
         FROM r WHERE rnk <= 10""",
    "text_wordfreq" ->
      """SELECT t AS token, CAST(count(*) AS BIGINT) AS n
         FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
         WHERE t <> ''
         GROUP BY t ORDER BY n DESC, token ASC LIMIT 100""",
    "dedup_incremental" ->
      """WITH seen AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 10 = 0),
         batch AS (SELECT md5(text) AS h, min(doc_id) AS doc_id,
                     CAST(count(*) AS BIGINT) AS batch_dups
                   FROM documents WHERE doc_id % 10 <> 0 GROUP BY md5(text))
         SELECT doc_id, batch_dups FROM batch
         WHERE NOT EXISTS (SELECT 1 FROM seen WHERE seen.h = batch.h)""",
    "repeated_ngrams" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         idx AS (SELECT doc_id, toks,
                   unnest(generate_series(1, greatest(len(toks) - 7, 1))) AS i FROM tok),
         sh AS (SELECT DISTINCT doc_id,
                  array_to_string(toks[CAST(i AS INT):CAST(i AS INT)+7], ' ') AS g FROM idx),
         agg AS (SELECT g, CAST(count(*) AS BIGINT) AS df,
                   min(doc_id) AS example_doc
                 FROM sh GROUP BY g)
         SELECT g, df, example_doc FROM agg
         WHERE df >= 2 ORDER BY df DESC, g ASC LIMIT 50""",
    "dedup_corpus" ->
      """WITH RECURSIVE
         tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         idx AS (SELECT doc_id, toks,
                   unnest(generate_series(1, greatest(len(toks) - 4, 1))) AS i FROM tok),
         sh AS (SELECT DISTINCT doc_id,
                  array_to_string(toks[CAST(i AS INT):CAST(i AS INT)+4], ' ') AS g FROM idx),
         card AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         p0 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
         pairs AS (SELECT doc_a, doc_b FROM p0
                   JOIN card ca ON doc_a = ca.doc_id JOIN card cb ON doc_b = cb.doc_id
                   WHERE inter * 1.0 / (ca.n + cb.n - inter) >= 0.5),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                   UNION SELECT doc_b, doc_a FROM pairs),
         reach(doc, r) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT reach.doc, e.dst FROM reach JOIN edges e ON reach.r = e.src)
         SELECT doc AS doc_id FROM reach GROUP BY doc
         HAVING doc = min(r)""",
    "chunk_documents" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         c AS (SELECT doc_id, toks,
                 unnest(generate_series(0,
                   CAST(floor((len(toks) - 1) / 48.0) AS INT))) AS chunk_id
               FROM tok),
         s AS (SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
                 array_to_string(toks[CAST(chunk_id * 48 + 1 AS INT)
                   :CAST(chunk_id * 48 + 64 AS INT)], ' ') AS chunk_text
               FROM c)
         SELECT doc_id, chunk_id, chunk_text,
                CAST(len(string_split(chunk_text, ' ')) AS BIGINT) AS n_chunk_tokens
         FROM s""",
    "pack_materialize" ->
      """WITH t AS (SELECT doc_id, text,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                  doc_id % 8 AS shard
                FROM documents),
         c AS (SELECT doc_id, text, n_tokens, shard,
                 sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS cum_before
               FROM t)
         SELECT CAST(shard AS BIGINT) AS shard,
                CAST(floor(cum_before / 512.0) AS BIGINT) AS pack_id,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
                string_agg(text, ' <eos> ' ORDER BY doc_id) AS packed_text
         FROM c GROUP BY 1, 2""",
    "pack_sequences" ->
      """WITH t AS (SELECT doc_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                  doc_id % 8 AS shard
                FROM documents),
         c AS (SELECT doc_id, n_tokens, shard,
                 sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS cum_before
               FROM t)
         SELECT doc_id, n_tokens, CAST(shard AS BIGINT) AS shard,
                CAST(floor(cum_before / 512.0) AS BIGINT) AS pack_id
         FROM c""",
    "batch_by_length" ->
      """SELECT doc_id, n_chars, n_chars // 200 AS bucket,
                (row_number() OVER (PARTITION BY n_chars // 200
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1) // 16
                  AS batch_id
         FROM documents""",
    "corpus_report" ->
      """WITH reps AS (SELECT md5(text) AS h, min(doc_id) AS rep_id
                FROM documents GROUP BY md5(text)),
         d AS (SELECT doc_id, source,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                 CASE WHEN doc_id <> rep_id THEN 1 ELSE 0 END AS is_dup
               FROM documents JOIN reps ON md5(text) = h)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                round(avg(n_tokens), 4) AS avg_tokens,
                CAST(sum(is_dup) AS BIGINT) AS n_dups,
                round(avg(is_dup * 1.0), 4) AS dup_rate
         FROM d GROUP BY source""",
    "text_tfidf" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
         tf AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf
                FROM toks WHERE t <> '' GROUP BY 1, 2),
         dfreq AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY t),
         n AS (SELECT count(*) AS n FROM documents),
         w AS (SELECT tf.doc_id, tf.t, tf.tf, dfreq.df,
                 tf.tf * ln(n.n * 1.0 / dfreq.df) AS tfidf
               FROM tf JOIN dfreq USING (t) CROSS JOIN n),
         r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                 ORDER BY tfidf DESC, t ASC) AS rnk FROM w)
         SELECT doc_id, t AS term, tf, df, round(tfidf, 4) AS tfidf,
                CAST(rnk AS BIGINT) AS rnk
         FROM r WHERE rnk <= 3""",
    "text_repetition" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         tot AS (SELECT doc_id,
                   CAST(greatest(len(toks) - 2, 1) AS BIGINT) AS n_shingles FROM tok),
         idx AS (SELECT doc_id, toks,
                   unnest(generate_series(1, greatest(len(toks) - 2, 1))) AS i FROM tok),
         dis AS (SELECT doc_id, CAST(count(DISTINCT
                   array_to_string(toks[CAST(i AS INT):CAST(i AS INT)+2], ' ')) AS BIGINT) AS n_distinct
                 FROM idx GROUP BY doc_id)
         SELECT doc_id, n_shingles, n_distinct,
                round(1.0 - n_distinct * 1.0 / n_shingles, 4) AS repetition
         FROM tot JOIN dis USING (doc_id)""",
    "decontaminate" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         idx AS (SELECT doc_id, toks,
                   unnest(generate_series(1, greatest(len(toks) - 4, 1))) AS i FROM tok),
         sh AS (SELECT DISTINCT doc_id,
                  array_to_string(toks[CAST(i AS INT):CAST(i AS INT)+4], ' ') AS g FROM idx),
         corp AS (SELECT * FROM sh WHERE doc_id % 10 <> 0),
         bench AS (SELECT * FROM sh WHERE doc_id % 10 = 0),
         bcard AS (SELECT doc_id, count(*) AS n_bench FROM bench GROUP BY doc_id),
         inter AS (SELECT c.doc_id AS corpus_id, b.doc_id AS bench_id, count(*) AS n
                   FROM corp c JOIN bench b ON c.g = b.g GROUP BY 1, 2)
         SELECT corpus_id, bench_id, round(n * 1.0 / n_bench, 4) AS overlap
         FROM inter JOIN bcard ON bench_id = bcard.doc_id
         WHERE n * 1.0 / n_bench >= 0.6""",
    "dedup_incremental_near" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         idx AS (SELECT doc_id, toks,
                   unnest(generate_series(1, greatest(len(toks) - 4, 1))) AS i FROM tok),
         sh AS (SELECT DISTINCT doc_id,
                  array_to_string(toks[CAST(i AS INT):CAST(i AS INT)+4], ' ') AS g FROM idx),
         corp AS (SELECT * FROM sh WHERE doc_id % 7 <> 0),
         batch AS (SELECT * FROM sh WHERE doc_id % 7 = 0),
         bcard AS (SELECT doc_id, count(*) AS n_b FROM batch GROUP BY doc_id),
         ccard AS (SELECT doc_id, count(*) AS n_c FROM corp GROUP BY doc_id),
         inter AS (SELECT c.doc_id AS corpus_id, b.doc_id AS batch_id, count(*) AS n
                   FROM corp c JOIN batch b ON c.g = b.g GROUP BY 1, 2)
         SELECT corpus_id, batch_id,
                round(n * 1.0 / (n_b + n_c - n), 4) AS jaccard
         FROM inter JOIN bcard ON batch_id = bcard.doc_id
                    JOIN ccard ON corpus_id = ccard.doc_id
         WHERE n * 1.0 / (n_b + n_c - n) >= 0.5""",
    "text_bm25" ->
      """WITH toks AS (SELECT doc_id, t FROM
           (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
           WHERE t <> ''),
         dl AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY doc_id),
         stats AS (SELECT avg(len) AS avgdl, count(*) AS n_docs FROM dl),
         tf AS (SELECT doc_id, t, count(*) AS tf FROM toks
                WHERE t IN ('hash', 'join', 'scan') GROUP BY 1, 2),
         dft AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
         scored AS (SELECT tf.doc_id,
                 CAST(ln(CAST(1.0 AS DOUBLE) + (n_docs - df + CAST(0.5 AS DOUBLE))
                         / (df + CAST(0.5 AS DOUBLE)))
                   * ((tf * CAST(2.2 AS DOUBLE))
                      / (tf + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                         + CAST(0.75 AS DOUBLE) * len / avgdl)))
                   AS DECIMAL(20,8)) AS term
               FROM tf JOIN dft USING (t) JOIN dl USING (doc_id) CROSS JOIN stats)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
                round(CAST(sum(term) AS DOUBLE), 4) AS bm25
         FROM scored GROUP BY doc_id""",
    "bm25_batch_topk" -> Bm25BatchOracle,
    // maintained ≡ one-shot: the oracle scores from the raw text
    "bm25_maintained" -> Bm25BatchOracle,
    "bm25_prf_topk" -> Bm25PrfOracle,
    // one rank deeper, self-hit dropped, negatives renumbered
    "hard_negatives" ->
      s"""WITH hits AS (${bm25BatchOracle(6)}),
         nn AS (SELECT query_id, doc_id, bm25,
                  CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY rank ASC) AS BIGINT) AS neg_rank
                FROM hits WHERE doc_id <> query_id)
         SELECT query_id, doc_id, neg_rank, bm25
         FROM nn WHERE neg_rank <= 5""",
    "retrieval_eval" ->
      s"""WITH hits AS ($Bm25BatchOracle),
         nq AS (SELECT CAST(count(*) AS BIGINT) AS n_queries
                FROM documents WHERE doc_id % 50 = 0),
         sf AS (SELECT CAST(count(*) AS BIGINT) AS n_self_found,
                  CAST(sum(1000000 // rank) AS BIGINT) AS rr_sum
                FROM hits WHERE doc_id = query_id)
         SELECT n_queries, n_self_found,
           CAST((1000000 * n_self_found) // n_queries AS BIGINT)
             AS recall_at5_ppm,
           CAST(rr_sum // n_queries AS BIGINT) AS mrr_at5_ppm
         FROM sf CROSS JOIN nq""",
    "hybrid_batch_rrf" ->
      s"""WITH lex AS ($Bm25BatchOracle),
         den AS (${VectorQueries.oracleSql("knn_join_bruteforce")}),
         f AS (SELECT coalesce(l.query_id, d.query_id) AS query_id,
                 coalesce(l.doc_id, d.neighbor_id) AS doc_id,
                 coalesce(CAST(1.0 AS DOUBLE) / (60 + l.rank), 0)
                   + coalesce(CAST(1.0 AS DOUBLE) / (60 + d.rank), 0) AS rrf
               FROM lex l FULL OUTER JOIN den d
                 ON l.query_id = d.query_id AND l.doc_id = d.neighbor_id),
         r AS (SELECT query_id, doc_id, rrf,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY rrf DESC, doc_id ASC) AS BIGINT) AS rank
               FROM f)
         SELECT query_id, doc_id, rank, round(rrf, 6) AS rrf
         FROM r WHERE rank <= 5""",
    // same fuse, dense arm = the engine's own hash-gated knn_join_ivf
    // dump (sibling-dump pattern: subset Verify runs must include it)
    "hybrid_batch_rrf_ivf" ->
      s"""WITH lex AS ($Bm25BatchOracle),
         den AS (SELECT query_id, neighbor_id, rank
                 FROM read_parquet('__VERIFY_OUT__/knn_join_ivf/*.parquet')),
         f AS (SELECT coalesce(l.query_id, d.query_id) AS query_id,
                 coalesce(l.doc_id, d.neighbor_id) AS doc_id,
                 coalesce(CAST(1.0 AS DOUBLE) / (60 + l.rank), 0)
                   + coalesce(CAST(1.0 AS DOUBLE) / (60 + d.rank), 0) AS rrf
               FROM lex l FULL OUTER JOIN den d
                 ON l.query_id = d.query_id AND l.doc_id = d.neighbor_id),
         r AS (SELECT query_id, doc_id, rrf,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY rrf DESC, doc_id ASC) AS BIGINT) AS rank
               FROM f)
         SELECT query_id, doc_id, rank, round(rrf, 6) AS rrf
         FROM r WHERE rank <= 5""",
    "text_entropy" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         c AS (SELECT doc_id, w, count(*) AS c FROM toks GROUP BY 1, 2),
         t AS (SELECT doc_id, c, CAST(c * ln(c) AS DECIMAL(20,8)) AS clnc FROM c)
         SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                round(ln(sum(c)) - CAST(sum(clnc) AS DOUBLE) / sum(c), 4) AS entropy
         FROM t GROUP BY doc_id""",
    "source_divergence" ->
      """WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
         f AS (SELECT source, w, count(*) AS c_sw FROM toks WHERE w <> '' GROUP BY 1, 2),
         ns AS (SELECT source, sum(c_sw) AS n_s FROM f GROUP BY source),
         cw AS (SELECT w, sum(c_sw) AS c_w FROM f GROUP BY w),
         nt AS (SELECT sum(n_s) AS n_tot FROM ns),
         terms AS (SELECT f.source,
             CAST((c_sw * 1.0 / n_s)
               * ln(((c_sw * n_tot)) * 1.0 / (n_s * c_w)) AS DECIMAL(20,8)) AS term
           FROM f JOIN ns USING (source) JOIN cw USING (w) CROSS JOIN nt)
         SELECT source, CAST(count(*) AS BIGINT) AS n_terms,
                round(CAST(sum(term) AS DOUBLE), 4) AS kl_divergence
         FROM terms GROUP BY source""",
    "sample_per_group" ->
      """WITH r AS (SELECT doc_id, source,
                row_number() OVER (PARTITION BY source
                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
              FROM documents)
         SELECT doc_id, source, CAST(rn AS BIGINT) AS sample_rank
         FROM r WHERE rn <= 10""",
    "pipeline_pretrain" ->
      """WITH c AS (SELECT doc_id, source,
             regexp_replace(regexp_replace(regexp_replace(
               trim(regexp_replace(regexp_replace(lower(text), '<[^>]*>', ' ', 'g'),
                    '\s+', ' ', 'g')),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '<IP>', 'g'),
               '\+?\d[\d -]{7,}\d', '<PHONE>', 'g') AS body
           FROM documents),
         t AS (SELECT doc_id, source, body,
                 CAST(len(string_split(body, ' ')) AS BIGINT) AS n_tokens
               FROM c),
         g AS (SELECT *, md5(body) AS fingerprint FROM t WHERE n_tokens >= 20),
         w AS (SELECT *, min(doc_id) OVER (PARTITION BY fingerprint) AS rep_id
               FROM g)
         SELECT doc_id, source, n_tokens,
                CAST(least(floor(n_tokens / 64.0), 3) AS BIGINT) AS stage,
                md5(CAST(doc_id AS VARCHAR)) AS shuffle_key, fingerprint
         FROM w WHERE doc_id = rep_id""",
    "text_pii_redact" ->
      """WITH aug AS (SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com from 10.0.'
                  || CAST(doc_id % 256 AS VARCHAR)
                  || '.17 call +1 555 0123 99' AS a
           FROM documents)
         SELECT doc_id,
                regexp_replace(regexp_replace(regexp_replace(a,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                  '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '<IP>', 'g'),
                  '\+?\d[\d -]{7,}\d', '<PHONE>', 'g') AS redacted,
                CAST(len(regexp_extract_all(a,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
                CAST(len(regexp_extract_all(a,
                  '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}')) AS BIGINT) AS n_ips,
                CAST(len(regexp_extract_all(a,
                  '\+?\d[\d -]{7,}\d')) AS BIGINT) AS n_phones
         FROM aug""",
    "text_lm_score" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         bi AS (SELECT doc_id, toks[CAST(i AS INT)] AS w1,
                       toks[CAST(i AS INT) + 1] AS w2
                FROM (SELECT doc_id, toks,
                        unnest(generate_series(1, len(toks) - 1)) AS i
                      FROM tok WHERE len(toks) >= 2)),
         c2 AS (SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY 1, 2),
         c1 AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY 1),
         nll AS (SELECT bi.doc_id,
                   CAST(-ln(c2.c2 * 1.0 / c1.c1) AS DECIMAL(20,8)) AS nll
                 FROM bi JOIN c2 ON bi.w1 = c2.w1 AND bi.w2 = c2.w2
                         JOIN c1 ON bi.w1 = c1.w1)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                round(CAST(sum(nll) AS DOUBLE) / count(*), 4) AS lm_score
         FROM nll GROUP BY doc_id""",
    "text_lm_kn" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         bi AS (SELECT doc_id, toks[CAST(i AS INT)] AS w1,
                       toks[CAST(i AS INT) + 1] AS w2
                FROM (SELECT doc_id, toks,
                        unnest(generate_series(1, len(toks) - 1)) AS i
                      FROM tok WHERE len(toks) >= 2)),
         c2 AS (SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY 1, 2),
         lft AS (SELECT w1, sum(c2) AS c1, count(*) AS n1f FROM c2 GROUP BY 1),
         rgt AS (SELECT w2, count(*) AS n1b FROM c2 GROUP BY 1),
         ty AS (SELECT count(*) AS nt FROM c2),
         nll AS (SELECT bi.doc_id,
                   CAST(-ln(greatest(c2.c2 - 0.5, 0.0) / lft.c1
                     + (0.5 * lft.n1f / lft.c1) * (rgt.n1b * 1.0 / ty.nt))
                     AS DECIMAL(20,8)) AS nll
                 FROM bi JOIN c2 ON bi.w1 = c2.w1 AND bi.w2 = c2.w2
                         JOIN lft ON bi.w1 = lft.w1
                         JOIN rgt ON bi.w2 = rgt.w2
                         CROSS JOIN ty)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                round(CAST(sum(nll) AS DOUBLE) / count(*), 4) AS kn_score
         FROM nll GROUP BY doc_id""",
    // same scoring CTEs as text_lm_score, then the closed-form ANSI
    // ntile over the 0-based global rank (identical formula to
    // CorpusLm.pplBuckets; ordering on the rounded score + doc_id)
    "ppl_buckets" -> PplBucketsOracle,
    // train-half statistics, test-half scoring; the three unseen
    // branches ride LEFT joins + CASE exactly as the engine's
    // when/otherwise — absence is the signal on both sides
    "text_lm_heldout" ->
      """WITH tokTr AS (SELECT doc_id, string_split(text, ' ') AS toks
              FROM documents WHERE doc_id % 2 = 0),
         biTr AS (SELECT doc_id, toks[CAST(i AS INT)] AS w1,
                       toks[CAST(i AS INT) + 1] AS w2
                FROM (SELECT doc_id, toks,
                        unnest(generate_series(1, len(toks) - 1)) AS i
                      FROM tokTr WHERE len(toks) >= 2)),
         c2 AS (SELECT w1, w2, count(*) AS c2 FROM biTr GROUP BY 1, 2),
         lft AS (SELECT w1, sum(c2) AS c1, count(*) AS n1f FROM c2 GROUP BY 1),
         rgt AS (SELECT w2, count(*) AS n1b FROM c2 GROUP BY 1),
         sc AS (SELECT count(*) AS nt, count(DISTINCT w2) AS vr FROM c2),
         tokTe AS (SELECT doc_id, string_split(text, ' ') AS toks
              FROM documents WHERE doc_id % 2 = 1),
         biTe AS (SELECT doc_id, toks[CAST(i AS INT)] AS w1,
                       toks[CAST(i AS INT) + 1] AS w2
                FROM (SELECT doc_id, toks,
                        unnest(generate_series(1, len(toks) - 1)) AS i
                      FROM tokTe WHERE len(toks) >= 2)),
         nll AS (SELECT t.doc_id,
                   CAST(-ln(CASE WHEN lft.c1 IS NOT NULL THEN
                       greatest(coalesce(c2.c2, 0) - 0.5, 0.0) / lft.c1
                       + (0.5 * lft.n1f / lft.c1)
                         * ((coalesce(rgt.n1b, 0) + 0.5)
                            / (sc.nt + 0.5 * sc.vr))
                     ELSE (coalesce(rgt.n1b, 0) + 0.5)
                          / (sc.nt + 0.5 * sc.vr) END)
                     AS DECIMAL(20,8)) AS nll
                 FROM biTe t
                 LEFT JOIN c2 ON t.w1 = c2.w1 AND t.w2 = c2.w2
                 LEFT JOIN lft ON t.w1 = lft.w1
                 LEFT JOIN rgt ON t.w2 = rgt.w2
                 CROSS JOIN sc)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                round(CAST(sum(nll) AS DOUBLE) / count(*), 4)
                  AS heldout_score
         FROM nll GROUP BY doc_id""",
    // the iterated loop: per round, integer-weighted count refit +
    // rescore + MW step, chained CTEs exactly like the bt_ratings
    // unroll (see doremiKOracleSql)
    "mixture_doremi_k" -> doremiKOracleSql(rounds = 3),
    // featurize → seed → 2 Lloyd rounds → assign, all unrolled
    "text_clusters_kmeans" -> KmeansSql.ivfOwnAssignOracleSql(
      k = 4, rounds = 2, elemsSql =
        """tokc AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
             FROM documents),
         ntc AS (SELECT doc_id, count(*) AS n FROM tokc GROUP BY 1),
         bcc AS (SELECT doc_id,
             CAST(('0x' || substr(md5(w), 1, 4)) AS INTEGER) % 16 AS b,
             count(*) AS c
           FROM tokc GROUP BY 1, 2),
         gridc AS (SELECT doc_id, unnest(generate_series(0, 15)) AS b
           FROM ntc),
         elems AS (SELECT g.doc_id AS vec_id, CAST(g.b + 1 AS INT) AS i,
             CAST(CAST(coalesce(bc.c, 0) * 1.0 / nt.n AS DECIMAL(20,10))
               AS DOUBLE) AS v
           FROM gridc g
           LEFT JOIN bcc bc ON bc.doc_id = g.doc_id AND bc.b = g.b
           JOIN ntc nt ON nt.doc_id = g.doc_id)""",
      idOut = "doc_id"),
    // both NLL variants off one count-table chain, per-source decimal
    // sums, then the multiplicative-weights update replayed verbatim
    "mixture_doremi" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         bi AS (SELECT doc_id, toks[CAST(i AS INT)] AS w1,
                       toks[CAST(i AS INT) + 1] AS w2
                FROM (SELECT doc_id, toks,
                        unnest(generate_series(1, len(toks) - 1)) AS i
                      FROM tok WHERE len(toks) >= 2)),
         c2 AS (SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY 1, 2),
         lft AS (SELECT w1, sum(c2) AS c1, count(*) AS n1f FROM c2 GROUP BY 1),
         rgt AS (SELECT w2, count(*) AS n1b FROM c2 GROUP BY 1),
         ty AS (SELECT count(*) AS nt FROM c2),
         nll AS (SELECT bi.doc_id,
                   CAST(-ln(c2.c2 * 1.0 / lft.c1) AS DECIMAL(20,8)) AS mle,
                   CAST(-ln(greatest(c2.c2 - 0.5, 0.0) / lft.c1
                     + (0.5 * lft.n1f / lft.c1) * (rgt.n1b * 1.0 / ty.nt))
                     AS DECIMAL(20,8)) AS kn
                 FROM bi JOIN c2 ON bi.w1 = c2.w1 AND bi.w2 = c2.w2
                         JOIN lft ON bi.w1 = lft.w1
                         JOIN rgt ON bi.w2 = rgt.w2
                         CROSS JOIN ty),
         doc AS (SELECT doc_id,
                   round(CAST(sum(mle) AS DOUBLE) / count(*), 4) AS lm_score,
                   round(CAST(sum(kn) AS DOUBLE) / count(*), 4) AS kn_score
                 FROM nll GROUP BY doc_id),
         src AS (SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
                   sum(CAST(kn_score AS DECIMAL(18,6))) AS sl,
                   sum(CAST(lm_score AS DECIMAL(18,6))) AS sr
                 FROM doc JOIN documents d USING (doc_id) GROUP BY 1),
         ex AS (SELECT source, n_docs,
                  CAST(sl AS DOUBLE) / n_docs AS loss0,
                  CAST(sr AS DOUBLE) / n_docs AS ref0
                FROM src),
         ew AS (SELECT source, n_docs, loss0, ref0,
                  greatest(loss0 - ref0, 0.0) AS excess0,
                  CAST(exp(1.0 * greatest(loss0 - ref0, 0.0))
                    AS DECIMAL(18,8)) AS w
                FROM ex),
         tw AS (SELECT sum(w) AS twv, CAST(count(*) AS BIGINT) AS k FROM ew)
         SELECT source, n_docs,
                round(loss0, 4) AS loss,
                round(ref0, 4) AS ref_loss,
                round(excess0, 4) AS excess,
                CAST(round(0.9 * (CAST(w AS DOUBLE) / CAST(twv AS DOUBLE))
                    * 1000000.0 + 100000.0 / k, 0) AS BIGINT) AS weight_ppm
         FROM ew CROSS JOIN tw""",
    "repetition_budget" ->
      """WITH t AS (SELECT source,
                CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
              FROM documents GROUP BY source),
         w AS (SELECT source, n_tokens,
                 CASE WHEN CAST(substr(source, 4) AS INT) < 5 THEN 1000
                      WHEN CAST(substr(source, 4) AS INT) < 10 THEN 500
                      ELSE 200 END AS weight_permille
               FROM t),
         tot AS (SELECT sum(weight_permille) AS tp FROM w),
         sh AS (SELECT source, n_tokens, weight_permille,
                  (CAST(10000000 AS BIGINT) * weight_permille) // tp
                    AS share_tokens
                FROM w CROSS JOIN tot)
         SELECT source, n_tokens,
                CAST(weight_permille AS BIGINT) AS weight_permille,
                CAST(share_tokens AS BIGINT) AS share_tokens,
                CAST(share_tokens * 1000000 // n_tokens AS BIGINT)
                  AS epochs_ppm,
                share_tokens * 1000000 // n_tokens > 4000000 AS over_budget,
                CAST(least(share_tokens, 4000000 * n_tokens // 1000000)
                  AS BIGINT) AS capped_tokens
         FROM sh""",
    "quality_gopher" ->
      """WITH w AS (SELECT doc_id, token AS w FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS token
             FROM documents)
           WHERE token <> ''),
         a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
                 sum(length(w)) AS chars,
                 sum(CASE WHEN regexp_matches(w, '[a-zA-Z]')
                     THEN 1 ELSE 0 END) AS alpha
               FROM w GROUP BY doc_id),
         p AS (SELECT doc_id, n_words,
                 CAST((chars * 1000000) // n_words AS BIGINT) AS mwl_ppm,
                 CAST((alpha * 1000000) // n_words AS BIGINT) AS alpha_ppm
               FROM a)
         SELECT doc_id, n_words, mwl_ppm, alpha_ppm,
                n_words >= 50 AND n_words <= 100000 AS pass_len,
                mwl_ppm >= 3000000 AND mwl_ppm <= 10000000 AS pass_mwl,
                alpha_ppm >= 800000 AS pass_alpha,
                (n_words >= 50 AND n_words <= 100000)
                  AND (mwl_ppm >= 3000000 AND mwl_ppm <= 10000000)
                  AND alpha_ppm >= 800000 AS keep
         FROM p""",
    "zipf_fit" ->
      """WITH freq AS (SELECT token, CAST(count(*) AS BIGINT) AS n
             FROM (SELECT unnest(string_split(text, ' ')) AS token
                   FROM documents)
             WHERE token <> '' GROUP BY token),
         r AS (SELECT n, token,
                 row_number() OVER (ORDER BY n DESC, token ASC) - 1 AS rk
               FROM freq),
         t AS (SELECT ln(rk + 1) AS x, ln(n) AS y FROM r WHERE rk < 100),
         m AS (SELECT CAST(count(*) AS DOUBLE) AS k,
                 CAST(sum(CAST(x AS DECIMAL(28,10))) AS DOUBLE) AS sx,
                 CAST(sum(CAST(y AS DECIMAL(28,10))) AS DOUBLE) AS sy,
                 CAST(sum(CAST(x * x AS DECIMAL(28,10))) AS DOUBLE) AS sxx,
                 CAST(sum(CAST(x * y AS DECIMAL(28,10))) AS DOUBLE) AS sxy,
                 CAST(sum(CAST(y * y AS DECIMAL(28,10))) AS DOUBLE) AS syy
               FROM t)
         SELECT CAST(k AS BIGINT) AS n_types,
                round((k * sxy - sx * sy) / (k * sxx - sx * sx), 4) AS slope,
                round((sy - ((k * sxy - sx * sy) / (k * sxx - sx * sx)) * sx)
                  / k, 4) AS intercept,
                round(((k * sxy - sx * sy) * (k * sxy - sx * sy))
                  / ((k * sxx - sx * sx) * (k * syy - sy * sy)), 4) AS r2
         FROM m""",
    // stage = the ppl bucket itself (width 1, max 3 never binds)
    "curriculum_ppl" ->
      s"""WITH b AS (${PplBucketsOracle})
         SELECT doc_id, CAST(ppl_bucket AS BIGINT) AS stage,
                md5(CAST(doc_id AS VARCHAR)) AS shuffle_key
         FROM b""",
    "taxonomy_tag" ->
      s"""WITH dict(category, phrase) AS (VALUES $tagDictValues),
         tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         uni AS (SELECT doc_id, unnest(t) AS gram FROM tok),
         big AS (SELECT doc_id, t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] AS gram
                 FROM (SELECT doc_id, t,
                         unnest(generate_series(1, len(t) - 1)) AS i
                       FROM tok WHERE len(t) >= 2)),
         grams AS (SELECT doc_id, gram FROM uni
                   UNION ALL SELECT doc_id, gram FROM big)
         SELECT g.doc_id, d.category, CAST(count(*) AS BIGINT) AS n_hits
         FROM grams g JOIN dict d ON g.gram = d.phrase
         GROUP BY g.doc_id, d.category""",
    "curriculum_order" ->
      """WITH t AS (SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
              FROM documents)
         SELECT doc_id, n_tokens,
                CAST(least(floor(n_tokens / 64.0), 3) AS BIGINT) AS stage,
                md5(CAST(doc_id AS VARCHAR)) AS shuffle_key
         FROM t""",
    "mixture_sample" ->
      """WITH w AS (SELECT 'src' || CAST(i AS VARCHAR) AS source,
                  CASE WHEN i < 5 THEN 1.0 WHEN i < 10 THEN 0.5 ELSE 0.2 END AS w
                FROM (SELECT unnest(generate_series(0, 19)) AS i)),
         g AS (SELECT d.doc_id, d.source, w.w,
                 CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)) AS INTEGER) AS gate
               FROM documents d JOIN w USING (source))
         SELECT doc_id, source FROM g WHERE gate < w * 65536""",
    // transitive closure via recursive CTE = the same min-reachable-id
    // the iterative label propagation converges to
    "dedup_clusters" ->
      """WITH RECURSIVE
         tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         idx AS (SELECT doc_id, toks,
                   unnest(generate_series(1, greatest(len(toks) - 4, 1))) AS i FROM tok),
         sh AS (SELECT DISTINCT doc_id,
                  array_to_string(toks[CAST(i AS INT):CAST(i AS INT)+4], ' ') AS g FROM idx),
         card AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         p0 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
         pairs AS (SELECT doc_a, doc_b FROM p0
                   JOIN card ca ON doc_a = ca.doc_id JOIN card cb ON doc_b = cb.doc_id
                   WHERE inter * 1.0 / (ca.n + cb.n - inter) >= 0.5),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                   UNION SELECT doc_b, doc_a FROM pairs),
         reach(doc, r) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT reach.doc, e.dst FROM reach JOIN edges e ON reach.r = e.src)
         SELECT doc AS id, CAST(min(r) AS BIGINT) AS cluster
         FROM reach GROUP BY doc""",
    "dedup_substring_coverage" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         n AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM t),
         sh AS (SELECT doc_id, i - 1 AS pos,
                  array_to_string(toks[CAST(i AS INT):CAST(i AS INT)+7], ' ') AS g
                FROM (SELECT doc_id, toks,
                        unnest(generate_series(1, greatest(len(toks) - 7, 1))) AS i
                      FROM t)),
         dup AS (SELECT g FROM (SELECT DISTINCT doc_id, g FROM sh)
                 GROUP BY g HAVING count(*) >= 2),
         cov AS (SELECT DISTINCT s.doc_id, s.pos + o.o AS cpos
                 FROM sh s JOIN dup USING (g)
                 CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS o) o),
         cnt AS (SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_dup
                 FROM cov c JOIN n ON c.doc_id = n.doc_id AND c.cpos < n.n_tokens
                 GROUP BY c.doc_id)
         SELECT n.doc_id, n.n_tokens,
                COALESCE(cnt.n_dup, 0) AS n_dup_tokens,
                round(COALESCE(cnt.n_dup, 0) * 1.0 / n.n_tokens, 4) AS dup_token_ratio
         FROM n LEFT JOIN cnt USING (doc_id)""",
    "hybrid_rrf" ->
      """WITH tok AS (SELECT doc_id, t FROM
                  (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
                WHERE t <> ''),
         dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS len FROM tok GROUP BY doc_id),
         stats AS (SELECT avg(len) AS avgdl, CAST(count(*) AS BIGINT) AS n_docs FROM dl),
         tf AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf FROM tok
                WHERE t IN ('hash', 'join', 'scan') GROUP BY doc_id, t),
         dft AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY t),
         bm0 AS (SELECT tf.doc_id,
                   sum(CAST(ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                     * ((tf.tf * 2.2) / (tf.tf + 1.2 * (1.0 - 0.75
                         + 0.75 * dl.len / s.avgdl)))
                     AS DECIMAL(20,8))) AS bm
                 FROM tf JOIN dft USING (t) JOIN dl ON tf.doc_id = dl.doc_id, stats s
                 GROUP BY tf.doc_id),
         bm50 AS (SELECT doc_id, bm FROM bm0 ORDER BY bm DESC, doc_id ASC LIMIT 50),
         bmr AS (SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY bm DESC, doc_id ASC) AS BIGINT) AS rb
                 FROM bm50),
         q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         ex AS (SELECT e.vec_id,
                  unnest(generate_series(1, len(e.embedding))) AS i,
                  e.embedding, q.qv
                FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0),
         dots AS (SELECT vec_id,
                  sum(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * CAST(qv[CAST(i AS INT)] AS DOUBLE)) AS dp,
                  sum(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * CAST(embedding[CAST(i AS INT)] AS DOUBLE)) AS na,
                  sum(CAST(qv[CAST(i AS INT)] AS DOUBLE) * CAST(qv[CAST(i AS INT)] AS DOUBLE)) AS nb
                FROM ex GROUP BY vec_id),
         cos50 AS (SELECT vec_id, round(dp / (sqrt(na) * sqrt(nb)), 4) AS cosine
                   FROM dots ORDER BY cosine DESC, vec_id ASC LIMIT 50),
         cr AS (SELECT vec_id AS doc_id,
                  CAST(row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS BIGINT) AS rc
                FROM cos50),
         fused AS (SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
                     COALESCE(1.0 / (60 + b.rb), 0) + COALESCE(1.0 / (60 + c.rc), 0) AS rrf
                   FROM bmr b FULL OUTER JOIN cr c ON b.doc_id = c.doc_id)
         SELECT doc_id, round(rrf, 6) + 0.0 AS rrf_score
         FROM fused ORDER BY rrf_score DESC, doc_id ASC LIMIT 20""",
    "mixture_temperature" ->
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS ns
                FROM documents GROUP BY source),
         m AS (SELECT min(ns) AS mn FROM c),
         r AS (SELECT source, sqrt(mn / ns) AS rate FROM c, m),
         g AS (SELECT d.doc_id, d.source, r.rate,
                 CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)) AS BIGINT) AS gate
               FROM documents d JOIN r USING (source))
         SELECT doc_id, source, round(rate, 6) + 0.0 AS rate_r
         FROM g WHERE gate < rate * 65536.0""",
    "weighted_sample_per_group" ->
      """WITH d AS (SELECT doc_id, source,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                FROM documents),
         k AS (SELECT doc_id, source, n_tokens,
                 ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
                      + 0.5) / 65536.0) / n_tokens AS key
               FROM d WHERE n_tokens > 0),
         r AS (SELECT doc_id, source, n_tokens,
                 CAST(row_number() OVER (PARTITION BY source
                        ORDER BY key DESC, doc_id ASC) AS BIGINT) AS sample_rank
               FROM k)
         SELECT doc_id, source, n_tokens, sample_rank FROM r
         WHERE sample_rank <= 5""",
    "weighted_sample" ->
      """WITH d AS (SELECT doc_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                FROM documents),
         k AS (SELECT doc_id, n_tokens,
                 ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
                      + 0.5) / 65536.0) / n_tokens AS key
               FROM d WHERE n_tokens > 0)
         SELECT doc_id, n_tokens FROM k
         ORDER BY key DESC, doc_id ASC LIMIT 100""",
    "dsir_weights" ->
      """WITH tk AS (SELECT doc_id, source, t,
                  CAST(('0x' || substr(md5(t), 1, 4)) AS BIGINT) % 256 AS b
                FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS t
                      FROM documents)
                WHERE t <> ''),
         counts AS (SELECT b,
             CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS ct,
             CAST(sum(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS cr
           FROM tk GROUP BY b),
         tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM counts),
         ratio AS (SELECT b, ln((ct + 1.0) / (nt + 256)) - ln((cr + 1.0) / (nr + 256)) AS logr
                   FROM counts, tot)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                round(CAST(sum(CAST(logr AS DECIMAL(20,8))) AS DOUBLE), 4) AS dsir_logweight
         FROM tk JOIN ratio USING (b) GROUP BY doc_id""",
    // identical fixed point to dedup_clusters — the star rounds and the
    // label loop must agree with the transitive closure exactly
    "shard_snake" ->
      s"""SELECT doc_id, n_tokens, rank, shard FROM ($SnakeOracle)""",
    "shard_snake_balance" ->
      s"""SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(n_tokens) AS BIGINT) AS total_tokens
          FROM ($SnakeOracle) GROUP BY shard""",
    "winnow_index" -> WinnowDigestOracle,
    // the maintained index must equal the one-shot computation bit for
    // bit — same oracle, no allowance
    "winnow_maintained" -> WinnowDigestOracle,
    "winnow_screen" ->
      s"""WITH fps AS ($WinnowFpOracle),
         nw AS (SELECT doc AS new_doc, fp FROM fps WHERE doc % 7 = 0),
         ix AS (SELECT doc AS index_doc, fp FROM fps WHERE doc % 7 <> 0)
         SELECT new_doc, index_doc, CAST(count(*) AS BIGINT) AS n_shared_fp
         FROM nw JOIN ix USING (fp)
         GROUP BY 1, 2""",
    "dedup_winnowing" ->
      s"""WITH fps AS ($WinnowFpOracle),
         dfc AS (SELECT fp, count(*) AS dfp FROM fps GROUP BY fp),
         rare AS (SELECT doc, f.fp FROM fps f JOIN dfc USING (fp)
                  WHERE dfp <= 10000),
         pr AS (SELECT a.doc AS doc_a, b.doc AS doc_b,
                  CAST(count(*) AS BIGINT) AS n_shared_fp
                FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc < b.doc
                GROUP BY 1, 2),
         card AS (SELECT doc, count(*) AS n FROM fps GROUP BY doc)
         SELECT doc_a, doc_b, n_shared_fp,
           round(n_shared_fp * 1.0 / (ca.n + cb.n - n_shared_fp), 4)
             AS fp_jaccard
         FROM pr JOIN card ca ON doc_a = ca.doc
                 JOIN card cb ON doc_b = cb.doc
         WHERE n_shared_fp >= 2""",
    "training_order" ->
      """WITH e AS (SELECT doc_id, unnest(generate_series(0, 1)) AS epoch
             FROM documents),
         k AS (SELECT doc_id, CAST(epoch AS BIGINT) AS epoch,
                 CAST(('0x' || substr(md5(CAST(epoch AS VARCHAR) || ':'
                   || CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) AS key
               FROM e)
         SELECT epoch, doc_id, key % 4 AS shard,
           CAST(row_number() OVER (PARTITION BY epoch, key % 4
             ORDER BY key, doc_id) AS BIGINT) AS ord
         FROM k""",
    "dedup_best_rep" ->
      s"""WITH cl AS ($StarClustersOracle),
         q AS (SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
               FROM documents),
         j AS (SELECT cl.cluster, cl.id, q.n_tokens,
                 row_number() OVER (PARTITION BY cl.cluster
                   ORDER BY q.n_tokens DESC, cl.id ASC) AS rn,
                 count(*) OVER (PARTITION BY cl.cluster) AS n_members
               FROM cl JOIN q ON cl.id = q.doc_id)
         SELECT cluster, id AS rep_id, n_tokens AS rep_quality,
           CAST(n_members AS BIGINT) AS n_members
         FROM j WHERE rn = 1""",
    "contrastive_triplets" ->
      s"""WITH cl AS ($StarClustersOracle),
         sizes AS (SELECT cluster, count(*) AS n FROM cl GROUP BY 1),
         multi AS (SELECT id, cl.cluster FROM cl
                   JOIN sizes USING (cluster) WHERE n >= 2),
         pos AS (SELECT a.id AS anchor, min(b.id) AS positive
                 FROM multi a JOIN multi b
                   ON a.cluster = b.cluster AND a.id <> b.id
                 GROUP BY 1),
         q AS (SELECT e.vec_id AS query_id, e.embedding AS qv
               FROM embeddings e JOIN pos ON e.vec_id = pos.anchor),
         ex AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                  unnest(generate_series(1, len(e.embedding))) AS i,
                  e.embedding, q.qv
                FROM embeddings e CROSS JOIN q
                WHERE e.vec_id <> q.query_id),
         dots AS (SELECT query_id, neighbor_id,
                  sum(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
                    * CAST(qv[CAST(i AS INT)] AS DOUBLE)) AS dp,
                  sum(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
                    * CAST(embedding[CAST(i AS INT)] AS DOUBLE)) AS na,
                  sum(CAST(qv[CAST(i AS INT)] AS DOUBLE)
                    * CAST(qv[CAST(i AS INT)] AS DOUBLE)) AS nb
                FROM ex GROUP BY query_id, neighbor_id),
         ranked AS (SELECT query_id, neighbor_id,
                  dp / (sqrt(na) * sqrt(nb)) AS cos,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY dp / (sqrt(na) * sqrt(nb)) DESC,
                      neighbor_id ASC) AS rank
                FROM dots),
         hits AS (SELECT * FROM ranked WHERE rank <= 5),
         neg0 AS (SELECT h.query_id, h.neighbor_id, h.rank, h.cos
                  FROM hits h
                  JOIN cl ca ON h.query_id = ca.id
                  JOIN cl cn ON h.neighbor_id = cn.id
                  WHERE ca.cluster <> cn.cluster),
         neg AS (SELECT query_id, neighbor_id, rank, cos,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY rank) AS rn
                 FROM neg0)
         SELECT anchor, positive, neighbor_id AS negative,
           CAST(rank AS BIGINT) AS neg_rank, round(cos, 4) AS neg_cosine
         FROM pos JOIN neg ON anchor = query_id WHERE rn = 1""",
    "dedup_clusters_star" -> StarClustersOracle,
    "split_leakage_audit" ->
      s"""WITH cl AS ($StarClustersOracle),
         tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         idx AS (SELECT doc_id, toks,
                   unnest(generate_series(1, greatest(len(toks) - 4, 1))) AS i
                 FROM tok),
         sh AS (SELECT DISTINCT doc_id,
                  array_to_string(toks[CAST(i AS INT):CAST(i AS INT)+4], ' ') AS g
                FROM idx),
         card AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         p0 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
         pairs AS (SELECT doc_a, doc_b FROM p0
                   JOIN card ca ON doc_a = ca.doc_id
                   JOIN card cb ON doc_b = cb.doc_id
                   WHERE inter * 1.0 / (ca.n + cb.n - inter) >= 0.5),
         rowsplit AS (SELECT 'row_gate' AS mode, doc_id AS id,
                 CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                        1, 4)) AS BIGINT) < 0.2 * 65536
                      THEN 'test' ELSE 'train' END AS split
               FROM documents),
         clsplit AS (SELECT 'cluster_gate' AS mode, id,
                 CASE WHEN CAST(('0x' || substr(md5(CAST(cluster AS VARCHAR)),
                        1, 4)) AS BIGINT) < 0.2 * 65536
                      THEN 'test' ELSE 'train' END AS split
               FROM cl),
         splits AS (SELECT * FROM rowsplit UNION ALL SELECT * FROM clsplit)
         SELECT sa.mode, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN sa.split <> sb.split THEN 1 ELSE 0 END)
             AS BIGINT) AS n_cross_split
         FROM pairs
         JOIN splits sa ON sa.id = pairs.doc_a
         JOIN splits sb ON sb.id = pairs.doc_b AND sb.mode = sa.mode
         GROUP BY sa.mode""",
    "split_stratified_exact" ->
      """WITH r AS (SELECT doc_id, source,
           row_number() OVER (PARTITION BY source
             ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rk,
           count(*) OVER (PARTITION BY source) AS n
         FROM documents),
         sp AS (SELECT doc_id, source,
                  CASE WHEN rk * 10 <= n * 8 THEN 'train'
                       WHEN rk * 10 <= n * 9 THEN 'val'
                       ELSE 'test' END AS split
                FROM r)
         SELECT source, split, CAST(count(*) AS BIGINT) AS n_docs,
                min(doc_id) AS min_doc, max(doc_id) AS max_doc
         FROM sp GROUP BY source, split""",
    "contrastive_batches" ->
      s"""WITH cl AS ($StarClustersOracle),
         r AS (SELECT id, cluster,
                 row_number() OVER (PARTITION BY cluster ORDER BY id) - 1 AS rk
               FROM cl)
         SELECT id, cluster,
                CAST(rk * 16 + CAST(('0x' || substr(md5(CAST(cluster AS VARCHAR)),
                  1, 4)) AS BIGINT) % 16 AS BIGINT) AS batch_id
         FROM r""",
    "split_leakage_safe" ->
      s"""SELECT id, cluster,
            CASE WHEN CAST(('0x' || substr(md5(CAST(cluster AS VARCHAR)), 1, 4))
                   AS BIGINT) < 0.2 * 65536
                 THEN 'test' ELSE 'train' END AS split
          FROM ($StarClustersOracle)"""
  )

  /** Shared by dedup_clusters_star and split_leakage_safe: min reachable
    * doc id over the shingle-Jaccard edge set (recursive closure — the
    * truth the O(log² n) star contraction must converge to).
    */
  /** Shared by `heavy_hitters_cms` and `cms_maintained` (maintained ≡
    * one-shot: CMS counters are additive, so the 3-batch fold equals
    * the single fit). Replays the ENTIRE sketch — counter cells,
    * min-estimates, top-20 cut — against the dumped `cms_buckets` cell
    * mapping; only the hash values themselves come from the dump.
    */
  private val CmsHeavyHittersOracle: String =
    """WITH bk AS (SELECT token, d, bucket
            FROM read_parquet('__VERIFY_OUT__/cms_buckets/*.parquet')),
       occ AS (SELECT token, count(*) AS cnt
               FROM (SELECT unnest(string_split(text, ' ')) AS token
                     FROM documents)
               WHERE token <> '' GROUP BY token),
       counters AS (SELECT bk.d, bk.bucket, sum(occ.cnt) AS c
                    FROM occ JOIN bk USING (token) GROUP BY 1, 2),
       est AS (SELECT occ.token, min(c.c) AS est
               FROM occ JOIN bk USING (token)
               JOIN counters c ON c.d = bk.d AND c.bucket = bk.bucket
               GROUP BY occ.token)
       SELECT token, CAST(est AS BIGINT) AS est
       FROM est ORDER BY est DESC, token ASC LIMIT 20"""

  /** Shared by `ppl_buckets` and `curriculum_ppl`: the text_lm_score
    * scoring CTEs + the closed-form ANSI ntile over the 0-based global
    * rank (ordering on the rounded score + doc_id).
    */
  private val PplBucketsOracle: String =
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       bi AS (SELECT doc_id, toks[CAST(i AS INT)] AS w1,
                     toks[CAST(i AS INT) + 1] AS w2
              FROM (SELECT doc_id, toks,
                      unnest(generate_series(1, len(toks) - 1)) AS i
                    FROM tok WHERE len(toks) >= 2)),
       c2 AS (SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY 1, 2),
       c1 AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY 1),
       nll AS (SELECT bi.doc_id,
                 CAST(-ln(c2.c2 * 1.0 / c1.c1) AS DECIMAL(20,8)) AS nll
               FROM bi JOIN c2 ON bi.w1 = c2.w1 AND bi.w2 = c2.w2
                       JOIN c1 ON bi.w1 = c1.w1),
       scored AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                    round(CAST(sum(nll) AS DOUBLE) / count(*), 4) AS lm_score
                  FROM nll GROUP BY doc_id),
       ranked AS (SELECT *, row_number() OVER (ORDER BY lm_score, doc_id) - 1 AS r,
                    count(*) OVER () AS n FROM scored),
       b AS (SELECT doc_id, n_bigrams, lm_score,
               CASE WHEN r < (n % 3) * (n // 3 + 1)
                    THEN r // (n // 3 + 1) + 1
                    ELSE (n % 3) + (r - (n % 3) * (n // 3 + 1))
                           // greatest(n // 3, 1) + 1 END AS bkt
             FROM ranked)
       SELECT doc_id, n_bigrams, lm_score, CAST(bkt AS BIGINT) AS ppl_bucket,
              bkt < 3 AS keep
       FROM b"""

  private val StarClustersOracle: String =
    """WITH RECURSIVE
       tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       idx AS (SELECT doc_id, toks,
                 unnest(generate_series(1, greatest(len(toks) - 4, 1))) AS i FROM tok),
       sh AS (SELECT DISTINCT doc_id,
                array_to_string(toks[CAST(i AS INT):CAST(i AS INT)+4], ' ') AS g FROM idx),
       card AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       p0 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
              FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
       pairs AS (SELECT doc_a, doc_b FROM p0
                 JOIN card ca ON doc_a = ca.doc_id JOIN card cb ON doc_b = cb.doc_id
                 WHERE inter * 1.0 / (ca.n + cb.n - inter) >= 0.5),
       edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                 UNION SELECT doc_b, doc_a FROM pairs),
       reach(doc, r) AS (
         SELECT doc_id, doc_id FROM documents
         UNION
         SELECT reach.doc, e.dst FROM reach JOIN edges e ON reach.r = e.src)
       SELECT doc AS id, CAST(min(r) AS BIGINT) AS cluster
       FROM reach GROUP BY doc"""

  /** Shared by winnow_index and dedup_winnowing: the (doc, fp) winnowing
    * fingerprint set — positional grams, md5-48 hashes, the 4-wide
    * window minimum over full windows, and the short-document fallback
    * (grams < window → the single overall minimum at pos 0).
    */
  private val WinnowFpOracle: String =
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents),
       idx AS (SELECT doc_id, toks,
                 unnest(generate_series(1, greatest(len(toks) - 4, 1))) AS i
               FROM tok),
       gr AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
                array_to_string(toks[CAST(i AS INT):CAST(i AS INT)+4], ' ') AS g
              FROM idx),
       h AS (SELECT doc_id, pos,
               CAST(('0x' || substr(md5(g), 1, 12)) AS BIGINT) AS h
             FROM gr),
       w AS (SELECT doc_id, pos,
               count(h) OVER win AS n_in,
               min(h) OVER win AS fp
             FROM h
             WINDOW win AS (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING))
       SELECT DISTINCT doc_id AS doc, fp FROM w
       WHERE n_in = 4 OR (pos = 0 AND n_in < 4)"""

  /** Shared by bm25_batch_topk and hybrid_batch_rrf: prefix-query
    * construction, query-vocabulary-pruned postings, DECIMAL-snapped
    * BM25 terms, and the per-query top-5 rank cut.
    */
  private val Bm25BatchOracle: String = bm25BatchOracle(5)

  /** The batch BM25 replay with a parametric depth `k` — hard_negatives
    * needs one rank deeper than the top-5 so the self-hit can be
    * dropped and five negatives remain.
    */
  private def bm25BatchOracle(k: Int): String =
    s"""WITH toks AS (SELECT doc_id, t FROM
           (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
           WHERE t <> ''),
       dl AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY doc_id),
       stats AS (SELECT avg(len) AS avgdl, count(*) AS n_docs FROM dl),
       q AS (SELECT doc_id AS query_id,
               array_to_string((string_split(text, ' '))[1:8], ' ') AS qtext
             FROM documents WHERE doc_id % 50 = 0),
       qt AS (SELECT DISTINCT query_id, t FROM
                (SELECT query_id, unnest(string_split(qtext, ' ')) AS t FROM q)
              WHERE t <> ''),
       qv AS (SELECT DISTINCT t FROM qt),
       tf AS (SELECT doc_id, t, count(*) AS tf FROM toks
              JOIN qv USING (t) GROUP BY 1, 2),
       dft AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
       sc AS (SELECT qt.query_id, tf.doc_id,
               sum(CAST(ln(CAST(1.0 AS DOUBLE) + (n_docs - df + CAST(0.5 AS DOUBLE))
                       / (df + CAST(0.5 AS DOUBLE)))
                 * ((tf * CAST(2.2 AS DOUBLE))
                    / (tf + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                       + CAST(0.75 AS DOUBLE) * len / avgdl)))
                 AS DECIMAL(20,8))) AS sd
             FROM qt JOIN tf USING (t) JOIN dft USING (t)
               JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats
             GROUP BY 1, 2),
       r AS (SELECT query_id, doc_id, sd,
               CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY sd DESC, doc_id ASC) AS BIGINT) AS rank
             FROM sc)
       SELECT query_id, doc_id, rank, round(CAST(sd AS DOUBLE), 4) AS bm25
       FROM r WHERE rank <= $k"""

  /** Scoring-pass CTE block for the PRF oracle: parametrized on a
    * (query_id, t) term CTE and a name suffix, referencing the shared
    * toks/dl/stats CTEs — the same DECIMAL-snapped BM25 terms as
    * [[Bm25BatchOracle]].
    */
  private def bm25ScoreCtes(sfx: String, qt: String): String =
    s"""qv$sfx AS (SELECT DISTINCT t FROM $qt),
       tf$sfx AS (SELECT doc_id, t, count(*) AS tf FROM toks
                  JOIN qv$sfx USING (t) GROUP BY 1, 2),
       dft$sfx AS (SELECT t, count(*) AS df FROM tf$sfx GROUP BY t),
       sc$sfx AS (SELECT q.query_id, f.doc_id,
           sum(CAST(ln(CAST(1.0 AS DOUBLE)
                 + (stats.n_docs - dft$sfx.df + CAST(0.5 AS DOUBLE))
                 / (dft$sfx.df + CAST(0.5 AS DOUBLE)))
             * ((f.tf * CAST(2.2 AS DOUBLE))
                / (f.tf + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE)
                   - CAST(0.75 AS DOUBLE)
                   + CAST(0.75 AS DOUBLE) * dl.len / stats.avgdl)))
             AS DECIMAL(20,8))) AS sd
         FROM $qt q JOIN tf$sfx f USING (t) JOIN dft$sfx USING (t)
           JOIN dl ON f.doc_id = dl.doc_id CROSS JOIN stats
         GROUP BY 1, 2),
       hits$sfx AS (SELECT query_id, doc_id, sd,
           CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY sd DESC, doc_id ASC) AS BIGINT) AS rank
         FROM sc$sfx)"""

  /** The two-pass PRF replay: pass 1, feedback-doc term weights, the
    * anti-join against original terms, the top-2 expansion, pass 2.
    */
  private val Bm25PrfOracle: String =
    s"""WITH toks AS (SELECT doc_id, t FROM
           (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
           WHERE t <> ''),
       dl AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY doc_id),
       stats AS (SELECT avg(len) AS avgdl, count(*) AS n_docs FROM dl),
       q0 AS (SELECT doc_id AS query_id,
               array_to_string((string_split(text, ' '))[1:8], ' ') AS qtext
             FROM documents WHERE doc_id % 50 = 0),
       qt AS (SELECT DISTINCT query_id, t FROM
                (SELECT query_id, unnest(string_split(qtext, ' ')) AS t FROM q0)
              WHERE t <> ''),
       pall AS (SELECT doc_id, t, count(*) AS tf FROM toks GROUP BY 1, 2),
       ${bm25ScoreCtes("1", "qt")},
       fb AS (SELECT query_id, doc_id FROM hits1 WHERE rank <= 3),
       cand AS (SELECT f.query_id, p.t, CAST(sum(p.tf) AS BIGINT) AS w
                FROM fb f JOIN pall p ON f.doc_id = p.doc_id
                GROUP BY 1, 2),
       dfall AS (SELECT t, count(*) AS cdf FROM pall GROUP BY t),
       cand2 AS (SELECT c.* FROM cand c
                 JOIN dfall USING (t) CROSS JOIN stats
                 WHERE NOT EXISTS
                   (SELECT 1 FROM qt
                    WHERE qt.query_id = c.query_id AND qt.t = c.t)
                   AND dfall.cdf * 1000 <= stats.n_docs * 200),
       exp AS (SELECT query_id, t FROM
                 (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY w DESC, t ASC) AS rn FROM cand2)
               WHERE rn <= 2),
       qt2 AS (SELECT query_id, t FROM qt
               UNION SELECT query_id, t FROM exp),
       ${bm25ScoreCtes("2", "qt2")}
       SELECT query_id, doc_id, rank, round(CAST(sd AS DOUBLE), 4) AS bm25
       FROM hits2 WHERE rank <= 5"""

  /** Shared by winnow_index and winnow_maintained: the per-doc digest
    * (count / min / bit_xor) of the fingerprint set — the maintained
    * index must hash-match the one-shot computation exactly.
    */
  private val WinnowDigestOracle: String =
    s"""SELECT doc, CAST(count(*) AS BIGINT) AS n_fp,
          CAST(min(fp) AS BIGINT) AS fp_min,
          CAST(bit_xor(fp) AS BIGINT) AS fp_xor
        FROM ($WinnowFpOracle) GROUP BY doc"""

  /** Shared by shard_snake and shard_snake_balance: global token-desc
    * rank and the boustrophedon shard arithmetic, replayed exactly.
    */
  private val SnakeOracle: String =
    """WITH d AS (SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents),
       r AS (SELECT doc_id, n_tokens,
               CAST(row_number() OVER (ORDER BY n_tokens DESC, doc_id)
                 AS BIGINT) AS rank
             FROM d)
       SELECT doc_id, n_tokens, rank,
              CAST(CASE WHEN ((rank - 1) // 8) % 2 = 0
                   THEN (rank - 1) % 8
                   ELSE 7 - ((rank - 1) % 8) END AS BIGINT) AS shard
       FROM r"""
}
