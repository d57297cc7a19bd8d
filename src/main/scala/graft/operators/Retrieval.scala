package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Materialize.MatOps

/** Sparse (keyword) retrieval over the document corpus — the text-side
  * complement of [[Similarity]]'s dense ANN family: BM25 top-k scoring
  * of a small query set against corpus documents.
  *
  * Scale shape (the corpus is the 100 TB side, the query set is
  * thousands of rows):
  *   - the corpus is tokenized in one map pass; the query-term set
  *     BROADCASTS into a map-side semi-join, so only posting rows whose
  *     term some query mentions — rare by construction — ever reach a
  *     shuffle (the same hit-rows-only discipline as
  *     [[Dedup.ngramContamination]]);
  *   - document length rides along the explode, so no corpus-wide
  *     doc-stats join is ever needed;
  *   - per-term document frequencies and the global length stats are
  *     tiny aggregates, broadcast back into the scoring join;
  *   - final scoring shuffles only (query, hit-doc) groups and one
  *     per-query top-k window.
  */
object Retrieval {

  /** Okapi BM25 inverse document frequency with the standard +1
    * saturation (always positive, as in Lucene): ln(1 + (N−df+0.5)/(df+0.5)).
    */
  private def idf(nDocs: Column, df: Column): Column =
    log((nDocs - df + 0.5) / (df + 0.5) + 1.0)

  /** Fixed-point score quantum: per-term contributions are floored to
    * multiples of 2⁻⁴⁰ and summed as LONGS. Long addition is associative,
    * so the score is deterministic under ANY partitioning/order — which
    * a double `sum` is not — while keeping ~12 decimal digits (far below
    * anything ranking can see) and, unlike a sort-and-fold of collected
    * structs, aggregating with map-side partial combine (a collect_list
    * ships every (query, doc, term) row to the reducer). No overflow:
    * contributions are O(10), so Σ over a query's terms is < 2⁴⁸.
    */
  private val ScoreScale = 1099511627776.0 // 2^40

  /** BM25 top-`k` corpus documents per query. Returns
    * (`query_id`, `doc_id`, `score`, `rank`), ties broken by doc id;
    * scores are quantized to 2⁻⁴⁰ (see [[ScoreScale]]) so the reduction
    * is an associative integer sum — deterministic under any
    * partitioning, with map-side partial aggregation.
    */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int = 10,
               k1: Double = 1.2, b: Double = 0.75,
               idCol: String = "doc_id", textCol: String = "text",
               qidCol: String = "query_id", qtextCol: String = "text"): DataFrame = {
    val qterms = queries
      .select(col(qidCol).as("query_id"),
        explode(array_distinct(TextAnalysis.tokens(col(qtextCol)))).as("term"))
      .distinct()
    val qtermSet = qterms.select(col("term")).distinct()

    // ONE corpus tokenization, checkpointed: the token projection feeds
    // BOTH the postings semi-join and the global length stats. Without
    // the checkpoint each consumer re-runs the regex split over the full
    // corpus (stats needs every doc, hit or not, so no tf-side distinct
    // can replace it). The materialized projection is ~1x the corpus —
    // the disk-for-CPU trade minHashPairs already makes; doc length
    // rides along the explode so tf groups carry it for free.
    val toksDf = docs
      .select(col(idCol).as("doc_id"), TextAnalysis.tokens(col(textCol)).as("toks"))
      .materialized
    val postings = toksDf
      .select(col("doc_id"), size(col("toks")).as("dl"), explode(col("toks")).as("term"))
      .join(broadcast(qtermSet), "term")
    // checkpointed: consumed by the scoring join AND the df aggregate —
    // the hit-rows-only aggregate is tiny, so re-deriving it per consumer
    // would still replay the explode + semi-join over the cached corpus
    val tf = postings
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
      .materialized

    // postings are distinct per (doc, term) after the aggregate, so the
    // per-term row count IS the document frequency
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = toksDf.agg(
      count(lit(1)).as("n_docs"),
      sum(size(col("toks"))).as("sum_dl"))
    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")

    val contrib = idf(col("n_docs").cast("double"), col("df").cast("double")) *
      (col("tf").cast("double") * (k1 + 1.0)) /
      (col("tf").cast("double") +
        lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / avgdl))

    val scored = tf
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"), contrib.as("contrib"))
      .join(broadcast(qterms), "term")
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(floor(col("contrib") * ScoreScale)).as("score_fp"))

    // rank on the exact integer score; ties (identical quantized scores)
    // break by doc id
    val w = Window.partitionBy(col("query_id")).orderBy(col("score_fp").desc, col("doc_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("doc_id"),
        (col("score_fp").cast("double") / ScoreScale).as("score"), col("rank"))
  }

  /** Per-document top-`k` TF-IDF keywords — the term-salience extractor a
    * training pipeline uses for topic labeling / diversity-aware sampling:
    * tf·ln(N/df) per (doc, term), top `k` per document (score desc, term
    * asc tie-break). Returns (`idCol`, `term`, `tf`, `score`, `rank`).
    *
    * Unlike [[bm25TopK]] there is no query side, so the FULL postings
    * aggregate shuffles once on (doc, term) — inherent to corpus-wide
    * keyword extraction. The df table is VOCABULARY-sized (one row per
    * distinct corpus term — 10⁸–10⁹ on web-scale text), so it must NOT
    * be force-broadcast the way bm25's query-term-filtered df table is:
    * the tf↔df join carries no hint and AQE picks broadcast only when
    * the vocabulary actually fits under `autoBroadcastJoinThreshold`,
    * falling back to a shuffle join on `term` otherwise (both sides
    * already hash-aggregate by term upstream, so the extra exchange is
    * one-sided). `minDf` optionally prunes hapax-like terms (df <
    * minDf) BEFORE the join — on web text df=1 terms are typically
    * >40% of the vocabulary and can never be meaningful keywords.
    * Scores are floored to the 2⁻⁴⁰ grid and ranked on the exact integer
    * (the bm25 determinism contract); the reported value is FLOAT, which
    * absorbs the 1-ulp Math.log/libm divergence.
    */
  def tfidfTopTerms(docs: DataFrame, k: Int = 5,
                    idCol: String = "doc_id", textCol: String = "text",
                    minDf: Long = 1L): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    // one tokenize pass: the postings aggregate feeds scoring, N rides as
    // a broadcast count over the same checkpoint
    val toksDf = docs
      .select(col(idCol).as("doc_id"), toks.as("toks"))
      .materialized
    val tf = toksDf
      .select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .materialized
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .where(col("df") >= minDf)
    val nDocs = toksDf.agg(count(lit(1)).as("n_docs"))
    val scoreFp = floor(
      col("tf").cast("double") *
        log(col("n_docs").cast("double") / col("df").cast("double")) * ScoreScale)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score_fp").desc, col("term"))
    // no broadcast() hint: dfreq is vocabulary-sized (see Scaladoc)
    tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"), col("tf"), scoreFp.as("score_fp"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("doc_id").as(idCol), col("term"), col("tf"),
        (col("score_fp").cast("double") / ScoreScale).cast("float").as("score"), col("rank"))
  }

  /** Reciprocal Rank Fusion (Cormack, Clarke & Buettcher 2009) of any
    * number of per-query ranked lists — the standard score-free hybrid
    * of sparse ([[bm25TopK]]) and dense
    * ([[Similarity.hashEmbedTopK]] / ANN) retrieval: each list
    * contributes 1/(`k0`+rank) for every (query, doc) it ranks, the
    * contributions sum, and the fused top-`k` re-ranks on the sum. Rank
    * positions — not raw scores — carry the signal, so the legs need no
    * score calibration against each other.
    *
    * Every input must expose (`query_id`, `docCol`, `rank`). The fused
    * contribution is quantized to the engine's 2⁻⁴⁰ fixed-point quantum
    * (see [[bm25TopK]]'s ScoreScale note) purely so the cross-list SUM
    * is an associative long reduction — deterministic under any
    * partitioning and list count; 1/(60+r) ≈ 1.6e-2 sits twelve decimal
    * digits above the quantum, so ranking cannot see the floor.
    *
    * Scale shape: the inputs are already per-query top-N (bounded —
    * N·#queries rows each, never corpus-sized), so the union + one
    * (query, doc) hash aggregate + per-query top-k window all run on
    * retrieval-result cardinality. The corpus-heavy work stays inside
    * the legs, which keep their own broadcast/inverted-index
    * disciplines.
    */
  def rrfFuse(lists: Seq[DataFrame], k: Int = 10, k0: Int = 60,
              docCol: String = "doc_id"): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    val contribs = lists.map(_.select(
      col("query_id"), col(docCol).as("doc_id"),
      floor(lit(ScoreScale) / (lit(k0.toDouble) + col("rank").cast("double"))).cast("long").as("_c")))
    val fusedFp = contribs.reduce(_ unionAll _)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("_c")).as("_rrf_fp"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("_rrf_fp").desc, col("doc_id"))
    fusedFp
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("doc_id"),
        (col("_rrf_fp").cast("double") / ScoreScale).as("rrf_score"), col("rank"))
  }

  /** Hard-negative mining for contrastive retriever training (the
    * DPR/sentence-transformers recipe): for each training query, the
    * top BM25 hits that are NOT labeled positives become the hard
    * negatives — lexically confusable, semantically wrong, exactly the
    * pairs a dual encoder must learn to separate. `positives` is the
    * labeled (query_id, doc_id) relation; it anti-joins the candidate
    * list (training labels are queries-sized, so the anti-join rides
    * the candidate rows, not the corpus). Returns
    * (`query_id`, negative_id, bm25_rank, neg_rank ≤ `nNeg`). Cost is
    * the first stage; the mining itself is candidate-bound.
    */
  def hardNegatives(docs: DataFrame, queries: DataFrame, positives: DataFrame,
                    nNeg: Int = 5, kCandidates: Int = 10,
                    idCol: String = "doc_id", textCol: String = "text",
                    qidCol: String = "query_id", qtextCol: String = "text"): DataFrame = {
    val cands = bm25TopK(docs, queries, kCandidates,
      idCol = idCol, textCol = textCol, qidCol = qidCol, qtextCol = qtextCol)
    val negs = cands.join(
      positives.select(col("query_id"), col("doc_id")),
      Seq("query_id", "doc_id"), "left_anti")
    val w = Window.partitionBy(col("query_id")).orderBy(col("rank"))
    negs
      .withColumn("neg_rank", row_number().over(w).cast("int"))
      .where(col("neg_rank") <= nNeg)
      .select(col("query_id"), col("doc_id").as("negative_id"),
        col("rank").as("bm25_rank"), col("neg_rank"))
  }

  /** Two-stage retrieval: a cheap first stage ([[bm25TopK]] at
    * `kCandidates`) proposes, an exact token-set-Jaccard second stage
    * re-ranks — the retrieve-then-rerank architecture every production
    * search/RAG stack runs (the reranker here is lexical so it stays
    * exactly verifiable; a cross-encoder swaps into the same plan).
    *
    * THE scale property is the candidate semi-join: the reranker's text
    * fetch and term explode touch only `kCandidates × |queries|` rows,
    * never the corpus — reranking cost is independent of corpus size.
    * The Jaccard is computed relationally (shared-term count via a join
    * on the term column, |A∪B| = nd_q + nd_doc − shared), so long
    * documents never materialize arrays; every score is a ratio of
    * exact integers. Final order: Jaccard desc, first-stage rank asc
    * (the tiebreak keeps the bm25 prior), doc id asc. Returns
    * (`query_id`, `doc_id`, bm25_rank, jaccard, rank).
    */
  def rerankJaccard(docs: DataFrame, queries: DataFrame,
                    kCandidates: Int = 20, k: Int = 10,
                    idCol: String = "doc_id", textCol: String = "text",
                    qidCol: String = "query_id", qtextCol: String = "text"): DataFrame = {
    import graft.operators.Materialize.MatOps
    val cands = bm25TopK(docs, queries, kCandidates,
      idCol = idCol, textCol = textCol, qidCol = qidCol, qtextCol = qtextCol)
      .select(col("query_id"), col("doc_id"), col("rank").as("bm25_rank"))
      .materialized // consumed by the doc semi-join, the pair join, and the output
    val qterms = queries
      .select(col(qidCol).as("query_id"),
        explode(array_distinct(TextAnalysis.tokens(col(qtextCol)))).as("term"))
      .distinct()
    val qsize = qterms.groupBy(col("query_id")).agg(count(lit(1)).as("nd_q"))
    // candidate-only fetch: the corpus is pruned to the candidate ids
    // BEFORE any tokenization — reranking never scans the corpus
    val dterms = docs
      .select(col(idCol).as("doc_id"), col(textCol).as("_text"))
      .join(cands.select(col("doc_id")).distinct(), Seq("doc_id"))
      .select(col("doc_id"),
        explode(array_distinct(TextAnalysis.tokens(col("_text")))).as("term"))
      .distinct()
      .materialized // consumed by the size aggregate and the shared-term join
    val dsize = dterms.groupBy(col("doc_id")).agg(count(lit(1)).as("nd_d"))
    val shared = qterms.join(dterms, Seq("term"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("jaccard").desc, col("bm25_rank"), col("doc_id"))
    cands
      .join(shared, Seq("query_id", "doc_id"), "left")
      .join(broadcast(qsize), Seq("query_id"))
      .join(dsize, Seq("doc_id"))
      .select(col("query_id"), col("doc_id"), col("bm25_rank"),
        (coalesce(col("n_shared"), lit(0L)).cast("double")
          / (col("nd_q") + col("nd_d") - coalesce(col("n_shared"), lit(0L))).cast("double"))
          .as("jaccard"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Maximal Marginal Relevance selection (Carbonell & Goldstein 1998)
    * — the diversity-aware re-ranking every RAG retriever ships: from a
    * candidate list, greedily pick the item maximizing
    * `relevance − max-similarity-to-already-picked`, so near-duplicate
    * top hits don't crowd out coverage (λ = 1/2, which on the integer
    * grid reduces to the plain difference — exact, no float weights).
    * Round 1 picks pure-relevance argmax; ties go to the lowest
    * candidate id.
    *
    * Input is the CANDIDATE table — (query, candidate, relevance_fp,
    * quantized vector), bounded per query by the first stage (the
    * rerank discipline: corpus-sized work happened upstream in
    * BM25/ANN). Each of the k rounds is a broadcast join of the ≤
    * |queries| picked rows back onto the pool, one map-local grid dot
    * + running `greatest`, and a per-query `min(struct)` argmax —
    * nothing bigger than the candidate table ever shuffles, and the
    * per-candidate state is ONE long (the running max-sim), not the
    * picked set. Rounds follow [[Materialize.cutLoop]]; picks are
    * pinned cuts (consumed by both the output union and the next
    * round's pool).
    *
    * Returns (`queryCol`, `sel_round`, `candCol`, `mmr_fp`).
    */
  def mmrSelect(candidates: DataFrame, queryCol: String, candCol: String,
                relCol: String, vecCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    def dot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)
    var pool = Materialize.cutLoop(candidates.select(
      col(queryCol).as("_q"), col(candCol).as("_c"),
      col(relCol).as("_rel"), col(vecCol).as("_cv"),
      lit(null).cast("long").as("_maxsim")), None)
    var out: DataFrame = null
    for (r <- 1 to k) {
      val score = if (r == 1) col("_rel") else col("_rel") - col("_maxsim")
      val pick = Materialize.pin(pool
        .groupBy(col("_q"))
        .agg(min(struct((-score).as("s"), col("_c").as("c"), col("_cv").as("v"))).as("_m"))
        .select(col("_q"), lit(r).as("sel_round"), col("_m.c").as("_c"),
          (-col("_m.s")).as("mmr_fp"), col("_m.v").as("_pv")))
      val picked = pick.select(col("_q"), col("sel_round"), col("_c"), col("mmr_fp"))
      out = if (out == null) picked else out.unionByName(picked)
      if (r < k) {
        pool = Materialize.cutLoop(
          pool.join(broadcast(pick.select(col("_q"), col("_c").as("_pc"), col("_pv"))), Seq("_q"))
            .where(col("_c") =!= col("_pc"))
            .select(col("_q"), col("_c"), col("_rel"), col("_cv"),
              greatest(coalesce(col("_maxsim"), lit(Long.MinValue)),
                dot(col("_cv"), col("_pv"))).as("_maxsim")),
          Some(pool))
      }
    }
    // every consumer of the pool is a pinned pick; the output union
    // reads only those cuts
    Materialize.release(pool)
    out.select(col("_q").as(queryCol), col("sel_round"),
      col("_c").as(candCol), col("mmr_fp"))
  }

  /** nDCG@k discount table on the 2⁻⁴⁰ grid — floor(2⁴⁰ / log₂(i+1))
    * for positions 1..k, computed ONCE in JVM doubles and embedded as
    * literals in both engines' plans (the SPRT-constants discipline:
    * no cross-engine transcendental).
    */
  def ndcgDiscountsFp(k: Int): Array[Long] =
    (1 to k).map(i =>
      math.floor(1099511627776.0 / (math.log(i + 1.0) / math.log(2.0))).toLong).toArray

  /** Rank-aware retrieval quality: nDCG@k of an APPROXIMATE ranking
    * against graded relevance derived from the EXACT ranking — the
    * measurement that separates "got the right set" (recall, the
    * `ann_recall`/`ann_matryoshka` rows) from "got them in the right
    * order", which is what a RAG context window actually consumes.
    * Relevance tiers come from the exact rank (1–2 → 3, 3–5 → 2,
    * 6–10 → 1, absent → 0 — the graded-judgment convention when exact
    * scores ARE the ground truth); gains are 2^rel − 1.
    *
    * Both inputs are (query_id, neighbor_id, rank) top-k tables.
    * DCG sums gain·disc as exact int64 on the 2⁻⁴⁰ grid
    * ([[ndcgDiscountsFp]]); the ideal ordering IS the exact ranking
    * (relevance is monotone in exact rank by construction), so IDCG
    * replays the same sum over the exact list, and nDCG is ONE float
    * division per query. Emits (query_id, dcg_fp, idcg_fp, ndcg).
    *
    * Plan: both inputs are already query-bounded top-k tables
    * (queries × k rows); one equi-join + two tiny aggregates — nothing
    * here ever touches the corpus.
    */
  def ndcgAtK(approx: DataFrame, exact: DataFrame, k: Int = 10): DataFrame = {
    require(k >= 1 && k <= 10, s"relevance tiers are defined for k <= 10, got $k")
    val disc = ndcgDiscountsFp(k)
    def rel(rank: Column): Column =
      when(rank <= 2, 3).when(rank <= 5, 2).when(rank <= 10, 1).otherwise(0)
    def gain(r: Column): Column =
      when(r === 3, 7L).when(r === 2, 3L).when(r === 1, 1L).otherwise(0L)
    val labels = exact.where(col("rank") <= 10)
      .select(col("query_id"), col("neighbor_id"), rel(col("rank")).as("_rel"))
    val dcg = approx.where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .join(labels, Seq("query_id", "neighbor_id"), "left")
      .na.fill(0, Seq("_rel"))
      .groupBy(col("query_id"))
      .agg(sum(gain(col("_rel")) * element_at(lit(disc), col("rank").cast("int")))
        .as("dcg_fp"))
    val idcg = exact.where(col("rank") <= k)
      .groupBy(col("query_id"))
      .agg(sum(gain(rel(col("rank"))) * element_at(lit(disc), col("rank").cast("int")))
        .as("idcg_fp"))
    dcg.join(idcg, Seq("query_id"))
      .select(col("query_id"), col("dcg_fp"), col("idcg_fp"),
        (col("dcg_fp").cast("double") / col("idcg_fp").cast("double")).as("ndcg"))
      .orderBy(col("query_id"))
  }

  /** MRR@k + recall@k — the rank-metric pair completing [[ndcgAtK]]:
    * where nDCG grades the whole ordering, MRR answers "how deep does a
    * user scan before the FIRST relevant result" (the metric navigation
    * and known-item retrieval are tuned on) and recall@k answers "did
    * the right set arrive at all". Relevant = membership in the EXACT
    * top-k, the [[Similarity.recallAtK]] convention. Per query:
    * first_rel_rank (null when no hit), rr = 1/first_rel_rank (one IEEE
    * division of exact integers; 0.0 when no hit), n_hits, recall_pct
    * (integer-floored).
    *
    * Plan: both inputs are query-bounded top-k tables — one equi-join +
    * one aggregate; the corpus is never touched here.
    */
  def mrrAtK(approx: DataFrame, exact: DataFrame, k: Int = 10): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val rel = exact.where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("_rel"))
    approx.where(col("rank") <= k)
      .join(rel, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(min(when(col("_rel") === 1, col("rank"))).cast("int").as("first_rel_rank"),
        count(lit(1)).as("_k"),
        sum(coalesce(col("_rel"), lit(0))).cast("int").as("n_hits"))
      .select(col("query_id"), col("first_rel_rank"),
        coalesce(lit(1.0) / col("first_rel_rank").cast("double"), lit(0.0)).as("rr"),
        col("n_hits"),
        expr("(n_hits * 100) div _k").cast("int").as("recall_pct"))
      .orderBy(col("query_id"))
  }

  /** RAG faithfulness / support audit (the RAGAS-style grounding
    * check at k-gram granularity): given answers and a
    * (query_id, ctx_id) RETRIEVAL PAIR TABLE — in production the
    * output of [[bm25TopK]] or an ANN stage, here pluggable — the
    * fraction of each answer's distinct n-grams that appear in at
    * least one of its retrieved context documents. Unsupported mass is
    * the hallucination-risk signal a RAG release gate thresholds on.
    * Emits (query_id, n_grams, n_supported, support).
    *
    * Plan: answer grams and context grams are two bounded explodes
    * (contexts deduplicate per (query, gram) BEFORE the support join,
    * so repeated grams across the context set cost one row); support
    * is a LEFT SEMI join on (query_id, gram) — grams shuffle, text
    * never does.
    */
  def supportFraction(docs: DataFrame, pairs: DataFrame, textCol: String,
                      idCol: String, n: Int = 3): DataFrame = {
    require(n >= 1, "need n >= 1")
    def grams(d: DataFrame, as: String) = {
      val toks = split(lower(trim(col(textCol))), "\\s+")
      d.select(col(idCol).as(as), explode(
        when(size(toks) >= n,
          transform(sequence(lit(1), size(toks) - (n - 1)),
            p => array_join(slice(toks, p, lit(n)), " ")))
          .otherwise(array().cast("array<string>"))).as("gram"))
    }
    val agrams = grams(docs.join(pairs.select(col("query_id")).distinct(),
        docs(idCol) === col("query_id")).drop("query_id"), "_qid")
      .distinct()
    val cgrams = grams(docs.join(pairs.select(col("ctx_id")).distinct(),
        docs(idCol) === col("ctx_id")).drop("ctx_id"), "_cid")
      .join(pairs.select(col("query_id"), col("ctx_id")),
        col("_cid") === col("ctx_id"))
      .select(col("query_id").as("_qid"), col("gram"))
      .distinct()
    agrams
      .join(cgrams.withColumnRenamed("_qid", "_sq")
          .withColumnRenamed("gram", "_sg"),
        col("_qid") === col("_sq") && col("gram") === col("_sg"), "left")
      .groupBy(col("_qid").as("query_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("_sq").isNotNull, 1L).otherwise(0L)).as("n_supported"))
      .select(col("query_id"), col("n_grams"), col("n_supported"),
        (col("n_supported").cast("double") / col("n_grams").cast("double"))
          .as("support"))
      .orderBy(col("query_id"))
  }
}
