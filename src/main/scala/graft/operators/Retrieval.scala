package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.TextFns._

/** Lexical retrieval over the document corpus — the classic BM25
  * ranking function (Robertson/Sparck Jones probabilistic model, the
  * default scorer in Lucene/Elasticsearch), as a pure DataFrame
  * pipeline: tokenize → term stats → per-(doc, term) partial scores →
  * one hash agg → top-k. No UDFs, no driver loops; the only driver
  * value is the top-k limit itself (TakeOrderedAndProject).
  *
  * Scale shape: the corpus is scanned ONCE for token rows; `df` and
  * the corpus length stats are tiny aggregates (|query terms| rows and
  * 1 row) that broadcast back into the scoring join, so the whole
  * plan is scan → one shuffle on (doc_id, term) → broadcast joins →
  * one shuffle on doc_id → bounded top-k. Nothing grows with k·|docs|.
  *
  * Portability: the per-term score is a double expression whose ops
  * (+, −, ×, ÷) are IEEE-correctly-rounded and therefore bit-identical
  * across engines given identical operand order; `ln` is the one
  * library call with a ±1 ulp license, so scores are rounded at
  * DECIMAL(18,6) per TERM before the order-free decimal sum — the
  * same exact-sum idiom as [[graft.engine.Aggregates.exactSum]].
  */
object Retrieval {

  /** The postings table (doc_id, term, tf, dl), built in ONE corpus
    * pass; per-term statistics ([[tfidfCosinePairs]]' document
    * frequencies) derive from it without rescanning the corpus text. */
  def bm25Index(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    docs
      .select(col("doc_id"), size(toks).cast("long").as("dl"),
        explode(toks).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
  }

  /** Top-k documents by BM25 score for a bag of query terms.
    *
    * idf(t)  = ln(1 + (N − df + 0.5) / (df + 0.5))   (Lucene form: never
    *           negative, unlike the raw Robertson idf)
    * s(d, t) = idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    * score   = Σ_t dec6(s(d, t))
    *
    * Output: (doc_id, n_terms matched, score DOUBLE from the 6-decimal
    * sum), ordered score DESC, doc_id ASC, limited to k. */
  def bm25TopK(docs: DataFrame, queryTerms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK needs at least one query term")
    require(k > 0, "k must be positive")
    val toks = tokens(col("text"))
    // one corpus pass: token rows restricted to the query vocabulary
    // immediately (the filter sits under the shuffle, so shuffle volume
    // is matches, not the corpus), doc length carried alongside
    val hits = docs
      .select(col("doc_id"), size(toks).cast("long").as("dl"),
        explode(toks).as("term"))
      .filter(col("term").isin(queryTerms.map(x => x: Any): _*))
    val tf = hits.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    // document frequency per query term (≤ |queryTerms| rows)
    val dfq = hits.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"))
    // corpus stats: N and avgdl (integer token-count sum → exact, so
    // the one double division is bit-portable)
    val stats = docs.agg(count(lit(1)).as("n_total"),
      sum(size(tokens(col("text"))).cast("long")).as("sum_dl"))
    val avgdl = col("sum_dl").cast("double") / col("n_total")
    val idf = log(lit(1.0) +
      (col("n_total") - col("df") + 0.5) / (col("df") + 0.5))
    val norm = (col("tf") * (k1 + 1)) /
      (col("tf") + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / avgdl))
    tf.join(broadcast(dfq), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), (idf * norm).cast(DecimalType(18, 6)).as("__s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("__s")).as("__score"))
      .select(col("doc_id"), col("n_terms"),
        col("__score").cast("double").as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Sparse TF-IDF cosine similarity pairs via an inverted-index
    * self-join — the LEXICAL near-dup counterpart of the dense
    * embedding-cosine path (`Similarity.nearDupPairs`): two documents
    * are similar when their tf·idf vectors point the same way, computed
    * without ever materializing a vector.
    *
    * The join is on the TERM (postings self-join, doc_a < doc_b), so
    * candidate volume is Σ_t df(t)², not n² — and the df band
    * [minDf, maxDf] is what makes that safe at corpus scale: df < 2
    * terms cannot produce a pair (pruned for free), df > maxDf terms
    * are stopword-like, contribute ~0 idf weight, and would each fan
    * out df² join rows, so they are dropped and the cosine is defined
    * over the banded vocabulary (document this to consumers: scores
    * are relative to the pruned term space, the standard IR practice).
    *
    * Exactness: w = dec6(tf · ln(N/df)) per (doc, term) — ln carries
    * the usual ±1-ulp license so it is rounded ONCE at weight
    * construction; every sum after that (w², wa·wb) is exact DECIMAL,
    * so dot products and norms are order- and partition-independent
    * and the final cosine is bit-portable.
    *
    * Output: (doc_a, doc_b, n_shared terms, cosine) with
    * cosine ≥ minCosine. */
  def tfidfCosinePairs(docs: DataFrame, minDf: Long, maxDf: Long,
                       minCosine: Double): DataFrame = {
    require(minDf >= 2, "minDf < 2 is never useful: df=1 terms cannot pair")
    val postings = bm25Index(docs) // (doc_id, term, tf, dl)
    // postings are unique per (doc_id, term) by construction, so a
    // plain count IS the document frequency — no distinct aggregate
    val dfq = postings.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df").between(minDf, maxDf))
    val n = docs.agg(count(lit(1)).as("n_total"))
    val weighted = postings
      .join(broadcast(dfq), Seq("term"))
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"),
        (col("tf") * log(col("n_total").cast("double") / col("df")))
          .cast(DecimalType(18, 6)).as("w"))
    val norms = weighted.groupBy(col("doc_id"))
      .agg(sum(col("w") * col("w")).as("norm2"))
    val dots = weighted.as("a")
      .join(weighted.as("b"), Seq("term"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"),
        sum(col("a.w") * col("b.w")).as("dot"))
    dots
      .join(norms.select(col("doc_id").as("doc_a"), col("norm2").as("na")), "doc_a")
      .join(norms.select(col("doc_id").as("doc_b"), col("norm2").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        // round6Portable, not round(): the threshold filters on the
        // ROUNDED cosine, so an engine-dependent half-boundary round
        // would flip row MEMBERSHIP, not just a cell value
        graft.engine.Aggregates.round6Portable(
          col("dot").cast("double") /
            (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
          .as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** Hybrid lexical + vector retrieval fused by Reciprocal Rank Fusion
    * (Cormack, Clarke & Buettcher 2009): each candidate list
    * contributes 1/(k0 + rank), documents missing from a list
    * contribute 0 — the standard score-free fusion of a BM25 list and
    * an embedding-cosine list (the RAG two-tower shape).
    *
    * `docs` and `emb` share an id space (vec_id = doc_id, one
    * embedding per document; documents without an embedding simply
    * never appear in the vector list). Both branches end in a bounded
    * top-k before the fuse, so the full-outer rank join touches at
    * most 2k rows no matter the corpus size; ranks are dense integers,
    * making 1/(k0+rank) a single exact-operand IEEE division — bit-
    * identical across engines with no rounding contract needed beyond
    * the final display round. */
  def hybridRrf(docs: DataFrame, emb: DataFrame, queryTerms: Seq[String],
                probeVecId: Long, k: Int, k0: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lex = bm25TopK(docs, queryTerms, k)
      .withColumn("lex_rank", row_number()
        .over(Window.orderBy(col("score").desc, col("doc_id").asc))
        .cast("long"))
      .select(col("doc_id"), col("lex_rank"))
    val vec = Similarity
      .bruteForceKnn(emb, emb.filter(col("vec_id") === probeVecId), k)
      .select(col("n_vec").as("doc_id"), col("rank").as("vec_rank"))
    lex.join(vec, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
        coalesce(col("vec_rank"), lit(0L)).as("vec_rank"),
        round(
          coalesce(lit(1.0) / (lit(k0) + col("lex_rank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(k0) + col("vec_rank")), lit(0.0)), 6)
          .as("rrf_score"))
      .orderBy(col("rrf_score").desc, col("doc_id").asc)
  }
}
