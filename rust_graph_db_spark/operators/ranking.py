"""Corpus ranking / relevance scoring: TF-IDF and BM25.

Extension operators (the reference — a graph store,
src/executor/mod.rs — has no text-relevance support): the two standard
lexical relevance models a corpus pipeline needs for boilerplate
inspection, near-query decontamination triage, and retrieval-style
corpus slicing. Both are pure DataFrame dataflows shaped for 100 TB:

- **tfidf_top_terms**: per-document top-k TF-IDF terms. The shuffle
  carries (doc, term, tf) pairs — bounded by corpus token count, with
  map-side partial aggregation collapsing repeats inside a document
  before the exchange. The document-frequency side is
  vocabulary-bounded and joined broadcast; corpus size N rides the
  same broadcast (an agg crossJoin, not a driver ``.count()`` — one
  job, no driver round-trip).
- **bm25_search**: Okapi BM25 scores of every document against a
  literal query, top-N. The explode is pre-filtered to the query's
  terms inside the scan (codegen'd ``array_contains`` on a literal
  array), so the shuffled volume is proportional to query-term
  occurrences, not corpus tokens; N and avgdl ride one broadcast agg.

Both emit ``round(score, 6)`` so the DuckDB oracle (same formulas in
SQL) hash-matches across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _tokens(text_col: str):
    # the ONE corpus tokenizer — functions/text.py owns the expression
    # (and documents its DuckDB mirror); ranking/packing/curation and
    # the t9/t10/c4/k2 oracles all depend on it staying identical
    from rust_graph_db_spark.functions.text import tokens

    return tokens(F.col(text_col))


def tfidf_top_terms(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    top_terms: int = 3,
) -> DataFrame:
    """(id, term, score): each document's ``top_terms`` highest-TF-IDF
    terms, ties broken by term text (total order → deterministic).

    Formula (smooth variant): ``tf * (ln((1 + N) / (1 + df)) + 1)``
    with raw term count tf and document frequency df — df never zero
    for an observed term, and the +1 keeps corpus-universal terms at a
    positive floor instead of exactly 0 (sklearn's smoothing).

    Plan: one scan → explode → (doc, term) count with partial agg;
    document frequency reuses THAT frame (count of docs per term —
    already distinct by construction, no countDistinct shuffle);
    vocabulary-sized df table + the corpus-count scalar join broadcast.
    Per-doc top-k is a window over the doc partitioning the tf shuffle
    already established.
    """
    from pyspark.sql import Window

    tf = (docs
          .select(F.col(id_col), F.explode(_tokens(text_col)).alias("term"))
          .groupBy(id_col, "term")
          .agg(F.count(F.lit(1)).cast("long").alias("tf")))
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"))
    n = docs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    scored = (tf.join(F.broadcast(dfreq), "term")
                .crossJoin(F.broadcast(n))
                .withColumn(
                    "score",
                    F.round(F.col("tf") * (F.log((1 + F.col("n"))
                                                 / (1 + F.col("df"))) + 1),
                            6)))
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term"))
    return (scored.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= int(top_terms))
            .select(id_col, "term", "score"))


def bm25_search(
    docs: DataFrame, query: str, id_col: str = "doc_id",
    text_col: str = "text", k1: float = 1.2, b: float = 0.75,
    top: int = 10,
) -> DataFrame:
    """(id, score): top ``top`` documents by Okapi BM25 against
    ``query`` (whitespace-tokenized, lowercased, deduplicated), ties
    broken by id.

    ``idf = ln(1 + (N - df + 0.5) / (df + 0.5))``;
    ``score = Σ_t idf_t · tf_t·(k1+1) / (tf_t + k1·(1 − b + b·dl/avgdl))``.

    Plan: one scan computes (doc, dl, toks); the explode keeps ONLY
    query terms (literal-array ``array_contains`` inside codegen), so
    everything after the scan is sized by query-term occurrences. df
    per query term comes from the same filtered frame; N and avgdl
    are one broadcast agg. Final top-N is ``TakeOrderedAndProject``.
    """
    terms = sorted({t for t in query.lower().split() if t})
    if not terms:
        raise ValueError("empty query")
    qarr = F.array(*[F.lit(t) for t in terms])
    base = docs.select(
        F.col(id_col), F.size(_tokens(text_col)).alias("dl"),
        _tokens(text_col).alias("_toks"))
    tf = (base
          .select(id_col, "dl", F.explode(
              F.filter("_toks", lambda t: F.array_contains(qarr, t)))
              .alias("term"))
          .groupBy(id_col, "dl", "term")
          .agg(F.count(F.lit(1)).cast("long").alias("tf")))
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"))
    stats = base.agg(F.count(F.lit(1)).cast("long").alias("n"),
                     F.avg("dl").alias("avgdl"))
    idf = F.log(1 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    denom = (F.col("tf")
             + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
    contrib = idf * F.col("tf") * (k1 + 1) / denom
    return (tf.join(F.broadcast(dfreq), "term")
              .crossJoin(F.broadcast(stats))
              .groupBy(id_col)
              .agg(F.round(F.sum(contrib), 6).alias("score"))
              .orderBy(F.col("score").desc(), F.col(id_col))
              .limit(int(top)))


def textrank_keywords(df: DataFrame, text_col: str = "text",
                      iterations: int = 6,
                      damping: float = 0.85) -> DataFrame:
    """``(word, rank)``: corpus-level TextRank keyword scores
    (Mihalcea & Tarau, EMNLP 2004) — the graph-centrality companion to
    ``tfidf_top_terms``'s frequency ranking.

    Pure composition of two existing substrates, which is the point:
    the co-occurrence graph is the adjacent-token pair aggregation
    (window = 2, the paper's default for undirected keyword graphs;
    weight = corpus-wide co-occurrence count), vertex ids are
    ``md5_long(word)`` (oracle-replayable, and a 60-bit key keeps the
    iterative join state narrow at 100 TB instead of shuffling word
    strings every round), and the score loop IS
    ``graph_algos.pagerank(weight_col=...)`` — the shared PageRank
    superstep, one Exchange per iteration on pinned vertex-id layout.
    Scores are independent of id values, so the DuckDB oracle runs the
    SAME unrolled weighted loop keyed by the word string itself.
    Symmetric edges mean no dangling-mass concerns; rank = (1-d) +
    d*sum(in_rank*w/out_w), round-6 on both sides (the g8/g21 float
    contract for iterative double sums).
    """
    from rust_graph_db_spark.functions.hashing import md5_long
    from rust_graph_db_spark.functions.text import tokens
    from rust_graph_db_spark.operators.curation import bigrams
    from rust_graph_db_spark.operators.graph_algos import pagerank

    toks = df.select(tokens(F.col(text_col)).alias("_toks"))
    grams = (toks.where(F.size("_toks") >= 2)
             .select(F.explode(bigrams()).alias("g"))
             .select(F.split("g", " ").getItem(0).alias("x"),
                     F.split("g", " ").getItem(1).alias("y"))
             .where(F.col("y").isNotNull() & (F.col("x") != F.col("y"))))
    und = (grams.select(F.least("x", "y").alias("a"),
                        F.greatest("x", "y").alias("b"))
           .groupBy("a", "b").agg(F.count("*").cast("double").alias("w")))
    dic = (und.select(F.col("a").alias("word"))
           .unionAll(und.select("b")).distinct()
           .select("word", md5_long(F.col("word")).alias("wid")))
    keyed = (und.join(dic.select(F.col("word").alias("a"),
                                 F.col("wid").alias("src")), "a")
             .join(dic.select(F.col("word").alias("b"),
                              F.col("wid").alias("dst")), "b")
             .select("src", "dst", "w"))
    edges = keyed.unionAll(keyed.select(F.col("dst").alias("src"),
                                        F.col("src").alias("dst"), "w"))
    ranks = pagerank(edges, iterations=iterations, damping=damping,
                     weight_col="w")
    return (dic.join(ranks, dic["wid"] == ranks["id"])
            .select("word", F.round("rank", 6).alias("rank")))
