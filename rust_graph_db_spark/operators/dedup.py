"""Deduplication operators for training-data pipelines.

Four families, each designed for the 100 TB shape of the problem:

- **exact**: hash-groupBy on a content digest — one shuffle of 16-byte
  digests instead of full documents.
- **n-gram Jaccard (exact)**: inverted-index similarity join — explode
  shingles, equi-join on shingle, count common per pair. The standard
  exact algorithm; the shuffle carries (shingle, id) pairs, never text.
- **MinHash + LSH**: signature = per-seed min of xxhash64 over shingles,
  banded into buckets; only same-bucket pairs are candidates, then
  candidates are verified with the exact Jaccard. Recall for
  threshold t: 1-(1-t^r)^b (defaults r=4, b=16 → 0.9998 @ t=0.8).
- **SimHash**: 64-bit token-hash sign-aggregate; near-dups = Hamming
  distance ≤ d, found via 4×16-bit band exact-match (any pair within
  Hamming 3 shares at least one of 4 bands — pigeonhole).

Everything is Catalyst expressions (higher-order array functions +
joins); no Python UDFs, no driver-side loops. Candidate generation is
deterministic (fixed hash seeds) so runs are reproducible.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from rust_graph_db_spark.functions.text import shingles, tokens


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition when the input has too few partitions to
    use the cluster (e.g. one small parquet file). CPU-bound per-row
    work (shingling, hashing, signature aggregation) otherwise runs on
    a single core regardless of cluster size. No-op when the source is
    already well-partitioned, so at 100 TB (thousands of input splits)
    this never adds a shuffle.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= max(2, target // 2):
        return df
    return df.repartition(target)


# ------------------------------------------------------------------ exact

def shingle_hash_rows(df: DataFrame, id_col: str, text_col: str,
                      k: int = 5, distinct: bool = True) -> DataFrame:
    """(id, gh) rows: gh = xxhash64 of each k-char shingle.

    The corpus-scale shingling shape: positions are exploded and each
    shingle is substr'd + hashed inside whole-stage codegen. The
    column-expression form (functions.text.shingles → array) walks the
    text in the interpreted higher-order-function evaluator and
    materializes a per-doc string array — measured 2.6× slower before
    the downstream explode. Strings never leave the scan stage here.

    ``distinct=False`` skips the per-(id, gh) dedup shuffle — correct
    whenever every downstream aggregate is duplicate-idempotent (min,
    bit_or, collect_set), which is true for the MinHash signature and
    bitmap paths. At corpus scale that shuffle is the single largest
    cost of the shingle stage; only the exact prefix-filter path (which
    needs true set sizes and document frequencies as row counts) pays
    for it.
    """
    rows = (spread(df)
            .select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
            .select("id",
                    F.explode(F.sequence(
                        F.lit(1),
                        F.greatest(F.length("_t") - (k - 1), F.lit(1))))
                    .alias("_i"), "_t")
            .select("id",
                    F.xxhash64(F.substr(F.col("_t"), F.col("_i"), F.lit(k)))
                    .alias("gh")))
    return rows.distinct() if distinct else rows


def exact_dedup_keep_ids(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Ids that survive exact dedup (min id per identical text).

    Shuffles md5 digests (16 B) rather than document bodies; collision
    probability at 100 TB doc counts (~1e11) is ~1e-17.
    """
    return (df.groupBy(F.md5(F.col(text_col)).alias("_digest"))
              .agg(F.min(id_col).alias(id_col))
              .select(id_col))


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The deduplicated rows themselves (left-semi against kept ids)."""
    return df.join(exact_dedup_keep_ids(df, id_col, text_col),
                   id_col, "left_semi")


def drop_near_dups(docs: DataFrame, pairs: DataFrame,
                   id_col: str = "doc_id",
                   pair_cols=("i", "j")) -> DataFrame:
    """Materialize the near-deduplicated corpus: given a near-dup PAIR
    list (from any modality — MinHash-LSH, SimHash, n-gram Jaccard,
    embedding cosine), keep one representative per duplicate cluster
    (the min member id) plus every unpaired document.

    This is the step that actually shrinks the training set: pair
    graph → connected components (``duplicate_clusters`` — large-star/
    small-star above 500k pairs, so a 100 TB pair graph converges in
    O(log n) rounds) → anti-join the non-representatives out of the
    corpus. The anti-join shuffles ids only; document bodies never
    leave their scan partitions.
    """
    from rust_graph_db_spark.operators.graph_algos import duplicate_clusters

    clusters = duplicate_clusters(pairs, id_cols=pair_cols)
    drops = (clusters.where(F.col("id") != F.col("cluster"))
             .select(F.col("id").alias(id_col)))
    return docs.join(drops, id_col, "left_anti")


def keep_maximal_nondup(docs: DataFrame, pairs: DataFrame,
                        id_col: str = "doc_id",
                        pair_cols=("i", "j"),
                        seed: int = 0) -> DataFrame:
    """Dedup keep-selection that retains MORE data than clustering:
    keep a MAXIMAL INDEPENDENT SET of the near-dup pair graph
    (``graph_algos.maximal_independent_set`` — deterministic Luby)
    plus every unpaired document.

    ``drop_near_dups`` keeps one representative per CONNECTED
    COMPONENT — correct when near-duplication is transitive, but the
    pair relation usually is not (A~B and B~C with A≁C), and a
    component can chain together thousands of documents of which only
    neighbors are actually similar. The MIS rule keeps a set with no
    near-dup PAIR inside it while every dropped doc has a kept near
    neighbor — the maximal data retention consistent with the pair
    evidence. Same shuffle bill as the clustering path: O(log n)
    rounds over the pair graph (ids only), one final anti-join.
    """
    from rust_graph_db_spark.operators.graph_algos import \
        maximal_independent_set

    # degenerate (i, i) pairs are producer noise ("i duplicates
    # itself"), not evidence against keeping i — filtered here so the
    # MIS self-loop rule (self-adjacent => in_mis=false) cannot drop
    # the document
    e = (pairs.select(F.col(pair_cols[0]).alias("u"),
                      F.col(pair_cols[1]).alias("v"))
         .where(F.col("u") != F.col("v")))
    mis = maximal_independent_set(e, seed=seed)
    drops = (mis.where(~F.col("in_mis"))
             .select(F.col("id").alias(id_col)))
    return docs.join(drops, id_col, "left_anti")


def embedding_neardup_counts(
    docs: DataFrame, emb: DataFrame, threshold: float,
    doc_id: str = "doc_id", vec_id: str = "vec_id",
    vec_col: str = "embedding", use_lsh: bool = False,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate detection on a document table:
    (doc_id, n_near) for every document with ≥1 neighbor at cosine ≥
    threshold in the aligned embedding table.

    The fifth dedup modality (exact digest / n-gram Jaccard / MinHash /
    SimHash / embedding cosine): semantic near-dups that share no
    surface n-grams (translations, paraphrases) only fall out of the
    embedding space. ``use_lsh=True`` swaps the exact quadratic pair
    join for hyperplane-LSH bucketing (``similarity.lsh_cosine_pairs``)
    — the 100 TB path; output then UNDERCOUNTS at LSH recall, which is
    the standard trade.
    """
    from rust_graph_db_spark.operators.similarity import (cosine_pairs,
                                                          lsh_cosine_pairs)

    pairs = (lsh_cosine_pairs(emb, threshold, dim=dim,
                              id_col=vec_id, vec_col=vec_col)
             if use_lsh else
             cosine_pairs(emb, threshold, id_col=vec_id, vec_col=vec_col))
    ids = (pairs.select(F.col("i").alias("k"))
           .unionAll(pairs.select(F.col("j").alias("k"))))
    counts = ids.groupBy("k").agg(F.count(F.lit(1)).alias("n_near"))
    return (docs.join(counts, docs[doc_id] == F.col("k"))
            .select(F.col(doc_id), F.col("n_near")))


def chunk_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    chunk_tokens: int = 10,
) -> DataFrame:
    """Sub-document exact dedup at fixed token-chunk granularity —
    the chunk-quantized analog of suffix-array substring dedup
    (Lee et al. 2021, "Deduplicating Training Data Makes Language
    Models Better"): any ``chunk_tokens``-token span that already
    occurred earlier in the corpus (first occurrence = lowest
    (doc_id, position)) is dropped from later documents, and the
    surviving text is reassembled.

    Returns (id, clean_text, n_chunks, n_dropped).

    100 TB shape: the global first-occurrence decision runs on
    (xxhash64(chunk), doc_id, pos) triples — 24 bytes/chunk — via a
    window over the hash; document TEXT never enters a shuffle. The
    dropped (doc_id, pos) list groups per doc (ints only) and joins
    back to the corpus scan, where reassembly filters the in-scan
    chunk array by position. Two narrow shuffles total, both keyed
    small and map-side combinable.
    """
    c = int(chunk_tokens)
    toks = F.split(F.col(text_col), r"\s+")
    n_chunks = F.ceil(F.size(toks) / F.lit(c)).cast("int")
    chunk_arr = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * c + 1, c)))
    base = df.select(F.col(id_col).alias("id"),
                     chunk_arr.alias("chunks"))

    from pyspark.sql import Window

    occ = base.select(
        "id", F.posexplode("chunks").alias("pos", "chunk")
    ).select("id", "pos", F.xxhash64("chunk").alias("h"))
    w = Window.partitionBy("h").orderBy("id", "pos")
    drops = (occ.withColumn("rn", F.row_number().over(w))
             .where(F.col("rn") > 1)
             .groupBy("id")
             .agg(F.collect_set("pos").alias("drop_pos")))
    joined = base.join(drops, "id", "left")
    kept = F.filter(
        F.transform(F.col("chunks"),
                    lambda ch, i: F.when(
                        F.col("drop_pos").isNull()
                        | ~F.array_contains("drop_pos", i), ch)),
        lambda x: x.isNotNull())
    return joined.select(
        F.col("id").alias(id_col),
        F.concat_ws(" ", kept).alias("clean_text"),
        F.size("chunks").cast("long").alias("n_chunks"),
        F.coalesce(F.size("drop_pos"), F.lit(0)).cast("long")
         .alias("n_dropped"))


def _token_base(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, _toks): the filtered whitespace-token arrays — built ONCE
    per exact-substring call and reused by every consumer (window
    hashing, token explode, n_tokens), so the corpus scan+tokenize
    (the dominant per-row cost) does not run three times."""
    from rust_graph_db_spark.functions.text import tokens

    return (spread(df)
            .select(F.col(id_col).alias("id"),
                    F.filter(tokens(F.col(text_col)),
                             lambda x: x != F.lit("")).alias("_toks")))


def _window_hashes(base: DataFrame, k: int,
                   hash_mode: str = "xxhash") -> DataFrame:
    """(id, pos, gh): one row per sliding k-token window of a
    ``_token_base`` frame — the shared substrate of
    :func:`duplicate_token_spans` and ``curation.split_leakage``.
    xxhash mode hashes the 8·k-byte token-hash slice; md5 mode hashes
    the joined window text (the oracle-replayable form)."""
    from rust_graph_db_spark.functions.hashing import md5_key, md5_long

    kk = int(k)
    if hash_mode == "md5":
        win = F.expr(
            f"transform(sequence(1, size(_toks) - {kk - 1}),"
            f" i -> array_join(slice(_toks, i, {kk}), ' '))")
        return (base.where(F.size("_toks") >= kk)
                .select("id", F.posexplode(win).alias("pos", "g"))
                .select("id", "pos",
                        md5_long(md5_key(F.lit("ess"), F.col("g")))
                        .alias("gh")))
    win = F.expr(
        f"transform(sequence(1, size(_th) - {kk - 1}),"
        f" i -> xxhash64(slice(_th, i, {kk})))")
    return (base.where(F.size("_toks") >= kk)
            .withColumn("_th", F.expr(
                "transform(_toks, t -> xxhash64(t))"))
            .select("id", F.posexplode(win).alias("pos", "gh")))


def duplicate_token_spans(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text", k: int = 50,
                          hash_mode: str = "xxhash",
                          base: DataFrame | None = None) -> DataFrame:
    """(id, start, end): merged token-position intervals (0-based,
    half-open) covering every SLIDING k-token window whose content
    occurs elsewhere in the corpus — minus the canonical first
    occurrence (lowest ``(doc_id, position)``) of each distinct
    window, which is kept. The relational equivalent of suffix-array
    exact-substring dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better"): repeated ≥k-token spans are
    found as runs of repeated k-grams, and overlapping/adjacent
    windows merge into maximal spans (gaps-and-islands).

    ``chunk_dedup`` quantizes spans to fixed chunk boundaries; this is
    the exact sliding-window version — a span repeated at ANY offset
    is caught.

    ``hash_mode="md5"`` swaps xxhash64 for the cross-engine md5 hash
    (``functions/hashing.md5_long``) so an SQL oracle can replay every
    window key bit-identically; the production default stays xxhash64
    (JVM-codegen, no hex round-trip).

    100 TB shape: one explode produces (id, pos, window-hash) triples
    — 24 bytes each, text never shuffles; one groupBy(hash) finds the
    canonical occurrence; interval merge is a per-document window
    (partition key = doc id, no global sort). The production
    (xxhash64) path hashes each TOKEN to a long once — O(n) string
    bytes — then hashes the k-long slice per window (Spark's hash
    functions accept arrays), so the O(n·k) inner loop runs over
    exactly 8·k bytes per position REGARDLESS of token length
    (URLs/CJK tokens don't widen it); measured ~1.2× over hashing
    joined window strings at 6-char tokens, 2M docs, k=50 (22M
    windows: 7.5 s → 5.9 s). Equality structure is preserved (equal
    windows ⇒ equal token-hash sequences). The md5 mode hashes the
    joined window text directly — the oracle-replayable form. 64/60-bit
    window-hash collisions first appear around 2^30 distinct windows
    per corpus; Lee et al.'s verify pass applies unchanged if that
    bound is reached.
    """
    from pyspark.sql import Window

    if base is None:
        base = _token_base(df, id_col, text_col)
    occ = _window_hashes(base, k, hash_mode)
    w = Window.partitionBy("gh").orderBy("id", "pos")
    rem = (occ.withColumn("rn", F.row_number().over(w))
           .where(F.col("rn") > 1)
           .select("id", "pos", (F.col("pos") + int(k)).alias("e")))
    # gaps-and-islands interval merge per document: a window starts a
    # new island iff it begins past every previous window's end
    dw = Window.partitionBy("id").orderBy("pos")
    prev_end = F.max("e").over(dw.rowsBetween(Window.unboundedPreceding, -1))
    isl = (rem.withColumn(
               "brk", F.when(prev_end.isNull()
                             | (F.col("pos") > prev_end), 1).otherwise(0))
           .withColumn("grp", F.sum("brk").over(
               dw.rowsBetween(Window.unboundedPreceding, 0))))
    return (isl.groupBy("id", "grp")
            .agg(F.min("pos").alias("start"), F.max("e").alias("end"))
            .select("id", "start", "end"))


def exact_substring_dedup(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text", k: int = 50,
                          hash_mode: str = "xxhash") -> DataFrame:
    """The corpus after exact-substring removal: every duplicated
    ≥k-token span (see :func:`duplicate_token_spans`) is cut from all
    occurrences except the corpus-first one, and the surviving tokens
    are reassembled in order. Returns
    ``(id_col, n_tokens, n_removed, text_clean)`` — counts are over
    whitespace tokens; ``text_clean`` is single-space normalized.

    Removal joins the covered positions (ints) against the token
    stream and re-aggregates per document — the only stage that
    carries tokens is the per-document rebuild, which groups on the
    document id (same partitioning the scan already has after the
    explode). Documents without removals pass through unchanged.

    The filtered token arrays are built once and ``localCheckpoint``
    -pinned: span detection, the token explode, and the n_tokens side
    all read the pinned frame, so the corpus is scanned+tokenized one
    time instead of three (one materialization ≈ corpus token bytes —
    cheaper than two extra scan+regex-split passes). The per-token
    rebuild (posexplode → anti-join → sorted collect_list) runs ONLY
    for documents that actually lost a span — untouched documents
    pass through as a direct in-scan ``array_join`` — so its cost
    scales with the duplicated fraction, not the corpus. (At the 2M-doc
    rehearsal the wall-clock is dominated by the token-array checkpoint
    and window hashing either way — the semi-join gate is a plan-shape
    guarantee for corpora where the duplicated fraction is small but
    the corpus is not.)
    """
    base = _token_base(df, id_col, text_col).localCheckpoint(eager=True)
    spans = duplicate_token_spans(df, id_col, text_col, k, hash_mode,
                                  base=base)
    cov = spans.select(
        "id", F.explode(F.sequence("start", F.col("end") - 1))
        .alias("pos"))
    hit = cov.select("id").distinct()
    untouched = (base.join(hit, "id", "left_anti")
                 .select("id",
                         F.size("_toks").cast("long").alias("n_tokens"),
                         F.lit(0).cast("long").alias("n_removed"),
                         F.array_join("_toks", " ").alias("text_clean")))
    touched_base = base.join(hit, "id", "left_semi")
    tok = touched_base.select("id",
                              F.posexplode("_toks").alias("pos", "tok"))
    kept = tok.join(cov, ["id", "pos"], "left_anti")
    rebuilt = (kept.groupBy("id")
               .agg(F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.struct("pos", "tok"))),
                            lambda s: s["tok"]), " ").alias("text_clean"),
                    F.count(F.lit(1)).alias("_kept")))
    touched = (touched_base
               .select("id", F.size("_toks").cast("long")
                       .alias("n_tokens"))
               .join(rebuilt, "id", "left")
               .select("id", "n_tokens",
                       (F.col("n_tokens")
                        - F.coalesce("_kept", F.lit(0))).cast("long")
                       .alias("n_removed"),
                       F.coalesce("text_clean", F.lit(""))
                       .alias("text_clean")))
    return (untouched.unionByName(touched)
            .withColumnRenamed("id", id_col))


# ------------------------------------------------ paragraph-level dedup

def paragraph_dedup(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", sep: str = "\n\n",
                    min_chars: int = 0,
                    hash_mode: str = "xxhash") -> DataFrame:
    """(id_col, n_paras, n_removed, text_clean): the corpus after
    exact PARAGRAPH dedup — every paragraph (split on ``sep``) that
    occurs elsewhere in the corpus is removed from all but its
    corpus-first occurrence (lowest (doc id, position)), and each
    document's surviving paragraphs are rejoined in order. The
    RefinedWeb/MassiveWeb recipe's segment-level stage (Penedo et al.
    2023; Rae et al. 2021 — both public): between document-level
    exact dedup (d1) and sliding-window substring dedup (d13) in
    granularity, and the cheapest of the three that still kills
    boilerplate headers/footers repeated across a site's pages.

    Paragraphs shorter than ``min_chars`` are EXEMPT from removal
    (never dropped, never claim a first-occurrence slot): one-word
    headings like "Introduction" repeat legitimately.

    ``hash_mode="md5"`` uses the cross-engine hash so an SQL oracle
    replays the keep/drop decisions bit-identically (the paragraph
    hash IS the decision key; production default xxhash64).

    100 TB shape: one split+posexplode per doc → (id, pos, hash64)
    rows — paragraph text never shuffles (the hash is computed inside
    the scan); one row_number window keyed on the hash finds
    first occurrences; the rebuild groups by document id. Same
    skeleton as d13 minus the sliding windows and interval merge.
    """
    import re as _re

    from rust_graph_db_spark.functions.hashing import md5_key, md5_long

    # sep is LITERAL (regex-escaped) — the SQL twin's string_split is
    # non-regex, so both engines segment identically
    paras = F.split(F.col(text_col), _re.escape(sep))
    base = (spread(df)
            .select(F.col(id_col).alias("id"),
                    F.posexplode(paras).alias("pos", "para")))
    if hash_mode == "md5":
        ph = md5_long(md5_key(F.lit("pd"), F.col("para")))
    else:
        ph = F.xxhash64("para")
    hashed = base.select(
        "id", "pos", "para",
        F.when(F.length("para") >= int(min_chars), ph).alias("ph"))
    w = Window.partitionBy("ph").orderBy("id", "pos")
    marked = hashed.withColumn(
        "keep", F.col("ph").isNull()         # exempt: always kept
        | (F.row_number().over(w) == 1))
    agg = (marked.groupBy("id")
           .agg(F.count(F.lit(1)).cast("long").alias("n_paras"),
                F.count_if(~F.col("keep")).cast("long")
                .alias("n_removed"),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(
                            F.when(F.col("keep"),
                                   F.struct("pos", "para")))),
                        lambda s: s["para"]), sep).alias("text_clean")))
    return agg.withColumnRenamed("id", id_col)


# ----------------------------------------- winnowing fingerprints (MOSS)

def winnow_fingerprints(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 3,
                        window: int = 4,
                        hash_mode: str = "xxhash") -> DataFrame:
    """(id_col, pos, fp): winnowed document fingerprints — the MOSS
    local fingerprinting scheme (Schleimer, Wilkerson & Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD 2003, public). Hash every k-token gram (the
    :func:`_window_hashes` substrate d13 uses), slide a window of
    ``window`` consecutive gram hashes, and select each window's
    minimum — rightmost position on ties, per the paper — then
    de-duplicate selections. Guarantees: any shared token run of
    length ≥ k + window - 1 yields at least one shared fingerprint
    (the paper's detection guarantee), and fingerprint density is
    ~2/(window+1) of positions — a tunable sketch of the document
    that, unlike MinHash, carries POSITIONS, so matches localize.

    Documents with at least one gram but fewer than ``window`` grams
    select the minimum over all their grams (one degenerate window),
    so every document of ≥ k tokens fingerprints.

    ``hash_mode="md5"`` swaps in the cross-engine hash so an SQL
    oracle replays every selection bit-identically.

    100 TB shape: the gram explode carries (id, pos, int64) rows —
    text never shuffles; selection is a bounded-frame window function
    partitioned BY DOCUMENT (no global sort, no shuffle beyond the
    doc-id hash the explode already induced); the distinct is
    per-document too. Output is ~2/(window+1) of token positions —
    the downstream index is a small fraction of corpus size.
    """
    w = int(window)
    if w < 1:
        raise ValueError("winnow_fingerprints: window must be >= 1")
    base = _token_base(df, id_col, text_col)
    occ = _window_hashes(base, k, hash_mode)
    dw = Window.partitionBy("id").orderBy("pos")
    frame = dw.rowsBetween(Window.currentRow, w - 1)
    n = F.count(F.lit(1)).over(
        dw.rowsBetween(Window.unboundedPreceding,
                       Window.unboundedFollowing))
    # min over (gh, -pos) = smallest hash, rightmost position on ties
    sel = (occ.withColumn("_m", F.min(
               F.struct(F.col("gh"), (-F.col("pos")).alias("np")))
               .over(frame))
           .withColumn("_n", n)
           .where(F.col("pos") <= F.greatest(F.col("_n") - w, F.lit(0)))
           .select("id", (-F.col("_m.np")).alias("pos"),
                   F.col("_m.gh").alias("fp"))
           .distinct())
    return (sel.withColumnRenamed("id", id_col)
            .select(id_col, "pos", "fp"))


def winnow_candidate_pairs(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", k: int = 3,
                           window: int = 4, min_shared: int = 2,
                           hash_mode: str = "xxhash",
                           max_df: int | None = None) -> DataFrame:
    """(i, j, shared): document pairs (i < j) sharing at least
    ``min_shared`` winnowed fingerprint VALUES, with the shared
    count — MOSS's candidate-generation join. Because winnowing is
    local, a plagiarized/duplicated passage of ≥ k + window - 1
    tokens is guaranteed to contribute a shared fingerprint, while
    the index is ~2/(window+1) the size of the full k-gram table
    d2/d10 join on.

    Scale: inverted-index self-join on the 8-byte fingerprint value.
    A fingerprint shared by f documents expands to f·(f-1)/2 pairs —
    the same hot-bucket shape as LSH band joins. ``max_df`` is the
    paper's prescribed mitigation (stop-gram removal): fingerprints
    carried by MORE than ``max_df`` documents are dropped before the
    self-join — one document-frequency window over the fingerprint
    table bounds every bucket's fan-out to max_df·(max_df-1)/2. A
    boilerplate gram shared corpus-wide stops being (quadratic)
    evidence of anything; real matches rest on their rarer grams."""
    fps = (winnow_fingerprints(df, id_col, text_col, k, window,
                               hash_mode)
           .select(F.col(id_col).alias("_id"), "fp").distinct())
    if max_df is not None:
        from pyspark.sql import Window as _W

        dfreq = F.count(F.lit(1)).over(_W.partitionBy("fp"))
        fps = (fps.withColumn("_df", dfreq)
               .where(F.col("_df") <= int(max_df)).drop("_df"))
    a = fps.select(F.col("_id").alias("i"), "fp")
    b = fps.select(F.col("_id").alias("j"), "fp")
    return (a.join(b, "fp")
            .where(F.col("i") < F.col("j"))
            .groupBy("i", "j")
            .agg(F.count(F.lit(1)).cast("long").alias("shared"))
            .where(F.col("shared") >= int(min_shared)))


def containment_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 5, threshold: float = 0.8,
) -> DataFrame:
    """All pairs (i < j) whose k-shingle CONTAINMENT
    ``|A∩B| / min(|A|, |B|)`` ≥ threshold — exact. Catches the case
    Jaccard structurally misses: a short document embedded verbatim
    inside a much longer one (quote farms, concatenated crawls),
    where the union in Jaccard's denominator dilutes the score.

    Shares the Jaccard join's substrate and auto-switch
    (``_exact_set_pairs``); the sparse path uses the containment
    adaptation of the PPJoin prefix filter — since the intersection
    must cover ≥ t·|S_min| of the smaller side, the smaller side must
    share a shingle within its ``sz - ceil(t*sz) + 1`` rarest
    shingles, so only that prefix of EACH doc joins against the full
    inverted index. All shuffles carry 8-byte hashes + ids; text
    never leaves the scan.
    """
    out = _exact_set_pairs(df, id_col, text_col, k, threshold, "containment")
    return out.select("i", "j", F.round("cont", 6).alias("cont"))


# ------------------------------------------------- exact n-gram Jaccard join

def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str,
    k: int = 5, threshold: float = 0.5,
) -> DataFrame:
    """All pairs (i < j) with k-shingle Jaccard ≥ threshold — exact.

    Two regimes, auto-switched on n²·vocab (see ``_exact_set_pairs``):

    1. **Dense** (small vocabulary — templated/synthetic corpora where
       every pair shares tokens and candidate pruning cannot help):
       blocked all-pairs bit-matrix product, BLAS-vectorized per tile.
    2. **Sparse** (the corpus-scale shape): PPJoin-style prefix
       filtering (Xiao et al. WWW'08) — order each doc's shingles by
       ascending global doc-frequency; a pair with J ≥ t must share a
       token within the first ``sz - ceil(t*sz) + 1`` tokens of each
       side, so only that prefix enters the inverted-index self-join —
       then exact ``array_intersect`` verification on the surviving
       candidates only.

    The naive variant (join ALL shingle occurrences, count per pair)
    shuffles Σ df(g)² rows — 1.5e9 on the sf0.1 corpus; this plan cuts
    that to the prefix-candidate set. Neither path materializes a
    global vocabulary structure (the dense tiles build per-tile local
    dictionaries), so there is no vocab-fits-in-memory constraint —
    corpora beyond the dense budget stream through the prefix filter.

    Returns (i, j, jac), jac exact.
    """
    return _exact_set_pairs(df, id_col, text_col, k, threshold, "jaccard")


def _shingle_sets(df: DataFrame, id_col: str, text_col: str, k: int):
    """Shared set-similarity substrate: per-doc DISTINCT hashed-shingle
    arrays with exact set size. Returns (sets, n_docs, vocab_est).

    One codegen'd scan (explode + substr + xxhash64 — strings never
    leave the scan stage) feeds a single collect_set aggregation; set
    sizes are array sizes, and the regime-switch statistics (doc and
    vocabulary cardinality) ride the same pass as approx_count_distinct
    sketches merged map-side. No dictionary encoding, no global bitmap:
    the shuffle carries (id, 8-byte hash) rows only.
    """
    rows = shingle_hash_rows(df, id_col, text_col, k, distinct=False)
    sets = (rows.groupBy("id")
            .agg(F.collect_set("gh").alias("sh"))
            .withColumn("sz", F.size("sh"))
            .localCheckpoint(eager=True))
    stats = (sets.select("id", F.explode("sh").alias("gh"))
             .agg(F.approx_count_distinct("id", rsd=0.02).alias("n"),
                  F.approx_count_distinct("gh", rsd=0.05).alias("v"))
             .first())
    return sets, int(stats["n"]), int(stats["v"])


# Dense-regime work budget for the exact all-pairs paths: the blocked
# matmul performs exactly n²·vocab multiply-adds, so the switch compares
# that product against a few seconds of BLAS on one executor. Module
# constant so tests can force the sparse branch on small corpora.
DENSE_PAIRS_BUDGET = 2e12


def _exact_set_pairs(df: DataFrame, id_col: str, text_col: str,
                     k: int, threshold: float, measure: str) -> DataFrame:
    """Exact all-pairs set similarity (jaccard | containment) over
    k-shingle sets, auto-switching between the dense blocked-matrix
    product and the sparse prefix-filter + verify plan on the
    n²·vocab work estimate (the dense tile cost is exactly that many
    multiply-adds; 2e12 ≈ a few seconds of BLAS across one executor's
    cores, and the budget scales with nothing else)."""
    from pyspark.sql import Window

    sets, n_docs, vocab_est = _shingle_sets(df, id_col, text_col, k)
    col = "jac" if measure == "jaccard" else "cont"
    if float(n_docs) * n_docs * vocab_est <= DENSE_PAIRS_BUDGET:
        return _pairs_dense_tiles(sets, threshold, measure)

    # ---- sparse scale path: PPJoin prefix filter for candidates.
    # Document frequencies and per-doc sizes are row counts over the
    # DISTINCT occurrence rows, re-derived from the checkpointed sets
    # (cheaper than a corpus-wide (id, gh) distinct shuffle).
    inv = sets.select("id", "sz", F.explode("sh").alias("gh"))
    dfreq = inv.groupBy("gh").agg(F.count("*").alias("dfreq"))
    ranked = (inv.join(dfreq, "gh")
              .withColumn("rn", F.row_number().over(
                  Window.partitionBy("id").orderBy("dfreq", "gh"))))
    prefix = ranked.where(
        F.col("rn") <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1)
    if measure == "jaccard":
        # J ≥ t ⇒ both sides must hit within their own prefix
        a, b = prefix.alias("a"), prefix.alias("b")
        cand = (a.join(b, (F.col("a.gh") == F.col("b.gh"))
                       & (F.col("a.id") < F.col("b.id")))
                .select(F.col("a.id").alias("i"), F.col("b.id").alias("j"))
                .dropDuplicates(["i", "j"]))
    else:
        # containment bounds only the SMALLER side's prefix, so each
        # doc's prefix joins against the full inverted index
        cand = (prefix.alias("a")
                .join(ranked.alias("b"), (F.col("a.gh") == F.col("b.gh"))
                      & (F.col("a.id") != F.col("b.id")))
                .select(F.least("a.id", "b.id").alias("i"),
                        F.greatest("a.id", "b.id").alias("j"))
                .dropDuplicates(["i", "j"]))

    # ---- exact verification on survivors only: join the shingle
    # arrays back (semi-joined to candidate ids, byte-gated broadcast —
    # the same discipline as the MinHash verify stage) and intersect.
    cand = cand.localCheckpoint(eager=True)
    cand_ids = (cand.select(F.col("i").alias("id"))
                .unionAll(cand.select(F.col("j").alias("id"))).distinct())
    docs = sets.join(cand_ids, "id", "left_semi")
    est_bytes = (docs.agg((F.sum("sz") * 8 +
                           F.count(F.lit(1)) * 16).alias("b"))
                 .first()["b"]) or 0
    hint = F.broadcast if est_bytes <= 64 * 1024 * 1024 else (lambda d: d)
    sha = docs.select(F.col("id").alias("i"), F.col("sh").alias("sha"),
                      F.col("sz").alias("sa"))
    shb = docs.select(F.col("id").alias("j"), F.col("sh").alias("shb"),
                      F.col("sz").alias("sb"))
    inter = F.size(F.array_intersect("sha", "shb"))
    score = (inter / (F.col("sa") + F.col("sb") - inter)
             if measure == "jaccard" else inter / F.least("sa", "sb"))
    return (cand.join(hint(sha), "i").join(hint(shb), "j")
            .withColumn(col, score)
            .where(F.col(col) >= threshold)
            .select("i", "j", col))


def _pairs_dense_tiles(sets: DataFrame, threshold: float,
                       measure: str = "jaccard") -> DataFrame:
    """Exact all-pairs set similarity over per-doc shingle-hash arrays
    via blocked matrix multiplication. ``measure``: "jaccard"
    (|∩|/|∪|, output column ``jac``) or "containment"
    (|∩|/min(|A|,|B|), output column ``cont``).

    Docs are hashed into √(2·parallelism) blocks; every block *pair*
    becomes one ``applyInPandas`` group that builds a PER-TILE dense
    dictionary (np.unique over the tile's hashes — no global
    vocabulary structure exists anywhere), scatters each doc's set
    into a 0/1 float32 row, and takes ``A @ B.T`` — exact
    intersection counts (set sizes « 2²⁴, so float32 is exact),
    BLAS-vectorized, one task per tile pair. The standard scalable
    shape for all-pairs similarity when candidate pruning cannot help
    (dense vocabularies): shuffle cost is n·k rows for k²/2 tiles,
    and each tile computation is embarrassingly parallel.
    """
    import numpy as np
    import pandas as pd

    spark = sets.sparkSession
    k = max(2, int((2 * spark.sparkContext.defaultParallelism) ** 0.5))
    tagged = sets.withColumn(
        "blk", F.pmod(F.xxhash64("id"), F.lit(k)).cast("int"))
    blk_pairs = spark.createDataFrame(
        [(a, b) for a in range(k) for b in range(a, k)], "ba INT, bb INT")
    work = blk_pairs.join(
        tagged, (F.col("blk") == F.col("ba")) | (F.col("blk") == F.col("bb")))

    thr = float(threshold)
    col = "jac" if measure == "jaccard" else "cont"

    def tile(pdf: pd.DataFrame) -> pd.DataFrame:
        ba, bb = int(pdf["ba"].iloc[0]), int(pdf["bb"].iloc[0])
        same = ba == bb
        A = pdf if same else pdf[pdf["blk"] == ba]
        B = pdf if same else pdf[pdf["blk"] == bb]
        if A.empty or B.empty:
            return pd.DataFrame({"i": [], "j": [], col: []})

        arrs = [np.asarray(a, dtype=np.int64) for a in pdf["sh"]]
        uniq = np.unique(np.concatenate(arrs)) if arrs else np.array([], np.int64)

        def densify(part: pd.DataFrame) -> np.ndarray:
            vals = [np.asarray(a, dtype=np.int64) for a in part["sh"]]
            lens = np.fromiter((len(v) for v in vals), dtype=np.int64,
                               count=len(vals))
            rows = np.repeat(np.arange(len(vals)), lens)
            cols = np.searchsorted(uniq, np.concatenate(vals) if vals
                                   else np.array([], np.int64))
            M = np.zeros((len(vals), len(uniq)), dtype=np.float32)
            M[rows, cols] = 1.0
            return M

        M = densify(A) @ densify(B).T                    # |A_i ∩ B_j|
        sa = A["sz"].to_numpy()[:, None]
        sb = B["sz"].to_numpy()[None, :]
        if measure == "jaccard":
            score = M / (sa + sb - M)
        else:
            score = M / np.minimum(sa, sb)
        ii, jj = np.where(score >= thr)
        ai = A["id"].to_numpy()[ii]
        bj = B["id"].to_numpy()[jj]
        lo, hi = np.minimum(ai, bj), np.maximum(ai, bj)
        keep = lo < hi                                    # drop self-pairs
        out = pd.DataFrame({"i": lo[keep], "j": hi[keep],
                            col: score[ii, jj][keep]})
        return out.drop_duplicates(["i", "j"]) if same else out

    return (work.groupBy("ba", "bb")
            .applyInPandas(tile, f"i LONG, j LONG, {col} DOUBLE"))


# --------------------------------------------------------------- MinHash/LSH

def minhash_signature(text: Column, num_hashes: int = 64, k: int = 5) -> Column:
    """ARRAY<LONG> of per-seed minima of xxhash64 over the k-shingles."""
    sh = shingles(text, k)
    return F.array(*[
        F.array_min(F.transform(sh, lambda x, s=s: F.xxhash64(F.lit(s), x)))
        for s in range(num_hashes)
    ])


def _minhash_sig(df: DataFrame, id_col: str, text_col: str,
                 num_hashes: int, k: int,
                 hash_mode: str = "xxhash",
                 checkpoint_rows: bool = True,
                 checkpoint_sig: bool = True):
    """(rows, sig): the checkpointed (id, gh) shingle-hash occurrence
    rows and the (id, m0..m{n-1}) MinHash signature frame.

    Signature via explode + num_hashes min-aggregates: one pass over
    (doc, shingle) rows through a codegen'd hash aggregate. The
    column-expression form (minhash_signature) re-walks the shingle
    array once per seed in the interpreted HOF evaluator — ~30×
    slower at corpus scale; keep it for single-column use only.
    Seed family: h_s = (h1 + s·h2) mod 2³² from two base hashes — two
    hash evaluations per shingle instead of num_hashes, with the
    multiply-add folded into codegen. The mod-2³² wraparound is
    load-bearing: without it the un-wrapped sum is dominated by s·h2
    for large s, the seeds stop acting like independent permutations,
    and MinHash agreement collapses (measured 0.36 agreement on a
    0.96-Jaccard pair). Base hashes are masked to 32 bits so
    h1 + 63·h2 ≤ 2³⁸ never overflows a long under ANSI arithmetic;
    2³² hash space is ample for per-document shingle sets (min of
    ~10³ draws). mod 2³² on the non-negative sum is a bitmask — one
    AND per evaluation instead of pmod's divide.

    ``hash_mode="md5"`` derives gh and h2 from the cross-engine md5
    construction (``functions/hashing``) so an SQL oracle replays the
    signature — and hence the band buckets — bit-identically; the
    production default stays xxhash64.

    Serialized storage is load-bearing at scale: rows is ~#chars
    rows of (id, gh) pairs, and the checkpoint default
    (MEMORY_AND_DISK_DESER) caches them as Java objects at ~10× their
    16-byte payload — measured ~120 GB of MemoryStore pressure for a
    2M-doc rehearsal corpus (scripts/scale_rehearsal.py) vs a few GB
    serialized (MEMORY_AND_DISK is the serialized level in Spark 4).
    Downstream passes re-read it; pair deserialization is trivially
    cheaper than recomputing the substring+hash scan.
    """
    from pyspark import StorageLevel

    if hash_mode == "md5":
        from rust_graph_db_spark.functions.hashing import md5_key, md5_long

        rows = (spread(df)
                .select(F.col(id_col).alias("id"),
                        F.col(text_col).alias("_t"))
                .select("id",
                        F.explode(F.sequence(
                            F.lit(1),
                            F.greatest(F.length("_t") - (k - 1), F.lit(1))))
                        .alias("_i"), "_t")
                .select("id", md5_long(md5_key(
                    F.lit("mh"),
                    F.substr(F.col("_t"), F.col("_i"), F.lit(k))))
                    .alias("gh")))
        h2 = md5_long(md5_key(F.lit(1), F.col("gh")))
    else:
        rows = shingle_hash_rows(df, id_col, text_col, k, distinct=False)
        h2 = F.xxhash64(F.lit(1), F.col("gh"))
    # the checkpoint exists for minhash_lsh_pairs' THREE consumers
    # (signature + both verify sides); single-consumer callers
    # (minhash_band_buckets) skip it — paying a full write+read of the
    # ~#chars (id, gh) frame to feed one aggregate is pure overhead,
    # and inside a streaming foreachBatch the pinned blocks would
    # accumulate every micro-batch
    if checkpoint_rows:
        rows = rows.localCheckpoint(
            eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK)
    m32 = F.lit(0xFFFFFFFF)
    inv = rows.select("id", "gh",
                      F.col("gh").bitwiseAND(m32).alias("h1"),
                      h2.bitwiseAND(m32).alias("h2"))
    # NB: do NOT fold the verify-path collect_set into this aggregate —
    # a single typed agg (collect_set) demotes the whole HashAggregate
    # to ObjectHashAggregate and the 64 min() columns fall out of
    # whole-stage codegen (measured 3.2s → 6s). Two codegen'd passes
    # over the checkpointed rows beat one interpreted pass.
    sig = inv.groupBy("id").agg(
        *[F.min((F.col("h1") + F.lit(s) * F.col("h2")).bitwiseAND(m32))
           .alias(f"m{s}")
          for s in range(num_hashes)])
    # same ≥2-consumers rule as checkpoint_rows: minhash_lsh_pairs
    # reads sig three times (bucket explode + both verify sides), but
    # minhash_band_buckets feeds ONE band explode — pinning there paid
    # a full materialization job per call for nothing (twice per d15
    # run, once per w13 micro-batch) (r7)
    if checkpoint_sig:
        sig = sig.localCheckpoint(eager=True)
    return rows, sig


def _band_buckets(sig: DataFrame, num_hashes: int, bands: int,
                  hash_mode: str = "xxhash") -> DataFrame:
    """(id, band, bucket) from a signature frame: r = num_hashes/bands
    consecutive minima hash into one bucket key per band. md5 mode
    hashes the colon-joined (b, band, m...) string — the SQL-
    replayable form."""
    r = num_hashes // bands

    def _bucket(b_):
        cols = [F.col(f"m{b_ * r + i}") for i in range(r)]
        if hash_mode == "md5":
            from rust_graph_db_spark.functions.hashing import (md5_key,
                                                               md5_long)

            return md5_long(md5_key(F.lit("b"), F.lit(b_), *cols))
        return F.xxhash64(*cols)

    band_cols = F.array(*[
        F.struct(F.lit(b_).alias("band"), _bucket(b_).alias("bucket"))
        for b_ in range(bands)
    ])
    return (sig.select("id", F.explode(band_cols).alias("bb"))
            .select("id", F.col("bb.band").alias("band"),
                    F.col("bb.bucket").alias("bucket")))


def minhash_band_buckets(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text", num_hashes: int = 32,
                         bands: int = 8, k: int = 5,
                         hash_mode: str = "xxhash") -> DataFrame:
    """(id, band, bucket): each document's LSH band-bucket keys — the
    16-byte-per-band unit of near-dup evidence. Two docs sharing ANY
    (band, bucket) are near-dup candidates at the banding design
    point (P[share ≥ 1 band] = 1-(1-J^r)^b). This is the state key
    ``streaming.stream_neardup_dedup`` persists across micro-batches.
    """
    _, sig = _minhash_sig(df, id_col, text_col, num_hashes, k, hash_mode,
                          checkpoint_rows=False, checkpoint_sig=False)
    return _band_buckets(sig, num_hashes, bands, hash_mode)


def minhash_lsh_pairs(
    df: DataFrame, id_col: str, text_col: str,
    num_hashes: int = 64, bands: int = 16, k: int = 5,
    threshold: float = 0.5, verify: bool = True,
) -> DataFrame:
    """Near-dup pairs via banded MinHash, optionally verified exactly.

    rows-per-band r = num_hashes // bands; candidate pairs share at
    least one band bucket. With verify=True the output equals the exact
    Jaccard join restricted to LSH candidates (recall 1-(1-t^r)^b).
    Returns (i, j, jac) — jac is the exact value when verified.
    """
    # Shingles are hashed to longs immediately (see _minhash_sig for
    # the seed family, storage-level, and codegen notes): signature,
    # bucket, and verification paths never touch strings again, and
    # the vocabulary is never materialized — the property that makes
    # MinHash the 100 TB-scale dedup path. Occurrence rows are NOT
    # deduplicated: the signature min and the collect_set below are
    # duplicate-idempotent, so the per-(id, gh) distinct shuffle (the
    # largest cost of the shingle stage) is skipped entirely.
    # checkpoint_rows=verify: the rows checkpoint exists for the two
    # VERIFY consumers; with verify=False the signature aggregate is
    # the frame's only reader and pinning it is pure storage cost —
    # ~#chars×16 B of block-manager disk, measured FATAL at 10M docs
    # on a 90 GB-free box (SCALE.md §16: "No space left on device"
    # inside the checkpoint put, while the unpinned form runs in
    # ordinary time).
    rows, sig = _minhash_sig(df, id_col, text_col, num_hashes, k,
                             checkpoint_rows=verify)
    buckets = _band_buckets(sig, num_hashes, bands)
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("i"), F.col("b.id").alias("j"))
        .dropDuplicates(["i", "j"])
    )
    if not verify:
        return cand.select("i", "j")
    # Two-stage verification. Banding is intentionally permissive (r=4
    # keeps recall at the threshold high), so the candidate set is
    # dominated by sub-threshold pairs — on templated corpora we measure
    # ~1000 false candidates per true pair. Stage 1 estimates Jaccard
    # from the already-computed signatures (num_hashes long-compares per
    # pair, codegen'd) and keeps pairs with estimate ≥ threshold-0.25 —
    # a 4σ margin at 64 hashes (σ = √(t(1-t)/n) ≈ 0.06), so a true pair
    # slips through with P ≈ 3e-5 while ~97% of false candidates drop
    # before stage 2. Stage 2 joins the shingle arrays for survivors
    # only and computes exact Jaccard.
    est_cut = max(0.0, threshold - 0.25)
    # Size-driven join strategy: the per-doc side of both verify joins
    # (signatures: 8·num_hashes B/row; shingle arrays: ~8·|sh| B/row)
    # is broadcast when the corpus is small enough that shipping it to
    # every executor beats shuffling the (much larger) candidate set.
    # At 100 TB doc counts the hints are skipped and these are plain
    # shuffle hash joins — still carrying ~500 B signatures instead of
    # multi-KB arrays for the dominant (pre-filter) join.
    n_docs = sig.count()
    hint = F.broadcast if n_docs <= 200_000 else (lambda d: d)
    siga = sig.select(F.col("id").alias("i"),
                      *[F.col(f"m{s}").alias(f"_a{s}") for s in range(num_hashes)])
    sigb = sig.select(F.col("id").alias("j"),
                      *[F.col(f"m{s}").alias(f"_b{s}") for s in range(num_hashes)])
    est = sum(F.when(F.col(f"_a{s}") == F.col(f"_b{s}"), 1).otherwise(0)
              for s in range(num_hashes)) / F.lit(float(num_hashes))
    pre = (cand.join(hint(siga), "i").join(hint(sigb), "j")
           .where(est >= F.lit(est_cut))
           .select("i", "j")
           .localCheckpoint(eager=True))
    # Shingle sets are materialized ONLY for docs that survive the
    # signature pre-filter (left-semi against the pre-filtered pair
    # ids) — the corpus-wide collect_set would dominate the verify
    # stage while contributing arrays for docs that never get compared.
    cand_ids = (pre.select(F.col("i").alias("id"))
                .unionAll(pre.select(F.col("j").alias("id"))).distinct())
    docs = (rows.join(cand_ids, "id", "left_semi")
            .groupBy("id").agg(F.collect_set("gh").alias("sh"))
            .localCheckpoint(eager=True))
    # The shingle-array side is multi-KB per row, so a doc-count gate
    # alone could broadcast GBs near the threshold; gate on estimated
    # bytes instead (8 B per shingle hash + ~16 B row overhead), capped
    # well under executor memory. docs is already checkpointed, so the
    # sizing agg is a cheap local scan.
    est_bytes = (docs.agg((F.sum(F.size("sh")) * 8 +
                           F.count(F.lit(1)) * 16).alias("b"))
                 .first()["b"]) or 0
    ahint = F.broadcast if est_bytes <= 64 * 1024 * 1024 else (lambda d: d)
    # exact Jaccard only on the surviving candidates — shingle arrays
    # are joined back here, never carried through the bucket shuffle
    sha = docs.select(F.col("id").alias("i"), F.col("sh").alias("sha"))
    shb = docs.select(F.col("id").alias("j"), F.col("sh").alias("shb"))
    inter = F.size(F.array_intersect("sha", "shb"))
    union = F.size("sha") + F.size("shb") - inter
    return (pre.join(ahint(sha), "i").join(ahint(shb), "j")
               .withColumn("jac", inter / union)
               .where(F.col("jac") >= threshold)
               .select("i", "j", "jac"))


# ------------------------------------------------------------------ SimHash

def simhash64(text: Column) -> Column:
    """64-bit SimHash over whitespace tokens (token multiplicity counts).

    bit i of the result = sign of Σ_tokens (±1 by bit i of xxhash64(token)).
    Single pass, pure expressions: aggregate + zip_with, no explode.
    """
    toks = tokens(text)
    bitsums = F.aggregate(
        toks,
        F.array_repeat(F.lit(0).cast("long"), 64),
        lambda acc, t: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(63)),
                lambda i: F.when(F.getbit(F.xxhash64(t), i) == 1,
                                 F.lit(1).cast("long"))
                           .otherwise(F.lit(-1).cast("long"))),
            lambda x, y: x + y),
    )
    # fold bits 62..0 MSB-first (acc*2+bit stays within long under ANSI
    # mode), then two's-complement the sign bit with +Long.MIN_VALUE
    low63 = F.aggregate(
        F.transform(
            F.sequence(F.lit(62), F.lit(0), F.lit(-1)),
            lambda i: F.when(F.element_at(bitsums, i + 1) > 0,
                             F.lit(1).cast("long"))
                       .otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc * 2 + x,
    )
    sign = F.when(F.element_at(bitsums, 64) > 0,
                  F.lit(-9223372036854775808)).otherwise(F.lit(0).cast("long"))
    return low63 + sign


def simhash_table(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, sim) with sim = simhash64 of the text — the corpus-scale
    path: explode tokens, hash each ONCE, then 64 codegen'd
    sum-aggregates (one per bit). Produces bit-identical values to the
    ``simhash64`` column expression, whose per-row interpreted HOF
    evaluation re-hashes every token 64× and is kept only for
    single-column convenience.
    """
    toks = spread(df).select(F.col(id_col).alias("id"),
                             F.explode(tokens(F.col(text_col))).alias("t"))
    h = toks.select("id", F.xxhash64("t").alias("h"))
    # per-bit POPCOUNTS, not ±1 sums: sum(getbit) is a branch-free
    # aggregate (≈half the generated code of a when/otherwise sum, which
    # is what dominates this operator's first-run Janino compile), and
    # the ±1 sign test (#1s - #0s > 0) is equivalently 2·s_i > n.
    sums = h.groupBy("id").agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(F.getbit("h", F.lit(i))).alias(f"s{i}") for i in range(64)])
    bit = [F.col(f"s{i}") * 2 > F.col("n") for i in range(64)]
    low63 = sum(F.when(bit[i], F.lit(1 << i).cast("long"))
                 .otherwise(F.lit(0).cast("long")) for i in range(63))
    sign = F.when(bit[63],
                  F.lit(-9223372036854775808)).otherwise(F.lit(0).cast("long"))
    return sums.select("id", (low63 + sign).alias("sim"))


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3,
) -> DataFrame:
    """Pairs (i < j) with SimHash Hamming distance ≤ max_hamming.

    Band trick: any pair within Hamming 3 agrees exactly on ≥1 of the
    4 disjoint 16-bit bands, so candidates come from 4 equi-joins on
    (band, 16-bit slice) — never an all-pairs scan. Returns
    (i, j, hamming).
    """
    sim = simhash_table(df, id_col, text_col)
    band_arr = F.array(*[
        F.struct(
            F.lit(b_).alias("band"),
            F.shiftrightunsigned("sim", 16 * b_).bitwiseAND(F.lit(0xFFFF))
             .alias("slice"))
        for b_ in range(4)
    ])
    bb = sim.select("id", "sim", F.explode(band_arr).alias("bb")) \
            .select("id", "sim", "bb.band", "bb.slice")
    a, b = bb.alias("a"), bb.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.slice") == F.col("b.slice"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("i"), F.col("b.id").alias("j"),
                F.bit_count(F.col("a.sim").bitwiseXOR(F.col("b.sim")))
                 .alias("hamming"))
        # filter BEFORE the dedup exchange: hamming is a pure function
        # of the pair, so the two commute — but Catalyst cannot push a
        # non-grouping-column predicate below the distinct itself, and
        # on templated corpora hot 16-bit slices make the unfiltered
        # candidate volume orders of magnitude larger than the ≤ d
        # survivors (r7, guide §2.3 "shuffle fewer bytes")
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["i", "j"])
    )


def sorted_neighborhood_pairs(
        df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
        window: int = 5, threshold: float = 0.5, k: int = 8,
        key: Column | None = None) -> DataFrame:
    """Sorted-neighborhood dedup (Hernández & Stolfo, SIGMOD'95): sort
    the corpus by a blocking key, compare each record only against its
    ``window − 1`` successors, verify candidates with exact k-char
    shingle Jaccard. Returns ``(i, j, jac)`` with i < j by rank order
    and ``jac ≥ threshold``.

    The alternative blocking family to hash-based LSH: one global sort
    instead of banded buckets — catches near-dups whose edit noise
    preserves a sort-key prefix that minhash banding can miss at low
    similarity, at the cost of recall for edits IN the key. ``key``
    defaults to the first 24 chars of the whitespace-normalized text.

    Scale shape: the global rank uses :func:`packing.global_cumsum`
    (range partition + driver prefix-sum of per-partition counts —
    never a single-partition window); candidates come from a self-join
    on rank blocks of width ``window`` (each left row probes 2 blocks),
    so candidate volume is ≤ n·window; the Jaccard verify builds
    shingle sets for candidate ROWS only.
    """
    from rust_graph_db_spark.operators.packing import global_cumsum

    key_col = key if key is not None else F.substring(
        F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "), 1, 24)
    base = df.select(F.col(id_col).cast("long").alias("id"),
                     F.col(text_col).alias("_txt"),
                     key_col.alias("_k"))
    # rank on (key, id) ONLY — the document text used to ride the
    # range-partition shuffle and the rank window for nothing (the
    # verify stage re-reads it from `base` for candidate rows alone);
    # at corpus scale that shuffled every byte of every document to
    # compute a long (r7, guide §2.3 "project before the exchange")
    ranked = global_cumsum(
        base.select("id", "_k")
            .withColumn("_one", F.lit(1))
            .withColumn("_ord", F.struct("_k", "id")),
        "_ord", "_one", out_col="rn").select("id", "rn")
    w = int(window)
    lb = ranked.select(
        F.col("id").alias("i"), F.col("rn").alias("ri"),
        F.explode(F.array((F.col("rn") / w).cast("long"),
                          (F.col("rn") / w).cast("long") + 1)).alias("b"))
    rb = ranked.select(F.col("id").alias("j"), F.col("rn").alias("rj"),
                       (F.col("rn") / w).cast("long").alias("b"))
    cands = (lb.join(rb, "b")
             .where((F.col("ri") < F.col("rj"))
                    & (F.col("rj") - F.col("ri") < w))
             .select("i", "j").distinct())
    ids = (cands.select(F.col("i").alias("id"))
           .unionAll(cands.select(F.col("j").alias("id"))).distinct())
    sets = (shingle_hash_rows(
                base.join(ids, base["id"] == ids["id"], "left_semi"),
                "id", "_txt", k, distinct=False)
            .groupBy("id").agg(F.collect_set("gh").alias("sh")))
    out = (cands
           .join(sets.select(F.col("id").alias("i"),
                             F.col("sh").alias("shi")), "i")
           .join(sets.select(F.col("id").alias("j"),
                             F.col("sh").alias("shj")), "j")
           .withColumn("inter", F.size(F.array_intersect("shi", "shj")))
           .withColumn("jac", F.round(
               F.col("inter")
               / (F.size("shi") + F.size("shj") - F.col("inter")), 6))
           .where(F.col("jac") >= float(threshold))
           .select("i", "j", "jac"))
    return out


_HIST_BUCKETS = 32


def _char_hist(col: str, n: int = _HIST_BUCKETS) -> Column:
    """Bucketed character histogram of string column ``col``: a fixed
    ``n``-int array with ``h[i] = #chars whose codepoint ≡ i (mod n)``.
    ASCII lowercase maps injectively at n=32 (97..122 mod 32 = 1..26),
    so on plain-text corpora the buckets ARE the per-letter counts.

    One interpreted pass over the chars (codepoints -> buckets once,
    then one fold that rebuilds the small accumulator array;
    higher-order lambdas are interpreted, so pass count dominates — a
    per-bucket filter(split(...)) form measured ~20x slower per doc).
    ``split(s, '')`` splits on code points and ``ascii`` returns the
    code point, so non-ASCII text counts one bucket hit per character.
    """
    return F.expr(
        f"aggregate(transform(split({col}, ''), ch -> pmod(ascii(ch), {n})), "
        f"array_repeat(0, {n}), "
        f"(acc, b) -> transform(acc, (v, j) -> IF(b = j, v + 1, v)))")


def _hist_prune(cands: DataFrame, hists: DataFrame, d: int) -> DataFrame:
    """Drop candidate pairs whose bucketed char-histogram L1 distance
    exceeds ``2*d`` — a NECESSARY condition for Levenshtein ≤ d (count
    filter, Gravano et al. VLDB 2001): one indel changes the char
    multiset by 1, one substitution by 2, so lev ≤ d ⇒ exact-hist
    L1 ≤ 2d; bucketing only MERGES bins and |Σa-Σb| ≤ Σ|a-b|, so the
    bucketed L1 is ≤ the exact L1 and the bound stays necessary. No
    true pair is ever pruned, so the verified output is unchanged —
    this exists purely so the O(d·l) banded levenshtein (and the text
    join feeding it) runs on ~10x fewer pairs (guide §8: decide with
    small rows — 32 ints — before moving the heavy text bytes).
    ``hists._h`` must be the unpacked int array of ``_char_hist``: the
    L1 is a per-element ``zip_with`` over the buckets.
    Empty-string edge: split('','') yields [''] (one phantom bucket-0
    count); a true pair with an empty side has lev = l_other ≤ d, so
    measured L1 ≤ l_other + 1 ≤ d + 1 ≤ 2d for d ≥ 1, and at d = 0
    both sides are empty with identical phantoms — still safe.
    """
    h1 = hists.select(F.col("id").alias("id1"), F.col("_h").alias("_h1"))
    h2 = hists.select(F.col("id").alias("id2"), F.col("_h").alias("_h2"))
    l1d = F.expr("aggregate(zip_with(_h1, _h2, (a, b) -> abs(a - b)), "
                 "0, (acc, x) -> acc + x)")
    return (cands.join(h1, "id1").join(h2, "id2")
            .where(l1d <= 2 * d).select("id1", "id2"))


def edit_distance_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", max_dist: int = 20,
                        q: int = 3) -> DataFrame:
    """``(id1, id2, dist)``: every unordered pair of documents within
    Levenshtein distance ``max_dist`` — the entity-resolution /
    fuzzy-join dedup the shingle families (d2-d5) don't cover, since
    Jaccard is blind to ORDER edits that Levenshtein counts.

    Ed-Join-style prefix filtering (Xiao, Wang & Lin, PVLDB 2008;
    count-filter bound from Gravano et al., VLDB 2001): each edit
    destroys at most ``q`` of a string's q-grams, so a pair within
    distance ``d`` shares >= max(l1,l2)-q+1-d*q gram-multiset
    elements, and by the prefix-filter lemma must collide on at least
    one of each side's ``d*q+1`` GLOBALLY RAREST elements (rarity
    order (corpus doc-frequency, gram, occ) is a total order shared by
    both sides, which is what the lemma needs). Candidate generation
    is therefore an equi-join on rare (gram, occurrence) keys —
    fan-out bounded by the document frequency of RARE grams, never an
    all-pairs scan, and never a join through "the"-grade stop-grams.
    Strings too short for the bound to bite (l <= d*q+q-1: guaranteed
    overlap <= 0 — and any partner within distance d of such a string
    is itself short, since max(l1,l2) drives the bound) fall back to
    an all-pairs join WITHIN a length band of width ``d`` (the
    |l1-l2| <= d necessary condition) via the two-bucket trick; at
    100 TB "shorter than ~(q+1)*d chars" is a skew-safe sliver of a
    document corpus, and the band bounds each bucket.

    Verification runs Spark's builtin banded ``levenshtein(s1, s2,
    d)`` (O(d*min(l)) per pair, JVM whole-stage codegen) on candidates
    only. Integer-exact end to end — the oracle is the naive
    definition and hashes bitwise.

    CHOOSING ``max_dist`` AND ``q`` AT SCALE (measured, SCALE.md §14):
    candidate volume is inherently Σ_over-join-keys df², so the
    filter only prunes when BOTH hold:

    - **rare grams exist**: ``|alphabet|^q`` must be much larger than
      the corpus's total gram instances. At 2M 64-char keys over a
      ~36-symbol alphabet, q=3 (46k possible trigrams → minimum
      doc-frequency in the thousands) blew the candidate join past
      the shuffle disk;
    - **the prefix is a small fraction of the string**: the join keys
      are ``d*q+1`` grams of ``l-q+1``, so ``d*q`` must be well below
      ``l``. max_dist=8/q=5 on 64-char keys (prefix = 41 of 60 grams)
      still flooded the disk at 2M docs even though each gram was
      rare; max_dist=3/q=4 (13 of 61) ran ordinarily.

    - **the corpus has gram entropy to spend**: even with both above
      satisfied, the rarest gram's doc-frequency is floored at
      ``corpus_size / distinct_key_variants`` — on a 2M-title corpus
      whose variability lived in a ~10^4-value suffix, the floor was
      df ≈ 1800 and Σ df² ≈ 5e10 candidates with a 13-gram prefix.
      No parameter fixes that: low-entropy keys need higher-entropy
      blocking (token-level signatures, d13-style window hashes)
      before an edit-distance verify.

    The defaults (20, 3) are sized for up-to-~100k-doc interactive
    use on ~300-char documents; corpus-scale callers should keep
    ``max_dist*q`` under ~l/4 and q at 4-5. Levenshtein joins with d
    comparable to l are not a prefix-filterable problem — use the
    shingle families (d2-d5) for that regime.
    """
    d, qq = int(max_dist), int(q)
    base = df.select(F.col(id_col).cast("long").alias("id"),
                     F.col(text_col).alias("s"),
                     F.length(text_col).cast("int").alias("l")) \
             .where(F.col("s").isNotNull())
    # positional q-grams with per-doc occurrence index: the multiset
    # element is (gram, occ), so a gram repeated c1/c2 times matches
    # exactly min(c1, c2) elements across a pair (multiset semantics).
    # spread: the explode + substr chain is CPU-bound per-row work on
    # a possibly-single input split (no-op at scale); scoped HERE, not
    # on base, so the repartition runs once (occ is checkpointed) and
    # the plain projections (s1/s2/shorts) don't each re-pay it
    grams = (spread(base.where(F.col("l") >= qq))
             .select("id", "l", F.explode(F.sequence(
                 F.lit(1), F.col("l") - qq + 1)).alias("i"),
                 F.col("s"))
             .select("id", "l",
                     F.col("s").substr(F.col("i"), F.lit(qq)).alias("g")))
    # occurrence index via count + explode, NOT a row_number window:
    # the multiset element is (gram, occ) with occ ∈ 1..count — WHICH
    # position gets which occ never matters downstream (the prefix
    # rank orders by (df_, g, occ), the join matches on equality), so
    # the per-(id, g) count is enough. The count aggregate combines
    # map-side (shuffles one (id, g, cnt) row per distinct gram, not
    # one per occurrence) and needs no per-partition sort, where the
    # former Window.partitionBy(id, g).orderBy(i) shuffled and sorted
    # every gram occurrence row (r7, guide §2.3 "aggregate before you
    # shuffle"; sf0.1 cold 12.4 → ~9 s).
    # pinned: occ feeds BOTH the doc-frequency agg and the prefix
    # join, and prefix feeds BOTH sides of the candidate self-join
    # (the ≥2-consumers checkpoint rule, SCALE.md §17). Measured at
    # sf0.1: cold 32.6 → 14.2 s (the un-pinned plan re-executed the
    # gram chain per consumer); warm 11.2 → 9.8 s (exchange reuse
    # already deduped most of the warm plan — the remaining warm cost
    # is the banded-levenshtein verify volume itself)
    occ = (grams.groupBy("id", "l", "g")
           .agg(F.count(F.lit(1)).cast("int").alias("_c"))
           .select("id", "l", "g",
                   F.explode(F.sequence(F.lit(1), F.col("_c")))
                   .alias("occ"))
           .localCheckpoint(eager=True))
    # corpus doc-frequency of each (gram, occ) element — each doc
    # contributes an element at most once, so count(*) IS doc-freq
    freq = occ.groupBy("g", "occ").agg(F.count("*").alias("df_"))
    prefix_len = d * qq + 1
    prefix = (occ.join(freq, ["g", "occ"])
              .select("id", "l", "g", "occ",
                      F.row_number().over(
                          Window.partitionBy("id")
                          .orderBy("df_", "g", "occ")).alias("rk"))
              .where(F.col("rk") <= prefix_len)
              .select("id", "l", "g", "occ")
              .localCheckpoint(eager=True))
    lhs = prefix.select(F.col("id").alias("id1"), F.col("l").alias("l1"),
                        "g", "occ")
    rhs = prefix.select(F.col("id").alias("id2"), F.col("l").alias("l2"),
                        "g", "occ")
    # no .distinct() here or on cand_short: the union-level distinct
    # below covers both, and dedup(long) ∪ dedup(short) then dedup is
    # the same set — the inner aggregates were two redundant Exchanges
    # shuffling the same (id1, id2) keys twice (r7, guide §2.4)
    cand_long = (lhs.join(rhs, ["g", "occ"])
                 .where((F.col("id1") < F.col("id2"))
                        & (F.abs(F.col("l1") - F.col("l2")) <= d))
                 .select("id1", "id2"))
    # short-string fallback: all pairs within a length band of width d
    short_bound = d * qq + qq - 1
    shorts = base.where(F.col("l") <= short_bound).select("id", "l")
    sl = shorts.select(
        F.col("id").alias("id1"), F.col("l").alias("l1"),
        F.explode(F.array(
            (F.col("l") / (d + 1)).cast("long"),
            (F.col("l") / (d + 1)).cast("long") + 1)).alias("b"))
    sr = shorts.select(F.col("id").alias("id2"), F.col("l").alias("l2"),
                       (F.col("l") / (d + 1)).cast("long").alias("b"))
    # the two-bucket emit is ASYMMETRIC (sl carries b and b+1, sr only
    # b), so a given pair is only guaranteed to collide in ONE
    # direction — canonicalize ids AFTER the join, never filter on
    # id order at join time
    cand_short = (sl.join(sr, "b")
                  .where((F.col("id1") != F.col("id2"))
                         & (F.abs(F.col("l1") - F.col("l2")) <= d))
                  .select(F.least("id1", "id2").alias("id1"),
                          F.greatest("id1", "id2").alias("id2")))
    cands = cand_long.unionAll(cand_short).distinct()
    # histogram count filter AFTER the distinct, BEFORE the verify
    # join: necessary-only (see _hist_prune — output provably
    # unchanged), prunes ~92% of candidates at bench SF (978k → 73k
    # measured) so the banded levenshtein and both text joins run on
    # the survivors only. Deliberately NOT inside the candidate join
    # condition: there it would run on every raw (g, occ) match (~8x
    # the distinct count) and the 32-term bit-field compare measured
    # interpreted, 2.3 → 30.5 s at sf0.1. spread: the interpreted
    # per-doc fold otherwise runs on however few partitions the doc
    # scan produced. pinned: feeds both sides of the pair join
    hists = (spread(base.select("id", "s"))
             .select("id", _char_hist("s").alias("_h"))
             .localCheckpoint(eager=True))
    cands = _hist_prune(cands, hists, d)
    s1 = base.select(F.col("id").alias("id1"), F.col("s").alias("s1"))
    s2 = base.select(F.col("id").alias("id2"), F.col("s").alias("s2"))
    return (cands.join(s1, "id1").join(s2, "id2")
            .select("id1", "id2",
                    F.levenshtein("s1", "s2", d).alias("dist"))
            .where(F.col("dist") >= 0)
            .select("id1", "id2", F.col("dist").cast("long").alias("dist")))


def blocked_edit_distance_pairs(df: DataFrame, id_col: str = "doc_id",
                                text_col: str = "text",
                                max_dist: int = 8, k: int = 3,
                                fallback: str = "banded",
                                max_df: int | None = None) -> DataFrame:
    """``(id1, id2, dist)``: pairs within Levenshtein distance
    ``max_dist``, with candidate generation by SHARED k-TOKEN WINDOW
    HASHES (the d13/:func:`_window_hashes` substrate) instead of
    :func:`edit_distance_pairs`' rare-q-gram prefixes — the composed
    operator that operator's own measured scaling contract prescribes
    for low-entropy key spaces (SCALE.md §15: char-q-gram entropy is
    capped at |alphabet|^q and candidate volume is Σ_keys df², so a
    36-symbol corpus floors the rarest-gram doc-frequency and floods
    the shuffle tier; token windows draw from |vocabulary|^k — many
    orders more entropy at the same k).

    RECALL CONTRACT (pigeonhole over token damage): one char edit
    damages at most 2 adjacent token positions (a separator edit
    merges both neighbours), so ``d`` edits leave an intact run of
    ``>= (n - 2d)/(2d + 1)`` tokens, which appears VERBATIM as a
    contiguous token sequence on both sides. Hence any pair whose
    SHORTER side has ``n >= T = (2d+1)*k + 2d`` tokens is guaranteed
    to share a k-token window hash — window blocking is EXACT above
    T. Below T, ``fallback`` picks the contract:

    - ``"banded"`` (default): docs under ``T + d`` tokens also run
      through an all-pairs join WITHIN a char-length band of width
      ``d`` (the |l1-l2| <= d necessary condition, two-bucket trick
      as in :func:`edit_distance_pairs`) — total recall is provably
      100% and the naive SQL definition is a bitwise oracle. Right
      when short docs are a sliver of the corpus (real document
      collections at k<=4, d<=8: T+d is ~60-90 tokens).
    - ``"none"``: window blocking only — the 100 TB form for SHORT-
      KEY corpora (titles, entity names) where nearly everything is
      under T and a length band would itself go quadratic. Recall is
      heuristic below T: a pair is found iff an intact k-token run
      survives the edits, which holds whenever the edit count is
      small relative to the token count (1 edit on an 11-token title
      leaves an intact run >= 3). Rehearsed at 2M 64-char titles —
      the exact corpus that blew the pure Ed-Join path out three
      times — in ordinary time, because the per-window doc-frequency
      is corpus-content-bound (distinct-token entropy), not
      alphabet-bound.

    ``max_df`` (optional) drops window hashes whose doc-frequency
    exceeds it before the candidate self-join — the guard against
    boilerplate k-token runs (real-corpus headers/footers) whose df²
    would dominate. Documented recall trade: a pair ALL of whose
    shared windows are boilerplate is missed; at k>=3 on organic text
    that is the pair you usually don't want anyway. Leave None for
    the exact contract.

    Verification is unchanged from d17: Spark's banded
    ``levenshtein(s1, s2, d)`` on candidates only, integer-exact.
    Shape: token arrays built once (localCheckpoint-pinned like d13);
    the candidate join carries (id, l, gh) longs only — text shuffles
    exclusively into the verify join.
    """
    if fallback not in ("banded", "none"):
        # validate BEFORE the eager corpus-wide checkpoints below —
        # a typo'd fallback must not cost two full scans first
        raise ValueError(f"fallback must be 'banded' or 'none', "
                         f"got {fallback!r}")
    d, kk = int(max_dist), int(k)
    t_full = (2 * d + 1) * kk + 2 * d
    base = (df.select(F.col(id_col).cast("long").alias("id"),
                      F.col(text_col).alias("s"),
                      F.length(text_col).cast("int").alias("l"))
            .where(F.col("s").isNotNull()))
    tb = (_token_base(df, id_col, text_col)
          .select(F.col("id").cast("long").alias("id"), "_toks")
          .localCheckpoint(eager=True))
    ntok = tb.select("id", F.size("_toks").alias("n"))
    # window path: distinct (id, window-hash) self-join, length-banded.
    # EVERY doc with >= k tokens produces windows (not just those past
    # T) — T is the recall-GUARANTEE boundary, not a participation
    # gate: below it window blocking still finds every pair with an
    # intact k-run, which is the whole point of fallback="none" on
    # short-key corpora where nothing reaches T.
    # pinned: occ feeds BOTH sides of the candidate self-join (and the
    # max_df agg) — without the checkpoint the window hashing runs
    # once per consumer
    occ = (_window_hashes(tb, kk).select("id", "gh").distinct()
           .localCheckpoint(eager=True))
    if max_df is not None:
        hot = (occ.groupBy("gh").agg(F.count("*").alias("df_"))
               .where(F.col("df_") > int(max_df)).select("gh"))
        occ = occ.join(hot, "gh", "left_anti")
    linfo = base.select("id", "l")
    lhs = (occ.join(linfo, "id")
           .select(F.col("id").alias("id1"), F.col("l").alias("l1"),
                   "gh"))
    rhs = (occ.join(linfo, "id")
           .select(F.col("id").alias("id2"), F.col("l").alias("l2"),
                   "gh"))
    cands = (lhs.join(rhs, "gh")
             .where((F.col("id1") < F.col("id2"))
                    & (F.abs(F.col("l1") - F.col("l2")) <= d))
             .select("id1", "id2").distinct())
    if fallback == "banded":
        # short path: all pairs within a char-length band of width d.
        # The two-bucket emit is ASYMMETRIC (sl carries b and b+1, sr
        # only b) — canonicalize ids AFTER the join (see d17).
        shorts = (base.join(ntok.where(F.col("n") < t_full + d),
                            "id", "left_semi")
                  .select("id", "l"))
        sl = shorts.select(
            F.col("id").alias("id1"), F.col("l").alias("l1"),
            F.explode(F.array(
                (F.col("l") / (d + 1)).cast("long"),
                (F.col("l") / (d + 1)).cast("long") + 1)).alias("b"))
        sr = shorts.select(F.col("id").alias("id2"),
                           F.col("l").alias("l2"),
                           (F.col("l") / (d + 1)).cast("long")
                           .alias("b"))
        cand_short = (sl.join(sr, "b")
                      .where((F.col("id1") != F.col("id2"))
                             & (F.abs(F.col("l1") - F.col("l2")) <= d))
                      .select(F.least("id1", "id2").alias("id1"),
                              F.greatest("id1", "id2").alias("id2"))
                      .distinct())
        cands = cands.unionAll(cand_short).distinct()
    # histogram count filter before the verify join (see _hist_prune:
    # necessary-only bound, output unchanged); same ~10x verify-volume
    # cut as d17. spread + pin as in d17 (≥2 consumers)
    hists = (spread(base.select("id", "s"))
             .select("id", _char_hist("s").alias("_h"))
             .localCheckpoint(eager=True))
    cands = _hist_prune(cands, hists, d)
    s1 = base.select(F.col("id").alias("id1"), F.col("s").alias("s1"))
    s2 = base.select(F.col("id").alias("id2"), F.col("s").alias("s2"))
    return (cands.join(s1, "id1").join(s2, "id2")
            .select("id1", "id2",
                    F.levenshtein("s1", "s2", d).alias("dist"))
            .where(F.col("dist") >= 0)
            .select("id1", "id2",
                    F.col("dist").cast("long").alias("dist")))


def keep_best_per_cluster(docs: DataFrame, pairs: DataFrame,
                          id_col: str = "doc_id",
                          text_col: str = "text",
                          score: Column | None = None,
                          id_cols=("i", "j")) -> DataFrame:
    """``(doc_id, cluster, score, kept)``: the KEEP-SELECTION stage
    that completes the dedup pipeline — near-dup ``pairs`` (from any
    of d2-d5/d11/d17/d18) → connected-component clusters → keep
    exactly ONE document per cluster: the highest ``score``, ties to
    the smallest id. Default score is ``length(text_col)`` — the
    "keep the longest member" policy of RefinedWeb/SlimPajama-style
    dedup (longer members subsume their near-copies); pass any
    numeric Column for quality-aware selection (e.g. c5's classifier
    score). Documents in no pair are their own singleton cluster and
    always kept, so ``kept`` filters the corpus directly. NULL
    scores rank below every non-NULL score (SQL NULLS LAST), and a
    cluster whose members ALL score NULL still keeps exactly one
    member (the smallest id) — ``kept`` is always a real boolean.

    Relation to g23's MIS selection: min-id/best-score clustering
    keeps ONE doc per component; :func:`keep_maximal_nondup` keeps a
    maximal mutually-non-dup SET (more data when near-duplication is
    non-transitive). This operator is the policy used when a cluster
    is trusted to be one logical document.

    100 TB shape: clustering is the ``connected_components`` star loop;
    selection adds ONE map-side-combinable ``max(struct(score, -id))``
    aggregate and ONE equi-join back on the cluster id — deliberately
    NO per-cluster window sort, so a pathological mega-cluster (the
    boilerplate blob every real corpus has) costs a combinable max,
    not a single-task sort.
    """
    from rust_graph_db_spark.operators.graph_algos import \
        duplicate_clusters

    sc_col = (score if score is not None
              else F.length(F.col(text_col)).cast("long"))
    cl = duplicate_clusters(pairs, id_cols)
    j = (docs.select(F.col(id_col).cast("long").alias("id"),
                     sc_col.alias("score"))
         .join(cl, "id", "left")
         .select("id", F.coalesce("cluster", F.col("id"))
                 .alias("cluster"), "score"))
    # NULL-safe selection key (r6 ADVICE): a NULL score (e.g. NULL
    # text under the default length(text) score) must not poison the
    # max-struct comparison or make ``kept`` three-valued. The leading
    # has-flag ranks every non-NULL score above every NULL one (the
    # oracle's row_number NULLS LAST), the coalesce keeps the struct
    # comparison null-free, and an all-NULL cluster still keeps
    # exactly one member (the smallest id, via nid). ``kept`` tests
    # only the unique id, so it is always a real boolean.
    best = (j.groupBy("cluster")
            .agg(F.max(F.struct(
                    F.col("score").isNotNull().alias("has"),
                    F.coalesce(F.col("score"), F.lit(0)).alias("s"),
                    (-F.col("id")).alias("nid")))
                 .alias("_b")))
    return (j.join(best, "cluster")
            .select(F.col("id").alias(id_col), "cluster", "score",
                    (F.col("id") == -F.col("_b.nid")).alias("kept"))
            .orderBy(id_col))
