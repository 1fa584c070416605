"""Dataset-curation operators for training-data pipelines.

Three ops every large-scale pretraining pipeline runs besides dedup
(extends the reference's inventory the same way operators/dedup.py
does — the reference, a graph store, has no corpus tooling at all):

- **decontaminate**: flag training documents that share verbatim
  k-gram spans with an evaluation/benchmark corpus (the standard
  n-gram-overlap decontamination of GPT-3/PaLM/Llama reports). The
  join carries 8-byte xxhash64 shingle hashes, never text, so at
  100 TB the shuffle is ~1% of corpus bytes; the benchmark side is
  broadcast when its estimated bytes fit.
- **hash_split**: deterministic train/val/test assignment from a
  content-independent stable hash of the id — reproducible across
  engines (md5-based, so a SQL oracle derives the identical split),
  no RNG state, no shuffle at all (a pure projection).
- **repetition_metrics**: per-document duplicate n-gram fractions
  (the Gopher/MassiveText repetition quality filters) as pure
  Catalyst higher-order functions — one scan, no shuffle, no UDFs.
- **redact_pii**: regex scrubbing of emails / IPv4s / phone-shaped
  and long digit runs (the C4/RefinedWeb-style PII pass) — pure
  codegen'd ``regexp_replace`` chain, one scan, zero shuffle; the
  patterns avoid lookaround so any RE2-based engine (the DuckDB
  oracle included) reproduces them byte-for-byte.
- **top_ngrams**: corpus-wide word-bigram frequency (vocabulary /
  boilerplate inspection) — explode + partial-aggregated count +
  ``TakeOrderedAndProject`` top-k, so the full gram table is never
  collected or globally sorted.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rust_graph_db_spark.functions.text import tokens

from rust_graph_db_spark.operators.dedup import shingle_hash_rows


def decontaminate(
    train: DataFrame, benchmark: DataFrame,
    id_col: str = "doc_id", text_col: str = "text",
    bench_id_col: str | None = None, bench_text_col: str | None = None,
    k: int = 8,
) -> DataFrame:
    """(id, n_hits): training docs sharing ≥1 verbatim k-char shingle
    with ANY benchmark doc; n_hits = number of DISTINCT shared shingles
    (an evidence weight — filter thresholds are caller policy).

    Dataflow: shingle both sides to xxhash64 rows (codegen'd substr +
    hash — strings never leave the scan), semi-style equi-join on the
    8-byte hash, count distinct per train doc. The benchmark shingle
    set deduplicates BEFORE the join (per-shingle, not per (doc,
    shingle)), so a phrase appearing in many benchmark docs joins
    once; byte-gated broadcast mirrors dedup.py's discipline.
    """
    bench_id = bench_id_col or id_col
    bench_text = bench_text_col or text_col
    t = shingle_hash_rows(train, id_col, text_col, k=k, distinct=True)
    b = (shingle_hash_rows(benchmark, bench_id, bench_text, k=k,
                           distinct=False)
         .select("gh").distinct()
         .localCheckpoint(eager=True))
    est_bytes = b.count() * 8 + 16
    hint = F.broadcast if est_bytes <= 64 * 1024 * 1024 else (lambda d: d)
    return (t.join(hint(b), "gh")
            .groupBy(F.col("id").alias(id_col))
            .agg(F.count(F.lit(1)).cast("long").alias("n_hits")))


def decontaminate_neardup(
    train: DataFrame, benchmark: DataFrame,
    id_col: str = "doc_id", text_col: str = "text",
    bench_id_col: str | None = None, bench_text_col: str | None = None,
    num_hashes: int = 32, bands: int = 8, k: int = 5,
    threshold: float = 0.5, hash_mode: str = "xxhash",
) -> DataFrame:
    """(id_col, bench_id, jac): training documents NEAR-duplicating a
    benchmark/eval document — the fuzzy companion of
    :func:`decontaminate` (which catches verbatim shingle overlap but
    not paraphrased/suffixed copies). GPT-3's appendix-C and the Llama
    reports both decontaminate by fuzzy overlap against eval sets;
    this is that stage as a BIPARTITE MinHash-LSH join.

    Contract: candidates are cross-corpus pairs sharing ≥1 LSH band
    bucket (recall 1-(1-J^r)^b at the banding design point), then
    every candidate is verified with the EXACT k-shingle Jaccard and
    kept iff jac ≥ ``threshold``. jac is the raw correctly-rounded
    double quotient of exact integer set sizes (never rounded — the
    g22/c6 midpoint lesson). ``hash_mode="md5"`` replays signatures
    and buckets bit-identically in SQL.

    100 TB shape: both corpora reduce to (id, band, bucket) rows —
    16 bytes per band per doc, text never shuffles; the bucket join is
    bipartite so the benchmark side (eval sets: thousands of docs, not
    billions) broadcasts in practice; exact verification runs ONLY on
    candidates. Same hot-bucket caveat as every LSH join
    (dedup.minhash_lsh_pairs).
    """
    from rust_graph_db_spark.operators.dedup import (
        minhash_band_buckets, shingle_hash_rows)

    bid = bench_id_col or id_col
    btx = bench_text_col or text_col
    tb = minhash_band_buckets(train, id_col, text_col,
                              num_hashes, bands, k, hash_mode)
    bb = (minhash_band_buckets(benchmark, bid, btx,
                               num_hashes, bands, k, hash_mode)
          .withColumnRenamed("id", "bench_id"))
    cand = (tb.join(bb, ["band", "bucket"])
            .select("id", "bench_id").distinct()
            .localCheckpoint(eager=True))
    # exact verification pays its shingle-set collect ONLY for docs
    # that are candidates — at corpus scale the candidate set is a
    # vanishing fraction of the training side
    t_cand = train.join(cand.select(F.col("id").alias(id_col))
                        .distinct(), id_col, "left_semi")
    b_cand = benchmark.join(cand.select(F.col("bench_id").alias(bid))
                            .distinct(), bid, "left_semi")
    tset = (shingle_hash_rows(t_cand, id_col, text_col, k=k,
                              distinct=True)
            .groupBy("id").agg(F.collect_set("gh").alias("_ta")))
    bset = (shingle_hash_rows(b_cand, bid, btx, k=k, distinct=True)
            .groupBy(F.col("id").alias("bench_id"))
            .agg(F.collect_set("gh").alias("_ba")))
    withm = (cand.join(tset, "id").join(bset, "bench_id")
             .select("id", "bench_id",
                     F.size(F.array_intersect("_ta", "_ba")).alias("_m"),
                     F.size("_ta").alias("_a"), F.size("_ba").alias("_b")))
    jac = (F.col("_m").cast("double")
           / (F.col("_a") + F.col("_b") - F.col("_m")).cast("double"))
    return (withm.select(F.col("id").alias(id_col), "bench_id",
                         jac.alias("jac"))
            .where(F.col("jac") >= F.lit(float(threshold))))


def split_bucket(id_col: Column, buckets: int = 1000) -> Column:
    """Stable [0, buckets) bucket from md5 of the stringified id —
    engine-portable (any SQL dialect with md5 reproduces it), content-
    independent (re-splitting after text edits keeps assignments)."""
    return (F.conv(F.substring(F.md5(id_col.cast("string")), 1, 4), 16, 10)
            .cast("long") % buckets)


def hash_split(
    df: DataFrame, id_col: str = "doc_id",
    weights: dict[str, float] | None = None,
) -> DataFrame:
    """Add a ``split`` column assigning each row to a named split with
    the given weights (default 90/5/5 train/val/test).

    Pure projection — no shuffle, no RNG: the assignment is a total
    function of the id, so it is identical on every run, engine, and
    subset of the data (rows can be split BEFORE dedup/filter stages
    and stay consistently assigned after).
    """
    weights = weights or {"train": 0.90, "val": 0.05, "test": 0.05}
    total = sum(weights.values())
    bucket = split_bucket(F.col(id_col))
    expr = None
    acc = 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        acc += w / total * 1000
        cond = bucket < int(round(acc))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn("split", expr)


def split_leakage(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", k: int = 10,
                  weights: dict[str, float] | None = None,
                  hash_mode: str = "xxhash") -> DataFrame:
    """(split_a, split_b, n_windows, n_docs): cross-split verbatim
    k-token window leakage under :func:`hash_split`'s assignment —
    the decontamination audit of the pipeline's OWN split. For each
    split pair (a < b by name): the number of DISTINCT window hashes
    occurring in both splits, and the number of distinct documents
    (either side) containing at least one such leaked window. Pairs
    with zero leakage are omitted.

    Lee et al. 2022 measure exactly this class of train/eval overlap
    in standard corpora; a split produced by hashing ids is leak-free
    at the DOCUMENT level by construction, but verbatim spans shared
    by near-duplicate documents still cross the boundary — which is
    why exact-substring dedup (``dedup.exact_substring_dedup``) runs
    BEFORE splitting, and this audit verifies the result.

    Substrate: ``dedup._window_hashes`` (shared with d13); at 100 TB
    the shuffles carry (gh, split, id) triples — text never moves.
    ``hash_mode="md5"`` is the oracle-replayable form.
    """
    from rust_graph_db_spark.operators.dedup import (_token_base,
                                                     _window_hashes)

    base = _token_base(df, id_col, text_col)
    occ = _window_hashes(base, k, hash_mode)
    sp = hash_split(df.select(id_col), id_col, weights) \
        .select(F.col(id_col).alias("id"), "split")
    wd = (occ.join(sp, "id")
          .select("gh", "split", "id").distinct()
          .localCheckpoint(eager=True))
    pres = wd.select("gh", "split").distinct()
    a, b = pres.alias("a"), pres.alias("b")
    pairs = (a.join(b, (F.col("a.gh") == F.col("b.gh"))
                    & (F.col("a.split") < F.col("b.split")))
             .select(F.col("a.split").alias("split_a"),
                     F.col("b.split").alias("split_b"),
                     F.col("a.gh").alias("gh"))
             .distinct()
             .localCheckpoint(eager=True))
    n_win = (pairs.groupBy("split_a", "split_b")
             .agg(F.count_distinct("gh").alias("n_windows")))
    n_docs = (pairs.join(wd, "gh")
              .where((F.col("split") == F.col("split_a"))
                     | (F.col("split") == F.col("split_b")))
              .groupBy("split_a", "split_b")
              .agg(F.count_distinct("id").alias("n_docs")))
    return n_win.join(n_docs, ["split_a", "split_b"])


# PII patterns shared by the Spark operator and the SQL oracle builder.
# Deliberately lookaround-free: valid under both Java regex (Spark
# codegen) and RE2 (DuckDB / Go engines), so redaction is reproducible
# across the pipeline and its correctness oracle.
PII_PATTERNS: list[tuple[str, str, str]] = [
    # (name, pattern, replacement)
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\b\d{3}[-.]\d{3,4}[-.]\d{4}\b", "<PHONE>"),
    ("idnum", r"\b\d{6,}\b", "<ID>"),
]


def redact_pii(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """(id, clean_text, n_email, n_ipv4, n_phone, n_idnum): text with
    emails / IPv4 addresses / phone-shaped numbers / long digit runs
    replaced by typed placeholders, plus per-category match counts
    (audit columns — drop them in production writes).

    One codegen'd scan: counts come from ``regexp_extract_all`` sizes
    on the ORIGINAL text, then a ``regexp_replace`` chain applies the
    same patterns in a fixed order (email → ip → phone → idnum, so the
    digit-run pattern can never eat the inside of an un-redacted IP).
    Zero shuffle, no UDFs — at 100 TB this runs at scan speed next to
    the quality/language filters.
    """
    counts = [
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0)))
        .cast("long").alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    clean = F.col(text_col)
    for _, pat, repl in PII_PATTERNS:
        clean = F.regexp_replace(clean, pat, repl)
    return df.select(F.col(id_col), clean.alias("clean_text"), *counts)


def redact_pii_sql(text: str) -> tuple[str, list[str]]:
    """DuckDB oracle expressions mirroring :func:`redact_pii`:
    returns (clean_text_expr, [count_exprs...]) over ``text``."""
    counts = [
        f"CAST(len(regexp_extract_all({text}, '{pat}')) AS BIGINT)"
        for _, pat, _ in PII_PATTERNS
    ]
    clean = text
    for _, pat, repl in PII_PATTERNS:
        clean = f"regexp_replace({clean}, '{pat}', '{repl}', 'g')"
    return clean, counts


# Gopher/C4-style quality rules: (name, threshold key). Each rule is a
# pure Catalyst predicate over per-doc text statistics; the same
# formulas are emitted as DuckDB SQL by quality_filter_sql so the
# filter chain and its oracle share one source of truth. Defaults are
# the MassiveText-report shapes scaled to short synthetic docs; real
# corpora retune them (they are parameters, not constants).
QUALITY_DEFAULTS: dict[str, float] = {
    "min_tokens": 30,       # drop fragments
    "max_tokens": 100_000,  # drop pathological concatenations
    "min_stopword": 0.02,   # drop non-linguistic token soup (en)
    "max_punct": 0.20,      # drop symbol-heavy boilerplate
    "max_dup2": 0.08,       # drop repetitive spam (2-gram repeats)
    "min_word_len": 2.0,    # mean word length sanity band
    "max_word_len": 10.0,
}


def bigrams(toks_col: str = "_toks"):
    """Word-bigram array from a MATERIALIZED token-array column, via
    ``zip_with`` of two shifted slices — two O(n) slices plus a linear
    zip, instead of a per-element ``slice`` inside a transform lambda
    (O(n·k) with heavy per-element allocation; measured 5× slower
    across the quality-filter stats at sf0.1). Single-token docs get
    the lone token as their one "gram" (matches the oracle's
    ``generate_series(1, greatest(n-1, 1))`` convention: dup-fraction
    0 either way)."""
    n = F.size(toks_col)
    return F.when(n <= 1, F.array(F.col(toks_col)[0])).otherwise(
        F.zip_with(F.slice(toks_col, 1, n - 1),
                   F.slice(toks_col, 2, n - 1),
                   lambda a, b: F.concat(a, F.lit(" "), b)))


def _with_quality_stats(df: DataFrame, id_col: str, text_col: str):
    """(id, text, _tc, _sw, _pu, _d2, _mwl): per-doc rule statistics as
    MATERIALIZED columns. Three stacked projections — tokens, then
    bigrams (each array computed once; CollapseProject keeps expensive
    aliases un-inlined), then the scalar stats. Anything filtering on
    these columns must block predicate pushdown (see ``curate``):
    pushdown substitutes alias definitions into the predicate with no
    cost model, resurrecting per-element re-evaluation."""
    p1 = df.select(F.col(id_col), F.col(text_col),
                   tokens(F.col(text_col)).alias("_toks"))
    p2 = p1.select(id_col, text_col, "_toks", bigrams().alias("_g2"))
    sw = F.array(*[F.lit(w) for w in _EN_STOPWORDS])
    tok_cnt = F.size("_toks")
    return p2.select(
        F.col(id_col), F.col(text_col),
        tok_cnt.cast("long").alias("_tc"),
        (F.size(F.filter("_toks", lambda t: F.array_contains(sw, t)))
         / F.greatest(tok_cnt, F.lit(1))).cast("double").alias("_sw"),
        (F.length(F.regexp_replace(F.col(text_col), "[A-Za-z0-9\\s]", ""))
         / F.greatest(F.length(F.col(text_col)), F.lit(1)))
        .cast("double").alias("_pu"),
        (F.lit(1.0) - F.size(F.array_distinct("_g2")) / F.size("_g2"))
        .cast("double").alias("_d2"),
        (F.length(F.regexp_replace(F.col(text_col), r"\s", ""))
         / F.greatest(tok_cnt, F.lit(1))).cast("double").alias("_mwl"))


def _rule_conditions(t: dict) -> list[tuple[str, Column]]:
    """(name, failure-condition) per rule, over the stat COLUMNS of
    ``_with_quality_stats`` — one source of truth for quality_filter,
    curate, and stream_curate."""
    return [
        # first so a NULL document carries an explicit verdict: every
        # other condition is NULL on NULL text, and without this rule
        # array_compact would erase them all and report kept=true for
        # a row the filtering paths (filter_redact/curate) drop
        ("null_text", F.col("_tc").isNull()),
        ("min_tokens", F.col("_tc") < F.lit(int(t["min_tokens"]))),
        ("max_tokens", F.col("_tc") > F.lit(int(t["max_tokens"]))),
        ("stopword", F.col("_sw") < F.lit(float(t["min_stopword"]))),
        ("punct", F.col("_pu") > F.lit(float(t["max_punct"]))),
        ("repetition", F.col("_d2") > F.lit(float(t["max_dup2"]))),
        ("word_len", (F.col("_mwl") < F.lit(float(t["min_word_len"])))
                     | (F.col("_mwl") > F.lit(float(t["max_word_len"])))),
    ]


def quality_filter(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    thresholds: dict[str, float] | None = None,
) -> DataFrame:
    """(id, kept, fail_rules): the Gopher/C4-style rule-chain quality
    filter — every document gets a verdict plus the comma-joined names
    of the rules it failed (audit trail; production drops the column
    and filters ``kept``).

    Rules: token-count band, English stopword-ratio floor, punctuation
    -ratio ceiling, duplicate-2-gram ceiling (repetition spam), mean-
    word-length band. ONE codegen'd scan — every statistic is a
    Catalyst expression over the same tokenization, no UDFs, zero
    shuffle; at 100 TB this runs at parquet-scan speed and composes
    with redact_pii / hash_split in the same stage.
    """
    t = dict(QUALITY_DEFAULTS)
    t.update(thresholds or {})
    rules = _rule_conditions(t)
    fails = F.concat_ws(",", F.array_compact(F.array(
        *[F.when(cond, F.lit(name)) for name, cond in rules])))
    return (_with_quality_stats(df, id_col, text_col)
            .select(
                F.col(id_col),
                (fails == "").alias("kept"),
                fails.alias("fail_rules")))


def quality_filter_rule_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    thresholds: dict[str, float] | None = None,
) -> DataFrame:
    """(rule, n_failed): per-rule drop pressure — the monitoring view a
    pipeline dashboards next to the filter (a rule suddenly rejecting
    50% of a crawl is an incident signal). One scan + one tiny agg
    (six counters, map-side combined)."""
    per_doc = quality_filter(df, id_col, text_col, thresholds)
    return (per_doc
            .select(F.explode(F.split("fail_rules", ",")).alias("rule"))
            .where(F.col("rule") != "")
            .groupBy("rule")
            .agg(F.count(F.lit(1)).cast("long").alias("n_failed")))


_EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it",
                 "that", "was")


def quality_filter_sql(
    text: str, thresholds: dict[str, float] | None = None,
) -> tuple[str, str]:
    """DuckDB oracle: (kept_expr, fail_rules_expr) over column ``text``
    — same formulas, same rule order as :func:`quality_filter`."""
    t = dict(QUALITY_DEFAULTS)
    t.update(thresholds or {})
    toks = f"string_split_regex(lower({text}), '\\s+')"
    tok_cnt = f"len({toks})"
    words = ", ".join(f"'{w}'" for w in _EN_STOPWORDS)
    sw = (f"(CAST(len(list_filter({toks}, t -> t IN ({words}))) AS DOUBLE)"
          f" / greatest({tok_cnt}, 1))")
    punct = (f"(CAST(length(regexp_replace({text}, '[A-Za-z0-9\\s]', '', "
             f"'g')) AS DOUBLE) / greatest(length({text}), 1))")
    grams2 = (f"list_transform(generate_series(1, greatest({tok_cnt} - 1, 1)),"
              f" i -> {toks}[i] || ' ' || coalesce({toks}[i+1], ''))")
    dup2 = (f"(1.0 - CAST(len(list_distinct({grams2})) AS DOUBLE)"
            f" / len({grams2}))")
    mwl = (f"(CAST(length(regexp_replace({text}, '\\s', '', 'g')) AS DOUBLE)"
           f" / greatest({tok_cnt}, 1))")
    rules = [
        ("null_text", f"{text} IS NULL"),
        ("min_tokens", f"{tok_cnt} < {int(t['min_tokens'])}"),
        ("max_tokens", f"{tok_cnt} > {int(t['max_tokens'])}"),
        ("stopword", f"{sw} < {float(t['min_stopword'])}"),
        ("punct", f"{punct} > {float(t['max_punct'])}"),
        ("repetition", f"{dup2} > {float(t['max_dup2'])}"),
        ("word_len", f"({mwl} < {float(t['min_word_len'])} OR {mwl} > "
                     f"{float(t['max_word_len'])})"),
    ]
    parts = ", ".join(f"CASE WHEN {cond} THEN '{name}' ELSE NULL END"
                      for name, cond in rules)
    fails = (f"coalesce(array_to_string(list_filter([{parts}], "
             f"x -> x IS NOT NULL), ','), '')")
    return f"({fails} = '')", fails


def filter_redact(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    thresholds: dict[str, float] | None = None,
) -> DataFrame:
    """The stateless head of the curation pipeline: quality rule-chain
    filter then PII redaction, as one scan → (id, clean_text).

    The filter runs over the MATERIALIZED stat columns with a
    ``spark_partition_id() >= 0`` guard conjoined: a nondeterministic
    conjunct pins the Filter above the stats projections, because
    predicate pushdown substitutes alias definitions with no cost
    model — the pushed predicate re-tokenizes per reference and
    re-slices per element, measured 3.4 s vs 0.7 s for the identical
    5000-doc filter. The guard is always true; one integer compare
    per row buys the plan shape."""
    t = dict(QUALITY_DEFAULTS)
    t.update(thresholds or {})
    bad = None
    for _, cond in _rule_conditions(t):
        bad = cond if bad is None else (bad | cond)
    guard = F.spark_partition_id() >= 0
    kept = (_with_quality_stats(df, id_col, text_col)
            .where((~bad) & guard).select(id_col, text_col))
    return redact_pii(kept, id_col, text_col).select(id_col, "clean_text")


# (pattern, replacement) chain applied in ORDER — written with literal
# characters (no \uXXXX escapes) so the same strings drive Java regex
# (Spark) and RE2 (the DuckDB oracle) byte-for-byte; no lookaround.
NORMALIZE_RULES = (
    # C0 control chars (except \t \n \r, folded by the whitespace rule)
    # + DEL
    ("[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]", ""),
    # zero-width space/joiners, BOM, soft hyphen
    ("[​‌‍﻿­]", ""),
    # curly quotes -> ASCII
    ("[‘’]", "'"),
    ("[“”]", '"'),
    # en/em dash -> hyphen
    ("[–—]", "-"),
    # NBSP -> space
    (" ", " "),
    # whitespace runs -> single space
    (r"\s+", " "),
)


def normalize_text(df: DataFrame, text_col: str = "text",
                   out_col: str | None = None) -> DataFrame:
    """C4/CCNet-style text normalization: strip control and zero-width
    characters, fold typographic quotes/dashes/NBSP to ASCII, collapse
    whitespace runs, trim. A pure codegen'd ``regexp_replace`` chain
    (``NORMALIZE_RULES``, applied in order) — one scan, zero shuffle,
    zero UDFs; every pattern is RE2-safe so the DuckDB oracle replays
    it byte-for-byte. Overwrites ``text_col`` unless ``out_col``."""
    c: Column = F.col(text_col)
    for pat, rep in NORMALIZE_RULES:
        c = F.regexp_replace(c, pat, rep)
    return df.withColumn(out_col or text_col, F.trim(c))


def normalize_text_sql(expr: str) -> str:
    """The DuckDB twin of :func:`normalize_text` as a SQL expression
    over ``expr`` — used by the t14 oracle. Single quotes are doubled
    for the SQL literal; C0/DEL bytes (literal chars in
    ``NORMALIZE_RULES`` so the Spark side stays a plain Java regex)
    are re-rendered as RE2 ``\\x{..}`` escapes — embedded raw they
    would terminate or corrupt the SQL string literal."""
    def esc(s: str) -> str:
        return "".join(
            f"\\x{{{ord(ch):02x}}}" if ord(ch) < 32 or ord(ch) == 127
            else ("''" if ch == "'" else ch)
            for ch in s)

    out = expr
    for pat, rep in NORMALIZE_RULES:
        out = f"regexp_replace({out}, '{esc(pat)}', '{esc(rep)}', 'g')"
    return f"trim({out})"


# URL canonicalization rule chain — same shared-table discipline as
# NORMALIZE_RULES: literal Java-regex == RE2 patterns (no lookaround,
# no backrefs), applied in ORDER on the already-lowercased-head URL.
_TRACKING = ("(utm_[a-z0-9_]+|fbclid|gclid|msclkid|mc_eid"
             "|ref|ref_src|igshid)")
URL_RULES = (
    ("#.*", ""),                           # fragment
    (f"&{_TRACKING}=[^&#]*", ""),          # non-leading tracking params
    (f"\\?{_TRACKING}=[^&#]*&", "?"),      # leading one, with successor
    (f"\\?{_TRACKING}=[^&#]*$", ""),       # leading one, only param
    ("\\?$", ""),                          # bare '?' left behind
    ("/$", ""),                            # trailing slash
)
#: head (scheme://authority) matcher — everything before the first
#: /, ? or # after the scheme
_URL_HEAD = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*"


def canonicalize_url(url: Column) -> Column:
    """The canonical form of a URL — the key crawl pipelines dedup and
    frequency-cap on BEFORE any text processing (C4/RefinedWeb treat
    URL dedup as stage zero; the exact rule set is pipeline policy,
    this is the common core): lowercase the scheme+host, drop default
    ports (:80 http / :443 https), drop a leading ``www.``, strip the
    fragment, strip tracking query parameters (``URL_RULES``), strip
    a trailing ``?`` or ``/``. Path/query CASE is preserved (paths are
    case-sensitive). Non-URL strings pass through the query/fragment
    rules only (no head to normalize). Pure codegen'd
    regexp_extract/replace chain — zero UDFs; every pattern is
    RE2-safe so the DuckDB oracle replays it byte-for-byte
    (``canonicalize_url_sql``)."""
    head = F.regexp_extract(url, _URL_HEAD, 0)
    rest = F.substring(url, F.length(head) + 1, F.length(url))
    h = F.lower(head)
    h = (F.when(h.startswith("http://"),
                F.regexp_replace(h, ":80$", ""))
         .when(h.startswith("https://"),
               F.regexp_replace(h, ":443$", ""))
         .otherwise(h))
    h = F.regexp_replace(h, "://www\\.", "://")
    out = F.concat(h, rest)
    for pat, rep in URL_RULES:
        out = F.regexp_replace(out, pat, rep)
    return out


def canonicalize_url_sql(expr: str) -> str:
    """DuckDB twin of :func:`canonicalize_url` as a SQL expression
    over ``expr`` — the c13 oracle's builder. Same extract → lower →
    port/www strip → rule chain, byte-for-byte."""
    head = f"regexp_extract({expr}, '{_URL_HEAD}', 0)"
    h = (f"CASE WHEN starts_with(lower({head}), 'http://') "
         f"THEN regexp_replace(lower({head}), ':80$', '') "
         f"WHEN starts_with(lower({head}), 'https://') "
         f"THEN regexp_replace(lower({head}), ':443$', '') "
         f"ELSE lower({head}) END")
    out = (f"(regexp_replace({h}, '://www\\.', '://') || "
           f"substr({expr}, length({head}) + 1))")
    # DuckDB standard string literals do NOT process backslash escapes
    # (normalize_text_sql precedent: '\s+' passes through literally),
    # so patterns need only quote-doubling
    for pat, rep in URL_RULES:
        p = pat.replace("'", "''")
        out = f"regexp_replace({out}, '{p}', '{rep}', 'g')"
    return out


def url_dedup(df: DataFrame, url_col: str = "url",
              id_col: str = "doc_id") -> DataFrame:
    """Keep ONE row (lowest id) per canonical URL — crawl stage zero:
    re-crawls, tracking-tagged shares, and fragment variants of the
    same page collapse before any text-derived stage runs. Returns
    the surviving rows plus their ``url_canon`` key. One map-side-
    combinable min(struct(id, row)) aggregate keyed on the canonical
    URL (the id ordering key is unique, so the survivor is the same
    row the former row_number window kept) — re-crawl duplicates
    collapse to one row per canonical URL per map task BEFORE the
    exchange instead of all riding it (r7, guide §2.3/§2.4)."""
    wc = df.withColumn("url_canon", canonicalize_url(F.col(url_col)))
    others = [c for c in wc.columns if c not in (id_col, "url_canon")]
    return (wc.groupBy("url_canon")
            .agg(F.min_by(F.struct(F.col(id_col),
                                   *[F.col(c) for c in others]),
                          F.col(id_col)).alias("_m"))
            .select(F.col(f"_m.{id_col}").alias(id_col),
                    *[F.col(f"_m.{c}").alias(c) for c in others],
                    "url_canon")
            .select(*df.columns, "url_canon"))


def with_domain(df: DataFrame, url_col: str = "url",
                host_col: str = "host",
                domain_col: str = "domain") -> DataFrame:
    """Add ``host`` (lowercased authority, userinfo/port/path stripped)
    and ``domain`` (last two host labels — the registrable-domain
    approximation C4 keys its per-domain statistics on) extracted from
    a URL column. Pure ``regexp_extract`` + array ops — no UDF, no
    shuffle; the regex avoids lookaround so RE2-based engines (the
    DuckDB oracle) reproduce it byte-for-byte."""
    host = F.lower(F.regexp_extract(
        F.col(url_col),
        r"^[A-Za-z][A-Za-z0-9+.\-]*://(?:[^/@]*@)?([^/:?#]+)", 1))
    labels = F.split(host, r"\.")
    n = F.size(labels)
    reg = F.when(n >= 2, F.concat_ws(
        ".", F.get(labels, n - 2), F.get(labels, n - 1))).otherwise(host)
    return df.withColumn(host_col, host).withColumn(domain_col, reg)


def domain_stats(df: DataFrame, url_col: str = "url") -> DataFrame:
    """(domain, n_docs, n_hosts): per-registrable-domain corpus
    frequency — the table a crawl-curation pass inspects before
    setting caps/blocklists. One map-side-combinable groupBy."""
    return (with_domain(df, url_col)
            .groupBy("domain")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.count_distinct("host").alias("n_hosts")))


def domain_cap_order(id_col: str, seed: int = 0) -> Column:
    """The deterministic per-domain cap ordering key shared by
    ``domain_curate`` and ``streaming.stream_curate``: md5 of the
    colon-joined (seed, id) — ONE definition, so the streaming cap
    selects exactly the survivors the batch twin (and the c9 oracle:
    ``md5(seed || ':' || id)``) would."""
    from rust_graph_db_spark.functions.hashing import md5_key

    return F.md5(md5_key(F.lit(int(seed)), F.col(id_col)))


def domain_curate(df: DataFrame, url_col: str = "url",
                  id_col: str = "doc_id",
                  max_per_domain: int | None = None,
                  blocklist=None, seed: int = 0) -> DataFrame:
    """URL/domain-level curation (the C4/RefinedWeb recipe): drop
    blocklisted registrable domains, then cap each domain at
    ``max_per_domain`` documents — the survivors chosen by a
    DETERMINISTIC md5 rank (same substrate as ``sampling.
    stratified_exact``), so reruns and the SQL oracle select the same
    rows. Returns the kept rows with ``host``/``domain`` columns.

    100 TB shape: the blocklist (thousands of rows) broadcasts into
    the scan stage; the cap is one rank-window shuffle keyed by
    domain. Skewed mega-domains are exactly the rows the cap discards,
    and the rank needs only (domain, md5, id) — text stays in place
    until the final semi-join... here the window runs on the full row
    instead, which is fine while rows are scan-partitioned; swap to
    rank-on-ids + semi-join if row bodies are wide.
    """
    from pyspark.sql import Window

    out = with_domain(df, url_col)
    if blocklist is not None:
        bl = (blocklist if isinstance(blocklist, DataFrame)
              else df.sparkSession.createDataFrame(
                  [(d,) for d in blocklist], "domain STRING"))
        out = out.join(F.broadcast(bl), "domain", "left_anti")
    if max_per_domain is not None:
        w = Window.partitionBy("domain").orderBy(
            domain_cap_order(id_col, seed), F.col(id_col))
        out = (out.withColumn("_rk", F.row_number().over(w))
               .where(F.col("_rk") <= int(max_per_domain)).drop("_rk"))
    return out


# ------------------------------------------ C4 line-level cleaning

#: Line must end in one of these to be retained (C4 §2.2's "terminal
#: punctuation mark" rule; the close-quote covers quoted sentences).
C4_TERMINALS: tuple[str, ...] = (".", "!", "?", '"')


def c4_line_filter(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    min_words_per_line: int = 3, min_sentences: int = 5,
    line_blockers: tuple[str, ...] = ("javascript",),
    page_blockers: tuple[str, ...] = ("lorem ipsum", "{"),
) -> DataFrame:
    """(id, n_lines, n_kept, text_clean): the C4 line-level cleaning
    pass (Raffel et al. 2020, "Exploring the Limits of Transfer
    Learning", §2.2 — public). Per LINE of each page: retain only
    lines that end in a terminal punctuation mark, contain at least
    ``min_words_per_line`` words, and don't mention a line blocker
    (C4 drops every line with the word "javascript"). Per PAGE: drop
    the whole page if any page blocker appears ("lorem ipsum"
    placeholder text, "{" as the code heuristic) or if fewer than
    ``min_sentences`` sentence-final marks survive in the retained
    text. Only surviving pages are returned.

    This is the stage C4 runs BEFORE document-level quality rules
    (:func:`quality_filter` et al.) — boilerplate lines never reach
    the quality statistics. `curate(line_filter=True)` composes it.

    100 TB shape: pure Catalyst — one ``split`` + array ``filter``
    lambda per page inside the scan stage (zero shuffles, zero UDFs,
    whole-stage-codegen); the page verdict is a scalar predicate on
    the same row. Every predicate (ends_with / token count /
    contains / regexp_count of a character class) has a verbatim
    DuckDB twin, so the stage is fully oracle-checkable.
    """
    import functools
    import operator as _op

    lines = F.split(F.col(text_col), "\n")

    def _keep(ln):
        words = F.size(F.filter(F.split(ln, r"\s+"),
                                lambda x: x != F.lit("")))
        term = functools.reduce(
            _op.or_, [ln.endswith(t) for t in C4_TERMINALS])
        cond = term & (words >= int(min_words_per_line))
        for b in line_blockers:
            cond = cond & ~F.contains(F.lower(ln), F.lit(b))
        return cond

    kept = F.filter(lines, _keep)
    out = df.select(
        F.col(id_col),
        F.lower(F.col(text_col)).alias("_pl"),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
        F.array_join(kept, "\n").alias("text_clean"))
    page_ok = F.lit(True)
    for b in page_blockers:
        page_ok = page_ok & ~F.contains(F.col("_pl"), F.lit(b))
    nsent = F.regexp_count(F.col("text_clean"), F.lit(r"[.!?]"))
    return (out.where(page_ok & (nsent >= int(min_sentences)))
            .select(id_col, "n_lines", "n_kept", "text_clean"))


def curate(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    thresholds: dict[str, float] | None = None,
    weights: dict[str, float] | None = None,
    lm=None, max_ppl: float | None = None,
    languages=None, language_profiles_df: DataFrame | None = None,
    url_col: str | None = None, max_per_domain: int | None = None,
    domain_blocklist=None, normalize: bool = False,
    line_filter: bool = False, dedup_urls: bool = False,
    dedup_paragraphs: bool = False,
    html_col: str | None = None,
    neardup_keep: str | None = None,
    neardup_threshold: float = 0.8,
    outlier_band: tuple[float, float] | None = None,
) -> DataFrame:
    """The composed end-to-end curation pass a pretraining pipeline
    runs per crawl batch: [domain curation →] [LM perplexity filter →]
    [language filter →] quality rule-chain filter → PII redaction →
    exact dedup (on the REDACTED text, so docs differing only in
    scrubbed PII collapse) → deterministic train/val/test split.

    Returns ``(id, clean_text, split)`` for surviving documents.

    Optional stages (r4): pass ``lm`` (an ``operators.lm.BackoffLM``)
    + ``max_ppl`` to drop the high-perplexity tail first (the CCNet
    recipe), and/or ``languages`` (an iterable of lang codes) +
    ``language_profiles_df`` (``operators.lm.language_profiles``
    output) to keep only documents whose n-gram-profile language ID
    lands in the set.

    Optional stage (r5): pass ``url_col`` (plus ``max_per_domain``
    and/or ``domain_blocklist``) to run URL/domain curation FIRST —
    cheapest filter, so it prunes before any text-derived stage
    (``domain_curate``; the C4/RefinedWeb recipe). Pass
    ``normalize=True`` to run :func:`normalize_text` before any
    text-derived stage (so LM scores, language ID, quality stats, and
    dedup digests all see the normalized form — the CCNet order).
    Pass ``line_filter=True`` to run :func:`c4_line_filter` before
    normalization (the C4 order; it must see line structure, which
    normalization's whitespace collapse erases) — boilerplate lines
    and blocked pages never reach any downstream stage.
    ``dedup_urls=True`` (needs ``url_col``) runs canonical-URL dedup
    as stage ZERO — before domain caps, so a re-crawl can't consume
    two of its domain's slots. ``dedup_paragraphs=True`` runs
    corpus-level paragraph dedup before the line filter (repeated
    site boilerplate disappears whole).

    Optional stage (r7): pass ``html_col`` to start from raw HTML —
    :func:`operators.html.html_extract` runs right after the URL
    stages (which need no text) and before every text-derived stage,
    writing the extracted main content into ``text_col``; the input
    needs no ``text_col`` at all in that case. This makes ``curate()``
    runnable from crawl stage zero.

    Optional stage (r7): ``neardup_keep`` adds NEAR-duplicate
    keep-selection after the exact dedup — MinHash-LSH pairs over the
    redacted text at ``neardup_threshold``, then the keep policy:
    ``"best"`` keeps the longest member of each cluster
    (``dedup.keep_best_per_cluster``, the RefinedWeb policy),
    ``"min_id"`` keeps the smallest id, ``"maximal"`` keeps a maximal
    mutually-non-dup set (``dedup.keep_maximal_nondup`` — the most
    data consistent with the pair evidence). Default ``None``
    preserves the historical exact-only behavior.

    Optional stage (r7 s3): ``outlier_band=(lo, hi)`` drops documents
    whose token count falls outside the corpus's own exact
    ``[p_lo, p_hi]`` quantile band (:func:`outlier_clip` — the
    "drop the 1% tails" hygiene pass), AFTER the LM/language stages
    (so the band reflects the corpus that will be kept) and BEFORE
    the fixed-constant quality rules. Batch-only by design: the band
    is a corpus-global statistic, so ``stream_curate`` has no
    counterpart (a per-batch band would drift batch to batch).

    Plan shape at 100 TB: filter + redaction + split are ONE
    codegen'd scan stage (pure Catalyst, zero UDFs, predicates pushed
    into it); the only shuffles are the dedup's 16-byte-digest groupBy
    plus, when enabled, the LM-score joins and the language-ID count —
    each the standalone operator's own audited shape. Each stage has a
    SQL twin, so the composition is oracle-checkable end to end.
    """
    if url_col is None and (max_per_domain is not None
                            or domain_blocklist is not None
                            or dedup_urls):
        raise ValueError("curate(): max_per_domain/domain_blocklist/"
                         "dedup_urls need url_col")
    if dedup_urls:
        # crawl stage zero: canonical-URL dedup BEFORE domain caps (a
        # re-crawled page must not consume two slots of its domain's
        # budget) and before any text-derived stage
        df = url_dedup(df, url_col, id_col).drop("url_canon")
    if url_col is not None:
        df = domain_curate(df, url_col, id_col,
                           max_per_domain=max_per_domain,
                           blocklist=domain_blocklist) \
            .drop("host", "domain")
    if html_col is not None:
        # crawl stage zero for TEXT: extract main content from raw
        # HTML after the URL stages (metadata-only, cheaper) and
        # before anything that reads text
        from rust_graph_db_spark.operators.html import html_extract

        df = (html_extract(df, html_col, out_col=text_col)
              .drop(html_col, "n_kept", "n_dropped"))
    if dedup_paragraphs:
        # corpus-level segment dedup before line filtering: repeated
        # site boilerplate disappears whole, not line by line
        from rust_graph_db_spark.operators.dedup import paragraph_dedup

        pd_ = paragraph_dedup(df, id_col, text_col)
        df = df.drop(text_col).join(
            pd_.select(id_col, F.col("text_clean").alias(text_col)),
            id_col)
    if line_filter:
        lf = c4_line_filter(df, id_col, text_col)
        df = df.drop(text_col).join(
            lf.select(id_col, F.col("text_clean").alias(text_col)),
            id_col)
    if normalize:
        df = normalize_text(df, text_col)
    if (lm is None) != (max_ppl is None):
        # half-specified silently skipping the stage would look like
        # "LM filtering ran and kept everything"
        raise ValueError("curate(): lm and max_ppl must be given "
                         "together")
    if lm is not None:
        from rust_graph_db_spark.operators.lm import (
            KneserNeyLM, kn_perplexity_filter, perplexity_filter)

        # either LM family is a drop-in: stupid backoff (the 100 TB
        # default) or interpolated Kneser-Ney (the CCNet model)
        flt = (kn_perplexity_filter if isinstance(lm, KneserNeyLM)
               else perplexity_filter)
        df = flt(df, lm, max_ppl, text_col=text_col, id_col=id_col)
    if languages is not None:
        if language_profiles_df is None:
            raise ValueError(
                "curate(languages=...) needs language_profiles_df "
                "(operators.lm.language_profiles output)")
        if isinstance(languages, str):       # list("en") would match
            languages = [languages]          # the chars 'e' and 'n'
        from rust_graph_db_spark.operators.lm import language_id

        lid = language_id(df, language_profiles_df,
                          text_col=text_col, id_col=id_col)
        keep = lid.where(F.col("lang").isin(list(languages))) \
                  .select(id_col)
        df = df.join(keep, id_col, "left_semi")
    if outlier_band is not None:
        lo, hi = outlier_band
        if not 0.0 <= float(lo) < float(hi) <= 1.0:
            raise ValueError(
                f"curate(): outlier_band must satisfy 0 <= lo < hi "
                f"<= 1, got {outlier_band!r}")
        oc = outlier_clip(df, id_col=id_col, text_col=text_col,
                          lo=float(lo), hi=float(hi))
        df = df.join(oc.where(F.col("kept")).select(id_col),
                     id_col, "left_semi")
    red = filter_redact(df, id_col, text_col, thresholds)
    # Min-id-per-digest as ONE map-side-combinable min_by aggregate
    # (same survivors as the former row_number window — the id
    # ordering key is unique, so min_by has no ties to break). The
    # struct buffer plans as SortAggregate, but its sorts run over
    # rows the PARTIAL aggregate has already collapsed to one per
    # digest per map task, where the window
    # shipped EVERY row through the digest exchange and sorted each
    # partition; the partial aggregate collapses duplicates before
    # the shuffle — on a dedup stage, duplicates are the point — and
    # needs no sort (r7, guide §2.3/§2.4).
    deduped = (red.groupBy(F.md5(F.col("clean_text")).alias("_dig"))
               .agg(F.min_by(F.struct(F.col(id_col), F.col("clean_text")),
                             F.col(id_col)).alias("_m"))
               .select(F.col(f"_m.{id_col}").alias(id_col),
                       F.col("_m.clean_text").alias("clean_text")))
    if neardup_keep is not None:
        if neardup_keep not in ("best", "min_id", "maximal"):
            raise ValueError(
                "curate(): neardup_keep must be 'best', 'min_id' or "
                f"'maximal', got {neardup_keep!r}")
        from rust_graph_db_spark.operators.dedup import (
            keep_best_per_cluster, keep_maximal_nondup,
            minhash_lsh_pairs)

        # the exact stage already collapsed identical texts, so the
        # pair graph here is strictly NEAR dups; 32/8 banding per the
        # d3/d19 recall analysis
        pairs = minhash_lsh_pairs(deduped, id_col, "clean_text",
                                  num_hashes=32, bands=8,
                                  threshold=neardup_threshold)
        if neardup_keep == "maximal":
            deduped = keep_maximal_nondup(deduped, pairs, id_col)
        else:
            sel = keep_best_per_cluster(
                deduped, pairs, id_col, "clean_text",
                score=(F.length("clean_text").cast("long")
                       if neardup_keep == "best"
                       else (-F.col(id_col)).cast("long")))
            deduped = deduped.join(
                sel.where(F.col("kept")).select(id_col),
                id_col, "left_semi")
    return hash_split(deduped, id_col, weights) \
        .select(id_col, "clean_text", "split")


def ngram_stream(df: DataFrame, text_col: str = "text",
                 n: int = 2) -> DataFrame:
    """One ``gram`` row per word n-gram OCCURRENCE, corpus-wide — the
    raw stream behind ``top_ngrams`` and the count-min sketch audit.

    Tokenizes in a SEPARATE projection so the lambda below references
    the materialized array — inlining split(...) into the transform
    body re-evaluates it per element (O(tokens²) per doc in the
    interpreted HOF evaluator; measured 4.2 s → 0.6 s at sf0.1).
    """
    grams = F.expr(
        f"transform(sequence(1, greatest(size(_toks) - {n - 1}, 1)),"
        f" i -> concat_ws(' ', slice(_toks, i, {n})))")
    return (df.select(tokens(F.col(text_col))
                      .alias("_toks"))
            .select(F.explode(grams).alias("gram")))


def top_ngrams(
    df: DataFrame, text_col: str = "text", n: int = 2, top: int = 25,
) -> DataFrame:
    """(gram, cnt): the ``top`` most frequent word n-grams corpus-wide,
    ties broken by gram text (total order → deterministic result).

    Shape: tokenize (codegen), explode n-grams, count with map-side
    partial aggregation (the shuffle carries (gram, partial_cnt) —
    bounded by vocabulary, not corpus size), then per-partition top-k
    via ``TakeOrderedAndProject`` — no global sort, no collect. The
    standard vocabulary/boilerplate-inspection scan of a web-corpus
    pipeline.
    """
    return (ngram_stream(df, text_col, n)
            .groupBy("gram")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("gram"))
            .limit(top))


def repetition_metrics(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """(id, tok_cnt, dup2_frac, dup3_frac): fraction of word 2-grams /
    3-grams that are repeats within the document (1 - distinct/total) —
    the MassiveText/Gopher repetition signals used to drop boilerplate
    and spam. Single scan, pure Catalyst higher-order functions.
    """
    n = F.size("_toks")
    # trigrams as nested zip_with over three shifted slices (same
    # O(n)-not-O(n·k) rationale as bigrams()); ≤2 tokens → the dup
    # fraction is identically 0 under the oracle's single-gram
    # convention, so short docs skip gram construction entirely
    g3 = F.zip_with(
        F.zip_with(F.slice("_toks", 1, n - 2), F.slice("_toks", 2, n - 2),
                   lambda a, b: F.concat(a, F.lit(" "), b)),
        F.slice("_toks", 3, n - 2),
        lambda ab, c: F.concat(ab, F.lit(" "), c))

    def frac(col: str) -> Column:
        return (F.lit(1.0) - F.size(F.array_distinct(col)) / F.size(col)
                ).cast("double")

    return (df.select(F.col(id_col),
                      tokens(F.col(text_col))
                      .alias("_toks"))
            .select(F.col(id_col), "_toks", bigrams().alias("_g2"),
                    F.when(n <= 2, F.array(F.concat_ws(" ", "_toks")))
                     .otherwise(g3).alias("_g3"))
            .select(
                F.col(id_col),
                F.size("_toks").cast("long").alias("tok_cnt"),
                F.round(frac("_g2"), 6).alias("dup2_frac"),
                F.round(frac("_g3"), 6).alias("dup3_frac")))


def decontaminate_bloom(
    train: DataFrame, benchmark: DataFrame,
    id_col: str = "doc_id", text_col: str = "text",
    bench_id_col: str | None = None, bench_text_col: str | None = None,
    k: int = 8, m_bits: int = 1 << 17, n_hash: int = 4,
) -> DataFrame:
    """``(id, n_grams, n_hits, flagged)``: Bloom-filter variant of
    :func:`decontaminate` — the 100 TB SCALE PATH when the benchmark
    shingle set is too large to broadcast as raw hashes and too hot to
    shuffle-join per run.

    The filter is built relationally: every benchmark k-char shingle
    sets ``n_hash`` bit positions ``md5_long(j || ':' || gram) %
    m_bits`` (the cross-engine md5 substrate, functions/hashing.py),
    and the DISTINCT set-bit table — at most ``m_bits`` ints, i.e.
    ~1 MB at the 2^17 default REGARDLESS of benchmark size — is what
    ships broadcast to the probe side. A training shingle "hits" iff
    ALL ``n_hash`` of its positions are set; a doc is ``flagged`` iff
    any shingle hits. Classic Bloom semantics: no false negatives
    (every d6 hit is a c14 hit), false positives at the standard
    ``(1-e^(-n_hash*n/m_bits))^n_hash`` rate for ``n`` distinct
    benchmark shingles (NB: this function's ``k`` is the SHINGLE
    size, not the hash count) — and because the bit positions are a
    pure function of the gram, the FP set is DETERMINISTIC and the
    whole construction replays in SQL, FPs included: the oracle is
    bitwise, not approximate-tolerant.

    Probe-side cost: n_hash codegen'd hashes per distinct (doc,
    shingle) and a broadcast semi-join — no shuffle touches the
    benchmark set after the one distinct-bits agg.
    """
    from rust_graph_db_spark.functions.hashing import md5_key, md5_long

    bench_id = bench_id_col or id_col
    bench_text = bench_text_col or text_col
    m, nh = int(m_bits), int(n_hash)
    j = F.explode(F.array(*[F.lit(i) for i in range(nh)])).alias("j")

    def _grams(df: DataFrame, idc: str, txc: str) -> DataFrame:
        # d6's shingle convention: substr windows, short docs get one
        # whole-text gram (greatest(len-k+1, 1))
        return (df.select(
            F.col(idc).alias("id"), F.col(txc).alias("s"),
            F.explode(F.sequence(F.lit(1), F.greatest(
                F.length(txc) - (k - 1), F.lit(1)))).alias("i"))
            .select("id", F.col("s").substr(F.col("i"), F.lit(k))
                    .alias("g"))
            .distinct())

    bits = (_grams(benchmark, bench_id, bench_text)
            .select("g").distinct()
            .select(F.col("g"), j)
            .select((md5_long(md5_key(F.col("j"), F.col("g"))) % m)
                    .alias("pos"))
            .distinct()
            .localCheckpoint(eager=True))
    probe = (_grams(train, id_col, text_col)
             .select("id", "g", j)
             .select("id", "g",
                     (md5_long(md5_key(F.col("j"), F.col("g"))) % m)
                     .alias("pos")))
    # each probe row matches <= 1 bits row (bits is distinct), so the
    # per-(id, g) match count IS the number of set positions
    hits = (probe.join(F.broadcast(bits), "pos")
            .groupBy("id", "g").agg(F.count(F.lit(1)).alias("nset"))
            .where(F.col("nset") == nh)
            .groupBy("id").agg(F.count(F.lit(1)).cast("long")
                               .alias("n_hits")))
    per_doc = (_grams(train, id_col, text_col)
               .groupBy("id").agg(F.count(F.lit(1)).cast("long")
                                  .alias("n_grams")))
    return (per_doc.join(hits, "id", "left")
            .select(F.col("id").alias(id_col), "n_grams",
                    F.coalesce("n_hits", F.lit(0)).cast("long")
                    .alias("n_hits"))
            .withColumn("flagged", F.col("n_hits") > 0))


def ccnet_ppl_buckets(docs: DataFrame, lm, id_col: str = "doc_id",
                      text_col: str = "text", lang_col: str = "lang",
                      n_buckets: int = 3,
                      keep_max_bucket: int = 2) -> DataFrame:
    """``(doc_id, lang, ppl, bucket, kept)``: CCNet perplexity
    bucketing (Wenzek et al., "CCNet: Extracting High Quality
    Monolingual Datasets from Web Crawl Data", LREC 2020 — the
    corpus-quality stage LLaMA trained on): score every document with
    a Kneser-Ney LM trained on a trusted slice (:func:`lm.train_kn_lm`
    / :func:`lm.kn_perplexity`, the paper's actual LM family), then
    split each LANGUAGE into ``n_buckets`` equal-depth perplexity
    buckets (1 = head = most-fluent … n = tail) and keep buckets
    ``<= keep_max_bucket`` (head+middle, the paper's and LLaMA's
    setting). Documents with no tokens have no perplexity and are
    absent from the output (same contract as t15).

    Bucket assignment is EXACT NTILE semantics over the total order
    (ppl, doc_id) within each language — but computed WITHOUT a
    single-partition-per-language window: the global rank comes from
    :func:`packing.global_cumsum` over the (lang, ppl, doc_id) struct
    (range partition + driver prefix-sum of O(partitions) counts,
    the d12 substrate), per-language base rank and count come from a
    broadcast O(#languages) aggregate, and the bucket is closed-form
    arithmetic on (rank-in-lang, count): with q = cnt div n and
    r = cnt mod n, the first r buckets take q+1 rows and the rest q —
    exactly what NTILE(n) produces, so the DuckDB oracle can use the
    builtin. At 100 TB this is one range exchange + the t15 scoring
    joins; no language ever serializes through one task.
    """
    n = int(n_buckets)
    from rust_graph_db_spark.operators.lm import kn_perplexity
    from rust_graph_db_spark.operators.packing import global_cumsum

    # pinned: the scored frame has TWO downstream executions inside
    # global_cumsum (the range-boundary sample job + the exchange
    # materialization) — without the checkpoint the 3-join KN scoring
    # plan runs twice. ~40 B/doc, the checkpoint is skinny.
    scored = (kn_perplexity(docs, lm, text_col=text_col, id_col=id_col)
              .join(docs.select(id_col, lang_col), id_col)
              .localCheckpoint(eager=True))
    ranked = global_cumsum(
        scored.withColumn("_one", F.lit(1))
              .withColumn("_ord", F.struct(F.col(lang_col),
                                           F.col("ppl"),
                                           F.col(id_col))),
        "_ord", "_one", out_col="_rn")
    st = (ranked.groupBy(lang_col)
          .agg(F.min("_rn").alias("_basern"),
               F.count(F.lit(1)).alias("_cnt"))
          .withColumnRenamed(lang_col, "_lang"))
    # eqNullSafe: a NULL language is its own partition (the oracle's
    # NTILE PARTITION BY keeps the NULL group) — a plain equi-join
    # would silently drop unidentified-language docs here
    j = (ranked.join(F.broadcast(st),
                     F.col(lang_col).eqNullSafe(F.col("_lang")))
         .drop("_lang"))
    rk = F.col("_rn") - F.col("_basern") + 1
    q = F.floor(F.col("_cnt") / n).cast("long")
    r = F.pmod(F.col("_cnt"), n)
    # NTILE(n): buckets 1..r hold q+1 rows, r+1..n hold q. greatest()
    # keeps the unreachable else-branch division defined when q = 0
    # (then rk <= r = cnt always takes the first branch).
    bucket = (F.when(rk <= r * (q + 1),
                     F.floor((rk - 1) / (q + 1)) + 1)
              .otherwise(r + F.floor((rk - r * (q + 1) - 1)
                                     / F.greatest(q, F.lit(1))) + 1))
    return (j.select(F.col(id_col), F.col(lang_col), F.col("ppl"),
                     bucket.cast("int").alias("bucket"))
            .withColumn("kept",
                        F.col("bucket") <= int(keep_max_bucket)))


def gopher_repetition(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      top_ns: tuple = (2, 3, 4),
                      dup_ns: tuple = (5, 6, 7, 8, 9, 10)) -> DataFrame:
    """The full Gopher/MassiveText repetition battery (Rae et al.
    2021, "Scaling Language Models: ... Gopher", Table A1) — the
    canonical LLM-corpus quality filter family, extending
    :func:`repetition_metrics`' dup-2/3-gram fractions with the
    line-level and character-coverage signals:

    - ``dup_line_frac``: 1 − distinct/total over trimmed non-empty
      lines (the t3 convention at line level);
    - ``dup_line_char_frac``: chars in occurrences of lines appearing
      ≥2× / chars over all line occurrences;
    - ``top{n}_char_frac`` (n ∈ ``top_ns``): count·length of the most
      frequent word n-gram / chars over all n-gram occurrences (ties
      → lexicographically smallest gram);
    - ``dup{n}_char_frac`` (n ∈ ``dup_ns``): chars in occurrences of
      n-grams appearing ≥2× / chars over all n-gram occurrences.

    All numerators/denominators are exact integer char sums (gram
    length includes its single joining spaces; ``char_cnt`` is the
    length of the single-space-joined token list), fractions are one
    exact-int double divide rounded to 6 digits HALF_UP through
    ``Decimal(repr(x))`` (the shortest-decimal-rendering semantics of
    Spark's ``round``), and every fraction is 0 when its denominator
    is 0 — conventions pinned so the DuckDB oracle replays bitwise.
    Tokenization is Python ``re`` ``\\s+`` (≡ Java ``\\s+``
    character-for-character) and lines are trimmed of ASCII spaces
    only, mirroring ``F.trim``. Requires non-null ``text_col``.

    100 TB shape: every metric is WITHIN-document, so the whole
    battery is ONE scan with ZERO shuffles: each Arrow batch is
    computed in a ``mapInPandas`` body (Counter-based, CPython). The
    r7 A/B (2M docs, back-to-back, idle box, both materializations
    forced; SCALE.md §18) measured this form at 26.7 s against 526.0 s
    for the same battery as interpreted Catalyst higher-order
    functions (~20×), which is why that form was retired. Compare:
    the naive per-(doc, gram) groupBy would shuffle ~9 gram tables of
    the corpus' token volume.
    """
    import re as _re
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql import types as T

    names = (["tok_cnt", "char_cnt", "line_cnt", "dup_line_frac",
              "dup_line_char_frac"]
             + [f"top{n}_char_frac" for n in top_ns]
             + [f"dup{n}_char_frac" for n in dup_ns])
    in_schema = df.select(F.col(id_col), F.col(text_col)).schema
    out_schema = T.StructType(
        [in_schema[0]]
        + [T.StructField(n, T.LongType()) for n in names[:3]]
        + [T.StructField(n, T.DoubleType()) for n in names[3:]])
    tns, dns = tuple(top_ns), tuple(dup_ns)

    def _r6(num: int, den: int) -> float:
        if den <= 0:
            return 0.0
        return float(Decimal(repr(num / den)).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP))

    def _doc(text: str) -> list:
        toks = _re.split(r"\s+", text.lower())
        lines = [ln.strip(" ") for ln in text.split("\n")]
        lines = [ln for ln in lines if ln]
        out = [len(toks), len(" ".join(toks)), len(lines)]
        lc = Counter(lines)
        ltot = sum(len(x) * c for x, c in lc.items())
        ldup = sum(len(x) * c for x, c in lc.items() if c >= 2)
        # EXACTLY the oracle's expression 1.0 - distinct/total (the
        # algebraically-equal (total-distinct)/total can differ in
        # the last ulp and flip the 6-digit rounding)
        if lines:
            q = 1.0 - (len(lc) / len(lines))
            out.append(float(Decimal(repr(q)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP)))
        else:
            out.append(0.0)
        out.append(_r6(ldup, ltot))
        grams = {}
        for n in sorted(set(tns + dns)):
            grams[n] = Counter(
                " ".join(toks[i:i + n])
                for i in range(len(toks) - n + 1)) \
                if len(toks) >= n else Counter()
        for n in tns:
            g = grams[n]
            tot = sum(len(x) * c for x, c in g.items())
            if g:
                top = min(g, key=lambda x: (-g[x], x))
                out.append(_r6(g[top] * len(top), tot))
            else:
                out.append(0.0)
        for n in dns:
            g = grams[n]
            tot = sum(len(x) * c for x, c in g.items())
            dup = sum(len(x) * c for x, c in g.items() if c >= 2)
            out.append(_r6(dup, tot))
        return out

    def _batches(it):
        import pandas as pd
        for pdf in it:
            vals = [[i] + _doc(t)
                    for i, t in zip(pdf[id_col], pdf[text_col])]
            yield pd.DataFrame(vals, columns=[id_col] + names)

    return df.select(F.col(id_col), F.col(text_col)) \
             .mapInPandas(_batches, out_schema)

# ------------------------------------------------- outlier winsorize

def outlier_clip(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", metric=None,
                 lo: float = 0.01, hi: float = 0.99) -> DataFrame:
    """``(id, x, lo_v, hi_v, x_clip, kept)``: robust-quantile outlier
    stage — derive the exact ``(lo, hi)`` quantiles of a per-document
    metric (default: whitespace token count, the length signal every
    curation recipe thresholds), mark documents outside the band
    (``kept``), and carry the winsorized value ``x_clip = clamp(x,
    lo_v, hi_v)``. Unlike the fixed-constant length filters (t6/c4),
    the thresholds here come from the corpus itself, so the stage
    transfers across corpora without retuning — the
    "drop the 1% tails" recipe used for pretraining-mix hygiene.

    ``metric`` may be any numeric Column over the input row (e.g. a
    c5 classifier score); it defaults to ``token_count(text_col)``.

    100 TB shape: the metric is computed in codegen during ONE scan;
    the quantile pair reuses :func:`~rust_graph_db_spark.operators.
    sketches.exact_quantiles` (one range exchange over the metric
    column ONLY — the texts are never shuffled), and its 2-row result
    comes back as a broadcast cross-join onto the corpus, so the
    second pass over the documents is shuffle-free. Nothing
    corpus-sized is ever buffered in one task (the builtin exact
    ``percentile`` would be).
    """
    from rust_graph_db_spark.functions.text import token_count
    from rust_graph_db_spark.operators.sketches import exact_quantiles

    x = (metric if metric is not None
         else token_count(F.col(text_col))).cast("double")
    m = docs.select(F.col(id_col), x.alias("x"))
    qs = exact_quantiles(m, "x", [float(lo), float(hi)])
    band = qs.agg(
        F.min(F.when(F.col("q") == float(lo), F.col("v"))).alias("lo_v"),
        F.max(F.when(F.col("q") == float(hi), F.col("v"))).alias("hi_v"))
    return (m.crossJoin(F.broadcast(band))
            .select(
                id_col, "x", "lo_v", "hi_v",
                F.least(F.greatest(F.col("x"), F.col("lo_v")),
                        F.col("hi_v")).alias("x_clip"),
                # a NULL metric (e.g. NULL text) can't be judged: kept
                # is coalesced to false so it stays a REAL boolean
                # (the d19 lesson — no three-valued keep flags)
                F.coalesce(
                    F.col("x").between(F.col("lo_v"), F.col("hi_v")),
                    F.lit(False)).alias("kept"))
            .orderBy(id_col))
