"""Scale rehearsal: run the headline pipeline/graph operators on
synthetic data 10-100x the bench SF and record wall times + shuffle
counts, so the SCALE.md claims are measured, not just argued.

Synthetic inputs are generated with spark.range + deterministic
xxhash64 draws (no RNG, no disk dependency beyond a transient /tmp
parquet so operators pay a real scan). This is a PERFORMANCE harness —
correctness stays the driver-oracle gate at the sf testdata.

Usage: python scripts/scale_rehearsal.py [n_docs] [n_edges] [only]
Defaults: 2_000_000 docs (~60 tokens each), 10_000_000 edges; ``only``
is an optional comma-list of stage names — when given, every other
stage (and any training pre-step no selected stage needs) is skipped,
so a new operator can be rehearsed without re-paying the full suite.
Prints one JSON line per stage and a summary line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

WORDS = ("the a of to and in for on with by data table query stream "
         "join filter sort hash merge scan row column value key part "
         "batch window group order fast slow big small line spark "
         "customer agg vector cat dog fox hen zebra nine ten eleven").split()


def _gen_docs(spark, n_docs: int, path: str):
    from pyspark.sql import functions as F

    from rust_graph_db_spark.model import pack_graphid  # noqa: F401

    # ~60 deterministic words per doc, JVM-side: base word from
    # xxhash64(doc, pos) plus a numeric suffix widening the vocabulary
    # to ~44*9973 ≈ 440k distinct tokens — WITHOUT the suffix every
    # doc shares most shingles and the LSH candidate set goes
    # quadratic (916k pairs from just 20k docs in the smoke run)
    words_arr = F.array(*[F.lit(w) for w in WORDS])
    toks = F.transform(
        F.sequence(F.lit(1), F.lit(60)),
        lambda i: F.concat(
            F.element_at(
                words_arr,
                (F.pmod(F.xxhash64(F.col("id"), i), F.lit(len(WORDS)))
                 + 1).cast("int")),
            F.pmod(F.xxhash64(F.lit(7), F.col("id"), i), F.lit(9973))
            .cast("string")))
    (spark.range(n_docs)
     .select(F.col("id").alias("doc_id"),
             F.array_join(toks, " ").alias("text"),
             F.concat(F.lit("src"),
                      F.pmod(F.col("id"), F.lit(20))).alias("source"),
             F.element_at(F.array(F.lit("en"), F.lit("de"), F.lit("fr"),
                                  F.lit("es"), F.lit("zh")),
                          (F.pmod(F.col("id"), F.lit(5)) + 1)
                          .cast("int")).alias("lang"))
     .write.mode("overwrite").parquet(path))


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    n_edges = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000_000
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else set()

    def want(*names) -> bool:
        return not only or bool(only & set(names))

    import rust_graph_db_spark as rg
    from pyspark.sql import functions as F

    from rust_graph_db_spark import probe

    spark = rg.get_spark("scale-rehearsal")
    tmp = tempfile.mkdtemp(prefix="scale_rehearsal_")
    docs_path = f"{tmp}/docs.parquet"
    t0 = time.time()
    _gen_docs(spark, n_docs, docs_path)
    print(json.dumps({"stage": "gen_docs", "n": n_docs,
                      "sec": round(time.time() - t0, 1)}))
    docs = spark.read.parquet(docs_path)
    results = {}

    def stage(name, fn):
        if not want(name):
            return
        t = time.time()
        try:
            df = fn()
            n = df.count()
        except Exception as exc:  # noqa: BLE001 — record + continue:
            # one stage blowing shuffle disk must not erase the
            # measurements of every stage after it
            results[name] = round(time.time() - t, 1)
            print(json.dumps({"stage": name, "error": str(exc)[:200],
                              "sec": results[name]}))
            return
        dt = round(time.time() - t, 1)
        results[name] = dt
        print(json.dumps({"stage": name, "rows": n, "sec": dt,
                          "exchanges": probe.exchanges(df)}))

    from rust_graph_db_spark.operators.dedup import (exact_dedup,
                                                     minhash_lsh_pairs)
    stage("exact_dedup", lambda: exact_dedup(docs, "doc_id", "text"))
    stage("minhash_lsh_pairs",
          lambda: minhash_lsh_pairs(docs, "doc_id", "text",
                                    num_hashes=32, bands=8,
                                    verify=False))

    from rust_graph_db_spark.operators.lm import (language_id,
                                                  language_profiles,
                                                  perplexity,
                                                  train_backoff_lm)
    lm = prof = None
    if want("perplexity_score", "curate_composite", "dsir_after_curate"):
        t = time.time()
        lm = train_backoff_lm(docs.where(F.col("source") == "src0"))
        results["lm_train"] = round(time.time() - t, 1)
        print(json.dumps({"stage": "lm_train", "total_tokens": lm.total,
                          "sec": results["lm_train"]}))
    stage("perplexity_score", lambda: perplexity(docs, lm))
    if want("language_id", "curate_composite", "dsir_after_curate"):
        t = time.time()
        prof = language_profiles(
            docs.where(F.col("doc_id") % 100 == 0)).localCheckpoint()
        results["lang_profiles"] = round(time.time() - t, 1)
        print(json.dumps({"stage": "lang_profiles",
                          "sec": results["lang_profiles"]}))
    stage("language_id", lambda: language_id(docs, prof))

    from rust_graph_db_spark.operators.dedup import exact_substring_dedup
    # the one-row agg forces FULL materialization (a bare count() lets
    # Spark prune the text_clean rebuild out of the plan entirely)
    stage("exact_substring_k50",
          lambda: exact_substring_dedup(docs, k=50).agg(
              F.sum(F.length("text_clean")).alias("clean_bytes"),
              F.sum("n_removed").alias("n_removed")))

    from rust_graph_db_spark.operators.dsir import dsir_logweights
    stage("dsir_logweights",
          lambda: dsir_logweights(
              docs, docs.where(F.col("source") == "src0"),
              buckets=65_536))

    # ---- the r5 composite seam: curate() with domain + LM + langid
    # stages chained, then DSIR resampling over the survivors — the
    # per-stage numbers above say nothing about checkpoint/reuse
    # behavior ACROSS stages, which is what this measures.
    from rust_graph_db_spark.operators.curation import curate
    from rust_graph_db_spark.operators.dsir import dsir_resample

    permissive = {"min_tokens": 1, "max_tokens": 10**9,
                  "min_stopword": 0.0, "max_punct": 1.0,
                  "max_dup2": 1.0, "min_word_len": 0.0,
                  "max_word_len": 100.0}
    holder = {}

    def _composite():
        withu = docs.withColumn("url", F.concat(
            F.lit("https://h"),
            F.pmod(F.col("doc_id"), F.lit(9973)).cast("string"),
            F.lit(".site"),
            F.pmod(F.col("doc_id"), F.lit(97)).cast("string"),
            F.lit(".com/p/"), F.col("doc_id").cast("string")))
        cur = curate(withu, thresholds=permissive,
                     lm=lm, max_ppl=1e9,
                     languages=["en", "de", "fr", "es", "zh"],
                     language_profiles_df=prof,
                     url_col="url",
                     max_per_domain=max(1000, n_docs // 110),
                     domain_blocklist=["site13.com"])
        # eager checkpoint: the composite's own cost is what the stage
        # times; the DSIR stage below then starts from materialized
        # survivors instead of re-running the whole chain
        holder["cur"] = cur.localCheckpoint(eager=True)
        return holder["cur"]

    stage("curate_composite", _composite)

    def _dsir():
        # dsir can be selected without curate_composite (only=dsir_...):
        # run the composite untimed as its prerequisite in that case
        if "cur" not in holder:
            _composite()
        return dsir_resample(
            holder["cur"].withColumnRenamed("clean_text", "text"),
            docs.where(F.col("source") == "src0"),
            k=max(1000, n_docs // 20), buckets=65_536)

    stage("dsir_after_curate", _dsir)

    # r7: the d19 keep policy inside the composite — exact dedup +
    # MinHash-LSH pair graph + keep-best selection end to end
    stage("curate_neardup_keep",
          lambda: curate(docs, thresholds=permissive,
                         neardup_keep="best"))

    # r7 session 2: chunking / budget selection / KMV / ROLLUP at
    # corpus scale. chunk_overlap's agg forces every chunk string to
    # materialize (a bare count() would prune the array_join); the
    # others return bounded frames so count() is already forcing.
    from rust_graph_db_spark.operators.packing import (budget_select,
                                                       chunk_overlap)
    stage("chunk_overlap_128_64",
          lambda: chunk_overlap(docs, size=128, stride=64)
          .agg(F.sum(F.length("chunk")).alias("chunk_bytes"),
               F.count(F.lit(1)).alias("n"))
          .where(F.col("n") != F.lit(-1)))
    # budget = ~half the corpus tokens, so the selection boundary
    # lands mid-corpus and the range shuffle + cumsum both matter
    stage("budget_select_half",
          lambda: budget_select(docs, budget=max(1, n_docs * 30)))

    from rust_graph_db_spark.operators.sketches import (kmv_estimate,
                                                        kmv_table,
                                                        rollup_stats)
    stage("kmv_sketch_k4096",
          lambda: kmv_estimate(kmv_table(docs, "text", k=4096)))
    stage("rollup_source_lang",
          lambda: rollup_stats(docs, ["source", "lang"], "doc_id"))

    # r7 session 3: CUBE lattice, exact quantiles, outlier winsorize,
    # per-group top-k (WindowGroupLimit), hot-key salted join. The
    # quantile/outlier stages are the ones with a real scale story —
    # the value column shuffles once, the texts never move.
    from rust_graph_db_spark.operators.curation import outlier_clip
    from rust_graph_db_spark.operators.sketches import (cube_stats,
                                                        exact_quantiles,
                                                        topk_per_group)
    from rust_graph_db_spark.operators.skew import salted_join
    stage("cube_source_lang",
          lambda: cube_stats(docs, ["source", "lang"], "doc_id"))
    stage("exact_quantiles_len",
          lambda: exact_quantiles(
              docs.select(F.length("text").alias("n")), "n",
              [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]))
    stage("outlier_clip_p1_p99",
          lambda: outlier_clip(docs, lo=0.01, hi=0.99)
          .agg(F.sum(F.col("kept").cast("long")).alias("n_kept"),
               F.sum("x_clip").alias("sx"))
          .where(F.col("n_kept") != F.lit(-1)))
    stage("topk3_per_source",
          lambda: topk_per_group(
              docs.select("source", "doc_id",
                          F.length("text").alias("n")),
              ["source"], "n", 3, tiebreak="doc_id"))
    # r7 session 3b: the per-group pair on the c15 substrate + MMR.
    # grouped ops group by source (20 groups) — the bounded-#groups
    # shape the substrate assumes.
    from rust_graph_db_spark.operators.packing import \
        budget_select_by_group
    from rust_graph_db_spark.operators.sketches import grouped_quantiles
    stage("grouped_quantiles_source",
          lambda: grouped_quantiles(
              docs.withColumn("n", F.length("text")), "source", "n",
              [0.01, 0.25, 0.5, 0.75, 0.99]))
    stage("budget_by_group_source",
          lambda: budget_select_by_group(
              docs, "source", budget=max(1, n_docs * 3),
              budgets={"src0": max(1, n_docs * 6)})
          .agg(F.count(F.lit(1)).alias("n"),
               F.sum("tok_cnt").alias("st"))
          .where(F.col("n") != F.lit(-1)))

    def _mmr():
        from rust_graph_db_spark.operators.similarity import mmr_topk
        dim = 64
        emb = spark.range(n_docs // 4).select(
            F.col("id").alias("vec_id"),
            F.array(*[
                (F.pmod(F.xxhash64(F.lit(j), "id"), F.lit(1000))
                 .cast("double") / 500.0 - 1.0)
                for j in range(dim)]).alias("embedding"))
        q = [((j * 37 + 11) % 1000) / 500.0 - 1.0 for j in range(dim)]
        return mmr_topk(emb, q, k=8, lam=0.5)
    stage("mmr_top8_quartercorpus", _mmr)


    from rust_graph_db_spark.operators.bpe import vocab_coverage
    stage("vocab_coverage_audit",
          lambda: vocab_coverage(
              docs,
              docs.select(F.explode(F.split(F.lower("text"), r"\s+"))
                          .alias("p")).groupBy("p").count()
              .orderBy(F.desc("count"), F.asc("p")).limit(100_000)
              .select("p"))
          .agg(F.sum("n_oov").alias("oov"),
               F.sum("n_tokens").alias("nt"))
          .where(F.col("nt") != F.lit(-1)))

    from rust_graph_db_spark.operators.skew import key_skew_profile
    stage("key_skew_profile",
          lambda: key_skew_profile(
              docs.select(F.when(F.pmod("doc_id", F.lit(5)) < 4,
                                 F.lit("src0"))
                          .otherwise(F.col("source")).alias("k")),
              "k"))

    # hot-key salted join: docs joined to a per-source dim through a
    # deliberately skewed key (80% of rows collapse to source src0)
    stage("salted_join_hot", lambda: salted_join(
        docs.select(F.when(F.pmod("doc_id", F.lit(5)) < 4,
                           F.lit("src0"))
                    .otherwise(F.col("source")).alias("k"),
                    "doc_id"),
        docs.select(F.col("source").alias("k")).distinct()
        .withColumn("w", F.length("k")),
        "k", salts=16, hot_threshold=100_000)
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum("w").alias("sw"))
        .where(F.col("n") != F.lit(-1)))

    # r7: HTML extraction (t21) at corpus scale — each doc rendered
    # into a full synthetic page (nav/head/script/footer + paragraphs
    # split mid-text), then extracted back. The agg forces the full
    # text rebuild (§17: a bare count() would prune the extraction).
    from rust_graph_db_spark.operators.html import html_extract

    def _html():
        pages = docs.select("doc_id", F.concat(
            F.lit('<html><head><title>Doc '),
            F.col("doc_id").cast("string"),
            F.lit('</title><style>p{margin:0}</style></head><body>'
                  '<nav><a href="/">Home</a> | <a href="/a">About</a>'
                  ' | <a href="/l">Log in</a></nav><p>'),
            F.replace(F.col("text"), F.lit(" data "),
                      F.lit(" x.</p>\n<p>")),
            F.lit('</p><!-- c --><script>var q=1;</script>'
                  '<footer>&copy; 2026 CorpusCo. All rights reserved.'
                  '</footer></body></html>')).alias("html"))
        # post-agg filter per the §17 trap (see kn_perplexity_shuffle)
        return (html_extract(pages, "html", out_col="clean")
                .agg(F.sum(F.length("clean")).alias("clean_bytes"),
                     F.sum("n_kept").alias("kept_lines"),
                     F.sum("n_dropped").alias("dropped_lines"))
                .where(F.col("clean_bytes") != F.lit(-1)))

    stage("html_extract", _html)

    # ---- r6: "next decade" state-growth rehearsal — stream the WHOLE
    # corpus through in ~8 micro-batches so the durable state tables
    # (w13's bucket set; w12/c9's digest set + per-domain kept-count
    # log) grow to full-corpus size ACROSS batches, which no
    # single-batch run exercises. Stage time covers every micro-batch
    # including the state anti-joins against all previously appended
    # state; a second JSON line records the final state sizes.
    from rust_graph_db_spark.streaming import (stream_curate,
                                               stream_neardup_dedup)

    def _batched_stream():
        import glob
        files = glob.glob(f"{docs_path}/part-*.parquet")
        return (spark.readStream
                .schema("doc_id LONG, text STRING, source STRING, "
                        "lang STRING")
                .option("maxFilesPerTrigger", max(1, len(files) // 8))
                .parquet(docs_path))

    def _neardup_stream():
        out, st = f"{tmp}/nd_out", f"{tmp}/nd_state"
        q = stream_neardup_dedup(
            _batched_stream(), out, st,
            checkpoint=f"{tmp}/nd_ckpt")
        q.awaitTermination()
        # per-batch trigger durations: THE r7 measurable for the
        # state-probe fix — with the state scanned (broadcast probe)
        # instead of shuffled+distinct-ed, late batches must not cost
        # more than early ones beyond the bare columnar-scan term
        per_batch = [
            {"batch": p["batchId"],
             "ms": p["durationMs"].get("triggerExecution")}
            for p in q.recentProgress if p.get("numInputRows", 0) > 0]
        print(json.dumps({"stage": "stream_neardup_state",
                          "bucket_rows":
                              spark.read.parquet(st).count(),
                          "per_batch_ms": per_batch}))
        return spark.read.parquet(out)

    stage("stream_neardup_fullcorpus", _neardup_stream)

    # w14: bounded-state streaming heavy hitters — the whole corpus in
    # 8 micro-batches; state grows by <= the batch's DISTINCT cells
    # (capped at depth x width) per batch, never by corpus volume.
    def _stream_cms():
        from rust_graph_db_spark.operators.curation import ngram_stream
        from rust_graph_db_spark.operators.sketches import cms_estimate
        from rust_graph_db_spark.streaming.ingest import (
            stream_cms_state, stream_gram_cms)
        st = f"{tmp}/cms_state"
        q = stream_gram_cms(_batched_stream(), st, n=2,
                            checkpoint=f"{tmp}/cms_ckpt")
        q.awaitTermination()
        cells = spark.read.parquet(st).count()
        sk = stream_cms_state(spark, st)
        print(json.dumps({"stage": "stream_cms_state",
                          "cell_log_rows": int(cells)}))
        grams = docs.limit(200000).select(
            F.col("text").substr(1, 40).alias("gram"))
        return cms_estimate(sk, grams, "gram")
    stage("stream_gram_cms_fullcorpus", _stream_cms)

    def _curate_stream():
        out, st = f"{tmp}/sc_out", f"{tmp}/sc_state"
        s = _batched_stream().withColumn("url", F.concat(
            F.lit("https://h"),
            F.pmod(F.col("doc_id"), F.lit(9973)).cast("string"),
            F.lit(".site"),
            F.pmod(F.col("doc_id"), F.lit(97)).cast("string"),
            F.lit(".com/p/"), F.col("doc_id").cast("string")))
        stream_curate(
            s, out, st, checkpoint=f"{tmp}/sc_ckpt",
            thresholds=permissive, url_col="url",
            max_per_domain=max(1000, n_docs // 110),
            domain_blocklist=["site13.com"]).awaitTermination()
        print(json.dumps({
            "stage": "stream_curate_state",
            "digest_rows": spark.read.parquet(st).count(),
            "domain_log_rows":
                spark.read.parquet(f"{st}_domains").count()}))
        return spark.read.parquet(out)

    stage("stream_curate_fullcorpus", _curate_stream)

    # ---- r5 session-2 additions: KN LM, winnowing, C4 line filter,
    # cross-corpus decontamination
    from rust_graph_db_spark.operators.lm import (kn_perplexity,
                                                  train_kn_lm)
    klm = None

    def _ensure_klm():
        nonlocal klm
        if klm is None:
            t = time.time()
            klm = train_kn_lm(docs.where(F.col("source") == "src0"))
            results["kn_train"] = round(time.time() - t, 1)
            print(json.dumps({"stage": "kn_train", "types": klm.types,
                              "sec": results["kn_train"]}))
        return klm

    if want("kn_perplexity_score"):
        _ensure_klm()
    stage("kn_perplexity_score", lambda: kn_perplexity(docs, klm))

    # r7 (r6 verdict #6): the broadcast→shuffle boundary probe.
    # kn_perplexity broadcasts its three count frames below 50M types
    # and falls back to shuffle joins above — that fallback was never
    # exercised. broadcast_max_types=0 forces the shuffle path on the
    # SAME model + corpus right after the broadcast run, so the
    # fallback costs a measured ratio, not a guess. The agg forces
    # full ppl materialization (the §17 count()-pruning trap).
    if want("kn_perplexity_shuffle"):
        _ensure_klm()
    # the post-agg filter is NOT decoration: count() of a bare global
    # agg is answered statically (1 row) and prunes the whole
    # aggregate — the §17 trap, re-hit live by this very stage in the
    # first r7 run (4.4 s "measurement" of nothing). The broadcast
    # arm gets the SAME forced shape so the A/B is like-for-like
    # (kn_perplexity_score's per-doc count may under-force).
    if want("kn_perplexity_broadcast"):
        _ensure_klm()
    stage("kn_perplexity_broadcast",
          lambda: kn_perplexity(docs, klm)
          .agg(F.sum("ppl").alias("s_ppl"),
               F.count(F.lit(1)).alias("n"))
          .where(F.col("n") != F.lit(-1)))
    stage("kn_perplexity_shuffle",
          lambda: kn_perplexity(docs, klm, broadcast_max_types=0)
          .agg(F.sum("ppl").alias("s_ppl"),
               F.count(F.lit(1)).alias("n"))
          .where(F.col("n") != F.lit(-1)))

    # c15: CCNet buckets on the KN scores — adds the global_cumsum
    # range exchange + broadcast lang-stats on top of the t15 joins;
    # the per-language NTILE never serializes a language into one task
    from rust_graph_db_spark.operators.curation import ccnet_ppl_buckets
    if want("ccnet_buckets"):
        _ensure_klm()
        stage("ccnet_buckets", lambda: ccnet_ppl_buckets(docs, klm))

    from rust_graph_db_spark.operators.dedup import winnow_fingerprints
    stage("winnow_fingerprints",
          lambda: winnow_fingerprints(docs, k=3, window=4))

    from rust_graph_db_spark.operators.curation import (
        c4_line_filter, decontaminate_neardup)
    # break the word soup into ~8-word lines ending in '.' so the
    # line predicates exercise on realistic line counts
    pages = docs.select("doc_id", F.regexp_replace(
        F.col("text"), r"((?:\S+ ){7}\S+) ", "$1.\n").alias("text"))
    stage("c4_line_filter",
          lambda: c4_line_filter(pages, min_sentences=3))

    # t20: the full Gopher battery is zero-shuffle by construction
    # (within-document Counter tallies in Arrow batches) — the stage
    # measures the per-row cost of 9 gram families on ~60-token docs.
    # The whole-row-hash agg forces EVERY metric column to evaluate: a
    # bare count() is answered from parquet metadata, and an agg over
    # a column subset lets Catalyst prune the other columns
    from rust_graph_db_spark.operators.curation import gopher_repetition

    def _gopher_forced():
        g = gopher_repetition(pages)
        cols = ", ".join(g.columns)
        # bit_xor (never overflows under ANSI, unlike sum) + a
        # non-tautological filter: count() of a bare global agg knows
        # the answer is 1 row and prunes the aggregate itself
        return (g.agg(F.expr(f"bit_xor(xxhash64(struct({cols})))")
                      .alias("rowhash"))
                .where(F.col("rowhash") != F.lit(123456789)))

    stage("gopher_repetition", _gopher_forced)
    bench = (docs.where(F.col("doc_id") % 200 == 0)
             .select("doc_id",
                     F.concat("text", F.lit(" qq eval")).alias("text")))
    stage("decontaminate_neardup",
          lambda: decontaminate_neardup(docs, bench, threshold=0.5))

    # ---- graph side: power-law-ish random digraph
    from rust_graph_db_spark.operators.graph_algos import (
        graph_profile, maximal_independent_set, pagerank)
    nv = max(1000, n_edges // 10)
    edges = (spark.range(n_edges)
             .select(F.pmod(F.xxhash64("id"), F.lit(nv)).alias("src"),
                     F.pmod(F.xxhash64(F.lit(1), "id"),
                            F.lit(nv)).alias("dst"))
             .localCheckpoint())
    stage("pagerank_5it", lambda: pagerank(edges, iterations=5))
    stage("mis", lambda: maximal_independent_set(edges, seed=1))
    stage("graph_profile", lambda: graph_profile(edges))
    from rust_graph_db_spark.operators.graph_algos import k_truss
    stage("k_truss_4", lambda: k_truss(edges, k=4, max_rounds=6))

    # ---- r5 session-3 additions: fuzzy edit-distance join, TextRank,
    # Bloom decontamination, local clustering. Slice factors are
    # chosen so each stage's dominant substrate (gram explode, pair
    # agg + weighted PR loop, md5 probe, wedge join) runs at the same
    # order of volume as the established stages above.
    from rust_graph_db_spark.operators.dedup import edit_distance_pairs
    # entity-resolution shape: 64-char keys. MEASURED FINDINGS
    # (SCALE.md §14) — three successive disk blow-outs pinned the
    # operator's real scaling contract:
    # (a) q=3 degenerates: ~46k possible trigrams over this alphabet,
    #     so at 124M gram instances even the rarest grams carry huge
    #     doc-frequency and the prefix join explodes;
    # (b) max_dist=8/q=5 still explodes: prefix length d*q+1 = 41 of
    #     ~60 grams — prefix filtering pays only when d*q << l;
    # (c) with BOTH fixed (max_dist=3, q=4, prefix 13 of 61), 2M docs
    #     STILL explode on THIS corpus: the 9973-value suffix space
    #     floors the rarest digit-gram doc-frequency at ~1800, and
    #     candidate volume is inherently sum-over-join-keys df² ≈
    #     14k keys × 1800² ≈ 5e10. Gram-signature joins are capped by
    #     corpus KEY ENTROPY, not just parameters — the stage runs at
    #     the cardinality this corpus's entropy supports (100k titles,
    #     df floor ~90), and higher-entropy keying (token-level
    #     signatures, d13 window hashes) is the documented escape
    #     hatch for low-entropy corpora at full scale.
    titles = (docs.where(F.col("doc_id") % 20 == 0)
              .select("doc_id", F.substring("text", 1, 64).alias("text")))
    stage("edit_distance_titles_100k",
          lambda: edit_distance_pairs(titles, max_dist=3, q=4))

    # d18 on the FULL-cardinality title corpus — the one that blew the
    # pure Ed-Join path out three times (SCALE.md §15). fallback="none"
    # is the short-key scale form: k=2 token windows draw from the
    # ~440k-token vocabulary (|vocab|^k entropy), where char q-grams
    # were floored by the 36-symbol alphabet. 1000 planted single-char
    # mutations (lev<=1, one damaged token of ~7 -> an intact 2-run
    # survives) make the run a recall statement, not just a survival
    # one: the stage's row count must come back >= 1000.
    from rust_graph_db_spark.operators.dedup import \
        blocked_edit_distance_pairs
    all_titles = docs.select("doc_id",
                             F.substring("text", 1, 64).alias("text"))
    planted = (all_titles.where(F.col("doc_id") % 2000 == 0)
               .select((F.col("doc_id") + 1_000_000_000).alias("doc_id"),
                       F.concat(F.substring("text", 1, 29), F.lit("?"),
                                F.substring("text", 31, 34))
                       .alias("text")))
    stage("blocked_edit_distance_titles_full",
          lambda: blocked_edit_distance_pairs(
              all_titles.unionByName(planted), max_dist=3, k=2,
              fallback="none"))

    from rust_graph_db_spark.operators.ranking import textrank_keywords
    stage("textrank_200k",
          lambda: textrank_keywords(
              docs.where(F.col("doc_id") % 10 == 0), iterations=3))

    # t18 at full corpus: the DP runs over the DISTINCT-word table
    # (~440k rows here — WORDS x 9973 suffixes), 12 positions x <=4
    # broadcast piece joins + one per-word argmin window each, so the
    # cost is vocabulary-bound, not corpus-bound (the corpus is
    # touched once for word counts) — the same scaling split as t11.
    from rust_graph_db_spark.operators.bpe import unigram_vocab
    stage("unigram_vocab_full",
          lambda: unigram_vocab(docs))

    # t19 at full corpus: like t11/t18 the loop is vocabulary-bound
    # (corpus touched once for word counts; each of the 16 rounds is
    # two map-side-combinable aggs over the exploded distinct-word
    # symbol table + one broadcast-size argmax)
    from rust_graph_db_spark.operators.bpe import train_wordpiece
    stage("wordpiece_vocab_full",
          lambda: train_wordpiece(docs, num_merges=16))

    from rust_graph_db_spark.operators.curation import decontaminate_bloom
    stage("bloom_decontaminate_500k",
          lambda: decontaminate_bloom(
              docs.where(F.col("doc_id") % 4 == 1)
                  .select("doc_id",
                          F.substring("text", 1, 128).alias("text")),
              docs.where(F.col("doc_id") % 400 == 0)
                  .select("doc_id",
                          F.substring("text", 1, 128).alias("text"))))

    from rust_graph_db_spark.operators.graph_algos import local_clustering
    stage("local_clustering", lambda: local_clustering(edges))

    # d19: keep-selection over a synthetic pair graph at doc scale —
    # chains + a deliberate MEGA-CLUSTER (every 1000th doc pairs into
    # one component) to prove the combinable-max selection never
    # serializes a cluster into one task (no per-cluster window)
    from rust_graph_db_spark.operators.dedup import keep_best_per_cluster

    def _keep_best():
        chain = (spark.range(n_docs // 2)
                 .select((F.col("id") * 2).alias("i"),
                         (F.col("id") * 2 + 1).alias("j")))
        mega = (spark.range(n_docs // 1000)
                .select(F.lit(0).cast("long").alias("i"),
                        (F.col("id") * 1000).alias("j"))
                .where(F.col("j") > 0))
        return keep_best_per_cluster(docs, chain.unionByName(mega))

    stage("keep_best_mega_cluster", _keep_best)

    print(json.dumps({"metric": "scale_rehearsal_seconds",
                      "n_docs": n_docs, "n_edges": n_edges,
                      "stages": results,
                      "value": round(sum(results.values()), 1)}))
    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
