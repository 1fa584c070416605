"""Empty-input battery: every major operator must return an empty (or
well-defined degenerate) result on empty frames, never raise — at
pipeline scale an empty partition/batch/crawl-day is routine, and an
operator that throws on it kills the whole job."""

import pytest


@pytest.fixture(scope="module")
def empty(spark):
    return {
        "docs": spark.createDataFrame([], "doc_id LONG, text STRING"),
        "edges": spark.createDataFrame([], "src LONG, dst LONG"),
        "emb": spark.createDataFrame([], "vec_id LONG, embedding ARRAY<FLOAT>"),
    }


def test_dedup_ops_on_empty(empty):
    from rust_graph_db_spark.operators import dedup

    d = empty["docs"]
    assert dedup.exact_dedup(d, "doc_id", "text").count() == 0
    assert dedup.ngram_jaccard_pairs(d, "doc_id", "text").count() == 0
    assert dedup.containment_pairs(d).count() == 0
    assert dedup.minhash_lsh_pairs(d, "doc_id", "text").count() == 0
    assert dedup.simhash_pairs(d, "doc_id", "text").count() == 0
    assert dedup.chunk_dedup(d).count() == 0


def test_curation_ops_on_empty(empty):
    from rust_graph_db_spark.operators import curation, packing, sketches

    d = empty["docs"]
    assert curation.quality_filter(d).count() == 0
    assert curation.redact_pii(d).count() == 0
    assert curation.top_ngrams(d).count() == 0
    assert curation.curate(d).count() == 0
    assert curation.decontaminate(d, d).count() == 0
    assert sketches.cms_table(d, "text").count() == 0
    assert packing.pack_sequences(d).count() == 0


def test_r5_ops_on_empty(empty, spark):
    from rust_graph_db_spark.operators import classifier, curation, dedup

    d = empty["docs"]
    assert dedup.exact_substring_dedup(d, k=5).count() == 0
    assert dedup.duplicate_token_spans(d, k=5).count() == 0
    assert dedup.minhash_band_buckets(d).count() == 0
    assert classifier.score_pinned(d).count() == 0
    assert curation.normalize_text(d).count() == 0
    u = spark.createDataFrame([], "doc_id LONG, text STRING, url STRING")
    assert curation.domain_curate(u, max_per_domain=2,
                                  blocklist=["x.com"]).count() == 0
    assert curation.domain_stats(u).count() == 0
    assert curation.curate(u, url_col="url", max_per_domain=2,
                           normalize=True).count() == 0
    # MIS on an empty edge list (keep_maximal_nondup path)
    from rust_graph_db_spark.operators.graph_algos import \
        maximal_independent_set
    assert maximal_independent_set(empty["edges"]).count() == 0
    # winnowing: no docs -> no grams -> no fingerprints, no pairs
    assert dedup.winnow_fingerprints(d).count() == 0
    assert dedup.winnow_candidate_pairs(d).count() == 0
    # k-truss / link prediction of the empty graph are empty
    from rust_graph_db_spark.operators.graph_algos import (
        k_truss, link_prediction)
    assert k_truss(empty["edges"], k=4).count() == 0
    assert link_prediction(empty["edges"]).count() == 0
    # C4 line filter on empty input / all-blocked pages
    assert curation.c4_line_filter(d).count() == 0
    # bipartite decontamination: either side empty -> no pairs
    one = spark.createDataFrame([(1, "some text here")],
                                "doc_id LONG, text STRING")
    assert curation.decontaminate_neardup(d, one).count() == 0
    assert curation.decontaminate_neardup(one, d).count() == 0
    # mixture plan over an empty corpus: empty table, not an error
    from rust_graph_db_spark.operators.sampling import mixture_plan
    e = spark.createDataFrame([], "doc_id LONG, source STRING, "
                                  "text STRING")
    assert mixture_plan(e, {"s0": 1}, 100).count() == 0
    # paragraph dedup / URL dedup on empty input
    assert dedup.paragraph_dedup(d).count() == 0
    eu = spark.createDataFrame([], "doc_id LONG, url STRING")
    assert curation.url_dedup(eu).count() == 0
    # KN LM: training on empty docs yields a degenerate (types=0)
    # model; scoring it raises (the BackoffLM convention)
    from rust_graph_db_spark.operators import lm as lm_mod
    klm = lm_mod.train_kn_lm(d)
    assert klm.types == 0
    import pytest as _pytest
    with _pytest.raises(ValueError):
        lm_mod.kn_perplexity(d, klm)


def test_graph_ops_on_empty(empty):
    from rust_graph_db_spark.operators import graph_algos as ga

    e = empty["edges"]
    assert ga.pagerank(e, iterations=2).count() == 0
    assert ga.connected_components(e).count() == 0
    assert ga.degrees(e).count() == 0
    assert ga.k_core(e, 2).count() == 0
    assert ga.label_propagation(e, 2).count() == 0
    assert ga.random_walks(e, 3).count() == 0
    # PPR: the requested source still gets its teleport share
    ppr = {r.id: r.rank
           for r in ga.personalized_pagerank(e, [7], iterations=2).collect()}
    assert ppr == {7: pytest.approx(0.15)}
    # neighborhood function: N(h) = 0 for every hop, one row per hop,
    # in both the sketch sweep and the exact mode
    for exact in (False, True):
        nf = ga.neighborhood_function(e, max_hops=3, exact=exact).collect()
        assert [(r.hop, r.n_pairs) for r in nf] == [(h, 0) for h in range(4)]
        h = ga.harmonic_centrality(e, max_hops=3, exact=exact)
        assert h.columns == ["id", "harmonic"] and h.count() == 0
        c = ga.closeness_centrality(e, max_hops=3, exact=exact)
        assert c.columns == ["id", "closeness"] and c.count() == 0


def test_similarity_ops_on_empty(empty):
    from rust_graph_db_spark.operators import similarity

    v = empty["emb"]
    assert similarity.cosine_pairs(v, 0.5).count() == 0
    assert similarity.lsh_cosine_pairs(v, 0.5, dim=8).count() == 0


def test_similarity_null_and_zero_vectors(spark):
    """Null and all-zero embedding rows (failed encoder batches) are
    EXCLUDED, not crashes: cosine against them is undefined, and before
    drop_undefined they raised DIVIDE_BY_ZERO / Arrow-kernel errors in
    every operator here."""
    from rust_graph_db_spark.operators import similarity

    rows = [(0, [1.0, 0.0, 0.0, 0.0]), (1, None), (2, [0.0] * 4),
            (3, [1.0, 0.0, 0.0, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")

    assert [(r.i, r.j) for r in
            similarity.cosine_pairs(emb, 0.5).collect()] == [(0, 3)]
    topk = similarity.cosine_topk(emb, [1.0, 0, 0, 0], k=3).collect()
    assert [r.id for r in topk] == [0, 3]
    assert [(r.i, r.j) for r in
            similarity.lsh_cosine_pairs(emb, 0.5, dim=4).collect()] == [(0, 3)]
    knn = similarity.knn_join(emb.where("vec_id < 2"), emb, k=2).collect()
    assert [(r.qid, r.nid) for r in knn] == [(0, 3)]


def test_graph_ops_drop_null_endpoints(spark):
    """Null src/dst rows (dirty joins upstream) are dropped at edge
    normalization in every graph operator — before the guard they
    crashed the driver-BFS/Dijkstra paths (Arrow coerces a long column
    with nulls to float64, failing the LongType re-ingest) and
    random_walks (empty collect_list → pmod by zero), and polluted
    degrees with phantom null-id rows."""
    from rust_graph_db_spark.operators import graph_algos as ga
    from rust_graph_db_spark.operators import traversal as tv

    e = spark.createDataFrame([(1, 2), (2, None), (None, 3), (3, 1)],
                              "src LONG, dst LONG")
    assert sorted((r.id, r.dist) for r in
                  tv.bfs_distances(e, [1], max_hops=3).collect()) \
        == [(1, 0), (2, 1)]
    w = e.selectExpr("src", "dst", "1.0 as weight")
    assert sorted((r.id, r.dist) for r in
                  tv.weighted_shortest_distances(w, 1).collect()) \
        == [(1, 0.0), (2, 1.0)]
    assert tv.shortest_path(e, 3, 2) == {"path": [3, 1, 2], "cost": 2,
                                         "hops": 2}
    assert ga.random_walks(e, 3).count() > 0
    assert sorted(r.id for r in ga.degrees(e).collect()) == [1, 2, 3]
    assert {r.id for r in ga.connected_components(e).collect()} == {1, 2, 3}
    # HyperBall trio: 1->2, 3->1 survive; exact distances from 1: {2: 1},
    # from 3: {1: 1, 2: 2}, from 2: none. Balls of <= 3 vertices are
    # exact in the sketches too.
    for exact in (False, True):
        nf = ga.neighborhood_function(e, max_hops=3, exact=exact).collect()
        assert [(r.hop, r.n_pairs) for r in nf] \
            == [(0, 3), (1, 5), (2, 6), (3, 6)]
        hc = {r.id: r.harmonic for r in
              ga.harmonic_centrality(e, max_hops=3, exact=exact).collect()}
        assert hc == {1: pytest.approx(1.0), 2: 0.0, 3: pytest.approx(1.5)}
        # Lin's index r^2 / (n * S): 1 -> 1/3, 3 -> 4/(3*3)
        cc = {r.id: r.closeness for r in
              ga.closeness_centrality(e, max_hops=3, exact=exact).collect()}
        assert cc == {1: pytest.approx(1 / 3), 2: 0.0,
                      3: pytest.approx(4 / 9)}


def test_r5_s3_ops_on_empty(empty):
    from rust_graph_db_spark.operators import curation, dedup, ranking
    from rust_graph_db_spark.operators.graph_algos import local_clustering

    d = empty["docs"]
    assert dedup.edit_distance_pairs(d).count() == 0
    assert ranking.textrank_keywords(d).count() == 0
    assert curation.decontaminate_bloom(d, d).count() == 0
    assert local_clustering(empty["edges"]).count() == 0
