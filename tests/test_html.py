"""operators/html (t21) + the r7 curate()/stream_curate knobs:
HTML extraction semantics/edges, html_col stage-zero wiring, and the
d19 near-dup keep policies in both the batch and streaming composites.
Cross-engine byte parity is the oracle gate (t21_html_extract); these
cover behavior the oracle's synthetic pages don't reach."""

import pytest
from pyspark.sql import functions as F

PERMISSIVE = {"min_tokens": 1, "max_tokens": 10**9,
              "min_stopword": 0.0, "max_punct": 1.0,
              "max_dup2": 1.0, "min_word_len": 0.0,
              "max_word_len": 100.0}

PAGE = (
    '<html><head><title>Title Words</title>'
    '<style>.a{color:red}</style><script>var a=1;</script></head>'
    '<body><nav><a href="/">Home</a> | <a href="/x">About</a> | '
    '<a href="/y">Contact</a></nav>'
    '<h1>A Real Headline For The Story</h1>'
    '<p>First real paragraph, long enough to clear every length '
    'threshold, with one <a href="/in">inline link</a> buried in '
    'plenty of surrounding prose so density stays low.</p>'
    '<p>Entities: R&amp;D &lt;tags&gt; &quot;quoted&quot; '
    '&nbsp;spaced &mdash; dashed &hellip; and more text to be long.</p>'
    '<!-- hidden comment text -->'
    '<footer>&copy; 2026 SomeCo. All rights reserved. '
    '<a href="/p">Privacy Policy</a></footer></body></html>')


def _extract(spark, rows):
    from rust_graph_db_spark.operators.html import html_extract

    df = spark.createDataFrame(rows, "doc_id LONG, html STRING")
    return {r.doc_id: r for r in
            html_extract(df, "html").orderBy("doc_id").collect()}


def test_html_extract_content_vs_boilerplate(spark):
    got = _extract(spark, [(0, PAGE)])[0]
    lines = got.text.split("\n")
    # content survives
    assert lines[0] == "A Real Headline For The Story"
    assert "inline link buried in plenty" in lines[1]
    # entities decoded
    assert 'Entities: R&D <tags> "quoted" spaced - dashed ...' in lines[2]
    # boilerplate gone: head/style/script subtrees, comment, nav
    # (link-dense), footer (legal phrase)
    assert "Title Words" not in got.text
    assert "color:red" not in got.text and "var a=1" not in got.text
    assert "hidden comment" not in got.text
    assert "Home" not in got.text
    assert "rights reserved" not in got.text
    assert got.n_kept == 3 and got.n_dropped == 2   # nav + footer


def test_html_extract_edges(spark):
    rows = [
        (0, None),
        (1, ""),
        (2, "plain text with no markup that is comfortably long enough"),
        # bare '<' in prose is not a tag
        (3, "score was 3 < 5 in the match report which ran long enough"),
        # short link crumb alone -> dropped
        (4, '<p><a href="/n">Next page</a></p>'),
        # unclosed tag at end: generic strip still removes the tag lexeme
        (5, "a long enough honest sentence that simply ends with <em>"),
    ]
    got = _extract(spark, rows)
    assert got[0].text == "" and got[0].n_kept == 0
    assert got[1].text == "" and got[1].n_dropped == 0
    assert got[2].text == rows[2][1]
    assert got[3].text == rows[3][1]
    assert got[4].text == "" and got[4].n_dropped == 1
    assert got[5].text.startswith("a long enough honest sentence")


def test_html_extract_plan_is_one_scan(spark):
    """Single codegen'd scan: no Exchange anywhere in the plan."""
    from rust_graph_db_spark import probe
    from rust_graph_db_spark.operators.html import html_extract

    df = spark.createDataFrame([(0, PAGE)], "doc_id LONG, html STRING")
    assert "Exchange" not in probe.plan(html_extract(df, "html"))


def test_curate_from_html(spark):
    """curate(html_col=...) runs extraction as text stage zero — the
    corpus carries NO text column at all."""
    from rust_graph_db_spark.operators.curation import curate

    rows = [(i, PAGE.replace("For The Story", f"For Story {i}"))
            for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id LONG, html STRING")
    out = {r.doc_id: r.clean_text
           for r in curate(df, thresholds=PERMISSIVE,
                           html_col="html").collect()}
    assert len(out) == 4
    for i in range(4):
        assert f"A Real Headline For Story {i}" in out[i]
        assert "rights reserved" not in out[i]


def _neardup_corpus(spark):
    base = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliet kilo lima mike november oscar papa quebec romeo "
            "sierra tango uniform victor whiskey xray yankee zulu "
            "one two three four five six seven eight nine ten eleven "
            "twelve thirteen fourteen")
    other = ("completely different text about gardens rivers stones "
             "mountains forests valleys meadows clouds storms winters "
             "summers springs autumns harvests orchards vineyards "
             "pastures prairies deserts canyons glaciers fjords")
    return spark.createDataFrame(
        [(1, base),
         (2, base + " extra tail words"),      # longer near-dup of 1
         (3, other)],
        "doc_id LONG, text STRING")


@pytest.mark.parametrize("keep,survivors", [
    ("best", {2, 3}),      # longest member of the {1,2} cluster
    ("min_id", {1, 3}),    # smallest id
])
def test_curate_neardup_keep_policies(spark, keep, survivors):
    from rust_graph_db_spark.operators.curation import curate

    out = curate(_neardup_corpus(spark), thresholds=PERMISSIVE,
                 neardup_keep=keep)
    assert {r.doc_id for r in out.collect()} == survivors


def test_curate_neardup_keep_maximal(spark):
    from rust_graph_db_spark.operators.curation import curate

    got = {r.doc_id for r in
           curate(_neardup_corpus(spark), thresholds=PERMISSIVE,
                  neardup_keep="maximal").collect()}
    # exactly one of the near-dup pair {1,2} + the unpaired 3
    assert 3 in got and len(got & {1, 2}) == 1 and len(got) == 2


def test_curate_neardup_keep_validates(spark):
    from rust_graph_db_spark.operators.curation import curate

    with pytest.raises(ValueError, match="neardup_keep"):
        curate(_neardup_corpus(spark), thresholds=PERMISSIVE,
               neardup_keep="bogus")


def test_stream_curate_neardup_keep_cross_batch(spark, tmp_path):
    """Within a batch the policy keeps the longest bucket-sharer;
    across batches first-claim-wins (a longer later near-dup cannot
    revoke an already-emitted doc)."""
    import glob
    import os
    import shutil

    from rust_graph_db_spark.streaming import stream_curate

    base = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliet kilo lima mike november oscar papa quebec romeo "
            "sierra tango uniform victor whiskey xray yankee zulu "
            "one two three four five six seven eight nine ten eleven "
            "twelve thirteen fourteen")
    other = ("entirely separate prose about gardens rivers stones "
             "mountains forests valleys meadows clouds storms winters "
             "summers springs autumns harvests orchards vineyards "
             "pastures prairies deserts canyons glaciers fjords "
             "plateaus tundras lagoons estuaries deltas")
    batches = [
        [(10, base)],
        # 20 = longer near-dup of 10 (claimed in batch 0 -> dropped);
        # 30/40 = fresh in-batch near-dup pair, 40 longer -> kept
        [(20, base + " extra tail words"),
         (30, other),
         (40, other + " appended longer tail")],
    ]
    watch = tmp_path / "in"
    watch.mkdir()
    for b, rows in enumerate(batches):
        part = str(tmp_path / f"b{b}")
        spark.createDataFrame(rows, "doc_id LONG, text STRING") \
             .coalesce(1).write.parquet(part)
        dst = str(watch / f"batch{b}.parquet")
        shutil.copy(glob.glob(f"{part}/part-*.parquet")[0], dst)
        os.utime(dst, (1_600_000_000 + b * 3600,) * 2)

    stream = (spark.readStream
              .schema("doc_id LONG, text STRING")
              .option("maxFilesPerTrigger", 1)
              .parquet(str(watch)))
    stream_curate(
        stream, str(tmp_path / "out"), str(tmp_path / "state"),
        thresholds=PERMISSIVE, neardup_keep="best",
        checkpoint=str(tmp_path / "ckpt")).awaitTermination(180)

    out = {(r.doc_id, r._batch_id)
           for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert out == {(10, 0), (40, 1)}
    # both durable states exist: digests + bucket claims
    assert spark.read.parquet(str(tmp_path / "state")).count() == 2
    assert (spark.read.parquet(str(tmp_path / "state_buckets")).count()
            > 0)


def test_stream_curate_neardup_keep_validates(spark, tmp_path):
    from rust_graph_db_spark.streaming import stream_curate

    stream = (spark.readStream
              .schema("doc_id LONG, text STRING")
              .parquet(str(tmp_path)))
    with pytest.raises(ValueError, match="neardup_keep"):
        stream_curate(stream, str(tmp_path / "o"),
                      str(tmp_path / "s"), neardup_keep="maximal")
