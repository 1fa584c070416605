"""Seeded input generators. The same seed gives the same inputs; the
engine only ever sees the generated files."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CITIES = ("Berlin", "Hanoi", "Lima", "Oslo", "Pune", "Quito", "Seoul", "Tunis")

# Pseudo-words from a syllable table give a corpus whose char-5 shingles
# are as diverse as natural text. A synthetic "w<id>" vocabulary shares
# most shingles between words, which makes every document a candidate of
# every other one for the n-gram join.
_SYLLABLES = ("ba", "ce", "di", "fo", "gu", "ha", "je", "ki", "lo", "mu",
              "na", "pe", "qui", "ro", "su", "ta", "ve", "wi", "xo", "yu",
              "zer", "lin", "mar", "tos", "pel", "dra", "sto", "bri")


def write(table: pa.Table, path: str) -> str:
    pq.write_table(table, path)
    return path


def social_graph(rng, persons: int, out_degree: int,
                 alpha: float = 0.8) -> tuple:
    """Person and KNOWS tables keyed 0..persons-1.

    Out-degree is uniform; destinations are drawn with probability
    proportional to rank^-alpha over a seeded permutation, so in-degree
    is power-law. No self-loops (a drawn self-loop moves to key+1)."""
    keys = np.arange(persons, dtype=np.int64)
    person = pa.table({
        "key": keys,
        "name": [f"p{k}" for k in keys],
        "age": rng.integers(18, 80, persons),
        "city": rng.choice(CITIES, persons),
    })
    src = np.repeat(keys, out_degree)
    weights = 1.0 / np.arange(1, persons + 1) ** alpha
    popular = rng.permutation(persons)
    dst = popular[rng.choice(persons, size=src.size, p=weights / weights.sum())]
    dst = np.where(dst == src, (dst + 1) % persons, dst)
    knows = pa.table({
        "eid": np.arange(src.size, dtype=np.int64),
        "src": src,
        "dst": dst,
        "since": rng.integers(2000, 2025, src.size),
        "weight": rng.random(src.size),
    })
    return person, knows


def property_graph(spark, person_path: str, knows_path: str):
    """PropertyGraph with Person vertices (ids packed from ``key``) and
    KNOWS edges (ids packed from ``eid``)."""
    from pyspark.sql import functions as F
    from rust_graph_db_spark import PropertyGraph, pack_graphid

    g = PropertyGraph(spark, "social")
    g.put_vertices("Person", spark.read.parquet(person_path), locid_col="key")
    pid = g.label_id("Person")
    knows = spark.read.parquet(knows_path)
    g.put_edges("KNOWS", knows.select(
        pack_graphid(pid, F.col("src")).alias("src"),
        pack_graphid(pid, F.col("dst")).alias("dst"),
        "eid", "since", "weight"), locid_col="eid")
    return g


def vocabulary(size: int = 4000) -> list:
    """A fixed pseudo-word vocabulary (independent of the run seed)."""
    rng = np.random.default_rng(0)
    words: set = set()
    while len(words) < size:
        words.add("".join(rng.choice(_SYLLABLES, size=rng.integers(2, 5))))
    return sorted(words)


def corpus(rng, docs: int, planted: int, exact: int) -> tuple:
    """Documents of 40-90 Zipf-drawn words, then ``planted`` near-copies
    (one word replaced) and ``exact`` verbatim copies of seeded base
    documents. Returns (table, planted pairs as (base_id, copy_id))."""
    vocab = np.array(vocabulary())
    zipf = 1.0 / np.arange(1, vocab.size + 1)
    zipf /= zipf.sum()
    texts = [" ".join(vocab[rng.choice(vocab.size, size=rng.integers(40, 91),
                                       p=zipf)])
             for _ in range(docs)]
    bases = rng.choice(docs, size=planted + exact, replace=False)
    pairs = []
    for i, base in enumerate(bases):
        words = texts[base].split()
        if i < planted:
            words[rng.integers(len(words))] = vocab[rng.integers(vocab.size)]
            pairs.append((int(base), len(texts)))
        texts.append(" ".join(words))
    table = pa.table({"doc_id": np.arange(len(texts), dtype=np.int64),
                      "text": texts})
    return table, pairs


def shingles(text: str, k: int = 5) -> set:
    """Distinct k-character shingles, as the engine defines them."""
    return {text[i:i + k] for i in range(max(len(text) - k + 1, 1))}


def jaccard(a: str, b: str, k: int = 5) -> float:
    sa, sb = shingles(a, k), shingles(b, k)
    return len(sa & sb) / len(sa | sb)
