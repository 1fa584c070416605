"""Property-graph data model on Spark DataFrames.

Reference semantics (SURVEY.md §1): vertices/edges carry one label each,
64-bit ids pack a 16-bit label id with a 48-bit per-label local id
(reference: src/types/graphid.rs:15-23), properties are schemaless JSON.

Spark-first redesign (SURVEY.md §1.4):
- one **columnar DataFrame per label**, properties promoted to typed
  columns (the "promoted-column registry" is the default, not an
  optimization — JSON-blob scans are untenable at 100 TB);
- per-label frames give label pruning for free (each label is its own
  Parquet dataset / partition at rest);
- adjacency indices are not materialized — expansion is an equi-join on
  ``src``/``dst`` that Catalyst plans as broadcast/shuffle/sort-merge.
"""

from __future__ import annotations

import re
from typing import Iterable, Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

LABEL_BITS = 16
LOCID_BITS = 48
LOCID_MASK = (1 << LOCID_BITS) - 1
MAX_LABID = (1 << LABEL_BITS) - 1

# Reserved column names on vertex/edge frames; everything else is a property.
VERTEX_META = ("id",)
EDGE_META = ("id", "src", "dst")


def pack_graphid(labid: Column | int, locid: Column) -> Column:
    """64-bit graph id = (labid << 48) | (locid & MASK).

    Mirrors the reference id scheme (src/types/graphid.rs:41-46) so a user
    migrating data keeps identical entity ids.
    """
    labid_col = F.lit(labid) if isinstance(labid, int) else labid
    return F.shiftleft(labid_col.cast("long"), LOCID_BITS).bitwiseOR(
        locid.cast("long").bitwiseAND(F.lit(LOCID_MASK))
    )


def unpack_labid(id_col: Column) -> Column:
    return F.shiftrightunsigned(id_col, LOCID_BITS).cast("int")


def unpack_locid(id_col: Column) -> Column:
    return id_col.bitwiseAND(F.lit(LOCID_MASK))


def format_graphid(id_col: Column) -> Column:
    """Display form ``labid.locid`` (reference: graphid.rs:77-81)."""
    return F.concat_ws(".", unpack_labid(id_col), unpack_locid(id_col))


class PropertyGraph:
    """A multi-label property graph backed by per-label DataFrames.

    Vertex frame schema:  id LONG, <property columns...>
    Edge frame schema:    id LONG, src LONG, dst LONG, <property columns...>

    The label catalog (label -> 16-bit labid) replaces the reference's
    ``l:{graph}:{name}`` KV rows (src/storage/rocksdb_store.rs:153-222);
    it is driver-side metadata, broadcast implicitly via the packed ids.
    """

    def __init__(self, spark: SparkSession, name: str = "graph"):
        self.spark = spark
        self.name = name
        self._labels: dict[str, int] = {}  # shared vertex+edge label namespace
        self._vertices: dict[str, DataFrame] = {}
        self._edges: dict[str, DataFrame] = {}
        # dst-bucketed duplicates of edge frames (the reference's `i:`
        # adjacency index analog) — populated by storage.load_graph from
        # a bucketed snapshot, invalidated by any edge mutation
        self._edges_by_dst: dict[str, DataFrame] = {}
        self._counters: dict[str, int] = {}  # label -> next locid (DML)
        # cap for unbounded [*min..] expansion in Cypher patterns
        self.max_var_length = 10

    # ------------------------------------------------------------------ labels

    def label_id(self, label: str) -> int:
        if label not in self._labels:
            # Labels become filesystem path components and catalog DDL
            # fragments in storage.py — reject characters that would
            # break (or inject into) either before any data is keyed to
            # the label.
            if (not label or label in (".", "..")
                    or any(c in label for c in "'\"`\\/\x00\n\r\t")):
                # "." / ".." would traverse: data/vN/edges/.. resolves
                # to the version root and a write there tears the commit
                raise ValueError(f"invalid label name: {label!r}")
            labid = len(self._labels) + 1
            if labid > MAX_LABID:
                raise ValueError("label catalog exhausted (16-bit labid space)")
            self._labels[label] = labid
        return self._labels[label]

    @property
    def vertex_labels(self) -> list[str]:
        return list(self._vertices)

    @property
    def edge_labels(self) -> list[str]:
        return list(self._edges)

    # ------------------------------------------------------------------ ingest

    def put_vertices(self, label: str, df: DataFrame, locid_col: Optional[str] = None) -> None:
        """Register a vertex set. ``locid_col`` (a unique numeric natural
        key) yields deterministic packed ids; a pre-packed ``id`` column
        is honored as-is (overwriting it silently would orphan any edges
        the caller packed against those ids); otherwise ids are assigned
        via ``monotonically_increasing_id`` (unique, not dense — fits the
        48-bit locid space for < 32768 input partitions; denseness in the
        reference was a counter artifact, only uniqueness is semantic).
        """
        labid = self.label_id(label)
        if locid_col is not None:
            out = df.withColumn("id", pack_graphid(labid, F.col(locid_col)))
        elif "id" in df.columns:
            out = df
        else:
            out = df.withColumn("id", pack_graphid(labid, F.monotonically_increasing_id()))
        props = [c for c in df.columns if c != "id"]
        self._vertices[label] = out.select("id", *props)

    def put_edges(
        self,
        label: str,
        df: DataFrame,
        src_col: str = "src",
        dst_col: str = "dst",
        locid_col: Optional[str] = None,
    ) -> None:
        """Register an edge set; ``src``/``dst`` must already be packed
        ids. A pre-packed ``id`` column is honored (same contract as
        ``put_vertices``)."""
        labid = self.label_id(label)
        out = df.withColumnRenamed(src_col, "src").withColumnRenamed(dst_col, "dst")
        if locid_col is not None:
            out = out.withColumn("id", pack_graphid(labid, F.col(locid_col)))
        elif "id" not in out.columns:
            out = out.withColumn("id", pack_graphid(labid, F.monotonically_increasing_id()))
        props = [c for c in out.columns if c not in ("id", "src", "dst")]
        self.set_edges(label, out.select("id", "src", "dst", *props))

    def set_edges(self, label: str, df: DataFrame) -> None:
        """Replace an edge frame (the DML mutation entry point).

        Invalidates the label's dst-bucketed duplicate: the copies must
        stay row-identical, so any mutation drops the stale one (the
        next bucketed ``save`` rewrites it)."""
        self._edges[label] = df
        self._edges_by_dst.pop(label, None)

    # ------------------------------------------------------------------ access

    def vertex_frame(self, label: str) -> DataFrame:
        if label not in self._vertices:
            raise KeyError(f"unknown vertex label: {label!r}")
        return self._vertices[label]

    def edge_frame(self, label: str) -> DataFrame:
        if label not in self._edges:
            raise KeyError(f"unknown edge label: {label!r}")
        return self._edges[label]

    def edge_frame_for(self, label: str, join_key: str = "src") -> DataFrame:
        """Edge frame picked by the join key the caller is about to use:
        ``dst`` returns the dst-bucketed duplicate when the graph was
        loaded from a bucketed snapshot (zero-Exchange incoming expand —
        the reference's ``i:`` index, rocksdb_store.rs:683-712), else
        the primary frame. Both copies are row-identical."""
        if join_key == "dst" and label in self._edges_by_dst:
            return self._edges_by_dst[label]
        return self.edge_frame(label)

    def vertices(self, label: Optional[str] = None) -> DataFrame:
        """Vertices of one label, or the union of all labels (missing
        property columns null-padded) with a ``label`` column."""
        if label is not None:
            return self.vertex_frame(label).withColumn("label", F.lit(label))
        return self._union_labeled(self._vertices)

    def edges(self, label: Optional[str] = None,
              join_key: str = "src") -> DataFrame:
        if label is not None:
            return self.edge_frame_for(label, join_key) \
                       .withColumn("label", F.lit(label))
        return self._union_labeled(
            {lbl: self.edge_frame_for(lbl, join_key) for lbl in self._edges})

    @staticmethod
    def _union_labeled(frames: dict[str, DataFrame]) -> DataFrame:
        if not frames:
            raise ValueError("empty graph")
        out = None
        for label, df in frames.items():
            cur = df.withColumn("label", F.lit(label))
            out = cur if out is None else out.unionByName(cur, allowMissingColumns=True)
        return out

    # ------------------------------------------------------------ graph verbs

    def get_vertex(self, vid: int) -> DataFrame:
        """Point lookup (reference S3). Label-pruned: the packed labid
        routes the probe to a single label frame."""
        labid = vid >> LOCID_BITS
        for label, lid in self._labels.items():
            if lid == labid and label in self._vertices:
                return self._vertices[label].where(F.col("id") == vid)
        return self.vertices().where(F.col("id") == vid).drop("label")

    def out_edges(self, vids: DataFrame | Iterable[int], label: Optional[str] = None) -> DataFrame:
        """Outgoing expansion (reference S5): equi-join replaces the
        ``o:`` adjacency index probe."""
        frontier = self._as_id_frame(vids)
        return self.edges(label).join(F.broadcast(frontier), F.col("src") == frontier["_vid"]).drop("_vid")

    def in_edges(self, vids: DataFrame | Iterable[int], label: Optional[str] = None) -> DataFrame:
        frontier = self._as_id_frame(vids)
        return self.edges(label, join_key="dst").join(
            F.broadcast(frontier), F.col("dst") == frontier["_vid"]).drop("_vid")

    def _as_id_frame(self, vids) -> DataFrame:
        if isinstance(vids, DataFrame):
            return vids.select(F.col(vids.columns[0]).alias("_vid"))
        return self.spark.createDataFrame([(int(v),) for v in vids], "_vid LONG")

    def degrees(self, direction: str = "out") -> DataFrame:
        e = self.edges()
        key = "src" if direction == "out" else "dst"
        return e.groupBy(F.col(key).alias("id")).agg(F.count("*").alias("degree"))

    def next_locids(self, label: str, n: int) -> int:
        """Reserve a contiguous range of n per-label local ids; returns the
        base. Mirrors the reference's range allocation for bulk import
        (rocksdb_store.rs:390-401): a counter is a serialization point, so
        allocate ranges per batch, never per row."""
        if label not in self._counters:
            base = 0
            if label in self._vertices:
                row = self._vertices[label].agg(
                    F.max(unpack_locid(F.col("id")))).first()
                base = (row[0] or 0) + 1
            elif label in self._edges:
                row = self._edges[label].agg(
                    F.max(unpack_locid(F.col("id")))).first()
                base = (row[0] or 0) + 1
            self._counters[label] = base
        base = self._counters[label]
        self._counters[label] = base + n
        return base

    def pin_counter(self, label: str) -> None:
        """Capture the locid counter floor from the CURRENT frame.

        Must run before a DELETE shrinks a frame: the lazy init in
        ``next_locids`` reads max(existing locid), so without pinning,
        a delete followed by the label's first CREATE would re-allocate
        the deleted id — aliasing two distinct entities over one packed
        graphid across snapshots (the reference's counter is monotonic
        and never reuses ids, rocksdb_store.rs:390-401). One max-agg
        per label per session, only on the delete path."""
        self.next_locids(label, 0)

    # ------------------------------------------------------------------ query

    def cypher(self, query: str, params: Optional[dict] = None) -> DataFrame:
        """Parse + compile a Cypher query to a lazy DataFrame plan.

        ``params`` resolves ``$name`` query parameters (Neo4j-driver
        style): scalars, lists, and string-keyed dicts become typed
        literals, so a parameterized query plans identically to its
        inlined form. ``EXPLAIN [simple|extended|formatted|cost|codegen]
        <query>`` returns the Spark physical plan as one-line-per-row
        text instead of executing — the plan-audit surface (the
        reference has no EXPLAIN; its AST is interpreted directly,
        SURVEY.md §3.1)."""
        from rust_graph_db_spark import probe
        from rust_graph_db_spark.parser import parse_cypher
        from rust_graph_db_spark.compiler import compile_query

        m = re.match(
            r"\s*EXPLAIN\b(\s+(?P<mode>SIMPLE|EXTENDED|FORMATTED|COST|"
            r"CODEGEN)\b)?", query, re.IGNORECASE)
        if m:
            mode = (m.group("mode") or "formatted").lower()
            df = compile_query(self, parse_cypher(query[m.end():]), params)
            return self.spark.createDataFrame(
                [(ln,) for ln in probe.plan(df, mode).splitlines()],
                "plan STRING")
        return compile_query(self, parse_cypher(query), params)

    # ------------------------------------------------------------------ persist

    def save(self, root: str, buckets: Optional[int] = None) -> int:
        """Atomic, versioned commit of this graph (and any session DML)
        to a durable store — see ``rust_graph_db_spark.storage``.
        ``buckets=N`` stores datasets co-located on their join keys so
        the expand join is shuffle-free off the snapshot. Returns the
        committed version."""
        from rust_graph_db_spark.storage import save_graph

        return save_graph(self, root, buckets=buckets)

    @classmethod
    def load(cls, spark: SparkSession, root: str,
             version: Optional[int] = None) -> "PropertyGraph":
        """Open a committed snapshot (latest, or pinned ``version``)."""
        from rust_graph_db_spark.storage import load_graph

        return load_graph(spark, root, version)

    def write_parquet(self, base_path: str, mode: str = "overwrite") -> None:
        """Persist per-label datasets — label pruning at rest: a scan of
        one label touches one directory.

        NOTE: bare datasets, no catalog — ``read_parquet`` re-derives
        label ids from directory order, which is only correct when
        labels were registered alphabetically. For durable storage use
        ``save``/``load`` (storage.py): manifest-preserved catalog,
        atomic commits, snapshot isolation."""
        for label, df in self._vertices.items():
            df.write.mode(mode).parquet(f"{base_path}/vertices/{label}")
        for label, df in self._edges.items():
            df.write.mode(mode).parquet(f"{base_path}/edges/{label}")

    @classmethod
    def read_parquet(cls, spark: SparkSession, base_path: str) -> "PropertyGraph":
        import os

        g = cls(spark)
        vdir = os.path.join(base_path, "vertices")
        edir = os.path.join(base_path, "edges")
        if os.path.isdir(vdir):
            for label in sorted(os.listdir(vdir)):
                g.label_id(label)
                g._vertices[label] = spark.read.parquet(os.path.join(vdir, label))
        if os.path.isdir(edir):
            for label in sorted(os.listdir(edir)):
                g.label_id(label)
                g._edges[label] = spark.read.parquet(os.path.join(edir, label))
        return g
