"""Evidence probes: a frame's physical plan and Exchange count, the Spark
jobs a block runs, and session-conf overrides scoped to a block. Plan
shape and job counts are the steady measures of an operator's cost;
wall-clock on a shared host is not.
"""

from __future__ import annotations

import contextlib
import re
import uuid
from dataclasses import dataclass

# the local properties SparkContext.setJobGroup sets
_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel")


def plan(df, mode: str = "formatted") -> str:
    """The text ``df.explain(mode)`` prints."""
    return df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode)


def exchanges(df) -> int:
    """Number of Exchange nodes in ``df``'s formatted plan. The plan
    prints each node twice (tree line and detail header), so this counts
    distinct ``(n) Exchange`` ids, not matches."""
    return len(set(re.findall(r"\((\d+)\) Exchange", plan(df))))


@dataclass
class JobRecord:
    group: str
    n: int = 0          # Spark jobs the block ran, set when it exits


@contextlib.contextmanager
def jobs(spark):
    """``with jobs(spark) as rec:`` runs the block under a job group of
    its own; on exit ``rec.n`` holds the number of jobs it ran and the
    enclosing group is restored, so a nested block's jobs are counted by
    it alone, not by the block around it."""
    sc = spark.sparkContext
    saved = [(k, sc.getLocalProperty(k)) for k in _GROUP_PROPS]
    rec = JobRecord(f"probe-{uuid.uuid4().hex}")
    sc.setJobGroup(rec.group, rec.group)
    try:
        yield rec
    finally:
        for k, v in saved:
            sc.setLocalProperty(k, v)
        rec.n = len(sc.statusTracker().getJobIdsForGroup(rec.group))


@contextlib.contextmanager
def conf(spark, **settings):
    """Set session conf keys for the block: ``conf(spark, **{key: value})``.
    On exit, also when the block raises, each key gets back its prior
    value, and a key that was unset is unset again."""
    prior = {k: spark.conf.get(k, None) for k in settings}  # None: unset
    try:
        for k, v in settings.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
