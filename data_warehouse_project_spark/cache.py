"""Session cache discipline for intra-query persists.

A pin is a barrier: under AQE each pinned frame runs as its own
TableCacheQueryStage, one more Spark job, and at the test and bench
scales a query's cost is mostly its job count. Catalyst already reuses
an exchange that two consumers share (ReusedExchange), so a pin buys
nothing there. Rule for adding one: pin a frame only when two or more
consumers read it and they do not share an exchange, and only with a
measurement at sf0.001 and sf0.01 showing the query's rows unchanged
and its warm jobs, shuffle write and task CPU no higher than without it.

The pins that remain failed that measurement when removed, are named
by a plan test, or are not reached at the test scales (CHANGES.md
lists each site and its reason):

- iteration inputs: the co-purchase edge lists of PageRank, reach and
  label propagation, the triangle count's undirected edges, degrees,
  oriented edges and Bloom bits (plans/graph.py), the bridge and
  cluster edge lists fed to connected components (llm/bridge.py,
  llm/clusters.py), and the quantized corpus of the k-means rounds
  (llm/kmeans.py);
- frames whose consumers do not share an exchange: the hashed
  shingles of the n-gram and MinHash dedups and of the near-dup
  ingest, the LSH threshold sweep's scored pairs, the CMS, KMV and
  Misra-Gries count frames (llm/sketches.py), the Bloom floor's bits
  and probe survivors, the flagship's surviving orders, attribution's
  scored frame, the two-pass median's bounds and bins, the conformal
  forecast's backtest and calibration frames, q15's revenue, and the
  postings, int8 bounds, length-band, PMI bigram, DSIR count and
  Spearman joint frames;
- the quarantine reader's parsed frame (Spark refuses a
  corrupt-record-only projection over a raw scan), and the Bloom
  semijoin's dim and bits, built only past the broadcast threshold.

Policy: every intra-query persist registers here via `pin`; hosts
that keep a session across queries (bench.py, notebooks, a query
service) call `release_all()` after materializing each result.
References are STRONG on purpose: the JVM CacheManager keeps the
cached plan alive regardless of the Python wrapper's lifetime, so a
weak registry would silently lose the handle the moment the query
function returns and the blocks would stay pinned forever.

Scope note: localCheckpoint() blocks (surrogate-key bulk assignment,
the CC loop's per-round labels, the fold-simulation states) cannot be
unpersisted explicitly — an unpersist would corrupt still-referenced
lineage; the ContextCleaner frees them asynchronously once no live
RDD references the blocks. They are not tracked here: the returned
result's plan is what holds the checkpointed RDD, so it lives exactly
as long as the caller's handle on the result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: live intra-query persisted frames
_PINNED: list[DataFrame] = []


def pin(df: DataFrame) -> DataFrame:
    """persist() a frame and track it for bulk release."""
    df.persist()
    _PINNED.append(df)
    return df


def release_all() -> int:
    """Unpersist every pinned frame and return how many were pinned
    (call AFTER materializing the query result — an unpersisted plan
    re-computes if re-executed)."""
    n = len(_PINNED)
    while _PINNED:
        _PINNED.pop().unpersist(blocking=True)
    return n
