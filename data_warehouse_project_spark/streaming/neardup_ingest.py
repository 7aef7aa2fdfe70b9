"""Approximate near-dup dedup-on-ingest — the MinHash-LSH companion
to the exact maintainer (streaming/dedup_ingest.py): documents
arrive in micro-batches and each arrival is checked for NEAR
duplicates (word-shingle Jaccard >= the dedup_minhash_lsh threshold)
against everything ingested before it, without ever re-running the
all-history LSH pipeline.

State design: the banded LSH table itself —
  (doc_id, band, bucket)
8 long-triples per document (the exact signature banding the
one-shot pipeline computes, via the SHARED llm.dedup.band_buckets,
so ingest-time and batch blocking can never disagree). The fold is
append-only union — trivially associative, so state after any batch
split is EXACTLY the one-shot banding of all history. State size is
O(8 x docs x 20 B): bounded, content-free — document text never
enters state.

Per batch: band the arrivals (map-side), then
  history candidates = state  JOIN  batch bands on (band, bucket)
  intra-batch candidates = in-bucket triangular pairs of the batch
— both shuffle only (band, bucket, doc_id) longs. Candidates are
exact-verified against the document store (shingle arrays fetched
for CANDIDATE ids only — the store lookup a real ingest pipeline
does anyway; content is never in the maintainer's own state).

Parity with the one-shot pipeline: batches are doc_id-ordered, so a
pair is discovered exactly when its LATER member arrives; the union
of per-batch discoveries over a full replay equals the one-shot
dedup_minhash_lsh pair set — EXACTLY, whenever no bucket exceeds
MAX_BUCKET (unit-pinned on the real corpus and a planted one).
Semantics intentionally diverge on pathological buckets: the
one-shot form drops a > MAX_BUCKET bucket wholly, while ingest
emits pairs while the growing bucket is still small and stops
generating once the STATE-side bucket exceeds the cap — at ingest
time the early pairs are real near-dups and suppressing them
retroactively would be wrong. The cap bounds per-batch fan-out the
same way it bounds the one-shot join.

No SQL oracle (xxhash64 is Spark-specific — same rows-only class as
dedup_minhash_lsh); correctness is pinned by the one-shot parity
test, planted cross-batch/intra-batch near-dup fixtures, the fold
identity, and replay idempotence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..cache import pin
from ..llm.dedup import (MAX_BUCKET, _verify_jaccard, band_buckets,
                         bucket_pairs, hashed_shingles,
                         minhash_signatures_from)
from ..registry import register
from ..sources.catalog import Catalog
from .state_fold import ingest_batches, ntile_batched


def banded(docs: DataFrame) -> DataFrame:
    """One batch's (doc_id, band, bucket) state rows."""
    return band_buckets(minhash_signatures_from(hashed_shingles(docs)))


def merge_band_state(prev: DataFrame, batch: DataFrame) -> DataFrame:
    """Append-only union — state is exactly the one-shot banding of
    all history after any batch split."""
    return (prev.select("doc_id", "band", "bucket")
            .unionByName(banded(batch)))


def arrival_candidates(state: DataFrame | None,
                       batch_bands: DataFrame) -> DataFrame:
    """Candidate (doc_a < doc_b) pairs an arriving batch creates:
    batch-vs-history bucket joins plus intra-batch in-bucket pairs.
    The state side's per-bucket membership is capped at MAX_BUCKET
    (hot buckets stop generating, as in the one-shot pipeline)."""
    intra = bucket_pairs(batch_bands)
    if state is None:
        return intra.distinct()
    hist = (
        state.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("hs"))
        .filter(F.size("hs") <= MAX_BUCKET)
    )
    cross = (
        batch_bands.join(hist, ["band", "bucket"])
        .select(F.explode(F.expr(
            # history doc_ids are strictly smaller (doc_id-ordered
            # arrival), so hist member = doc_a, arrival = doc_b
            "transform(filter(hs, h -> h < doc_id), "
            "h -> struct(h AS doc_a, doc_id AS doc_b))"
        )).alias("p"))
        .select("p.doc_a", "p.doc_b")
    )
    return intra.unionByName(cross).distinct()


def docs_neardup_ingest_incremental(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Registry entry (rows-only): replay the corpus as
    N_INGEST_BATCHES doc_id-ordered arrivals, fold the band state
    forward, collect each batch's candidate discoveries, and
    exact-verify them against the document store — emitting every
    near-dup pair tagged with the batch that DETECTED it (the later
    member's arrival)."""
    batched = pin(ntile_batched(Catalog(spark, sf_dir).documents))
    state: DataFrame | None = None
    per_batch = []
    for i, batch in enumerate(ingest_batches(batched), start=1):
        bb = banded(batch).localCheckpoint()
        per_batch.append(
            arrival_candidates(state, bb)
            .withColumn("detected_batch", F.lit(i).cast("long")))
        state = (bb if state is None
                 else state.unionByName(bb).localCheckpoint())
    cands = per_batch[0]
    for c in per_batch[1:]:
        cands = cands.unionByName(c)
    sh_all = pin(hashed_shingles(batched.select("doc_id", "text")))
    return (
        _verify_jaccard(sh_all, cands.select("doc_a", "doc_b"))
        .join(cands, ["doc_a", "doc_b"])
        .select("detected_batch", "doc_a", "doc_b", "jaccard")
        .orderBy("detected_batch", "doc_a", "doc_b")
    )


register("docs_neardup_ingest_incremental", docs_neardup_ingest_incremental,
         None)
