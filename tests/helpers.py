"""Shared test helpers.

`fround_half_up` is THE quantization contract the oracle-parity
suites compare under: floor(x * 10^scale + 0.5) / 10^scale — the same
half-up rule functions/compat.fround applies engine-side. Defined
once here (ADVICE r9: it was duplicated verbatim in test_regression /
test_experiment / test_robust, three chances for the contract to
drift).
"""

from __future__ import annotations

import math


def fround_half_up(x, scale):
    """Half-up rounding of a float to ``scale`` decimals; None passes
    through (engine NULL columns)."""
    if x is None:
        return None
    s = 10.0 ** scale
    return math.floor(x * s + 0.5) / s


def minhash_replay(spark, docs):
    """Plain-Python replay of the MinHash+LSH pipeline over planted
    token-list docs; the ONLY engine-pulled ingredient is xxhash64
    with argument types matching the plan (string shingle; (long,
    int-literal) lane; 4-long band bucket). Returns (sh, sig, pairs):
    per-doc shingle sets, per-doc 32-lane signatures, and the
    verified [(doc_a, doc_b, jaccard)] list — shared by the pipeline
    replay test and the threshold-sweep replay test."""
    from data_warehouse_project_spark.llm import dedup as D

    k = D.SHINGLE_K
    sh = {i: sorted({" ".join(ts[j:j + k])
                     for j in range(len(ts) - k + 1)})
          for i, ts in enumerate(docs) if len(ts) >= k}
    univ = sorted({s for ss in sh.values() for s in ss})
    h1 = {r["s"]: r["h"] for r in spark.createDataFrame(
        [(s,) for s in univ] or [("",)], "s string")
        .selectExpr("s", "xxhash64(s) AS h").collect()} if univ else {}
    lanes = spark.createDataFrame(
        [(h,) for h in sorted(set(h1.values()))] or [(0,)], "h long"
    ).selectExpr(
        "h", *[f"xxhash64(h, {j}) AS l{j}" for j in range(D.NUM_HASHES)]
    ).collect() if h1 else []
    h2 = {(r["h"], j): r[f"l{j}"] for r in lanes
          for j in range(D.NUM_HASHES)}
    sig = {i: [min(h2[(h1[s], j)] for s in ss)
               for j in range(D.NUM_HASHES)]
           for i, ss in sh.items()}
    quads = sorted({tuple(sig[i][b * D.ROWS_PER_BAND:
                                 (b + 1) * D.ROWS_PER_BAND])
                    for i in sig for b in range(D.BANDS)})
    bh = {(r["a"], r["b"], r["c"], r["d"]): r["bk"]
          for r in spark.createDataFrame(
              quads, "a long, b long, c long, d long")
          .selectExpr("a", "b", "c", "d",
                      "xxhash64(a, b, c, d) AS bk").collect()} if quads else {}
    buckets = {}
    for i in sig:
        for b in range(D.BANDS):
            quad = tuple(sig[i][b * D.ROWS_PER_BAND:
                                (b + 1) * D.ROWS_PER_BAND])
            buckets.setdefault((b, bh[quad]), []).append(i)
    cands = set()
    for ds in buckets.values():
        ds = sorted(set(ds))
        if 1 < len(ds) <= D.MAX_BUCKET:
            cands |= {(a, b) for ai, a in enumerate(ds)
                      for b in ds[ai + 1:]}
    pairs = []
    for a, b in sorted(cands):
        ha, hb = {h1[s] for s in sh[a]}, {h1[s] for s in sh[b]}
        shared = len(ha & hb)
        jac = fround_half_up(shared / (len(sh[a]) + len(sh[b]) - shared), 6)
        if jac >= D.JACCARD_THRESHOLD:
            pairs.append((a, b, jac))
    return sh, sig, pairs


def group_run(spark, fn, name: str = "test") -> dict:
    """``metrics.group_profile`` of the Spark jobs launched while
    ``fn()`` runs, tagged by a job group set for the call alone (AQE
    stage and broadcast jobs inherit it)."""
    from data_warehouse_project_spark.metrics import group_profile, job_group

    with job_group(spark, name) as group:
        fn()
    return group_profile(spark, group)


def count_jobs(spark, fn) -> int:
    """Spark jobs launched while ``fn()`` runs."""
    return len(group_run(spark, fn)["jobs"])
