"""In-suite slice of the shuffle-volume regression gate
(scripts/shuffle_audit.py runs the full headline sweep; this keeps
the highest-risk plans gated on every pytest run).

Shuffle bytes are deterministic given data + plan, so unlike wall
time they are assertable on a loaded host. The queries here are the
ones whose scale story RESTS on an exchange-bounding device — a
dropped guard or a broadcast→shuffle flip moves their bytes far past
the 2.5x headroom (the round-10 audit measured 10x data moving bytes
8-12x, so a structural change cannot hide under 2.5x):

- part_affinity_topk / part_market_basket: basket-size guards bound
  the pair fan-out;
- dedup_ngram_jaccard: the hot-shingle df-cap bounds the blocking
  join;
- part_triangle_participation: degree orientation bounds the wedge
  count at sum(outdeg^2) ~ O(m^1.5);
- part_copurchase_pagerank: rank vectors broadcast, only (dst,
  partial) aggregates shuffle;
- flagship_my_registrations: dims broadcast, one fact exchange.

Spill must be exactly zero — nothing in the suite spills at test
scales; any spill at sf0.001 is a partitioning bug, not a tuning
matter.

The bytes depend on the partition count, and the bounds were recorded
at ``shuffle_audit.AUDIT_CORES``; so the gated queries are measured
once, in a child process whose session runs at that core count, and
gated by the audit's own ``gate_violations``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BOUNDS_PATH = os.path.join(ROOT, "tests", "shuffle_bounds.json")
SCRIPTS = os.path.join(ROOT, "scripts")
sys.path.insert(0, SCRIPTS)

from shuffle_audit import _scale_key, gate_violations  # noqa: E402

GATED = [
    "part_affinity_topk",
    "part_market_basket",
    "dedup_ngram_jaccard",
    "part_triangle_participation",
    "part_copurchase_pagerank",
    "flagship_my_registrations",
]

#: Heap of the child process that measures GATED.
CHILD_DRIVER_MEMORY = "2g"


@pytest.fixture(scope="module")
def audit(sf_dir):
    """(measured, bounds file): the GATED queries' bytes at the suite's
    scale, read by ``shuffle_audit.measure`` in a child process."""
    with open(BOUNDS_PATH) as f:
        rec = json.load(f)
    # v2 schema (VERDICT r10 #4): per-scale bounds + growth headroom
    assert "sf0.001" in rec["scales"] and "sf0.01" in rec["scales"]
    scale = _scale_key(sf_dir)
    if scale not in rec["scales"]:
        pytest.skip(f"no shuffle bounds recorded at {scale} "
                    f"(recorded: {', '.join(rec['scales'])})")
    code = ("import json, shuffle_audit; print(json.dumps("
            f"shuffle_audit.measure([{sf_dir!r}], {GATED!r})))")
    # the suite's own session JVM is still alive: keep the child's heap
    # small (the six queries run at the test scale)
    env = {**os.environ, "SPARK_DRIVER_MEMORY": CHILD_DRIVER_MEMORY}
    out = subprocess.run([sys.executable, "-c", code], cwd=SCRIPTS,
                         capture_output=True, text=True, env=env)
    assert out.returncode == 0, out.stderr[-4000:]
    return json.loads(out.stdout.splitlines()[-1]), rec


@pytest.mark.parametrize("name", GATED)
def test_shuffle_volume_within_bounds(audit, name):
    measured, rec = audit
    one = {sk: {name: per_query[name]} for sk, per_query in measured.items()}
    assert gate_violations(one, rec) == [], one


def test_bounds_cover_every_headline_query():
    # the recorded bounds file must stay in lockstep with bench.py's
    # headline list — an unrecorded new query would silently escape
    # the full sweep's gate — at BOTH recorded scales
    sys.path.insert(0, ROOT)
    from bench import HEADLINE
    with open(BOUNDS_PATH) as f:
        rec = json.load(f)
    for sk in ("sf0.001", "sf0.01"):
        missing = [q for q in HEADLINE if q not in rec["scales"][sk]]
        assert not missing, (sk, missing)


def _gate(measured, scales, **over):
    rec = {"headroom": 2.5, "growth_headroom": 1.6, "scales": scales}
    rec.update(over)
    return gate_violations(measured, rec)


def _m(write, spill=0):
    return {"shuffle_write_bytes": write, "spilled_bytes": spill}


def test_gate_intentional_violations():
    """Each gate kind must trip on a synthetic violation and stay
    quiet on a clean reading (the VERDICT r10 #4 'one
    intentional-violation test')."""
    scales = {"sf0.001": {"q": 100_000, "tiny": 1_000},
              "sf0.01": {"q": 1_000_000, "tiny": 5_000}}
    clean = {"sf0.001": {"q": _m(110_000), "tiny": _m(900)},
             "sf0.01": {"q": _m(1_050_000), "tiny": _m(4_000)}}
    assert _gate(clean, scales) == []

    # SHUFFLE: absolute headroom blown at one scale
    v = _gate({"sf0.01": {"q": _m(3_000_000)}}, scales)
    assert [x["kind"] for x in v] == ["SHUFFLE"] and v[0]["scale"] == "sf0.01"

    # SPILL: any nonzero spill trips
    v = _gate({"sf0.001": {"q": _m(100_000, spill=1)}}, scales)
    assert "SPILL" in [x["kind"] for x in v]

    # GROWTH: both scales inside absolute headroom (<=2.5x bound)
    # but the ratio bends superlinear past recorded_ratio * 1.6
    grow = {"sf0.001": {"q": _m(100_000)},
            "sf0.01": {"q": _m(2_400_000)}}   # ratio 24 vs recorded 10
    v = _gate(grow, scales)
    assert [x["kind"] for x in v] == ["GROWTH"], v
    assert v[0]["scale"] == "sf0.001->sf0.01"

    # GROWTH floor: a noisy ratio on a sub-64KiB small-scale bound is
    # NOT gated (absolute gate at the big scale covers it)
    noisy = {"sf0.001": {"tiny": _m(100)},
             "sf0.01": {"tiny": _m(5_000)}}   # ratio 50 vs recorded 5
    assert _gate(noisy, scales) == []

    # UNRECORDED: a headline query missing from the bounds is loud
    v = _gate({"sf0.001": {"new_q": _m(10)}}, scales)
    assert [x["kind"] for x in v] == ["UNRECORDED"]

    # GROWTH guard (ADVICE r11 #4): a plan change that legitimately
    # SHRINKS small-scale bytes below the noise floor while big-scale
    # bytes stay inside their recorded bound inflates the raw ratio —
    # must NOT trip
    improved = {"sf0.001": {"q": _m(2_000)},        # was 100_000
                "sf0.01": {"q": _m(900_000)}}       # inside 1_000_000
    assert _gate(improved, scales) == []

    # ...but the guard must not mask a real regression: small below
    # the floor AND big past its recorded bytes with a superlinear
    # ratio still trips
    masked = {"sf0.001": {"q": _m(2_000)},
              "sf0.01": {"q": _m(2_000_000)}}       # ratio 1000 vs 10
    v = _gate(masked, scales)
    assert [x["kind"] for x in v] == ["GROWTH"], v


def test_sf1_gate_spill_allowlist():
    """sf1_regression's gate: the adjudicated map-side-combiner spill
    (part_affinity_topk) passes at <= recorded * headroom and trips
    past it; every other query still requires zero spill."""
    from sf1_regression import gate
    scales = {"sf0.1": {"part_affinity_topk": 100_000_000, "q": 1_000_000},
              "sf1.0": {"part_affinity_topk": 1_000_000_000,
                        "q": 10_000_000}}
    rec = {"headroom": 2.5, "growth_headroom": 1.6, "scales": scales,
           "spill": {"part_affinity_topk": {"sf1.0": 4_000_000_000}}}
    ok = {"sf0.1": {"part_affinity_topk": _m(100_000_000),
                    "q": _m(1_000_000)},
          "sf1.0": {"part_affinity_topk": _m(1_000_000_000,
                                             spill=4_000_000_000),
                    "q": _m(10_000_000)}}
    assert gate(ok, rec) == []
    # allowlisted spill past recorded * headroom still trips
    over = {"sf1.0": {"part_affinity_topk": _m(1_000_000_000,
                                               spill=11_000_000_000)}}
    v = gate(over, rec)
    assert [x["kind"] for x in v] == ["SPILL"], v
    # a non-allowlisted query spilling at all still trips
    other = {"sf1.0": {"q": _m(10_000_000, spill=1)}}
    assert "SPILL" in [x["kind"] for x in gate(other, rec)]
