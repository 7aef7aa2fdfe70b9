#!/usr/bin/env bash
# No-red-snapshot gate: run before any snapshot commit. Mirrors the
# driver's gates locally: the default pytest tier checks every
# registered query against its DuckDB oracle and on a zero-row corpus
# (sf0.001), plus unit, streaming-parity, layout, plan-quality and
# in-suite shuffle-bound tests.
#
# Usage: scripts/preflight.sh [extra pytest args]
set -euo pipefail
cd "$(dirname "$0")/.."
python -m pytest tests/ -q "$@"
# shuffle-volume gate: plan-structure regressions the wall-clock
# can't see — full headline sweep vs recorded per-scale bounds at
# sf0.001 AND sf0.01, plus the growth-ratio gate that trips on
# superlinear exchange growth
python scripts/shuffle_audit.py
echo "preflight green — safe to commit"
