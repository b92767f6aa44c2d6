"""Workload definitions and the row digest every timed gate is checked
against.

The inputs are a committed copy of the sf0.01 tables under
``perfbench/data/sf0.01`` (the scale the DuckDB oracle tests use), so a
run reads nothing outside its checkout. ``--seed`` permutes the gate
order inside each round; the tables never change.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import os

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
DIGESTS_PATH = os.path.join(HERE, "digests.json")

# The time budget allows 4 + 22 x workloads runs in 3420 s on a shared
# host whose speed drifts by a third, so a run aims at 35-55 s there. The
# JVM start and the first, cold round take 30-40 s of that, which leaves
# one untimed (cold) round and two timed rounds.
WARM_ROUNDS = 1
MIN_ROUNDS = 2  # timed rounds, at least

WORKLOADS = {
    "corpus_dedup": ("t08_jaccard_pairs", "v08_semantic_dedup"),
    "flow_stream": (
        "s04_rate_windows",
        "w02_envelope_roundtrip",
        "p01_hub_branch_union",
        "p02_flow_metrics",
        "r01_reducer_barrier",
    ),
}


def _norm(v):
    """Scalar normalisation of tests/test_oracle.py ``_norm``, extended so
    that values the oracle test treats as equal (``1 == 1.0``, a struct
    Row and a tuple) also hash equal."""
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        v = round(v, 9)
        return int(v) if v.is_integer() and abs(v) < 2**53 else v
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, dict):
        return tuple(sorted((repr(_norm(k)), _norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def normalize_rows(cols, rows):
    """Column-name-sorted, row-sorted form (tests/test_oracle.py
    ``_normalize_rows``)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=repr)


def digest(cols, rows) -> str:
    s_cols, s_rows = normalize_rows(list(cols), [tuple(r) for r in rows])
    return hashlib.sha256(repr((s_cols, s_rows)).encode()).hexdigest()
