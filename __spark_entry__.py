"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check at sf0.001.
``queries()`` — every implemented operator (SURVEY.md §2 + extensions),
keyed by name; each callable is ``(spark, sf_dir) -> DataFrame``.
``oracle_sql()`` — DuckDB-runnable ANSI-SQL twin for each query (omitted
only for genuinely non-SQL-expressible ops, which get rows-only checks).

Cache-lifetime contract: several queries ``persist()`` intermediates that
remain in the returned DataFrame's lineage (branch points whose recompute
would double a corpus pass). Those blocks can only be released AFTER the
caller's action, so any harness sweeping many queries in one session must
call ``spark.catalog.clearCache()`` between queries — bench.py and
tests/check_parity.py both do. A single query leaves at most its own
intermediates cached (all are sub-linear in the input: pair frames,
component frames, d²-row frames).

Registry ORDER is load-bearing: the driver's correctness gate checks the
first ``GATE_WINDOW`` registered queries. The rotation rule (codified per
the round-3 review) is data-driven from the committed ``CORRECTNESS_r*.json``
history:

1. queries with NO green driver row yet (new or never-gated) come first;
2. then queries listed in ``CHANGED_SINCE_GREEN`` — their RESULTS may
   differ from the last green row (semantic change to the query or a
   shared helper), so they must re-earn it; record ``name: round the
   change landed`` alongside any such change. The entry self-expires:
   once a green row from that round or later exists, the query drops
   back to the regular oldest-first queue (stale entries are harmless and
   can be pruned lazily). Pure plan-shape changes (persist, repartition,
   join-hint moves) are exempt: the portable-decimal arithmetic makes
   results partitioning-independent by construction, and the local DuckDB
   parity suite re-proves bit-exactness every run;
3. then everyone else, OLDEST green row first,

with registration (module) order as the deterministic tiebreak. Under this
rule the window cycles the whole registry oldest-first: the steady-state
cycle is ceil(N/50) rounds, and the rotation gate
(tests/test_gate_rotation.py) caps the cycle at 3 rounds, i.e. 150
queries. The window is fixed at 50 by the external gate (every
CORRECTNESS_r*.json has exactly 50 rows), so raising GATE_WINDOW
unilaterally would only falsify the cycle math. The registry stands at
150, AT the cap: any further addition funds itself through a
consolidation merge (same grain over the same scan, every operator shape
preserved under one oracle). An individual query's gate row may be up to
~3 rounds old at the moment it rotates back in. The local DuckDB parity
suite (tests/check_parity.py, run in full every round) re-proves
hash-exactness for EVERY oracled query regardless of the gate window —
the rotation governs independent re-attestation, not whether correctness
is checked.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from amazon_climate_data_etl_spark.operators import (
    climate,
    curation,
    dedup,
    events,
    joins,
    relational,
    similarity,
    spatial,
    textops,
)
from amazon_climate_data_etl_spark.operators._portable import portable_sql_rounds
from amazon_climate_data_etl_spark.sources import multimodal

_REPO = os.path.dirname(os.path.abspath(__file__))

_MODULES = (
    dedup,
    similarity,
    events,
    multimodal,
    curation,
    textops,
    climate,
    spatial,
    joins,
    relational,
)

# the driver verifies this many leading registry entries per round
GATE_WINDOW = 50

# name -> round the semantic change landed (see rule 2 above)
CHANGED_SINCE_GREEN = {
    # r15 (per the r14 verdict item 9): conservative re-attestation
    # listing for the operators the r14/r15 optimization rounds REWROTE
    # (plan-shape only — the local parity suite re-proves bit-exactness
    # every run, and simhash_near_pairs already re-earned a green r14
    # row on the r14 rewrite — but these queries' cores changed enough
    # that a fresh driver hash row is cheap insurance, so they lead the
    # r15 window):
    "incremental_dedup": 15,
    "dedup_components": 15,
    "neardup_keep_corpus": 15,
    "neardup_keep_best_quality": 15,
    "dedup_cluster_size_histogram": 15,
    "simhash_near_pairs": 15,
    "climate_annual": 15,
    "climate_monthly": 15,
    # session gap measured in microseconds (was whole seconds)
    "session_windows": 16,
}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: TPC-H-Q1-shaped pricing
    summary — scan → pushed filter → 2-phase hash agg → sort (the
    reference's annual-pipeline spine, SURVEY.md §3)."""
    return relational.q1_pricing_summary(spark, "/root/testdata/sf0.001")


def last_green_rounds() -> dict[str, int]:
    """name → latest round with a green driver row (hash-matched, or the
    rows-only check for oracle-less queries), from CORRECTNESS_r*.json."""
    hist: dict[str, int] = {}
    for path in glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", os.path.basename(path))
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in data.items():
            ok = bool(row.get("hash_match")) or row.get("err") == "no_oracle"
            if ok:
                hist[name] = max(hist.get(name, 0), rnd)
    return hist


def _registration_order() -> dict[str, int]:
    """Canonical name → position map from the QUERIES registries, used as
    the tiebreak by BOTH queries() and oracle_sql() so the two maps rotate
    identically."""
    pos: dict[str, int] = {}
    for mod in _MODULES:
        for n in mod.QUERIES:
            pos.setdefault(n, len(pos))
    return pos


def _ordered(merged: dict) -> dict:
    """Apply the rotation rule documented in the module docstring."""
    green = last_green_rounds()
    reg_pos = _registration_order()

    def key(name: str):
        never = name not in green
        changed = green.get(name, 0) < CHANGED_SINCE_GREEN.get(name, 0)
        tier = 0 if never else (1 if changed else 2)
        return (tier, green.get(name, 0), reg_pos.get(name, len(reg_pos)))

    return {n: merged[n] for n in sorted(merged, key=key)}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    merged: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _MODULES:
        merged.update(mod.QUERIES)
    return _ordered(merged)


def oracle_sql() -> dict[str, str]:
    merged: dict[str, str] = {}
    for mod in _MODULES:
        # rewrite round(x, n) into the decimal-stable form so the DuckDB
        # oracle rounds bit-identically to the Spark side (_portable.py)
        merged.update({k: portable_sql_rounds(v) for k, v in mod.ORACLE.items()})
    return _ordered(merged)
