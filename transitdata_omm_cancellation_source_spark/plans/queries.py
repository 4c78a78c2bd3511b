"""Query registry — the driver-facing catalog of implemented operators.

Every operator from SURVEY.md §2 (and each north-star extension) gets a
named entry: a Spark builder ``(spark, sf_dir) -> DataFrame`` plus,
where SQL-expressible, a DuckDB oracle string over the same parquet
tables.  ``__spark_entry__.py`` re-exports this registry to the
driver's correctness harness.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from .registry import REGISTRY

# Importing a module registers its queries, so this sequence is the raw
# registration order (the rotation's final tie-break).  The flagships
# register first, from plans/cancellation.py.
from . import cancellation, lifecycle_queries, operator_queries  # noqa: F401
from ..operators import (  # noqa: F401
    analytics,
    dedup_fuzzy,
    graph,
    multimodal,
    similarity,
    textops,
    behavior,
    pipeline_prep,
    retrieval,
    sampling,
    timeseries,
    tokenizer,
    pca,
    pq,
    quantize,
    semdedup,
)


def _ordered_names() -> list[str]:
    """Registry names in certification-window order: the window first,
    then every other name in registration order."""
    window = [n for n in certification_window() if n in REGISTRY]
    seen = set(window)
    return window + [n for n in REGISTRY if n not in seen]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: REGISTRY[name].build for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    return {
        name: REGISTRY[name].oracle
        for name in _ordered_names()
        if REGISTRY[name].oracle is not None
    }


# ---------------------------------------------------------------------------
# Certification-window ordering — COMPUTED, never hand-edited.
#
# The driver's correctness harness verifies the FIRST ``CERT_WINDOW``
# registry entries each round, so with more entries than window slots some
# rotate out.  Earlier rounds encoded the rotation as a hand-maintained
# tuple; a round that skipped the edit froze the window and let 39 queries
# go 2+ rounds without driver evidence (r5→r6).  The rotation is now
# derived at access time from the driver's own ``CORRECTNESS_r*.json``
# history, so skipping a round ADVANCES the rotation instead of freezing
# it: whatever the driver just certified moves to the back of the queue.
#
# Policy (see ``_rotation_order``): flagships pinned first, then every
# other registered query ordered by (last-certified round ascending —
# never-certified first, stalest next), lifetime certification count
# ascending, registration order).  Staleness is the primary key because it
# yields a structural guarantee: with W window slots and N registry
# entries, no query's driver evidence can ever be older than
# ceil((N-2)/(W-2)) rounds, regardless of what any human remembers to do.
# ---------------------------------------------------------------------------
CERT_WINDOW = 50

_FLAGSHIPS: tuple[str, ...] = (
    "cancellation_pipeline_now",
    "cancellation_pipeline_past",
)

# Repo root (…/transitdata_omm_cancellation_source_spark/plans/queries.py →
# two levels up) — where the driver writes CORRECTNESS_r{N}.json.
_REPO_ROOT = Path(__file__).resolve().parents[2]

_HISTORY_CACHE: dict[str, list[int]] | None = None


def _certification_history() -> dict[str, list[int]]:
    """Rounds in which each query got driver evidence, oldest→newest.

    A round counts as evidence only for a full oracle match
    (``hash_match`` true).  Red rows do NOT count — a failing query
    stays at the front of the rotation until it passes — and neither do
    rows-only ``no_oracle`` checks: that evidence is strictly weaker, so
    a query carrying only it keeps rotation priority until it earns a
    hash-green row (and a permanently non-SQL-expressible query gets its
    weak check refreshed every round rather than going stale).  File
    reads are cached for the process lifetime: the driver writes a new
    CORRECTNESS file only between sessions, and a stable order within
    one session is required anyway (``queries()`` and ``oracle_sql()``
    must agree).
    """
    global _HISTORY_CACHE
    if _HISTORY_CACHE is None:
        history: dict[str, list[int]] = {}
        for path in sorted(_REPO_ROOT.glob("CORRECTNESS_r*.json")):
            try:
                round_no = int(path.stem.rsplit("_r", 1)[1])
                rows = json.loads(path.read_text())
            except (IndexError, ValueError, OSError):
                continue  # unrelated or malformed file — not evidence
            if not isinstance(rows, dict):
                continue
            for name, row in rows.items():
                if not isinstance(row, dict):
                    continue
                if row.get("hash_match") is True:
                    history.setdefault(name, []).append(round_no)
        for greens in history.values():
            greens.sort()
        _HISTORY_CACHE = history
    return _HISTORY_CACHE


def _rotation_order(names: list[str], history: dict[str, list[int]]) -> list[str]:
    """Stalest-first total order over ``names`` given driver history.

    Pure function of its inputs so tests can drive it with synthetic
    histories.  Sort key, ascending: (round of most recent driver
    evidence — ``-1`` i.e. first when never certified —, lifetime
    evidence count, position in ``names``).  The sort is stable and the
    final key is the input position, so the order is fully deterministic.
    """

    def key(pair: tuple[int, str]):
        index, name = pair
        greens = history.get(name, [])
        return (greens[-1] if greens else -1, len(greens), index)

    return [name for _, name in sorted(enumerate(names), key=key)]


#: Queries whose EXECUTED PLAN changed since their last driver-green
#: round — a function rewrite, a changed oracle, OR a plan-affecting
#: tweak inside a helper they call (a new stage boundary, different
#: salt/bucket sizing, a join-strategy hint).  Staleness alone cannot
#: see a code change: a query green in round N-1 sorts to the back of
#: the rotation even when round N replaced its execution path, leaving
#: the change oracle-uncertified by the driver (the r9 ADVICE #4
#: failure mode — PCA's rewrite shipped with only pre-rewrite parity
#: evidence; the r11 repeat — corpus_boilerplate_prune's repartition
#: boundary landed outside the window because "restructured" was read
#: as function-level only).  Names here are pinned into the window
#: right after the flagships.
#: MAINTENANCE CONTRACT: add a name in the round that changes ANY part
#: of its executed plan, however the change is spelled in code; clear
#: the tuple in the next round once CORRECTNESS_r{N}.json has their
#: green rows (the staleness order then resumes normally).
_RECERTIFY: tuple[str, ...] = (
    # (r16 tuple cleared per the contract: all 32 entries got green
    # rows in CORRECTNESS_r16.)
)


def certification_window() -> tuple[str, ...]:
    """The first ``CERT_WINDOW`` names the driver will verify this round."""
    flagships = [n for n in _FLAGSHIPS if n in REGISTRY]
    recert = [
        n for n in _RECERTIFY if n in REGISTRY and n not in _FLAGSHIPS
    ]
    rest = _rotation_order(
        [n for n in REGISTRY if n not in _FLAGSHIPS and n not in recert],
        _certification_history(),
    )
    return tuple((flagships + recert + rest)[:CERT_WINDOW])

