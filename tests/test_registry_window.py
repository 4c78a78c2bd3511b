"""Certification-window invariants for the query registry.

The driver's correctness harness verifies only the FIRST ``CERT_WINDOW``
registry entries.  The window content used to be a hand-maintained
``_PRIORITY`` tuple; a round that skipped the edit froze the rotation and
let 39 queries go 2+ rounds without driver evidence (r5→r6).  It is now
computed from the driver's own ``CORRECTNESS_r*.json`` history
(``certification_window``), so these tests pin both the live window's
shape and the rotation policy itself (via the pure ``_rotation_order``).
"""

from transitdata_omm_cancellation_source_spark.plans.queries import (
    CERT_WINDOW,
    REGISTRY,
    _certification_history,
    _rotation_order,
    certification_window,
    oracle_sql,
    queries,
)


def test_window_fills_certification_window_exactly():
    window = certification_window()
    assert len(window) == CERT_WINDOW, (
        f"certification_window() yields {len(window)} entries for a "
        f"{CERT_WINDOW}-entry driver window"
    )


def test_window_names_all_resolve():
    missing = [n for n in certification_window() if n not in REGISTRY]
    assert not missing, f"window lists unregistered names: {missing}"


def test_window_has_no_duplicates():
    window = certification_window()
    assert len(set(window)) == len(window)


def test_window_head_is_rotation_order():
    # queries() is the driver-facing order (computed at access time;
    # REGISTRY's raw order follows whichever module a process imported
    # first).
    head = list(queries())[:CERT_WINDOW]
    assert head == list(certification_window())


def test_flagships_always_inside_window():
    window = certification_window()
    assert window[0] == "cancellation_pipeline_now"
    assert window[1] == "cancellation_pipeline_past"


def test_recertify_entries_pin_directly_after_flagships():
    """The _RECERTIFY maintenance contract (plans/queries.py): any
    query whose EXECUTED PLAN changed this round must hold a window
    slot right after the flagships — the driver's record is the gate,
    staleness rotation cannot see code changes.  Mechanical half of
    the contract pinned here: every listed name resolves and occupies
    the post-flagship slots in order.  (The judgment half — "the tuple
    is non-empty whenever a round rewrote a plan" — is enforced by the
    round's verdict diff review; r11 showed why the wording must say
    PLAN, not function: corpus_boilerplate_prune's repartition
    boundary shipped outside the window.)"""
    from transitdata_omm_cancellation_source_spark.plans.queries import (
        _FLAGSHIPS,
        _RECERTIFY,
    )

    window = certification_window()
    expected = [n for n in _RECERTIFY if n in REGISTRY and n not in _FLAGSHIPS]
    n_flag = len([n for n in _FLAGSHIPS if n in REGISTRY])
    assert list(window[n_flag : n_flag + len(expected)]) == expected
    assert all(n in REGISTRY for n in _RECERTIFY)


def test_every_query_has_build_and_oracle_is_subset():
    q = queries()
    o = oracle_sql()
    assert set(o) <= set(q)
    assert all(callable(b) for b in q.values())


# ---------------------------------------------------------------------------
# Rotation-policy contract (pure function, synthetic histories).
# ---------------------------------------------------------------------------


def test_rotation_never_certified_comes_first():
    order = _rotation_order(
        ["old", "fresh", "never"],
        {"old": [1, 2], "fresh": [1, 2, 3]},
    )
    assert order == ["never", "old", "fresh"]


def test_rotation_stalest_first_then_fewest_greens():
    order = _rotation_order(
        ["a", "b", "c", "d"],
        {"a": [1, 2, 3], "b": [3], "c": [1, 2], "d": [1]},
    )
    # last-green: a=3 b=3 c=2 d=1 → d, c first; among (a, b) fewer
    # lifetime greens wins → b before a.
    assert order == ["d", "c", "b", "a"]


def test_rotation_is_deterministic_on_ties():
    names = ["x", "y", "z"]
    hist = {"x": [2], "y": [2], "z": [2]}
    assert _rotation_order(names, hist) == names  # input order breaks ties


def test_rotation_cannot_freeze():
    """Certifying the window head must push it behind everything stale.

    Simulates the r5→r6 failure: run two rounds where the driver
    certifies the current front of the queue, and assert the previous
    round's window never reappears ahead of queries it displaced.
    """
    names = [f"q{i:02d}" for i in range(12)]
    window = 6
    hist: dict[str, list[int]] = {}
    certified_last = None
    for round_no in (1, 2):
        head = _rotation_order(names, hist)[:window]
        if certified_last is not None:
            # Everything certified last round sits behind every entry
            # that has not been certified since.
            assert not (set(head) & certified_last)
        for name in head:
            hist.setdefault(name, []).append(round_no)
        certified_last = set(head)


def test_live_window_prefers_stale_over_fresh():
    """Against the REAL history: no query outside the window may be
    staler than a non-flagship, non-recertify query inside it.  The
    ``_RECERTIFY`` pins are the one sanctioned exception — a query
    whose implementation was rewritten this round re-enters the window
    regardless of how fresh its (pre-rewrite) evidence is."""
    from transitdata_omm_cancellation_source_spark.plans.queries import (
        _RECERTIFY,
    )

    hist = _certification_history()
    window = certification_window()
    inside = [n for n in window[2:] if n not in _RECERTIFY]
    outside = [n for n in REGISTRY if n not in window]

    def last_green(name):
        greens = hist.get(name, [])
        return greens[-1] if greens else -1

    if inside and outside:
        # Staleness is the primary rotation key, so the freshest query
        # inside the window can be at most as fresh as the stalest one
        # left outside.
        assert max(last_green(n) for n in inside) <= min(
            last_green(n) for n in outside
        )


def test_history_counts_only_green_rows(tmp_path, monkeypatch):
    """Only hash-green rows count: red rows, rows-only ``no_oracle``
    checks, crashes, and unrelated files are not certification."""
    import json

    import transitdata_omm_cancellation_source_spark.plans.queries as q

    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps(
            {
                "green": {"hash_match": True, "err": None, "spark_rows": 5},
                "red": {"hash_match": False, "err": None, "spark_rows": 5},
                "sketch": {
                    "hash_match": None,
                    "err": "no_oracle",
                    "spark_rows": 5,
                },
                "crashed": {"hash_match": None, "err": "boom", "spark_rows": None},
            }
        )
    )
    (tmp_path / "CORRECTNESS_rXX.json").write_text("not json")
    monkeypatch.setattr(q, "_REPO_ROOT", tmp_path)
    monkeypatch.setattr(q, "_HISTORY_CACHE", None)  # restored at teardown
    assert q._certification_history() == {"green": [1]}


def test_recertify_pins_follow_flagships():
    """Rewritten-this-round queries must re-enter the window right
    after the flagships, so the driver certifies the NEW code path
    even though their (pre-rewrite) evidence is fresh."""
    from transitdata_omm_cancellation_source_spark.plans.queries import (
        _RECERTIFY,
    )

    window = certification_window()
    assert set(_RECERTIFY) <= set(REGISTRY)
    expected = [n for n in _RECERTIFY if n not in window[:2]]
    assert list(window[2 : 2 + len(expected)]) == expected
