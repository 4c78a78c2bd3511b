"""Iterative graph analytics over the order/part co-purchase graph.

``parts_copurchase_pagerank``: weighted PageRank power iteration on
the part co-purchase graph (parts are nodes; an edge src->dst with
weight w means the two parts co-occur in w orders).  This is the
canonical iterative-graph-on-DataFrames shape — each round is one
equi-join (edges x ranks) plus one map-side-combinable aggregation —
i.e. Pregel's superstep expressed relationally, the way GraphFrames
runs it on a cluster.  Three fixed rounds (matching the repo's
``LLOYD_ROUNDS`` discipline: bounded, unrollable in SQL).

Determinism discipline — EXACT INTEGER arithmetic end-to-end, the
same micro-unit pattern as ``pq.py``:
- ranks live in micro-units (init 1_000_000 per node, the
  "total mass = N" convention);
- an edge's contribution is ``(rank_micro * w) div W_src`` — integer
  truncating division (identical for the positive operands on both
  engines), never a float ratio;
- the damping update is ``150000 + (85 * sum) div 100`` (d = 0.85),
  again pure integers;
- integer sums are associative, so every round is partitioning- and
  merge-order-independent — no float ever enters.
The co-purchase graph is symmetric by construction, so every node has
out-edges and the dangling-mass term vanishes.

Scale notes (100 TB): edge building shuffles the fact ONCE — a
per-order ``collect_set`` groupBy (bounded by parts-per-order) whose
sorted array generates the a < b pairs pipelined under codegen
(r15; replacing the distinct + order-key self-join, which cost two
additional fact-sized exchanges for the same pair stream); each
PageRank round shuffles the EDGE list once on src (join) and once on
dst (aggregate) — the textbook distributed PageRank cost, linear in
|E| per round with map-side combine on the dst sum.  Ranks stay a
slim (node, BIGINT) table; the mirrored edge list makes
{src} = {dst} = nodes structurally, so each round's dst aggregate IS
the next rank table (no per-round node left join, r15).  Join strategy is deliberately LEFT TO
AQE: forcing SHUFFLE_HASH on the slim sides (rank / wu / contrib) to
skip the edge-side sorts was measured WORSE at both sf5 (58.4 ->
63.7 s) and sf25 (241 -> 365 s cold) — the hint also forbids AQE's
runtime broadcast of the rank table and its skew handling, which
beat the saved sorts at every scale tried.  Don't retry without new
evidence.  At extreme node counts the micro-unit
headroom (rank mass x max weight < 2^63) is the documented bound —
the standard remedy is rescaling the mass convention per round.

BOUNDED-SCRATCH EXECUTION (r13 — the fourth-decade fix, the ngram
K-pass recipe applied to the edge build): every superstep is linear,
yet sf125 DNF'd on shuffle disk (ENOSPC at ~35 GB free after ~25 min)
because the SUM of footprints coexists on one node — the edge-build
self-join's pair fan-out (~1.1e9 rows at sf125) feeding the groupBy,
its lineage-pinned shuffle files surviving under the persisted ``e``,
and each superstep's edge-sized join shuffles accumulating until job
end.  When the estimated pair fan-out bytes exceed the configured
budget (``spark.graft.pagerank.scratchBudgetGb``), the build runs in
K disjoint hash-range passes over the DST part key: pass k filters
the streamed pair generator to ``dst % K == k`` BEFORE the groupBy
exchange, aggregates its (src, dst, w) half-edges EXACTLY (every
order's full pair list is regenerated per pass, and a pair's dst
lives in exactly one range — no cross-pass re-aggregation needed),
and writes
the output-sized result to PARQUET so the pass's shuffle files become
unreferenced and ContextCleaner frees them before pass k+1 (parquet,
not localCheckpoint: at sf125 the ~1e9-row half-edge relation is ~10x
executor storage memory and block-store checkpoints heap-OOM'd the
32 g JVM — a measured r13 negative).  The supersteps then keep the
edge list a PLAN over that parquet and never shuffle it: only the
node-sized relations materialize (wu checkpointed once; the per-node
(rank, wu) pair broadcasts into a map-side hash join over the edge
scan, the dst sum is map-side-combinable, and each round's rank
table is checkpointed so the round's shuffle files free before round
r+1 runs).  Below the budget K = 1 and the plan is byte-identical to
the certified single-pass form; ``tests/test_graph.py`` pins K-vs-1
bit-identity across both execution shapes.

The reference has no graph surface (it is a cancellation ETL); this
module is north-star surface per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..caching import persist_tracked
from ..caching import register_value_memo as _register_value_memo
from ..plans.registry import registered_query as _q

#: fixed power-iteration rounds and damping (85/100 as integers).
PR_ROUNDS = 3
_INIT_MICRO = 1_000_000
_TELEPORT_MICRO = 150_000  # (1 - d) * 1e6
_D_NUM, _D_DEN = 85, 100

_PR_TOPK = 50

#: forced pass count for the bounded-scratch edge build; 0 = size from
#: the scratch budget.  Runtime-settable (``spark.conf.set``).
_PR_PASSES_CONF = "spark.graft.pagerank.passes"

#: shuffle-scratch budget (GiB) one edge-build pass may keep in
#: flight.  12 GiB mirrors the ngram default: it keeps the pass's
#: dominant term (the pair fan-out feeding the half-edge groupBy)
#: under the heaviest completer's peak, and costs nothing below scale
#: (sf<=25: K=1, plan unchanged).  The per-pass floor the budget can't
#: shrink is the self-join's own input sorts (~2.5 x items bytes).
_PR_SCRATCH_GB_CONF = "spark.graft.pagerank.scratchBudgetGb"
_PR_SCRATCH_GB_DEFAULT = 12.0

#: calibrated in-flight bytes per co-purchase PAIR row: the (src, dst)
#: join output is 16 B and rides one exchange + sort into the half
#: groupBy (~2.5x amplification, the ngram constant's arithmetic) —
#: 40 B each.  sf125: Σ d(d-1)/2 ~ 1.1e9 pairs -> ~45 GB one-shot,
#: consistent with the observed ENOSPC at ~35 GB free.
_PR_SPILL_BYTES_PER_PAIR = 40

#: budget for the scratch-mode supersteps' node-sized (rank, wu)
#: broadcast.  The explicit F.broadcast hint is load-bearing there (at
#: the fourth decade the rank table is far past the AQE threshold, and
#: the alternative per-round edge-sized sort-merge exceeds one node's
#: disk) but the node set scales with the part catalog, so past this
#: budget the build FAILS LOUDLY instead of hinting the executor into
#: an OOM (r13 verdict #3).  4 GiB sits under Spark's 8 GB broadcast
#: hard limit with heap headroom; the measured sf125 node set (~25M
#: rows ~ 2.3 GiB estimated) clears it.
_PR_BCAST_GB_CONF = "spark.graft.pagerank.broadcastBudgetGb"
_PR_BCAST_GB_DEFAULT = 4.0
#: estimated broadcast bytes per node: 24 B of BIGINT payload
#: (node, rank_micro, wu) x ~4 for the UnsafeHashedRelation's rows,
#: hash slots and object headers — deliberately conservative.
_PR_BCAST_BYTES_PER_NODE = 96


def _guard_rank_broadcast(spark, n_nodes: int) -> None:
    """Fail loud before the superstep broadcast hint can OOM an
    executor.  On a cluster, don't raise this budget toward the 8 GB
    broadcast limit — run WITHOUT bounded-scratch mode instead (K=1:
    multi-node aggregate shuffle capacity makes the one-shot build the
    right plan, and AQE then picks the rank-join strategy at runtime
    with no explicit hint anywhere)."""
    raw = spark.conf.get(_PR_BCAST_GB_CONF, str(_PR_BCAST_GB_DEFAULT))
    try:
        budget_gb = float(raw)
    except ValueError as e:
        raise ValueError(
            f"{_PR_BCAST_GB_CONF} must be a number of GiB, got {raw!r}"
        ) from e
    est = n_nodes * _PR_BCAST_BYTES_PER_NODE
    if est > budget_gb * 2**30:
        raise ValueError(
            f"pagerank bounded-scratch mode: the per-round (rank, wu) "
            f"broadcast is estimated at {est / 2**30:.1f} GiB for "
            f"{n_nodes} nodes, over the {budget_gb} GiB "
            f"{_PR_BCAST_GB_CONF} budget. Raise the budget only with "
            f"matching executor heap; at this node count the right fix "
            f"is a cluster run with scratch mode off (one-shot K=1 "
            f"build, AQE-managed rank join)."
        )


#: pass-count memo keyed by (input fingerprints, budget conf) — the
#: estimator is one aggregate over the items frame, which is exactly
#: the cost a repeated bench pass or a multi-query session should not
#: re-pay; the fingerprint key means a REGENERATED fact table still
#: re-estimates.
_PASS_MEMO: dict = _register_value_memo({})


def _forced_passes(spark) -> int:
    try:
        return int(spark.conf.get(_PR_PASSES_CONF, "0"))
    except ValueError as e:
        raise ValueError(
            f"{_PR_PASSES_CONF} must be an integer pass count"
        ) from e


def _scratch_budget_bytes(spark) -> int:
    raw = spark.conf.get(_PR_SCRATCH_GB_CONF, str(_PR_SCRATCH_GB_DEFAULT))
    try:
        budget_gb = float(raw)
    except ValueError as e:
        raise ValueError(
            f"{_PR_SCRATCH_GB_CONF} must be a number of GiB, got {raw!r}"
        ) from e
    if budget_gb <= 0:
        raise ValueError(
            f"{_PR_SCRATCH_GB_CONF} must be positive, got {raw!r}"
        )
    return max(1, int(budget_gb * 2**30))


def _pass_memo_key(spark, items):
    """Memo key for the pass estimate, or None for in-memory frames:
    those have no input files, and an empty fingerprint would alias
    EVERY such frame onto one memo slot, so they simply re-estimate (a
    pass count is a perf choice, never a correctness one, but a
    silently shared one is confusing)."""
    from ..caching import input_fingerprints

    fps = input_fingerprints(items)
    if not fps:
        return None
    return (
        repr(fps),
        spark.conf.get(_PR_SCRATCH_GB_CONF, str(_PR_SCRATCH_GB_DEFAULT)),
    )


def _known_pass_count(spark, items):
    """Pass count with NO Spark job — forced conf or memo hit — else
    None.  Checked before the persist-placement proxy so repeated
    builds (bench passes, multi-query sessions) skip the proxy's fact
    count entirely (r13 ADVICE)."""
    forced = _forced_passes(spark)
    if forced > 0:
        return forced
    memo_key = _pass_memo_key(spark, items)
    if memo_key is not None:
        return _PASS_MEMO.get(memo_key)
    return None


def _pagerank_pass_count(spark, frame) -> int:
    """ceil(estimated pair-fan-out bytes / budget), the estimate ONE
    cheap aggregate, memoized per (input files, budget).  Accepts
    either grain — the item-level (l_orderkey, l_partkey) frame
    (countDistinct per order, so raw fact rows estimate the same as a
    distinct'd frame) or the per-order ``ps`` array frame the r15
    edge build aggregates first (size(ps) is the degree directly, and
    running the estimate over the PERSISTED array frame fills the
    cache the build's passes reuse).  Both spellings share one memo
    key: the input fingerprints are the source parquet files, which
    are identical for both frames.  Returns 1 below the budget — the
    certified byte-identical plan."""
    known = _known_pass_count(spark, frame)
    if known is not None:
        return known
    memo_key = _pass_memo_key(spark, frame)
    budget_bytes = _scratch_budget_bytes(spark)
    if "ps" in frame.columns:
        degrees = frame.select(F.size("ps").alias("d"))
    else:
        degrees = frame.groupBy("l_orderkey").agg(
            F.countDistinct("l_partkey").alias("d")
        )
    pair_rows = (
        degrees.agg(F.sum(F.expr("d * (d - 1) div 2")).cast("long"))
        .first()[0]
        or 0
    )
    est = pair_rows * _PR_SPILL_BYTES_PER_PAIR
    passes = max(1, -(-int(est) // budget_bytes))
    if memo_key is not None:
        _PASS_MEMO[memo_key] = passes
    return passes


def _pagerank_scratch_dir(spark, token: str) -> str:
    """Per-invocation parquet scratch under the warehouse dir (the
    artifact root's sibling; one shared resolution policy); removed
    once the final rank table is checkpointed."""
    import os

    from ..artifacts import warehouse_local_path

    return os.path.join(
        warehouse_local_path(spark), "graft_scratch", f"pagerank-{token}"
    )


def _per_order_parts(items):
    """One sorted distinct part array per order — the SINGLE shuffle
    of the fact the r15 edge build keeps.  ``collect_set`` folds the
    old separate ``.distinct()`` into the same exchange, so the
    pre-r15 plan's three fact-sized stages (distinct shuffle,
    order-key re-exchange, self-join) collapse to this one groupBy."""
    return items.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )


#: array-side a < b pair generator over the sorted per-order part
#: array: for element i, pair it with every later element.  Emitted
#: pipelined from the array scan (codegen streams the generated rows
#: straight into the downstream filter/groupBy — the pair fan-out is
#: never materialized), replacing the order-key self-join the r14 form
#: paid a second fact exchange plus a sort-merge join for.
_PAIR_GEN = (
    "flatten(transform(ps, (x, i) ->"
    " transform(slice(ps, i + 2, size(ps) - i - 1),"
    " y -> named_struct('src', x, 'dst', y))))"
)


def _half_pairs(po):
    """(src, dst) half-pair rows (src < dst) from the per-order array
    frame; grouping to (src, dst, w) is the caller's choice of
    one-shot vs per-pass so scratch mode can filter BEFORE the
    groupBy exchange."""
    return po.select(F.explode(F.expr(_PAIR_GEN)).alias("p")).select(
        "p.src", "p.dst"
    )


def _half_weights(pairs):
    """Aggregated a < b half of the co-purchase edge list."""
    return pairs.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("bigint").alias("w")
    )


def _pagerank_oracle() -> str:
    parts = [f"""
    items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
        SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS w
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        GROUP BY 1, 2
    ),
    wu AS (SELECT src, CAST(sum(w) AS BIGINT) AS wu FROM edges GROUP BY src),
    e AS (SELECT edges.src, edges.dst, CAST(w AS BIGINT) AS w, wu.wu
          FROM edges JOIN wu USING (src)),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    r0 AS (SELECT node, CAST({_INIT_MICRO} AS BIGINT) AS rank_micro
           FROM nodes)"""]
    for r in range(PR_ROUNDS):
        parts.append(f"""
    r{r + 1} AS (
        SELECT n.node,
               CAST({_TELEPORT_MICRO}
                    + ({_D_NUM} * COALESCE(s.s, 0)) // {_D_DEN} AS BIGINT)
                   AS rank_micro
        FROM nodes n LEFT JOIN (
            SELECT e.dst AS node,
                   CAST(sum((r.rank_micro * e.w) // e.wu) AS BIGINT) AS s
            FROM e JOIN r{r} r ON r.node = e.src
            GROUP BY e.dst) s USING (node)
    )""")
    return f"""
    WITH {",".join(parts)}
    SELECT node AS part, rank_micro, CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT *, row_number() OVER (
              ORDER BY rank_micro DESC, node) AS rnk
          FROM r{PR_ROUNDS})
    WHERE rnk <= {_PR_TOPK}
    """


@_q(
    "parts_copurchase_pagerank",
    "north-star graph: weighted PageRank power iteration on the part "
    "co-purchase graph (exact integer micro-unit arithmetic)",
    _pagerank_oracle(),
)
def _pagerank(spark, t):
    items = t["lineitem"].select("l_orderkey", "l_partkey")
    po = _per_order_parts(items)
    # Opportunistic persist placement: the pass estimator's aggregate
    # executes the per-order array groupBy, and the scratch passes
    # need that same frame — when a no-shuffle proxy (parquet-metadata
    # fact row count x bytes/pair, i.e. assuming >= 1 pair per fact
    # row) says scratch mode is likely, persist BEFORE estimating so
    # the estimate fills the cache the passes reuse instead of
    # shuffling the fact K times.  The proxy only places the persist:
    # the REAL pass count still comes from the exact pair estimate,
    # and a wrong proxy costs one persist (released below) or one
    # extra scan, never correctness.  Below the proxy threshold
    # nothing is persisted and the certified plan is untouched.  When
    # the pass count is already KNOWN without a job (forced conf or a
    # memo hit from an earlier build this session) the proxy never
    # runs — the r13 ADVICE caught repeated bench passes paying the
    # fact count the memo existed to avoid.
    known = _known_pass_count(spark, items)
    if known is not None:
        likely_scratch = known > 1
    else:
        likely_scratch = (
            t["lineitem"].count() * _PR_SPILL_BYTES_PER_PAIR
            > _scratch_budget_bytes(spark)
        )
    po_p = persist_tracked(po) if likely_scratch else None
    if po_p is not None:
        po = po_p
    passes = (
        known if known is not None else _pagerank_pass_count(spark, po)
    )
    scratch = passes > 1
    if po_p is not None and not scratch:
        po_p.unpersist()  # the proxy overshot; restore idle state
    # An exception mid-build (a pass write, a superstep) must not
    # leak tens of GB of pass parquet — the very disk pressure
    # scratch mode exists to relieve (r13 ADVICE): the finally
    # below removes the scratch dir on every exit path.  On the
    # success path everything after the loop reads only the
    # checkpointed final rank (node-sized blocks), so the removal
    # point is the same.
    scratch_root = None
    try:
        # Symmetrize-after-agg edge build: aggregate only the a < b
        # half of the pair fan-out, then mirror — halves the rows
        # through the groupBy (the co-purchase relation is symmetric
        # by construction, so the mirror is exact).  r15 form: the
        # half pairs come from the per-order sorted part array
        # (_per_order_parts + _half_pairs) instead of the order-key
        # self-join — ONE exchange of the fact (the collect_set
        # groupBy, which also absorbs the old separate distinct)
        # instead of three fact-sized stages, with the pair fan-out
        # generated pipelined under codegen.  Measured at sf0.1:
        # value-identical, 6.6 -> 4.5 s warm on the full query.
        if not scratch:
            half = _half_weights(_half_pairs(po))
        else:
            # Bounded-scratch mode (module docstring): K disjoint
            # hash-range passes over the DST part key, each pass's
            # output-sized half-edge table written to PARQUET and its
            # shuffle scratch freed before the next pass.  EXACT per pass:
            # every order's full pair list is regenerated and filtered to
            # the pass's dst range, and a pair's dst lives in exactly one
            # range — the union of passes is the one-shot half table
            # row-for-row.  The r15 array-side generator makes the pass
            # restriction CHEAPER than the old filtered self-join: the
            # filter sits between the (streamed) pair generator and the
            # groupBy exchange, so only pass k's pairs ever enter a
            # shuffle.  Parquet, NOT localCheckpoint: the first r13 sf125
            # attempt checkpointed the pass outputs and the joined edge
            # table into the block store and the 32 g JVM heap-OOM'd — at
            # this scale the edge relation (~1e9 half-edges from a
            # 750M-row fact) is ~10x too big for executor storage memory,
            # while compressed columnar files cost bounded heap and
            # sequential I/O.
            import os
            import uuid

            from ..observability import get_json_logger
            from .dedup_fuzzy import _release_pass_scratch

            get_json_logger().info(
                "pagerank bounded-scratch mode",
                extra={
                    "fields": {
                        "event": "pagerank_bounded_scratch",
                        "passes": passes,
                    }
                },
            )
            scratch_root = _pagerank_scratch_dir(spark, uuid.uuid4().hex[:8])
            # po persisted so each pass reads the per-order arrays from
            # cache instead of re-shuffling the fact K times (usually
            # already persisted by the proxy above, in which case the
            # estimator has materialized it); released as soon as the
            # edge table is written.
            if po_p is None:
                po_p = persist_tracked(po)
            pairs = _half_pairs(po_p)
            for k in range(passes):
                _half_weights(
                    pairs.filter(F.pmod(F.col("dst"), F.lit(passes)) == k)
                ).write.mode("overwrite").parquet(
                    os.path.join(scratch_root, f"pass{k}")
                )
                _release_pass_scratch(spark)
            po_p.unpersist()
            half = spark.read.parquet(
                *[os.path.join(scratch_root, f"pass{k}") for k in range(passes)]
            ).select("src", "dst", "w")
        # Mirror via one generator over HALF instead of a self-union:
        # the union form re-derived the whole half subtree (fact scan,
        # items distinct, self-join, pair groupBy) once per branch, and
        # wu/e below consume ``edges`` twice more — 16 parquet scans /
        # 36 exchanges in the pre-AQE e-plan.  ``inline`` emits both
        # directions from ONE pass over half, so the expensive subtree
        # appears exactly once per consumer (measured cold e-build at
        # sf0.1: 5.8 s -> 2.75 s, rows and values identical — exact
        # BIGINT counts are order-independent).
        edges = half.select(
            F.expr(
                "inline(array(named_struct('src', src, 'dst', dst, 'w', w),"
                " named_struct('src', dst, 'dst', src, 'w', w)))"
            )
        )
        wu = edges.groupBy("src").agg(F.sum("w").cast("bigint").alias("wu"))
        if not scratch:
            # Persisted: every superstep joins the SAME edge list —
            # without the persist each round's plan re-derives the edge
            # build from scratch (measured: 20 FileScans / zero
            # ReusedExchange in the 3-round plan), which at corpus scale
            # multiplies the dominant cost by the round count.  The
            # persist boundary is deliberately the JOINED ``e`` table,
            # not the raw edge list: additionally persisting ``half``
            # was measured ~30% slower warm (r8; and persisting the full
            # ``edges`` 2.5x slower in r7) — columnar cache
            # materialization of the multi-million-row table costs more
            # than the codegen-pipelined recompute it saves.
            e = persist_tracked(edges.join(wu, "src"))
        else:
            # The edge list stays a PLAN over the pass parquet; only the
            # NODE-SIZED relations materialize.  wu is one aggregation over
            # the parquet scan, checkpointed (truncating the build lineage
            # so its shuffle files free before the supersteps).
            wu = wu.localCheckpoint(eager=True)
            _release_pass_scratch(spark)
            # Fail-loud broadcast budget check (r13 verdict #3): the
            # superstep hint below pins a node-sized broadcast; wu is
            # checkpointed, so its count is a cheap block-store scan.
            _guard_rank_broadcast(spark, wu.count())
        # NO separate node table and NO per-round left join (r15): the
        # mirrored edge list makes {src} = {dst} = the node set
        # STRUCTURALLY (every half edge emits both directions), so the
        # per-round dst aggregate already produces exactly one row per
        # node and the old ``nodes LEFT JOIN contrib`` (one broadcast
        # join per round, plus the nodes distinct+persist) re-derived
        # what the aggregate's key set already is.  Round 1's rank is
        # the INIT constant on every node, so its rank join is a
        # constant projection over the edge list.  Measured at sf0.1
        # jointly with the array-side edge build: 6.6 -> 4.5 s warm,
        # value-identical.
        #
        # Micro-unit headroom guard: with ANSI mode off Spark silently
        # wraps BIGINT overflow while DuckDB raises, so at extreme node
        # counts the engines would diverge into wrong-but-plausible
        # output.  Fail loudly on the Spark side too before the product
        # can wrap (w >= 1 always).
        guard_tpl = (
            "CASE WHEN {r} > 9223372036854775807 div w"
            " THEN CAST(raise_error('pagerank overflow:"
            " rank_micro * w exceeds BIGINT headroom') AS BIGINT)"
            " ELSE ({r} * w) div wu END"
        )
        rank = None
        for _ in range(PR_ROUNDS):
            if rank is None:
                r_expr = F.expr(guard_tpl.format(r=_INIT_MICRO)).alias("c")
                contrib = (
                    (e if not scratch else edges.join(
                        F.broadcast(wu), "src"
                    ))
                    .select(F.col("dst"), r_expr)
                )
            elif not scratch:
                contrib = e.join(rank, e["src"] == rank["node"]).select(
                    F.col("dst"),
                    F.expr(guard_tpl.format(r="rank_micro")).alias("c"),
                )
            else:
                # Bounded-scratch superstep: the EDGE side never shuffles.
                # The per-node (rank, wu) pair — two bounded node-sized
                # checkpointed tables joined — broadcasts to a map-side
                # hash join over the parquet edge scan, and the dst sum is
                # map-side-combinable, so a round's shuffle is the slim
                # partial-aggregate rows only.  (The r8 negative against
                # forcing join strategies was about forbidding AQE's
                # runtime rank broadcast on the slim-join plan — at the
                # fourth decade the 25M-row rank table is far past the
                # AQE broadcast threshold, so the explicit hint is the
                # only way to the map-side plan, and the alternative is
                # an edge-sized sort-merge shuffle per round that exceeds
                # one node's disk.)
                nw = rank.join(wu, rank["node"] == wu["src"]).select(
                    "node", "rank_micro", "wu"
                )
                contrib = edges.join(
                    F.broadcast(nw), edges["src"] == nw["node"]
                ).select(
                    F.col("dst"),
                    F.expr(guard_tpl.format(r="rank_micro")).alias("c"),
                )
            rank = (
                contrib.groupBy("dst")
                .agg(F.sum("c").cast("bigint").alias("s"))
                .select(
                    F.col("dst").alias("node"),
                    (
                        F.lit(_TELEPORT_MICRO)
                        + F.expr(f"({_D_NUM} * s) div {_D_DEN}")
                    ).cast("bigint").alias("rank_micro"),
                )
            )
            if scratch:
                # the node-sized rank table is checkpointed per round
                # (exact BIGINTs — materialization cannot change a value)
                # so round r's edge-scan shuffle files become unreferenced
                # and free before round r+1 runs.  (_release_pass_scratch
                # was imported by the scratch edge-build block above.)
                rank = rank.localCheckpoint(eager=True)
                _release_pass_scratch(spark)
    finally:
        if scratch_root is not None:
            import shutil

            shutil.rmtree(scratch_root, ignore_errors=True)
    # Top-K via orderBy().limit() — TakeOrderedAndProject (per-partition
    # heap + driver merge of K rows), never a global single-partition sort
    # of every node.  The row_number window then ranks only the K
    # survivors, so its single partition is bounded by _PR_TOPK — the
    # same pattern as the BM25 top-N in ``retrieval.py``.
    topk = rank.orderBy(
        F.col("rank_micro").desc(), F.col("node").asc()
    ).limit(_PR_TOPK)
    w = F.row_number().over(
        Window.orderBy(F.col("rank_micro").desc(), F.col("node").asc())
    )
    return (
        topk.withColumn("rnk", w)
        .select(
            F.col("node").alias("part"),
            "rank_micro",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )
