"""Iterative graph ranking: fixed-iteration PageRank (public
algorithm — Brin & Page 1998; damping-factor form as in the original
paper and every textbook). The corpus-curation use is domain/item
authority weighting — web pipelines weight documents by link-graph
centrality of their hosts (e.g. Common Crawl's published harmonic-
centrality rankings); here the same machinery ranks any derived
edge list.

This is the engine's representative of the ITERATIVE class beyond
connected components: a driver-side loop of K relational steps, each
step one join + one aggregation — no GraphX, no RDDs. Per iteration:

    contrib(v) = Σ_{u→v} rank(u) / outdeg(u)          (join + sum)
    rank'(v)   = (1−d)/N + d · contrib(v)             (map)

(``personalize=`` swaps the uniform (1−d)/N teleport for a seed
distribution s(v) — Brin & Page's non-uniform E vector — giving the
topic-focused variant; see the parameter docs.)

Nodes with no in-links keep the (1−d)/N floor; mass arriving at
dangling nodes (no out-links) is dropped, matching the plain
fixed-iteration formulation the oracle unrolls (symmetric edge lists —
the co-occurrence graphs this engine derives — have no dangling nodes,
so the dropped mass is zero there). d is the module constant
``_DAMPING`` (0.85), the value every oracle CTE unrolls.

Scale posture: the edge list, node set, and out-degrees are
MATERIALIZED once up front — a lazy plan would re-derive the whole
upstream subtree (self-joins, scans) once per iteration reference,
K+1 times; Spark's own iterative algorithms cache their graph for the
same reason. Each iteration is
then ONE shuffle of the rank table against the cached edges.
Convergence is the caller's choice of K: PageRank contracts at rate
d per iteration, so K = 5 bounds the error at d^5 ≈ 0.44 of the
initial gap — pick K from the tolerance, or seed the run from a
published snapshot's ranks (``warm_start``) to start closer.

Small graphs take the driver lane of ``_driver_lane.py``, which also
serves connected components. The operators on the two shared loop
shapes — :func:`_until_stable` (k_core, core_number, reachability) and
:func:`_alternating_walk` (hits, salsa) — open every call with one
bounded probe: the operator's filtered edge list, collected through
``limit(_LOCAL_EDGE_CAP + 1)``. At or under the cap the whole loop
runs in numpy on the driver (:class:`_DriverGraph`) and the result
returns as a local relation, so a host graph of a few dozen edges
costs the probe's job instead of Spark jobs every round. Over the cap
the probe's rows are dropped and the distributed lane runs as
described above. Both lanes execute the same rounds, decide
convergence on the same probe scalar and round through the same
``F.round`` projection. PageRank, label propagation, co-citation and
triangle counting have no driver lane yet.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from unilever_scraping_etl_spark.operators._contracts import (
    require_free_columns,
)
from unilever_scraping_etl_spark.operators._driver_lane import (
    _DriverGraph, _driver_graph,
)

_WORKING = ("__outdeg", "__contrib", "__wr", "__sv", "__cn", "__esv")

# PageRank's damping factor d (module docstring)
_DAMPING = 0.85

# Diagnostics for the until_stable peeling family (r14 VERDICT #2):
# rounds the last k_core() / core_number() call actually executed,
# and whether it VERIFIED the fixed point (the stability probe fired)
# or hit the rounds cap with the last round still changing. A cap-hit
# result is a monotone upper bound (superset survivors / inflated
# coreness) — correct direction, unverified value — which callers
# previously could not distinguish from convergence. Set on every
# call (fixed-rounds runs record rounds executed, converged=None
# since no probe runs); not part of the operator contract. Like
# dedup's _LAST_CC_ROUNDS these are plain module globals with no
# thread affinity — concurrent driver threads overwrite each other's
# verdicts; a caller that needs a race-free
# signal uses on_cap="raise"/"warn" (delivered on the calling
# thread), not the globals.
_LAST_KCORE_ROUNDS: int | None = None
_LAST_KCORE_CONVERGED: bool | None = None
_LAST_CORE_ROUNDS: int | None = None
_LAST_CORE_CONVERGED: bool | None = None


def _on_cap_signal(name: str, rounds: int, on_cap: str,
                   bound: str = "a monotone upper bound (superset "
                                "survivors / inflated coreness)") -> None:
    """Shared cap-hit escalation for the until_stable family:
    ``"silent"`` preserves the historical behavior (the result is a
    documented monotone bound), ``"warn"`` emits a RuntimeWarning,
    ``"raise"`` matches connected_components' loud non-convergence
    discipline (dedup.py) for callers that treat an unverified bound
    as wrong. ``bound`` names the direction — peeling truncates HIGH
    (supersets), reachability truncates LOW (a ≤rounds-hop subset)."""
    msg = (f"{name}(until_stable=True) hit the rounds cap "
           f"({rounds}) before verifying the fixed point; the "
           f"result is {bound}. Raise `rounds` or accept the bound.")
    if on_cap == "raise":
        raise RuntimeError(msg)
    if on_cap == "warn":
        import warnings
        warnings.warn(msg, RuntimeWarning, stacklevel=3)


def _check_fixpoint_args(rounds: int, until_stable: bool,
                         on_cap: str) -> None:
    """Argument checks shared by every :func:`_until_stable` caller."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    if on_cap not in ("silent", "warn", "raise"):
        raise ValueError("on_cap must be 'silent', 'warn', or 'raise'")
    if on_cap != "silent" and not until_stable:
        raise ValueError("on_cap escalation requires until_stable=True "
                         "(fixed-rounds runs never probe the fixpoint, "
                         "so a cap-hit signal could not fire)")


def _until_stable(state, step: Callable, probe: Callable,
                  rounds: int, until_stable: bool,
                  first_probe: object = None
                  ) -> tuple[object, int, bool | None]:
    """The bounded-fixpoint loop shared by :func:`reachability`,
    :func:`k_core` and :func:`core_number`, in both lanes: up to
    ``rounds`` times ``state = step(state)``, then (under
    ``until_stable``) compare ``probe(state)`` — one scalar of a
    MONOTONE state, so an unchanged value is the fixed point — with
    the previous round's. ``first_probe`` is the baseline when the
    caller already paid for it (k_core's gate count); otherwise the
    initial state is probed here. Returns ``(state, executed,
    converged)``: ``converged`` is None under fixed rounds (no probe
    runs), False when the cap hit with the state still changing.

    On the driver lane the state is a numpy array and the probe a
    numpy reduction, so rounds cost no Spark job. On the distributed
    lane the state is a frame and each step ends in a LAZY snapshot
    (r16): under until_stable the bounded count/sum probe right after
    it materializes the snapshot in ITS job instead of a separate
    synchronous one per round (the CC discipline); under fixed rounds
    the chain materializes once inside the consumer's action cascade
    (or the next round's broadcast build)."""
    prev = first_probe
    if until_stable and prev is None:
        prev = probe(state)
    executed, converged = 0, None
    for _ in range(rounds):
        state = step(state)
        executed += 1
        if until_stable:
            now = probe(state)
            if now == prev:
                converged = True
                break
            prev = now
    if until_stable and converged is None:
        converged = False
    return state, executed, converged


# The graph operators' driver-lane size gate (_driver_lane.py), read at
# call time: a probed edge list of at most this many rows runs its loop
# in numpy on the driver. Envelope, per probed edge:
# the Arrow rows (two 8-byte ids, plus 8 for a weight), the int64
# endpoint indices, and the doubled int64 keys, pairs and sort
# permutations of the symmetric or distinct list — under 256 bytes for
# fixed-width ids, so about 26 MB at the cap; string ids add their
# UTF-8 bytes. The probe's limit(_LOCAL_EDGE_CAP + 1) enforces it:
# no more rows than that ever reach the driver.
_LOCAL_EDGE_CAP = 100_000


def _drop_loops(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """``edges`` without NULL endpoints and self-loops."""
    return edges.filter(F.col(src).isNotNull() & F.col(dst).isNotNull()
                        & (F.col(src) != F.col(dst)))


# The bounded-probe broadcast discipline (pagerank, round 11), shared
# by the whole structural family since round 14: every iterative
# operator here joins a NODE-bounded frame (ranks, scores, labels,
# survivor sets, degree tables) against the cached edge list. On
# host-level graphs that frame is small and forcing a broadcast
# removes the edge-side exchange entirely; on PAGE-level graphs the
# same frame is 90M+ rows and a forced F.broadcast is a multi-GB
# build per iteration — driver/executor OOM, and a hint AQE cannot
# demote. So every operator probes the bounded node count once and
# broadcasts only when it reads <= this cap; above it the join ships
# unhinted and AQE picks the strategy at runtime.
_BROADCAST_NODE_CAP = 1_000_000


def _gate_broadcast(n: int) -> bool:
    """Whether the bounded node probe ``n`` is small enough to hint
    the node-bounded side of a join as a broadcast."""
    return n <= _BROADCAST_NODE_CAP


def _undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """The symmetric neighbor list ``(__a, __b)`` of the edge list read
    as UNDIRECTED: NULL endpoints and self-loops drop, every edge
    appears in both directions, parallel edges collapse. Snapshotted
    once — every caller joins it per round."""
    nbr = (_drop_loops(edges, src, dst)
           .select(F.col(src).alias("__a"), F.col(dst).alias("__b")))
    return (nbr.union(nbr.select(F.col("__b").alias("__a"),
                                 F.col("__a").alias("__b")))
            .distinct().localCheckpoint())


def pagerank(edges: DataFrame, src: str, dst: str,
             iterations: int = 5,
             rank_digits: int | None = None,
             warm_start: DataFrame | None = None,
             weight_col: str | None = None,
             personalize: DataFrame | None = None) -> DataFrame:
    """Fixed-iteration PageRank at damping ``_DAMPING`` over the
    directed edge list ``edges[src, dst]`` (parallel duplicate edges
    count once per occurrence — pre-DISTINCT the list if that is not
    intended). Returns ``(node, rank)`` for every node appearing as a
    source or destination after exactly ``iterations`` rounds; ranks
    start uniform at 1/N. ``rank_digits`` rounds the final rank
    (engines disagree in the last ulp of float sums — round on BOTH
    sides when comparing cross-engine). Edges with a NULL endpoint are
    dropped (a NULL key would otherwise surface as a phantom node with
    the base rank).

    The (node, rank) side of each iteration's join is broadcast,
    removing the edge-side exchange entirely — measured ~11% at sf0.1
    and a bigger first-iteration win (BASELINE.md round-11) — only
    when the bounded node probe reads ≤ 1M; page-level graphs fall
    back to the shuffle plan, where AQE may still convert at runtime.
    ``warm_start``: a two-column ``(node, rank)`` frame (column
    names are positional) seeding the iteration instead of the
    uniform start — the INCREMENTAL re-rank path: when the graph is
    a small delta away from a snapshot whose ranks are already
    published, warm-starting from them lands closer to the fixed
    point after the same K (PageRank's fixed point is independent of
    the start; only convergence speed changes — property-tested in
    tests/test_graph.py). Nodes absent from the warm frame (new hosts
    in the delta) enter at 1/N; the seed is renormalized to total
    mass 1 (one bounded 1-row broadcast).
    ``weight_col``: WEIGHTED PageRank — rank mass flows out of each
    node proportional to the edge weight instead of uniformly,
    ``contrib(v) = Σ_{u→v} rank(u) · w(u,v) / Σ_out w(u,·)`` (the
    anchor-corpus use: host edges weighted by link counts, so a host
    that links somewhere 100 times endorses it 100× harder than a
    single footer link). Edges with NULL or non-positive weight drop
    (they carry no mass and a ≤0 weight would corrupt the out-sum);
    equal weights reduce exactly to the unweighted form
    (property-tested).
    ``personalize``: PERSONALIZED PageRank (Brin & Page 1998 §2.1.2's
    non-uniform E vector; the topic-focused curation tool — teleport
    to a trusted seed set instead of everywhere) — a two-column
    ``(node, weight)`` frame (positional, like ``warm_start``)
    replacing the uniform teleport: ``rank'(v) = (1−d)·s(v) +
    d·contrib(v)`` with ``s`` the seed distribution. Rows with NULL
    or non-positive weight drop, duplicate node rows sum (same
    defensive-seed discipline as ``warm_start``), weights on nodes
    absent from the graph are ignored (teleporting to a node that
    does not exist would leak rank mass), and the surviving weights
    are renormalized to total 1 — raising if no graph node carries
    positive weight. A seed uniform over all nodes reduces exactly to
    standard PageRank (property-tested). Composes with
    ``warm_start``/``weight_col``."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    require_free_columns("pagerank", edges.columns, _WORKING)
    require_free_columns("pagerank", edges.columns, ("node", "rank"),
                         kind="output")
    edges = edges.filter(F.col(src).isNotNull()
                         & F.col(dst).isNotNull())
    if weight_col is not None:
        edges = edges.filter(F.col(weight_col).isNotNull()
                             & (F.col(weight_col) > 0))
    # snapshot the RAW edges first, so nodes/degrees derive from
    # the SAME evaluation of a possibly-nondeterministic upstream
    # (a sampled edge list re-evaluated per branch could put a src
    # in edges that nodes never saw — silently dropped mass)
    edges = edges.localCheckpoint()
    nodes = (edges.select(F.col(src).alias("node"))
             .union(edges.select(F.col(dst).alias("node")))
             .distinct())
    # the out-degree (or out-weight-sum) is a static per-src value:
    # attach it to the edge list ONCE so each iteration runs a single
    # join (ranks), not two
    if weight_col is None:
        deg = edges.groupBy(src).agg(F.count(F.lit(1))
                                     .alias("__outdeg"))
    else:
        deg = edges.groupBy(src).agg(
            F.sum(F.col(weight_col).cast("double")).alias("__outdeg"))
    edges = edges.join(deg, src).localCheckpoint()
    nodes = nodes.localCheckpoint()
    n = nodes.count()  # bounded driver probe: one scalar, like CC's
    if n == 0:
        # a fully-NULL or empty edge list has no nodes to rank —
        # return the empty (node, rank) frame, not a ZeroDivisionError
        return nodes.select("node", F.lit(0.0).alias("rank"))
    if personalize is not None:
        # seed distribution s(v): defensive per-node sum, NULL/<=0
        # drop, restricted to GRAPH nodes before normalizing (mass on
        # absent nodes must not dilute the teleport), 0.0 elsewhere
        ps = (personalize.select(
                  F.col(personalize.columns[0]).alias("node"),
                  F.col(personalize.columns[1]).cast("double")
                  .alias("__sv"))
              .filter(F.col("__sv").isNotNull() & (F.col("__sv") > 0))
              .groupBy("node").agg(F.sum("__sv").alias("__sv")))
        nodes = (nodes.join(ps, "node", "left")
                 .select("node", F.coalesce(F.col("__sv"), F.lit(0.0))
                         .alias("__sv"))
                 .localCheckpoint())
        # bounded 1-row probe; `not stot > 0` is NaN-safe like the
        # warm_start total check
        stot = nodes.agg(F.sum("__sv")).first()[0]
        if stot is None or not stot > 0.0:
            raise ValueError(
                f"personalize: no graph node carries positive teleport "
                f"weight (total {stot}) — the seed distribution has "
                f"nothing to normalize over")
        nodes = nodes.select(
            "node", (F.col("__sv") / F.lit(float(stot))).alias("__sv")
        ).localCheckpoint()
        base = F.lit(1.0 - _DAMPING) * F.col("__sv")
        # the closed form below needs base(src) = (1-d)·s(src) inside
        # the edge join: attach the seed weight to the cached edge
        # list ONCE
        esv = nodes.select(F.col("node").alias(src),
                           F.col("__sv").alias("__esv"))
        edges = edges.join(esv, src).localCheckpoint()
        src_base = F.lit(1.0 - _DAMPING) * F.col("__esv")
    else:
        base = src_base = F.lit((1.0 - _DAMPING) / n)
    broadcast = _gate_broadcast(n)
    if warm_start is not None:
        # defensive seed aggregation (r12 ADVICE): duplicate node rows
        # in the seed would otherwise fan out through the left join and
        # double-count that node's mass every iteration — summing per
        # node keeps any published-snapshot union a valid seed
        ws = (warm_start.select(
                  F.col(warm_start.columns[0]).alias("node"),
                  F.col(warm_start.columns[1]).cast("double")
                  .alias("__wr"))
              .groupBy("node").agg(F.sum("__wr").alias("__wr")))
        init = (nodes.join(ws, "node", "left")
                .select("node",
                        F.coalesce(F.col("__wr"), F.lit(1.0 / n))
                        .alias("rank"))
                .localCheckpoint())
        # bounded 1-row probe (same discipline as the node count): the
        # renormalization divides by this total, so a zero/negative/NaN
        # seed mass must fail loudly, not mint NULL/inf ranks silently
        # (r12 ADVICE). `not tot > 0` is deliberately NaN-safe.
        tot = init.agg(F.sum("rank")).first()[0]
        if tot is None or not tot > 0.0:
            raise ValueError(
                f"warm_start ranks must sum to a positive total over "
                f"the graph's nodes (got {tot}) — the seed is "
                f"renormalized to mass 1, so a non-positive or NaN "
                f"total has no valid scaling")
        ranks = init.select(
            "node", (F.col("rank") / F.lit(float(tot))).alias("rank")
        ).localCheckpoint()
    else:
        ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))

    # A node's rank is a CLOSED FORM of its incoming contributions —
    # rank(v) = base(v) + d·contrib(v) — so the loop carries the sparse
    # contribution frame and inlines the closed form into the next
    # iteration's edge join (absent contributions coalesce to 0.0);
    # the dense (node, rank) frame is built ONCE after the loop rather
    # than joined back into the edge list every iteration.
    contribs = None
    for _ in range(iterations):
        if contribs is None:
            # first iteration: the explicit init frame (uniform or
            # warm-start seed) is the rank source
            rside = F.broadcast(ranks) if broadcast else ranks
            joined = edges.join(rside, edges[src] == rside["node"])
            rank_u = F.col("rank")
        else:
            cside = contribs.withColumnRenamed("node", "__cn")
            if broadcast:
                cside = F.broadcast(cside)
            joined = edges.join(cside, edges[src] == F.col("__cn"),
                                "left")
            rank_u = src_base + F.lit(_DAMPING) * F.coalesce(
                F.col("__contrib"), F.lit(0.0))
        share = (rank_u / F.col("__outdeg") if weight_col is None
                 else rank_u
                 * F.col(weight_col).cast("double")
                 / F.col("__outdeg"))
        contribs = (joined
                    .select(F.col(dst).alias("node"),
                            share.alias("__contrib"))
                    .groupBy("node")
                    .agg(F.sum("__contrib").alias("__contrib")))
    gain = F.coalesce(F.col("__contrib"), F.lit(0.0))
    ranks = nodes.join(contribs, "node", "left").select(
        "node", (base + F.lit(_DAMPING) * gain).alias("rank"))
    if rank_digits is not None:
        ranks = ranks.select("node", F.round("rank", rank_digits)
                             .alias("rank"))
    return ranks


def _alternating_walk(edges: DataFrame, a: str, b: str,
                      iterations: int, w_fwd: Column | None,
                      w_bwd: Column | None,
                      norm: Callable[[Column], Column]) -> DataFrame:
    """The alternating sparse half-step walk shared by :func:`hits`
    and :func:`salsa`. From h₀ ≡ 1 on every endpoint of ``edges[a, b]``,
    each iteration runs

        a(v) = Σ_{u→v} h(u) · w_fwd,   then a /= norm(a)
        h(u) = Σ_{u→v} a(v) · w_bwd,   then h /= norm(h)

    over ``edges[a, b]`` (``None`` weights multiply nothing, so an
    unweighted plan carries no 1.0-multiply noise), and returns the
    unrounded ``(node, hub, authority)`` for every node;
    :func:`_round_scores` rounds both lanes. This is the distributed
    lane: the caller has probed the edge list over the driver lane's
    cap (:func:`_driver_walk` runs the same walk under it), so the
    graph is never empty here.

    Scale posture: the edge list arrives materialized (the caller
    snapshots it once) and the node set is snapshotted here; each
    half-step is ONE join of the (node-bounded) score table against
    the cached edges plus a partial-aggregated sum, and each
    normalization is a 1-row
    aggregate entering the plan as a broadcast (never a driver
    collect, never a SinglePartition funnel of the score table).
    The score side of each half-step join follows pagerank's
    bounded-probe discipline (r13 VERDICT #1): it is broadcast only
    when the node count reads ≤ ``_BROADCAST_NODE_CAP`` — host graphs
    get the exchange-free plan, page-level graphs ship the join
    unhinted and let AQE pick (a forced 90M-row broadcast per
    half-step would OOM the build side). Iterations are O(K) shuffles
    total either way.

    The loop runs on SPARSE score frames — only nodes that received
    mass this half-step. Nodes absent from a sparse frame have score
    exactly 0.0, and 0.0 is an exact no-op in every place such a row
    could flow: a 0-score term adds nothing to the next half-step's
    sums (x + 0.0*w == x in IEEE), and contributes nothing to an L1
    or L2 norm — so a dense per-half-step `nodes` LEFT-join + coalesce
    would be pure overhead: one extra join and one extra |V|-row pass
    PER HALF-STEP. The dense completion happens ONCE, after the loop.
    Scores are bit-identical to the dense form (same join terms, same
    norm value)."""
    nodes = (edges.select(F.col(a).alias("node"))
             .union(edges.select(F.col(b).alias("node")))
             .distinct().localCheckpoint())
    broadcast = _gate_broadcast(nodes.count())

    def _half_step(score: DataFrame, frm: str, to: str, col: str,
                   out: str, w: Column | None) -> DataFrame:
        side = F.broadcast(score) if broadcast else score
        contrib = F.col(col) if w is None else F.col(col) * w
        raw = (edges.join(side, edges[frm] == side["node"])
               .select(F.col(to).alias("node"), contrib.alias(col))
               .groupBy("node").agg(F.sum(col).alias(out)))
        # snapshot the RAW half-step sums LAZILY: the norm is an
        # aggregate OF this frame and the normalized scores divide it
        # again, so without the checkpoint each half-step's join+agg
        # subtree is planned (and, across the norm's broadcast build
        # plus the next half-step's score build, executed) twice;
        # eager=False materializes it inside the norm's broadcast job
        # instead of paying a separate synchronous job per half-step
        raw = raw.localCheckpoint(eager=False)
        z = raw.agg(norm(F.col(out)).alias("__z"))
        return (raw.crossJoin(F.broadcast(z))
                .select("node", (F.col(out) / F.col("__z")).alias(out)))

    hub = nodes.select("node", F.lit(1.0).alias("hub"))
    auth = None
    for _ in range(iterations):
        auth = _half_step(hub, a, b, "hub", "authority", w_fwd)
        hub = _half_step(auth, b, a, "authority", "hub", w_bwd)
    # dense completion ONCE: every graph node appears in the output,
    # nodes that never received mass at exactly 0.0 (the value the
    # per-half-step dense form carried for them all along)
    return (nodes
            .join(hub, "node", "left")
            .join(auth, "node", "left")
            .select("node",
                    F.coalesce(F.col("hub"), F.lit(0.0)).alias("hub"),
                    F.coalesce(F.col("authority"), F.lit(0.0))
                    .alias("authority")))


def _driver_walk(g: _DriverGraph, a: np.ndarray, b: np.ndarray,
                 iterations: int, w_fwd: np.ndarray | None,
                 w_bwd: np.ndarray | None,
                 norm: Callable[[np.ndarray], float]) -> DataFrame:
    """:func:`_alternating_walk` on the driver lane, over the edge
    index arrays ``a``→``b`` of ``g``: the same half-steps with the
    same per-edge products, summed per node by ``np.bincount`` and
    divided by ``norm`` of the sums. The score vectors are dense from
    the start — a node that received no mass holds exactly 0.0, the
    value the distributed lane's dense completion gives it, and 0.0
    adds nothing to a sum or a norm. Returns the unrounded ``(node,
    hub, authority)`` local relation."""
    def _half_step(score, frm, to, w):
        contrib = score[frm] if w is None else score[frm] * w
        raw = np.bincount(to, weights=contrib, minlength=g.n)
        return raw / norm(raw)

    hub = np.ones(g.n)
    auth = np.zeros(g.n)
    for _ in range(iterations):
        auth = _half_step(hub, a, b, w_fwd)
        hub = _half_step(auth, b, a, w_bwd)
    return g.frame(hub=hub, authority=auth)


def _round_scores(dense: DataFrame, digits: int | None) -> DataFrame:
    """The walk's output projection, shared by both lanes so they
    round through one expression."""
    if digits is None:
        return dense
    return dense.select("node", F.round("hub", digits).alias("hub"),
                        F.round("authority", digits).alias("authority"))


def hits(edges: DataFrame, src: str, dst: str,
         iterations: int = 5,
         hub_digits: int | None = None,
         weight_col: str | None = None) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999, public algorithm)
    over the directed edge list ``edges[src, dst]`` — the classic
    complement to PageRank for link-graph curation: an AUTHORITY is a
    page many good hubs point at, a HUB is a page pointing at many
    good authorities (directory/index pages). PageRank's single score
    conflates the two; corpus weighting wants authorities, link-
    frontier expansion wants hubs.

    Returns ``(node, hub, authority)`` for every node in the graph.
    The standard mutual recursion, run for fixed ``iterations``:

        a_t(v) = Σ_{u→v} h_{t−1}(u),   then a_t /= ‖a_t‖₂
        h_t(u) = Σ_{u→v} a_t(v),       then h_t /= ‖h_t‖₂

    starting from h₀ ≡ 1. Nodes with no in-links have authority 0,
    nodes with no out-links have hub 0; the L2 norms are never 0 on a
    non-empty edge list (some node always receives mass), and the
    empty graph returns an empty frame. NULL-endpoint edges drop;
    parallel duplicate edges count once per occurrence (pre-DISTINCT
    if unintended), matching the adjacency-matrix formulation.
    ``hub_digits`` rounds both scores (cross-engine float-sum order,
    the pagerank rule).

    ``weight_col``: WEIGHTED HITS — the adjacency matrix carries the
    edge weight instead of 1 (Kleinberg's recurrence on a weighted
    A, the same refinement Bharat-Henzinger 1998 applied to curb
    mutually-reinforcing host pairs — public literature):

        a_t(v) = Σ_{u→v} w(u,v) · h_{t−1}(u)
        h_t(u) = Σ_{u→v} w(u,v) · a_t(v)

    each half-step still L2-normalized. The anchor-corpus use
    mirrors weighted PageRank's: per-(src,dst) link OCCURRENCE
    counts, so a host linking somewhere 100 times endorses it 100×
    harder. Edges with NULL or non-positive weight drop (they carry
    no mass); a CONSTANT weight reduces exactly to the unweighted
    form — the scale factor cancels in every norm
    (property-tested).

    Scale posture: one bounded probe picks the lane (module
    docstring). Up to ``_LOCAL_EDGE_CAP`` edges the walk runs on the
    driver (:func:`_driver_walk`); above it the edge list is
    materialized once and the walk runs in :func:`_alternating_walk`.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    require_free_columns("hits", edges.columns, _WORKING)
    require_free_columns("hits", edges.columns,
                         ("node", "hub", "authority"), kind="output")
    edges = edges.filter(F.col(src).isNotNull()
                         & F.col(dst).isNotNull())
    if weight_col is not None:
        edges = edges.filter(F.col(weight_col).isNotNull()
                             & (F.col(weight_col) > 0))
    w = None if weight_col is None else F.col(weight_col).cast("double")
    g = _driver_graph(edges, src, dst, _LOCAL_EDGE_CAP, w)
    if g is not None:
        dense = _driver_walk(g, g.a, g.b, iterations, g.w, g.w,
                             lambda x: np.sqrt(np.sum(x * x)))
    else:
        dense = _alternating_walk(edges.localCheckpoint(), src, dst,
                                  iterations, w, w,
                                  lambda x: F.sqrt(F.sum(x * x)))
    return _round_scores(dense, hub_digits)


def salsa(edges: DataFrame, src: str, dst: str,
          iterations: int = 5,
          score_digits: int | None = None) -> DataFrame:
    """SALSA — the Stochastic Approach for Link-Structure Analysis
    (Lempel-Moran 2000, ACM TOIT; public algorithm): HITS' mutual
    recursion on the ROW/COLUMN-NORMALIZED adjacency instead of the
    raw one, i.e. a random walk that alternates one step backward
    and one step forward along links. The practical difference HITS
    users reach for SALSA to get: HITS scores are dominated by the
    single densest community (the tightly-knit-community effect —
    one mutually-reinforcing cluster absorbs all the mass), while
    SALSA's degree normalization makes every hub split its
    endorsement across its out-links, so a directory page linking
    2000 hosts endorses each 1/2000th as hard — the anti-spam
    property corpus curation wants next to PageRank.

    Returns ``(node, hub, authority)``. The iterative form, run for
    fixed ``iterations`` from h₀ ≡ 1 with an L1 normalization per
    half-step (SALSA's stationary scores are a probability
    distribution, unlike HITS' L2-normalized eigenvector):

        a_t(v) = Σ_{u→v} h_{t−1}(u) / outdeg(u),   then a_t /= Σ a_t
        h_t(u) = Σ_{u→v} a_t(v) / indeg(v),        then h_t /= Σ h_t

    On a graph whose authority chain is connected and aperiodic the
    authority scores converge to indeg(v)/|E| and the hub scores to
    outdeg(u)/|E| — Lempel-Moran's stationary-distribution theorem,
    property-tested; the interesting (and published) behavior is the
    PER-COMPONENT mass split on disconnected link structures, which
    the power iteration computes and the closed form does not.
    Degrees are over the DISTINCT edge list (parallel edges collapse
    — the walk picks among distinct links uniformly); NULL endpoints
    and self-loops drop. Nodes with no in-links have authority 0,
    no out-links hub 0; the L1 norms are never 0 on a non-empty
    edge list. ``score_digits`` rounds both scores (the cross-engine
    float-sum rule).

    Scale posture: one bounded probe picks the lane (module
    docstring). Up to ``_LOCAL_EDGE_CAP`` edges the walk runs on the
    driver (:func:`_driver_walk`) with the same reciprocal degrees.
    Above it the distinct edge list is materialized ONCE carrying its
    two reciprocal-degree columns (1/outdeg(src) for the authority
    step, 1/indeg(dst) for the hub step), and the walk runs in
    :func:`_alternating_walk`. The one-time degree joins that build
    the edge weights ship unhinted (AQE decides — they are paid once,
    the keep-set rule)."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    require_free_columns("salsa", edges.columns,
                         _WORKING + ("__wa", "__wh", "__od", "__id"))
    require_free_columns("salsa", edges.columns,
                         ("node", "hub", "authority"), kind="output")
    edges = _drop_loops(edges, src, dst)
    g = _driver_graph(edges, src, dst, _LOCAL_EDGE_CAP)
    if g is not None:
        a, b = g.distinct()
        od = np.bincount(a, minlength=g.n)
        idg = np.bincount(b, minlength=g.n)
        return _round_scores(
            _driver_walk(g, a, b, iterations, 1.0 / od[a], 1.0 / idg[b],
                         np.sum), score_digits)
    # the distinct list feeds BOTH degree tables and the weighted
    # edge build — snapshot once (the cocitation r14 rule)
    el = (edges.select(F.col(src).alias("__a"), F.col(dst).alias("__b"))
          .distinct().localCheckpoint())
    od = el.groupBy("__a").agg(F.count(F.lit(1)).alias("__od"))
    idg = el.groupBy("__b").agg(F.count(F.lit(1)).alias("__id"))
    # the walk's transition weights ride the cached edge list: one
    # row per distinct edge, (1/outdeg(src), 1/indeg(dst))
    en = (el.join(od, "__a").join(idg, "__b")
          .select("__a", "__b",
                  (F.lit(1.0) / F.col("__od")).alias("__wa"),
                  (F.lit(1.0) / F.col("__id")).alias("__wh"))
          .localCheckpoint())
    return _round_scores(
        _alternating_walk(en, "__a", "__b", iterations, F.col("__wa"),
                          F.col("__wh"), F.sum),
        score_digits)


_LAST_REACH_ROUNDS: int | None = None
_LAST_REACH_CONVERGED: bool | None = None


def reachability(edges: DataFrame, src: str, dst: str,
                 seeds: DataFrame,
                 direction: str = "forward",
                 rounds: int = 32, until_stable: bool = True,
                 on_cap: str = "silent") -> DataFrame:
    """Seed-set reachability closure over a directed edge list — the
    BFS primitive under Broder et al. 2000's bow-tie measurement
    (WWW9: IN/OUT/CORE are exactly backward-reach, forward-reach,
    and their intersection from a core pivot) and under trusted-seed
    frontier expansion (crawl a hop-bounded neighborhood of a
    curated host list). Returns a one-column ``(node)`` frame: every
    GRAPH node reachable from the seed set along edge direction
    (``direction="forward"``: src→dst) or against it
    (``"backward"``: who can REACH the seeds). Seeds present in the
    graph are included in the result (reachability is reflexive
    here); seed values absent from the graph drop — they have no
    edges to close over. NULL endpoints and self-loops drop;
    duplicate seed rows collapse.

    Each round is ONE semi-join of the cached edge list against the
    current reached set plus a union-distinct — the reached set is
    node-bounded and only GROWS, so an unchanged bounded count probe
    IS the fixed point (``until_stable=True``, the default: real
    graphs close in diameter rounds, far under the cap; set
    ``until_stable=False`` for the fixed-rounds oracle-checkable
    K-HOP form, where the result after K rounds is exactly the ≤K-hop
    neighborhood). Rounds needed = BFS DEPTH from the seeds (graph
    diameter at worst) — NOT the condensation depth that makes
    peeling-style SCC loops unbounded; this is why the bow-tie
    query composes two reachability calls instead of a full SCC
    decomposition. The frontier join follows the family's
    bounded-probe gate (the reached frame is one row per node: the
    graph's node count is probed once and the frame broadcast only
    when it reads ≤ ``_BROADCAST_NODE_CAP``). ``on_cap`` escalates a
    cap-hit exactly like :func:`k_core` (the result is then a
    ≤rounds-hop LOWER bound of
    the closure — monotone, unverified; requires
    ``until_stable=True`` to be meaningful, enforced);
    ``_LAST_REACH_ROUNDS``/``_LAST_REACH_CONVERGED`` record the
    run (same thread-unsafety caveat as the family's other
    diagnostics). Up to ``_LOCAL_EDGE_CAP`` edges the rounds run on
    the driver (module docstring); the seeds are still matched to
    graph nodes by a Spark semi-join, so seed values compare under
    Spark's type coercion in both lanes."""
    if direction not in ("forward", "backward"):
        raise ValueError("direction must be 'forward' or 'backward'")
    _check_fixpoint_args(rounds, until_stable, on_cap)
    require_free_columns("reachability", edges.columns,
                         _WORKING + ("__a", "__b"))
    require_free_columns("reachability", edges.columns, ("node",),
                         kind="output")
    a, b = (src, dst) if direction == "forward" else (dst, src)
    edges = _drop_loops(edges, src, dst)
    # no distinct: both lanes match seeds by a semi-join, which keeps
    # each node once however many seed rows equal it
    seed_nodes = seeds.select(F.col(seeds.columns[0]).alias("node"))
    g = _driver_graph(edges, a, b, _LOCAL_EDGE_CAP)
    if g is not None:
        hit = (g.frame().join(seed_nodes, "node", "left_semi")
               .toArrow().column(0).combine_chunks())
        start = pc.is_in(g.nodes, value_set=hit.cast(g.nodes.type))

        def _hop(reached: np.ndarray) -> np.ndarray:
            out = reached.copy()
            out[g.b[reached[g.a]]] = True
            return out

        reached, executed, converged = _until_stable(
            start.to_numpy(zero_copy_only=False), _hop, np.count_nonzero,
            rounds, until_stable)
        out = g.frame(reached)
    else:
        el = (edges.select(F.col(a).alias("__a"), F.col(b).alias("__b"))
              .distinct().localCheckpoint())
        nodes = (el.select(F.col("__a").alias("node"))
                 .union(el.select(F.col("__b").alias("node")))
                 .distinct().localCheckpoint())
        broadcast = _gate_broadcast(nodes.count())
        # lazy: the until_stable baseline count (or round 1's semi-join
        # side / broadcast build) materializes it — no dedicated job
        reached = (nodes.join(seed_nodes, "node", "left_semi")
                   .localCheckpoint(eager=False))

        def _hop(reached: DataFrame) -> DataFrame:
            rside = reached.withColumnRenamed("node", "__a")
            if broadcast:
                rside = F.broadcast(rside)
            step = (el.join(rside, "__a", "left_semi")
                    .select(F.col("__b").alias("node")))
            return (reached.union(step).distinct()
                    .localCheckpoint(eager=False))

        # the reached set only grows: an unchanged count is the closure
        reached, executed, converged = _until_stable(
            reached, _hop, lambda df: df.count(), rounds, until_stable)
        out = reached.select("node")
    global _LAST_REACH_ROUNDS, _LAST_REACH_CONVERGED
    _LAST_REACH_ROUNDS, _LAST_REACH_CONVERGED = executed, converged
    if converged is False:
        _on_cap_signal("reachability", rounds, on_cap,
                       bound="a monotone LOWER bound (the ≤rounds-hop "
                             "neighborhood, a subset of the closure)")
    return out


def label_propagation(edges: DataFrame, src: str, dst: str,
                      iterations: int = 5) -> DataFrame:
    """Synchronous label propagation (Raghavan-Albert-Kumara 2007,
    public algorithm) over the edge list treated as UNDIRECTED — the
    community-detection pass a corpus-curation pipeline runs on the
    host graph to group mutually-linking site families (mirror
    clusters, link farms, forum networks) before per-community
    sampling caps or quality decisions.

    Returns ``(node, community)`` where ``community`` is the label the
    node converged to. Deterministic semantics (the published
    algorithm breaks ties randomly, which no oracle can check):

    - neighbors(v) = the DISTINCT undirected neighbor set from the
      edge list (direction erased, self-loops and NULL endpoints
      dropped, parallel edges collapse);
    - label₀(v) = v;
    - label_t(v) = the most frequent label among neighbors' t−1
      labels, ties broken by the SMALLEST label (min-label tie-break
      — every engine and the SQL oracle agree on it);
    - all nodes update simultaneously from the t−1 snapshot
      (synchronous — the asynchronous variant is order-dependent).

    Fixed ``iterations`` (the oracle-checkable form); synchronous LPA
    on bipartite-ish structures can oscillate rather than converge,
    which fixed-K sidesteps — callers wanting convergence iterate on
    the returned frame's label-change count (bounded probe), the
    connected_components convergence discipline.

    Scale posture: the symmetric neighbor list is materialized once;
    each iteration is the (node-bounded) label table joined to the
    cached neighbor list, a partial-aggregated (node, label) count,
    then a per-node arg-min — ``min_by`` over
    ``struct(-count, label)``, an ordinary partial-aggregatable
    aggregate, NOT a global window. O(K) shuffles total; per-node
    state is one row, so a 90M-host graph carries 90M label rows per
    iteration. The label side of each iteration's join follows
    pagerank's bounded-probe discipline (r13 VERDICT #1): it is
    broadcast only when the node count reads ≤
    ``_BROADCAST_NODE_CAP``; above that the join ships unhinted (AQE
    decides) — forcing a 90M-row broadcast per round would OOM, and a
    hint cannot be demoted at runtime."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    require_free_columns("label_propagation", edges.columns,
                         _WORKING + ("__a", "__b", "__c"))
    require_free_columns("label_propagation", edges.columns,
                         ("node", "community"), kind="output")
    nbr = _undirected(edges, src, dst)
    labels = (nbr.select(F.col("__a").alias("node"))
              .distinct()
              .select("node", F.col("node").alias("community"))
              .localCheckpoint())
    # bounded probe: one scalar off the materialized label table
    broadcast = _gate_broadcast(labels.count())
    for _ in range(iterations):
        lbl = F.broadcast(labels) if broadcast else labels
        counts = (nbr.join(lbl, nbr["__b"] == lbl["node"])
                  .groupBy(F.col("__a").alias("node"),
                           F.col("community"))
                  .agg(F.count(F.lit(1)).alias("__c")))
        labels = counts.groupBy("node").agg(
            F.min_by("community",
                     F.struct((-F.col("__c")).alias("nc"),
                              F.col("community").alias("l")))
            .alias("community"))
        # LAZY (r16): materializes inside the next iteration's
        # broadcast build (or the consumer's action) — the eager form
        # paid one synchronous job per iteration
        labels = labels.localCheckpoint(eager=False)
    return labels.select("node", "community")


def cocitation(edges: DataFrame, src: str, dst: str,
               mode: str = "cocitation",
               min_common: int = 1,
               max_linker_degree: int | None = None,
               jaccard_digits: int | None = None) -> DataFrame:
    """Co-citation / bibliographic-coupling similarity (Small 1973 /
    Kessler 1963, public measures) over a directed edge list — the
    related-host discovery pass: two hosts are CO-CITED when the same
    third host links to both (similar by endorsement), and COUPLED
    when they link to the same third host (similar by behavior).
    Corpus curation uses co-citation to expand a trusted seed set and
    coupling to spot coordinated link networks.

    Returns ``(node_a, node_b, common, jaccard)`` for every unordered
    pair with at least ``min_common`` shared in-neighbors
    (``mode="cocitation"``) or shared out-neighbors
    (``mode="coupling"``), with ``node_a < node_b``, ``common`` the
    shared-neighbor count and ``jaccard`` = common / (deg_a + deg_b −
    common) over the corresponding DISTINCT neighbor sets. The edge
    list is de-duplicated and self-loop/NULL-filtered first, so
    parallel edges never inflate the counts.

    Scale posture: the pair generation is the classic self-join on
    the shared linker — per linker of degree D it emits D·(D−1)/2
    pairs, so one mega-hub (a directory page linking half the web)
    quadratically floods the shuffle. ``max_linker_degree`` caps it:
    linkers with more than that many distinct targets are EXCLUDED
    from pair generation (the standard frequent-linker cut — a hub
    that links everywhere carries no similarity signal; its
    endorsement is vacuous). Degrees for the Jaccard are computed
    BEFORE the cap (the true set sizes) and join back onto the pair
    aggregation, which is one partial-aggregated shuffle keyed by
    the pair. The degree joins follow pagerank's bounded-probe
    discipline (r13 VERDICT #1): the degree tables are broadcast only
    when the bounded node probe reads ≤ ``_BROADCAST_NODE_CAP`` — on
    a page-scale graph those frames are 90M+ rows and a forced
    broadcast would OOM the build side; the unhinted join lets AQE
    decide. The ``max_linker_degree`` keep-set is LINKER-bounded
    (a different — and on the cocitation shape, far larger —
    cardinality than the item-side degree tables), so its semi-join
    always ships unhinted whatever the probe reads; AQE broadcasts it
    at runtime when it is genuinely small (r14 ADVICE). The distinct
    edge list and the degree table are snapshotted once (r14): the
    plan otherwise re-derives the upstream distinct for BOTH sides of
    the pair self-join, both degree joins, and the gate probe — the
    family's standard one-materialization discipline."""
    if mode not in ("cocitation", "coupling"):
        raise ValueError("mode must be 'cocitation' or 'coupling'")
    if min_common < 1:
        raise ValueError("min_common must be >= 1")
    require_free_columns("cocitation", edges.columns,
                         _WORKING + ("__lk", "__it", "__d",
                                     "__da", "__db"))
    require_free_columns("cocitation", edges.columns,
                         ("node_a", "node_b", "common", "jaccard"),
                         kind="output")
    # orient so "linker" is the shared endpoint and "item" the ranked one
    linker, item = (src, dst) if mode == "cocitation" else (dst, src)
    el = (edges
          .filter(F.col(src).isNotNull() & F.col(dst).isNotNull()
                  & (F.col(src) != F.col(dst)))
          .select(F.col(linker).alias("__lk"), F.col(item).alias("__it"))
          .distinct().localCheckpoint())
    deg = el.groupBy(F.col("__it").alias("node")).agg(
        F.count(F.lit(1)).alias("__deg")).localCheckpoint()
    # bounded probe (one scalar): the degree table is one row per item
    # node, so its count IS the node bound the gate needs
    broadcast = _gate_broadcast(deg.count())
    gen = el
    if max_linker_degree is not None:
        keep = (el.groupBy("__lk")
                .agg(F.count(F.lit(1)).alias("__d"))
                .filter(F.col("__d") <= max_linker_degree)
                .select("__lk"))
        # The keep-set is LINKER-bounded, not item-bounded: on the
        # docstring's own target shape (90M pages citing <=1M hosts)
        # the item probe reads small and auto-enables the gate while
        # the keep frame is ~90M rows — forcing F.broadcast here is
        # the exact OOM the bounded-probe discipline exists to
        # prevent (r14 ADVICE, medium). The semi-join ships unhinted;
        # it is built ONCE (not per iteration) and AQE converts it to
        # a broadcast at runtime whenever the keep-set is actually
        # small, so host-scale graphs lose nothing.
        gen = el.join(keep, "__lk", "left_semi")
    a, b = gen.alias("__l"), gen.alias("__r")
    pairs = (a.join(b, (F.col("__l.__lk") == F.col("__r.__lk"))
                    & (F.col("__l.__it") < F.col("__r.__it")))
             .groupBy(F.col("__l.__it").alias("node_a"),
                      F.col("__r.__it").alias("node_b"))
             .agg(F.count(F.lit(1)).alias("common"))
             .filter(F.col("common") >= min_common))
    da = (deg.withColumnRenamed("node", "node_a")
          .withColumnRenamed("__deg", "__da"))
    db = (deg.withColumnRenamed("node", "node_b")
          .withColumnRenamed("__deg", "__db"))
    if broadcast:
        da, db = F.broadcast(da), F.broadcast(db)
    jac = (F.col("common")
           / (F.col("__da") + F.col("__db") - F.col("common")))
    if jaccard_digits is not None:
        jac = F.round(jac, jaccard_digits)
    return (pairs.join(da, "node_a").join(db, "node_b")
            .select("node_a", "node_b", "common", jac.alias("jaccard")))


def k_core(edges: DataFrame, src: str, dst: str, k: int,
           rounds: int = 8, until_stable: bool = False,
           on_cap: str = "silent") -> DataFrame:
    """k-core peeling (Seidman 1983, public algorithm) over the edge
    list treated as UNDIRECTED: repeatedly remove every node whose
    degree among the SURVIVORS is below ``k``. The corpus-curation
    read: the k-core is the mutually-reinforcing dense part of the
    host graph — link farms and tightly-coupled site families
    concentrate in high cores, while legitimately popular-but-
    independent hosts peel out early; core membership is a standard
    spam/cohesion feature next to PageRank (which measures incoming
    endorsement, not mutual density).

    Returns ``(node, degree)`` for nodes surviving ``rounds``
    synchronous peel rounds, with ``degree`` recounted among the
    final survivors. Fixed ``rounds`` is the oracle-checkable form:
    peeling is MONOTONE (survivor sets only shrink), so once a round
    removes nobody the result is the true k-core and further rounds
    are no-ops — a ``rounds`` past the graph's peel depth returns the
    exact k-core. ``until_stable=True`` iterates to that fixpoint
    with ``rounds`` as the cap, checking one bounded count probe per
    round (the connected_components convergence discipline).
    Self-loops, NULL endpoints, and parallel edges drop (degree is over the DISTINCT neighbor set).

    Scale posture: one bounded probe picks the lane (module
    docstring). Up to ``_LOCAL_EDGE_CAP`` edges the peel runs on the
    driver, each round a numpy mask and ``bincount``. Above it the
    symmetric neighbor list is materialized once;
    each round is two semi-joins of the cached neighbor list against
    the (node-bounded) survivor set plus one partial-aggregated
    degree count — O(rounds) shuffles, survivor state one row per
    node. Peel depth on real webgraphs is far below the worst case
    (a path graph peels one node per round from each end);
    ``until_stable`` stops at the true depth. The survivor set follows
    pagerank's bounded-probe discipline (r13 VERDICT #1): it is
    broadcast into the per-round semi-joins only when the initial
    node count reads ≤ ``_BROADCAST_NODE_CAP`` (survivor sets only
    SHRINK, so the initial count bounds every round); above that the
    semi-joins ship unhinted — a forced 90M-row broadcast twice per
    peel round would OOM the build side.

    Convergence visibility (r14 VERDICT #2): the module diagnostics
    ``_LAST_KCORE_ROUNDS`` / ``_LAST_KCORE_CONVERGED`` record the
    rounds the call executed and whether ``until_stable`` VERIFIED
    the fixed point (``None`` under fixed rounds — no probe runs).
    ``on_cap`` escalates an ``until_stable`` run that exhausts the
    cap with the last round still shrinking: ``"silent"`` (default —
    the result is the documented monotone upper bound), ``"warn"``
    (RuntimeWarning), or ``"raise"`` (connected_components' loud
    discipline for callers that treat an unverified bound as
    wrong). An escalating ``on_cap`` without ``until_stable=True``
    raises ValueError — fixed-rounds runs never probe the fixpoint,
    so the signal could not fire and accepting the combination would
    silently disarm it."""
    if k < 1:
        raise ValueError("k must be >= 1")
    _check_fixpoint_args(rounds, until_stable, on_cap)
    require_free_columns("k_core", edges.columns,
                         _WORKING + ("__a", "__b"))
    require_free_columns("k_core", edges.columns, ("node", "degree"),
                         kind="output")
    # The final degree is recounted over the final survivors with a
    # LEFT join from the survivor set (bincount over every node on the
    # driver lane): under fixed rounds a survivor can lose its last
    # surviving neighbor in the final round (kept at round R because
    # its count over survivors_{R-1} cleared k, recounted over
    # survivors_R). It must REPORT degree 0, not silently vanish — at
    # the true fixpoint the two forms coincide (every degree >= k),
    # but the fixed-rounds contract promises one row per survivor.
    # Pinned by the hub-and-leaves test.
    g = _driver_graph(_drop_loops(edges, src, dst), src, dst,
                      _LOCAL_EDGE_CAP)
    if g is not None:
        na, nb = g.distinct(symmetric=True)

        def _alive_degrees(alive: np.ndarray) -> np.ndarray:
            both = alive[na] & alive[nb]
            return np.bincount(na[both], minlength=g.n)

        survivors, executed, converged = _until_stable(
            np.ones(g.n, dtype=bool),
            lambda alive: _alive_degrees(alive) >= k,
            np.count_nonzero, rounds, until_stable)
        out = g.frame(survivors, degree=_alive_degrees(survivors))
    else:
        nbr = _undirected(edges, src, dst)
        survivors = (nbr.select(F.col("__a").alias("node")).distinct()
                     .localCheckpoint())
        # one bounded probe serves both the stability baseline and the
        # broadcast gate — survivor sets only shrink, so the initial
        # count bounds every round's build side
        n_prev = survivors.count()
        broadcast = _gate_broadcast(n_prev)

        def _alive_degrees(alive: DataFrame) -> DataFrame:
            sa = alive.withColumnRenamed("node", "__a")
            sb = alive.withColumnRenamed("node", "__b")
            if broadcast:
                sa, sb = F.broadcast(sa), F.broadcast(sb)
            return (nbr
                    .join(sa, "__a", "left_semi")
                    .join(sb, "__b", "left_semi")
                    .groupBy(F.col("__a").alias("node"))
                    .agg(F.count(F.lit(1)).alias("degree")))

        survivors, executed, converged = _until_stable(
            survivors,
            lambda alive: (_alive_degrees(alive)
                           .filter(F.col("degree") >= k).select("node")
                           .localCheckpoint(eager=False)),
            lambda df: df.count(), rounds, until_stable,
            first_probe=n_prev)
        out = (survivors.join(_alive_degrees(survivors), "node", "left")
               .select("node",
                       F.coalesce(F.col("degree"), F.lit(0).cast("long"))
                       .alias("degree")))
    # diagnostics recorded BEFORE the escalation so a raise still
    # leaves the cap-hit observable
    global _LAST_KCORE_ROUNDS, _LAST_KCORE_CONVERGED
    _LAST_KCORE_ROUNDS, _LAST_KCORE_CONVERGED = executed, converged
    if converged is False:
        _on_cap_signal("k_core", rounds, on_cap)
    return out


def triangle_count(edges: DataFrame, src: str, dst: str,
                   coeff_digits: int | None = None) -> DataFrame:
    """Per-node triangle count and local clustering coefficient over
    the edge list treated as UNDIRECTED (self-loops/NULLs/parallels
    drop) — the density signal next to k-core: a host whose
    neighbors also link to EACH OTHER sits in a cohesive (often
    coordinated) cluster, while a high-degree host with coefficient
    ~0 is a hub bridging unrelated sites. Returns ``(node, degree,
    triangles, clustering)`` for every node, ``clustering`` =
    2·T / (deg·(deg−1)) (0 when deg < 2), rounded to
    ``coeff_digits`` (the cross-engine float rule — the division is
    exact-integer so rounding is belt-and-braces).

    Scale posture — the degree-ORIENTATION trick (Chiba-Nishizeki
    1985 / the standard MapReduce formulation, Suri-Vassilvitskii
    2011): orient every undirected edge from the endpoint with the
    SMALLER (degree, node) pair to the larger. The orientation is
    consistent with a total order, so every triangle has exactly ONE
    node with two outgoing oriented edges, and enumeration becomes
    wedge-generation from oriented adjacency (fan-out bounded by
    out-degree ≤ O(√m) for the heavy nodes — a 10M-follower hub
    generates no wedges; its LOW-degree neighbors claim them) plus
    one equi-join probe for the closing edge. Three shuffles total:
    the wedge self-join, the closing probe, and the per-corner
    count. The orientation join follows pagerank's bounded-probe
    discipline (r13 VERDICT #1): the degree table is broadcast only
    when the bounded node probe reads ≤ ``_BROADCAST_NODE_CAP``;
    above that the join ships unhinted (AQE decides) — a forced
    90M-row degree broadcast would OOM."""
    require_free_columns("triangle_count", edges.columns,
                         _WORKING + ("__a", "__b", "__c", "__deg"))
    require_free_columns("triangle_count", edges.columns,
                         ("node", "degree", "triangles", "clustering"),
                         kind="output")
    nbr = _undirected(edges, src, dst)
    deg = (nbr.groupBy(F.col("__a").alias("node"))
           .agg(F.count(F.lit(1)).alias("__deg"))
           .localCheckpoint())
    # bounded probe (one scalar off the materialized degree table):
    # one row per node, so its count IS the node bound
    broadcast = _gate_broadcast(deg.count())
    # orient low -> high in the (degree, node) total order
    da = deg.select(F.col("node").alias("__a"),
                    F.col("__deg").alias("__dega"))
    db = deg.select(F.col("node").alias("__b"),
                    F.col("__deg").alias("__degb"))
    if broadcast:
        da, db = F.broadcast(da), F.broadcast(db)
    oriented = (nbr.join(da, "__a").join(db, "__b")
                .filter((F.col("__dega") < F.col("__degb"))
                        | ((F.col("__dega") == F.col("__degb"))
                           & (F.col("__a") < F.col("__b"))))
                .select("__a", "__b",
                        F.col("__dega").alias("__oda"),
                        F.col("__degb").alias("__odb"))
                .localCheckpoint())
    w1 = oriented.select(F.col("__a"), F.col("__b").alias("__w1"),
                         F.col("__odb").alias("__d1"))
    w2 = oriented.select(F.col("__a"), F.col("__b").alias("__w2"),
                         F.col("__odb").alias("__d2"))
    # wedges out of the order-smallest corner; the closing edge must
    # itself run low->high in the same order, so probe (__w1, __w2)
    # with __w1 before __w2
    wedges = (w1.join(w2, "__a")
              .filter((F.col("__d1") < F.col("__d2"))
                      | ((F.col("__d1") == F.col("__d2"))
                         & (F.col("__w1") < F.col("__w2")))))
    tri = (wedges.join(
               oriented.select(F.col("__a").alias("__w1"),
                               F.col("__b").alias("__w2")),
               ["__w1", "__w2"], "left_semi")
           .select("__a", "__w1", "__w2"))
    corners = (tri.select(F.col("__a").alias("node"))
               .union(tri.select(F.col("__w1").alias("node")))
               .union(tri.select(F.col("__w2").alias("node"))))
    counts = corners.groupBy("node").agg(
        F.count(F.lit(1)).alias("triangles"))
    out = (deg.join(counts, "node", "left")
           .select("node", F.col("__deg").alias("degree"),
                   F.coalesce(F.col("triangles"),
                              F.lit(0).cast("long")).alias("triangles")))
    d = F.col("degree").cast("double")
    coeff = F.when(F.col("degree") >= 2,
                   2.0 * F.col("triangles") / (d * (d - 1.0))) \
        .otherwise(F.lit(0.0))
    if coeff_digits is not None:
        coeff = F.round(coeff, coeff_digits)
    return out.select("node", "degree", "triangles",
                      coeff.alias("clustering"))


def core_number(edges: DataFrame, src: str, dst: str,
                rounds: int = 8, until_stable: bool = False,
                on_cap: str = "silent") -> DataFrame:
    """Full core decomposition — per-node core NUMBER (the largest k
    for which the node survives k-core peeling) via the iterated
    H-index (Lü-Chen-Ren-Zhang-Zhang-Zhou 2016, Nature
    Communications — public algorithm): start every node at its
    degree and repeatedly replace each node's value with the H-index
    of its neighbors' values,

        c_0(v) = deg(v)
        c_t(v) = H({ c_{t-1}(u) : u ∈ N(v) })

    where H(S) is the largest h such that at least h members of S
    are ≥ h. The sequence is monotonically non-increasing and its
    fixed point IS the coreness (the paper's theorem) — no
    sequential peel order needed, which is what makes the
    decomposition distributable; bin-sort peeling is inherently
    serial. This turns :func:`k_core`'s one-k membership filter into
    the FEATURE column a curation pipeline joins (coreness ≥ k ⇔
    k-core membership, property-tested), ranking every host by how
    deep it sits in the mutually-reinforcing part of the graph.

    Returns ``(node, core)``. Fixed ``rounds`` is the
    oracle-checkable form (the SQL oracle unrolls the SAME
    iteration, so Spark and DuckDB agree round for round even before
    convergence); ``until_stable=True`` iterates to the true
    coreness with ``rounds`` as the cap, probing one bounded scalar
    (the value sum — monotone, so unchanged-sum ⇔ fixed point) per
    round, the connected_components convergence discipline. Edges are
    undirected; self-loops, NULL endpoints, and parallel edges drop (degree over the DISTINCT
    neighbor set).

    Scale posture: one bounded probe picks the lane (module
    docstring). Up to ``_LOCAL_EDGE_CAP`` edges the rounds run on the
    driver, each one ``lexsort`` of the neighbor values plus a
    per-node ``maximum.reduceat``. Above it the symmetric neighbor
    list is materialized once;
    each round is one join of the (node-bounded) value table onto
    the cached neighbor list, a DEGREE-bounded keyed window (the
    H-index is max(min(rank_desc, value)) over each node's neighbor
    values — partitioned BY NODE, so the partition is one
    adjacency list, never the graph), and a partial-aggregated max.
    O(rounds) shuffles. The value table follows the family's
    bounded-probe gate (r13 VERDICT #1): it is broadcast only when the
    node count reads ≤ ``_BROADCAST_NODE_CAP``; above that the join
    ships unhinted and AQE decides.

    Convergence visibility (r14 VERDICT #2): the module diagnostics
    ``_LAST_CORE_ROUNDS`` / ``_LAST_CORE_CONVERGED`` record the
    rounds executed and whether ``until_stable`` VERIFIED the fixed
    point (``None`` under fixed rounds). ``on_cap`` escalates an
    ``until_stable`` run that exhausts the cap with values still
    falling: ``"silent"`` (default — the result is the documented
    monotone upper bound on the coreness), ``"warn"``
    (RuntimeWarning), or ``"raise"``; escalation without
    ``until_stable=True`` raises ValueError (no probe, no signal —
    the combination would silently disarm it)."""
    from pyspark.sql import Window

    _check_fixpoint_args(rounds, until_stable, on_cap)
    require_free_columns("core_number", edges.columns,
                         _WORKING + ("__a", "__b", "__c", "__rn"))
    require_free_columns("core_number", edges.columns,
                         ("node", "core"), kind="output")
    # H-index of a neighbor multiset: sort its values descending, rank
    # them from 1, take max(min(rank, value)). Values are monotone
    # non-increasing, so an unchanged sum means every value is
    # unchanged — one scalar probe per round.
    g = _driver_graph(_drop_loops(edges, src, dst), src, dst,
                      _LOCAL_EDGE_CAP)
    if g is not None:
        na, nb = g.distinct(symmetric=True)
        # na is sorted and every node has a neighbor, so each node's
        # adjacency is one contiguous run, in node order
        first = np.flatnonzero(np.diff(na, prepend=-1))
        rank = np.arange(1, len(na) + 1) - np.repeat(
            first, np.diff(first, append=len(na)))

        def _h_index(vals: np.ndarray) -> np.ndarray:
            v = vals[nb]
            desc = v[np.lexsort((-v, na))]
            return np.maximum.reduceat(np.minimum(rank, desc), first)

        vals, executed, converged = _until_stable(
            np.bincount(na, minlength=g.n), _h_index,
            lambda v: int(v.sum()), rounds, until_stable)
        out = g.frame(core=vals)
    else:
        nbr = _undirected(edges, src, dst)
        vals = (nbr.groupBy(F.col("__a").alias("node"))
                .agg(F.count(F.lit(1)).alias("__c"))
                .localCheckpoint())
        # bounded probe: the value table is one row per node
        broadcast = _gate_broadcast(vals.count())
        w = (Window.partitionBy("__a")
             .orderBy(F.col("__c").desc(), F.col("__b")))

        def _h_index(vals: DataFrame) -> DataFrame:
            vside = F.broadcast(vals) if broadcast else vals
            # a window over ONE adjacency list
            return (nbr.join(vside, nbr["__b"] == vside["node"])
                    .select("__a", "__b", "__c")
                    .withColumn("__rn", F.row_number().over(w))
                    .groupBy(F.col("__a").alias("node"))
                    .agg(F.max(F.least(F.col("__rn").cast("long"),
                                       F.col("__c")))
                         .alias("__c"))
                    .localCheckpoint(eager=False))

        vals, executed, converged = _until_stable(
            vals, _h_index, lambda df: df.agg(F.sum("__c")).first()[0],
            rounds, until_stable)
        out = vals.select("node", F.col("__c").alias("core"))
    # diagnostics recorded BEFORE the escalation so a raise still
    # leaves the cap-hit observable
    global _LAST_CORE_ROUNDS, _LAST_CORE_CONVERGED
    _LAST_CORE_ROUNDS, _LAST_CORE_CONVERGED = executed, converged
    if converged is False:
        _on_cap_signal("core_number", rounds, on_cap)
    return out
