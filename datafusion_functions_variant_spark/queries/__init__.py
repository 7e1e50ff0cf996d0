"""Query registry — the driver-facing catalog of every implemented
operator (SURVEY.md §2 coverage).

Each query is a (Spark builder, DuckDB oracle SQL) pair registered via
the ``@query`` decorator. ``__spark_entry__.py`` exposes the registry
through the driver contract (``queries()`` / ``oracle_sql()``).

Determinism rules for oracle parity (the driver hash-compares values):

* Never SUM raw doubles — cast to DECIMAL first (exact, associative)
  and cast the result back to double: ``dsum`` / its SQL twin.
* DuckDB SUM over integers returns HUGEINT — always CAST to BIGINT in
  the oracle.
* Don't return raw timestamps; project dates as 'yyyy-MM-dd' strings
  or epoch integers.
* Alias every computed column identically on both sides.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class QuerySpec:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → driver runs rows-only check
    doc: str = ""
    #: extra callables whose SOURCE participates in spec_hash — for
    #: builders that are thin wrappers over module-level helpers (the
    #: helper IS the query's primary logic, unlike shared operators/*
    #: utilities, which the re-verify rotation covers instead). Without
    #: this, editing the helper would leave the spec hash — and thus
    #: the driver-verification evidence — unchanged.
    hash_deps: tuple = ()


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None, hash_deps: tuple = ()):
    def deco(fn):
        REGISTRY[name] = QuerySpec(
            name=name,
            build=fn,
            oracle=oracle,
            doc=fn.__doc__ or "",
            hash_deps=hash_deps,
        )
        return fn

    return deco


# --- determinism helpers ----------------------------------------------------


def dsum(col: str | Column, alias: str, scale: int = 2) -> Column:
    """Exact sum of a double column via decimal, surfaced as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(18,{scale})")).cast("double").alias(alias)


def dsum_sql(expr: str, alias: str, scale: int = 2) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE) AS {alias}"


def davg(col: str | Column, alias: str, scale: int = 2) -> Column:
    """Deterministic average: exact decimal sum / count, as double."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.sum(c.cast(f"decimal(18,{scale})")).cast("double") / F.count(F.lit(1))
    ).alias(alias)


def davg_sql(expr: str, alias: str, scale: int = 2) -> str:
    return (
        f"CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE)"
        f" / COUNT(*) AS {alias}"
    )


def isum(col: str | Column, alias: str) -> Column:
    """Integer sum (Spark: bigint; oracle must CAST from HUGEINT)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c).cast("long").alias(alias)


def isum_sql(expr: str, alias: str) -> str:
    return f"CAST(SUM({expr}) AS BIGINT) AS {alias}"


#: Registry (= driver verification) order. The driver oracle-checks
#: the FIRST 50 entries per round. Ordering is two-level: queries
#: already verified in a past round (CORRECTNESS_r*.json, see
#: _driver_verified_names) rotate to the back automatically; among the
#: never-verified remainder, the names below come first (the flagship
#: variant set, all 22 TPC-H shapes, the window/streaming/approximate
#: sets), then module insertion order. So each round's 50-slot window
#: sweeps further through the registry with no manual reordering.
_DRIVER_PRIORITY = [
    # reference flagship: JSON → variant → typed extraction, both tracks
    "variant_events_agg",
    "variant_explicit_codec",
    "variant_get_typed",
    "variant_filter_pushdown",
    "variant_tolerant_parse",
    "variant_shredded_storage",
    "variant_array_paths",
    # all 22 TPC-H shapes
    *[f"q{i}_" for i in range(1, 23)],  # prefix-matched below
    # batch window set
    "window_top3_orders_per_customer",
    "window_running_total",
    "window_lag_lead_events",
    "window_time_range_frame",
    # streaming set (static-join + python-datasource already green)
    "stream_tumbling_counts",
    "stream_sliding_counts",
    "stream_session_windows",
    "stream_stream_join",
    "stream_dedup_count",
    "stream_foreachbatch_sink",
    "stream_stateful_running_max",
    "stream_variant_tumbling",
    "stream_stream_variant_join",
    # approximate queries, now bound-checked against the oracle
    "approx_distinct_users",
    "similarity_lsh_topk",
    "similarity_ivf_topk",
    "similarity_ivf_kmeans_topk",
    # zero-driver-coverage categories: top-k, set ops, scalars
    "topk_expensive_parts",
    "setops_nation_coverage",
    "scalar_functions_showcase",
    "date_functions_orders",
]


#: Driver verification window size and the per-round re-verify sample
#: (already-verified queries deterministically re-fronted to catch
#: changes in shared dependencies — operators/, sources/ — that the
#: per-query spec hash cannot see).
_WINDOW = 50
#: Raised 3→8 in round 6 (full 222-query sweep completes with the
#: round-6 window): with every query driver-verified at least once, the
#: rotation's job shifts to re-hashing queries whose shared operators
#: changed under an unchanged spec hash — 8/round re-covers any given
#: operator family within ~2 rounds instead of ~5.
_REVERIFY_SAMPLE = 8
#: Names force-joined to the re-verify sample regardless of the
#: rotation offset — for queries whose BENCH numbers moved in the
#: driver's last run so the driver re-hashes them in the same round
#: that re-measures them. Keep this SMALL and transient: each pin
#: consumes a window slot the rotation would otherwise spend sweeping
#: the verified backlog. Round 15: r14's pins released — all four r13
#: movers measured at-or-below quiet levels ON THE DRIVER'S OWN r14
#: box and re-hashed green (VERDICT r14 "Performance": adjudication
#: closed by the official instrument), and the variant-keyed pair got
#: its second driver hash. Pinned now: the four r14-driver scaled/
#: sf0.1 movers left adjudicated-pending (VERDICT r14 "What's wrong"
#: #1/#2 — all weather-stamped at per-key loadavg 7.1–18.8 by the new
#: instrumentation, none driver-adjudicated yet) so the r15 driver
#: re-hashes them in the same round that re-measures them, plus the
#: round-14 shredded-keyed capstone pair for their second driver hash
#: (VERDICT r14 "next" #5). The index capstones re-front
#: automatically via their hash_deps on the round-15-edited
#: history.py classes.
_PINNED_REVERIFY = frozenset(
    {
        "stream_transform_with_state",
        "dedup_embedding_cosine_canonical",
        "similarity_knn_graph_canonical",
        "dataset_curriculum_stages",
        "stream_dedup_index_shredded_keyed",
        "stream_dedup_index_restart_shredded_keyed",
    }
)
_SPEC_LEDGER = "QUERY_SPECS.json"


def _repo_root() -> str:
    import os

    return os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )


def spec_hash(spec: QuerySpec) -> str:
    """Fingerprint of a query's builder source + declared hash_deps
    sources + oracle SQL. Changing any of them re-fronts the query for
    driver re-verification. Limitation: changes in modules the builder
    CALLS (operators/*.py) don't move this hash — the rotating
    re-verify sample and the local oracle-parity suite cover that gap;
    builders that are thin wrappers over a query-specific helper must
    declare it in ``hash_deps`` so the primary logic stays covered.
    The checkout's own path is normalised out of the oracle (one
    embeds a scratch file under the repository root), so every
    checkout of the same code has the same hash."""
    import hashlib
    import inspect

    def src_of(fn) -> str:
        try:
            return inspect.getsource(fn)
        except OSError:  # source unavailable (REPL-defined) — name only
            return fn.__qualname__

    parts = [src_of(spec.build)]
    parts.extend(src_of(dep) for dep in spec.hash_deps)
    parts.append((spec.oracle or "").replace(_repo_root(), "<repo>"))
    return hashlib.md5("\x00".join(parts).encode()).hexdigest()


def _load_spec_ledger() -> dict:
    """QUERY_SPECS.json: {name: {"hash": spec_hash, "round": N}} —
    the spec fingerprint each query had when it last sat in the
    driver's verification window (round N). A green CORRECTNESS row
    only counts as verification of the CURRENT code if the current
    hash matches the ledger AND the green row is from round >= N."""
    import json
    import os

    path = os.path.join(_repo_root(), _SPEC_LEDGER)
    try:
        with open(path) as f:
            data = json.load(f)
        return data if isinstance(data, dict) else {}
    except Exception:
        return {}


def _current_round() -> int:
    """Round currently being built = #existing CORRECTNESS files + 1
    (the driver writes CORRECTNESS_r{N}.json at the END of round N)."""
    import glob
    import os

    return len(glob.glob(os.path.join(_repo_root(), "CORRECTNESS_r*.json"))) + 1


def _driver_green_rounds() -> dict[str, int]:
    """name → latest round with a green driver row (hash-green, or
    rows-only-checked for queries that still have no oracle — if a
    formerly rows-only query gained an oracle since, it stays front
    for a real hash check). Failed or missing rows don't count, so
    those queries stay front and are retried."""
    import glob
    import json
    import os
    import re

    green: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(_repo_root(), "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as f:
                results = json.load(f)
        except Exception:
            continue
        if not isinstance(results, dict):
            continue
        for name, row in results.items():
            if not isinstance(row, dict):
                continue
            spec = REGISTRY.get(name)
            if row.get("hash_match") is True or (
                row.get("err") == "no_oracle"
                and row.get("spark_rows") is not None
                and spec is not None
                and spec.oracle is None
            ):
                green[name] = max(green.get(name, 0), rnd)
    return green


def _driver_verified_names() -> set[str]:
    """Names whose driver verification is still CURRENT: a green
    CORRECTNESS row exists, the query's spec hash hasn't changed since
    the round that row verified (per the QUERY_SPECS.json ledger), and
    the green row is not older than the ledger entry. Pre-ledger
    greens (no ledger entry) are grandfathered — the local oracle-
    parity suite covers them. The driver only checks the first
    ``_WINDOW`` registry entries per round, so rotating verified names
    to the back makes the window sweep every query over successive
    rounds; invalidating on spec change makes edited queries sweep
    AGAIN."""
    green = _driver_green_rounds()
    ledger = _load_spec_ledger()
    verified: set[str] = set()
    for name, rnd in green.items():
        entry = ledger.get(name)
        if entry is None:
            verified.add(name)  # pre-ledger verification, grandfathered
            continue
        spec = REGISTRY.get(name)
        if (
            spec is not None
            and entry.get("hash") == spec_hash(spec)
            and rnd >= int(entry.get("round", 0))
        ):
            verified.add(name)
    return verified


def _reverify_sample(verified: set[str]) -> set[str]:
    """Deterministic rotating sample of already-verified queries to
    re-front each round: over successive rounds this cycles through
    the whole verified set, re-checking queries whose shared
    dependencies may have changed under an unchanged spec hash."""
    if not verified:
        return set()
    names = sorted(verified)
    start = (_current_round() * _REVERIFY_SAMPLE) % len(names)
    sample = {
        names[(start + i) % len(names)]
        for i in range(min(_REVERIFY_SAMPLE, len(names)))
    }
    return sample | (_PINNED_REVERIFY & verified)


def load_all_queries() -> dict[str, QuerySpec]:
    """Import every query module (side effect: registry fill), then
    order the registry: never-driver-verified queries first (within
    that, _DRIVER_PRIORITY order, then module order), already-verified
    ones behind them."""
    from . import variant_queries  # noqa: F401
    from . import relational  # noqa: F401
    from . import tpch_extra  # noqa: F401
    from . import tpch_gap  # noqa: F401
    from . import tpch_wide  # noqa: F401
    from . import streaming_queries  # noqa: F401
    from . import pipelines  # noqa: F401
    from . import advanced  # noqa: F401
    from . import catalog  # noqa: F401
    from . import clusters  # noqa: F401
    from . import extras  # noqa: F401
    from . import llmdata  # noqa: F401
    from . import analysis  # noqa: F401
    from . import curation  # noqa: F401
    from . import ingestion  # noqa: F401
    from . import audits  # noqa: F401

    verified = _driver_verified_names()
    resample = _reverify_sample(verified)

    def rank(name: str) -> int:
        for i, pat in enumerate(_DRIVER_PRIORITY):
            if name == pat or (pat.endswith("_") and name.startswith(pat)):
                return i
        return len(_DRIVER_PRIORITY)

    def tier(name: str) -> int:
        """0 = never-verified / stale (MUST front the window — a
        re-verify sample may never displace one), 1 = rotating
        re-verify sample, 2 = verified rest."""
        if name not in verified:
            return 0
        return 1 if name in resample else 2

    def rot(name: str) -> str:
        """Tier-2 ties rotate per round: without this, the window
        slots left after tiers 0/1 would always go to the same
        verified queries (static module order) and the rest would
        never earn a second driver row. The md5(round:name) key is
        deterministic within a round and reshuffles every round."""
        if tier(name) != 2:
            return ""  # tiers 0/1 keep module insertion order
        import hashlib

        return hashlib.md5(f"{_current_round()}:{name}".encode()).hexdigest()

    # rank() orders ONLY the never-verified tier-0 front (the flagship /
    # category priorities). Applying it to tier 2 would permanently pin
    # the ~50 priority names at the tier-2 front in fixed order and rot()
    # would only shuffle the names behind them — i.e. rotation would be
    # dead and verified non-priority queries would never re-enter the
    # window (round-6 verdict: 42/50 slots frozen across rounds 7-9).
    ordered = sorted(
        REGISTRY,
        key=lambda n: (tier(n), rank(n) if tier(n) == 0 else 0, rot(n)),
    )
    # stable sort: ties keep their module insertion order
    reordered = {n: REGISTRY[n] for n in ordered}
    REGISTRY.clear()
    REGISTRY.update(reordered)
    return REGISTRY


def refresh_spec_ledger() -> dict:
    """Update QUERY_SPECS.json for every query in the UPCOMING driver
    window (the first ``_WINDOW`` registry entries): those are the
    specs the driver will verify at end of round, so their ledger
    entry becomes (current hash, current round). Entries outside the
    window are left untouched — a changed-but-unswept query must keep
    its old hash so it stays invalidated until actually re-verified.
    Run via ``python -m datafusion_functions_variant_spark.queries``
    before the end-of-round commit; ``tests/test_registry.py``
    enforces freshness."""
    import json
    import os

    reg = load_all_queries()
    ledger = _load_spec_ledger()
    ledger = {n: e for n, e in ledger.items() if n in reg}  # prune deleted
    rnd = _current_round()
    for name in list(reg)[:_WINDOW]:
        h = spec_hash(reg[name])
        entry = ledger.get(name)
        if entry is None or entry.get("hash") != h:
            ledger[name] = {"hash": h, "round": rnd}
    path = os.path.join(_repo_root(), _SPEC_LEDGER)
    with open(path, "w") as f:
        json.dump(dict(sorted(ledger.items())), f, indent=1, sort_keys=True)
        f.write("\n")
    return ledger
