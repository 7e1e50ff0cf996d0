"""Unit tests for streaming/history.py — the size-aware history-probe
builder behind the round-10 de-broadcast of the streaming ingest
gates. Each probe topology must be a pure function of measured history
size, the Bloom prescreen must never produce a false negative, and the
two paths must be answer-equivalent on the same data (the registry
twins prove this end-to-end against DuckDB; these pin the module in
isolation with adversarial inputs)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datafusion_functions_variant_spark.streaming.history import (
    DEFAULT_BLOOM_MAX_BITS,
    build_history_index,
)


def _keys(spark, n, salt=""):
    return spark.range(n).select(
        F.md5(F.concat_ws("#", F.col("id").cast("string"), F.lit(salt))).alias("k")
    )


def test_threshold_boundary_picks_topology(spark):
    hist = _keys(spark, 100)
    at = build_history_index(
        spark, hist, "k", table_name="hist_t_at", broadcast_threshold_rows=100
    )
    assert at.broadcasted and at.bitset is None and at.n_keys == 100
    over = build_history_index(
        spark, hist, "k", table_name="hist_t_over", broadcast_threshold_rows=99
    )
    assert not over.broadcasted
    assert over.bitset is not None and over.m_bits >= 2 * 100
    # the persisted relation holds exactly the distinct keys
    assert over.relation.count() == 100


def test_bloom_never_false_negative_and_sheds_most_misses(spark):
    hist = _keys(spark, 500, salt="hist")
    idx = build_history_index(
        spark, hist, "k", table_name="hist_t_bloom", broadcast_threshold_rows=0
    )
    # every true history key must pass the membership test
    members = idx.attach_bitset(idx.relation)
    assert members.where(~idx.member("k")).count() == 0
    # foreign keys: false positives allowed, but the filter must shed
    # the overwhelming majority (~20 bits/key ⇒ FP well under 5%)
    foreign = idx.attach_bitset(_keys(spark, 2000, salt="other"))
    fp = foreign.where(idx.member("k")).count()
    assert fp < 100, f"bloom false-positive rate implausibly high: {fp}/2000"


def test_paths_are_answer_equivalent_for_anti_probe(spark):
    hist = _keys(spark, 300, salt="hist")
    arriving = _keys(spark, 200, salt="hist").unionByName(
        _keys(spark, 150, salt="new")
    )  # 200 seen + 150 novel
    small = build_history_index(
        spark, hist, "k", table_name="hist_t_eq_b",
        broadcast_threshold_rows=10_000,
    )
    big = build_history_index(
        spark, hist, "k", table_name="hist_t_eq_i", broadcast_threshold_rows=0
    )
    via_broadcast = sorted(
        r.k
        for r in arriving.join(
            small.relation.select(F.col("k").alias("_h")),
            arriving.k == F.col("_h"),
            "left_anti",
        ).collect()
    )
    probe = big.attach_bitset(arriving)
    probe_key = F.when(big.member("k"), F.col("k")).otherwise(F.lit("#x"))
    via_index = sorted(
        r.k
        for r in probe.select("k", probe_key.alias("_pk"))
        .hint("merge")
        .join(
            big.relation.select(F.col("k").alias("_h")),
            F.col("_pk") == F.col("_h"),
            "left_anti",
        )
        .collect()
    )
    assert via_index == via_broadcast
    assert len(via_index) == 150


def test_bloom_caps_and_degrades_gracefully(spark):
    # a tiny bloom_max_bits forces the cap below 2 bits/key → the
    # bitset is omitted entirely (member() degenerates to literal
    # True) rather than shipped as dead weight
    hist = _keys(spark, 5000)
    idx = build_history_index(
        spark, hist, "k", table_name="hist_t_cap",
        broadcast_threshold_rows=0, bloom_max_bits=4096,
    )
    assert idx.bitset is None and idx.m_bits is None
    # member() must then pass everything (prescreen off, join decides)
    passed = idx.attach_bitset(_keys(spark, 50, salt="z")).where(
        idx.member("k")
    )
    assert passed.count() == 50
    assert DEFAULT_BLOOM_MAX_BITS == 1 << 26  # 8 MiB broadcast ceiling


def _idx_dir(spark, name):
    from datafusion_functions_variant_spark.queries.catalog import _IO_DIR
    import os
    return os.path.join(_IO_DIR, name)


def _gidx(spark, name, **kw):
    from datafusion_functions_variant_spark.streaming.history import (
        GenerationalHistoryIndex,
    )

    kw.setdefault("expected_keys", 2000)
    kw.setdefault("budget_rows", 100)
    kw.setdefault("growth", 4)
    kw.setdefault("overwrite", True)
    return GenerationalHistoryIndex(
        spark, name, "k", path=_idx_dir(spark, name), **kw
    )


def test_self_updating_index_grows_and_never_false_negative(spark):
    """The bitset grows with the index: every appended key stays a
    member across appends and promotions (budget 100: the first append
    already promotes)."""
    idx = _gidx(spark, "gidx_t_grow", expected_keys=400)
    assert idx.bitset is not None and idx.m_bits >= 2 * 400
    assert idx.relation().count() == 0
    # batch 1: 150 novel keys
    b1 = _keys(spark, 150, salt="b1")
    idx.append(b1, batch_id=0)
    assert idx.relation().count() == 150
    # every appended key must test member=True on the UPDATED bitset —
    # the no-false-negative invariant across appends (a stale bitset
    # would shed true duplicates as definite-novel)
    assert idx.attach_bitset(b1).where(~idx.member("k")).count() == 0
    # batch 2: 100 more — batch 1 keys STILL members afterwards
    b2 = _keys(spark, 100, salt="b2")
    idx.append(b2, batch_id=1)
    assert idx.relation().count() == 250
    both = b1.unionByName(b2)
    assert idx.attach_bitset(both).where(~idx.member("k")).count() == 0
    # foreign keys still overwhelmingly shed
    foreign = idx.attach_bitset(_keys(spark, 2000, salt="zzz"))
    fp = foreign.where(idx.member("k")).count()
    assert fp < 100, f"incremental bloom FP implausibly high: {fp}/2000"


def test_self_updating_index_rebuild_matches_incremental(spark):
    idx = _gidx(spark, "gidx_t_rebuild", expected_keys=300)
    idx.append(_keys(spark, 120, salt="r1"), batch_id=0)
    idx.append(_keys(spark, 80, salt="r2"), batch_id=1)
    probe = _keys(spark, 3000, salt="probe-mix").unionByName(
        _keys(spark, 120, salt="r1")
    )
    incr = idx.attach_bitset(probe).where(idx.member("k")).count()
    idx.rebuild_bitset()  # recovery path: re-derive from the tables
    rebuilt = idx.attach_bitset(probe).where(idx.member("k")).count()
    # identical bits (same keys, same m, same seeds) → identical sheds
    assert incr == rebuilt


def test_self_updating_index_degenerates_without_headroom(spark):
    idx = _gidx(
        spark, "gidx_t_degen", expected_keys=5000,
        bloom_max_bits=4096,  # < 2 bits/key → prescreen off
    )
    assert idx.bitset is None and idx.m_bits is None
    idx.append(_keys(spark, 50, salt="d"), batch_id=0)  # append still works
    assert idx.relation().count() == 50
    passed = idx.attach_bitset(_keys(spark, 30, salt="e")).where(idx.member("k"))
    assert passed.count() == 30  # member() passes everything


def test_self_updating_index_attach_recovers_across_sessions(spark):
    """Restart-and-keep with no crash: a fresh session (metastore
    lost, files kept) adopts the durable generations via attach() —
    no key lost, bitset rebuilt, bucketed Exchange-free probe scans
    intact, and the index keeps growing from where the previous
    session stopped."""
    from datafusion_functions_variant_spark.streaming.history import (
        GenerationalHistoryIndex,
    )

    path = _idx_dir(spark, "gidx_t_attach")
    idx = _gidx(spark, "gidx_t_attach", expected_keys=400)
    idx.append(_keys(spark, 150, salt="a1"), batch_id=0)
    idx.append(_keys(spark, 100, salt="a2"), batch_id=1)

    # simulate the restart: metastore entries gone, files untouched
    for g in range(idx.n_generations):
        spark.sql(f"DROP TABLE IF EXISTS {idx._gtable(g)}")

    re = GenerationalHistoryIndex.attach(
        spark, "gidx_t_attach", "k", path=path, expected_keys=400,
    )
    assert re.relation().count() == 250
    seen = _keys(spark, 150, salt="a1").unionByName(_keys(spark, 100, salt="a2"))
    # no false negatives after recovery (stale/missing bitset would
    # shed true duplicates as definite-novel)
    assert re.attach_bitset(seen).where(~re.member("k")).count() == 0
    # foreign keys still overwhelmingly shed → the bitset really was
    # rebuilt, not silently disabled
    fp = re.attach_bitset(_keys(spark, 2000, salt="zz")).where(re.member("k")).count()
    assert fp < 100, f"post-attach bloom FP implausibly high: {fp}/2000"

    # the re-registered tables keep their bucket spec: the chained
    # probe must NOT exchange an index side (in-place bucketed scans —
    # the whole point of the persisted layout)
    flagged = re.flag_members(_keys(spark, 50, salt="a1"), "k", "hit")
    plan = flagged._jdf.queryExecution().executedPlan().toString()
    assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan
    assert flagged.where(F.col("hit")).count() == 50

    # appends keep working after recovery, invariant intact
    re.append(_keys(spark, 60, salt="a3"), batch_id=2)
    assert re.relation().count() == 310
    assert (
        re.attach_bitset(_keys(spark, 60, salt="a3"))
        .where(~re.member("k"))
        .count()
        == 0
    )


def test_attach_takes_the_layout_from_the_index_record(spark):
    """attach() must probe with the bucket count the files were
    written with, not one its caller supplies: 200 keys written into
    16 buckets and attached from a fresh metastore are all still
    members (with 8 assumed buckets, about half of them came back as
    novel). A missing or unreadable layout record refuses to attach."""
    import os as _os

    import pytest as _pytest

    from datafusion_functions_variant_spark.streaming.history import (
        GenerationalHistoryIndex,
    )

    path = _idx_dir(spark, "gidx_t_layout")
    idx = _gidx(spark, "gidx_t_layout", bucket_count=16)
    keys = _keys(spark, 200, salt="lay").withColumn(
        "doc_id", F.monotonically_increasing_id()
    )
    idx.append(keys.select("k"), batch_id=0)
    for g in range(idx.n_generations):
        spark.sql(f"DROP TABLE IF EXISTS {idx._gtable(g)}")

    re = GenerationalHistoryIndex.attach(
        spark, "gidx_t_layout", "k", path=path, expected_keys=2000
    )
    assert (re.bucket_count, re.n_generations, re.budget_rows, re.growth) == (
        16, 3, 100, 4,
    )
    assert re.dup_flags(keys, "doc_id").where("is_dup = 0").count() == 0
    assert re.novel_keys(keys).count() == 0

    record = _os.path.join(path, "_layout.json")
    with open(record, "w") as fh:
        fh.write('{"bucket_count": 16')  # truncated
    with _pytest.raises(ValueError, match="layout record"):
        GenerationalHistoryIndex.attach(
            spark, "gidx_t_layout", "k", path=path, expected_keys=2000
        )
    _os.remove(record)
    with _pytest.raises(ValueError, match="layout record"):
        GenerationalHistoryIndex.attach(
            spark, "gidx_t_layout", "k", path=path, expected_keys=2000
        )


def test_tiered_ingest_is_exactly_once_under_batch_replay(spark):
    """foreachBatch's contract is at-least-once: a crash between the
    verdict write and the index append replays the WHOLE batch. The
    callback must be idempotent — replaying batch N must leave both
    the verdict output and the index byte-identical (dynamic
    batch-partition overwrite for the verdicts; the anti-join already
    makes a replayed append a no-op)."""
    import os
    import shutil

    from datafusion_functions_variant_spark.queries.catalog import _IO_DIR
    from datafusion_functions_variant_spark.queries.streaming_queries import (
        _tiered_ingest,
    )
    from datafusion_functions_variant_spark.streaming.history import (
        GenerationalHistoryIndex,
    )

    out_dir = os.path.join(_IO_DIR, "replay_verdicts")
    shutil.rmtree(out_dir, ignore_errors=True)
    # budget 20: batch 0's append already promotes, so the replays
    # below also run against keys that moved generations
    idx = GenerationalHistoryIndex(
        spark, "replay_hash_idx", "h",
        path=os.path.join(_IO_DIR, "replay_hash_idx"), expected_keys=100,
        budget_rows=20, growth=2, overwrite=True,
    )
    ingest = _tiered_ingest(spark, idx, out_dir)

    def batch(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("doc_id"),
            F.md5((F.col("id") % 40).cast("string")).alias("h"),
        )

    def snapshot():
        rows = sorted(
            map(tuple, spark.read.parquet(out_dir).select("doc_id", "is_dup").collect())
        )
        return rows, idx.relation().count()

    ingest(batch(0, 30), 0)
    first = snapshot()
    assert first[1] == 30  # 30 distinct hashes admitted
    ingest(batch(0, 30), 0)  # crash-replay of the SAME batch
    assert snapshot() == first  # no verdict duplication, no index growth

    ingest(batch(30, 60), 1)  # ids 30-59 → hashes id%40: 20 repeats
    rows, n_keys = snapshot()
    assert n_keys == 40
    assert len(rows) == 60
    dups = sum(d for _, d in rows)
    assert dups == 20  # ids 40-59 rehash ids 0-19's keys
    ingest(batch(30, 60), 1)  # replay the second batch too
    assert snapshot() == (rows, n_keys)


def test_append_requires_batch_id_keyword(spark):
    """r11 ADVICE: batch_id defaulting to 0 silently defeated the
    replay epoch contract — it is now required and keyword-only."""
    idx = _gidx(spark, "gidx_t_reqbatch")
    with pytest.raises(TypeError):
        idx.append(_keys(spark, 5, salt="q"))  # no batch_id
    with pytest.raises(TypeError):
        idx.append(_keys(spark, 5, salt="q"), 0)  # positional


def test_init_refuses_to_destroy_durable_index_without_overwrite(spark):
    """r11 ADVICE: calling the create-fresh constructor where attach()
    was intended must raise, not silently rmtree the durable index."""
    import os as _os

    from datafusion_functions_variant_spark.streaming.history import (
        GenerationalHistoryIndex,
    )

    path = _idx_dir(spark, "gidx_t_guard")
    idx = _gidx(spark, "gidx_t_guard")
    idx.append(_keys(spark, 30, salt="g"), batch_id=0)
    for g in range(idx.n_generations):  # simulate new session
        spark.sql(f"DROP TABLE IF EXISTS {idx._gtable(g)}")
    with pytest.raises(ValueError, match="attach\\(\\)|overwrite=True"):
        GenerationalHistoryIndex(
            spark, "gidx_t_guard", "k", path=path, expected_keys=100,
        )
    # the durable files survived the refusal
    assert _os.path.isdir(path) and _os.listdir(path)
    re = GenerationalHistoryIndex.attach(
        spark, "gidx_t_guard", "k", path=path, expected_keys=100,
    )
    assert re.relation().count() == 30
    # and explicit overwrite still works
    fresh = GenerationalHistoryIndex(
        spark, "gidx_t_guard", "k", path=path, expected_keys=100,
        overwrite=True,
    )
    assert fresh.relation().count() == 0


def test_write_single_file_split_empty_partition(spark, tmp_path):
    """r11 ADVICE (streaming/core.py): an empty split (no rows match
    the batch predicate on a tiny corpus) must land as an empty,
    schema-carrying parquet FILE, not an opaque unpack ValueError."""
    from datafusion_functions_variant_spark.streaming.core import (
        _write_single_file_split,
    )

    df = spark.range(10).where("id < 0").selectExpr(
        "id as doc_id", "cast(id as string) as text"
    )
    out = str(tmp_path / "batch0.parquet")
    _write_single_file_split(df, out)
    back = spark.read.parquet(out)
    assert back.count() == 0
    assert back.columns == ["doc_id", "text"]


# --- round 12: GenerationalHistoryIndex (LSM-style tiered index) ------------


def test_generational_index_promotes_and_stays_disjoint(spark):
    """Appends land in gen0; past the geometric budgets whole
    generations promote upward. Invariants after every batch: total
    exact, generations pairwise DISJOINT (the no-duplicate-verdict
    guarantee), membership exact through flag_members/anti_members."""
    idx = _gidx(spark, "gidx_grow")
    total = 0
    appended = []
    for b in range(6):
        batch = _keys(spark, 60, salt=f"g{b}")
        idx.append(batch, batch_id=b)
        total += 60
        appended.append(batch)
        assert idx.relation().count() == total
        # pairwise disjoint generations
        rels = idx.relations()
        counts = [r.count() for r in rels]
        assert sum(counts) == total
        for i in range(len(rels)):
            for j in range(i + 1, len(rels)):
                assert (
                    rels[i].join(rels[j], "k", "inner").count() == 0
                ), f"gen{i} and gen{j} overlap after batch {b}"
    # promotion actually happened (gen0 alone cannot hold 360 > 100+60)
    assert idx.relations()[1].count() + idx.relations()[2].count() > 0
    # membership: every appended key flags true, fresh keys flag false
    seen = appended[0]
    flagged = idx.flag_members(seen, "k", "hit")
    assert flagged.where(~F.col("hit")).count() == 0
    fresh = _keys(spark, 40, salt="nope")
    assert idx.flag_members(fresh, "k", "hit").where(F.col("hit")).count() == 0
    assert idx.anti_members(fresh, "k").count() == 40
    assert idx.anti_members(seen, "k").count() == 0


def test_generational_index_epochs_survive_promotion(spark):
    """_b stamps ride through promotions: relation(before=N) returns
    exactly the keys admitted by batches < N regardless of which
    generation they now live in."""
    idx = _gidx(spark, "gidx_epoch")
    for b in range(5):
        idx.append(_keys(spark, 80, salt=f"e{b}"), batch_id=b)
    for n in (0, 2, 5):
        assert idx.relation(before=n).count() == 80 * n
    # the epoch view also composes with the chained probe
    old_only = idx.flag_members(
        _keys(spark, 80, salt="e4"), "k", "hit", before=4
    )
    assert old_only.where(F.col("hit")).count() == 0  # batch 4 not < 4


def test_generational_rewrite_gen_empty_frame_returns_zero(spark):
    """``_rewrite_gen`` with an EMPTY frame: the observed write runs
    zero tasks, so the CollectMetrics row never materializes and
    ``Observation.get`` dies in the JVM row conversion — the count
    must come from the fallback table count instead (the exact shape
    ``_repair_overlap`` hits when a crashed promotion had fully
    committed: gen0 anti gen1 is empty)."""
    idx = _gidx(spark, "gidx_rw_empty")
    idx.append(_keys(spark, 10, salt="rw0"), batch_id=0)
    empty = (
        spark.createDataFrame([], "k string, _b long")
        .localCheckpoint(eager=True)
    )
    assert idx._rewrite_gen(0, empty) == 0
    assert spark.table(idx._gtable(0)).count() == 0


def test_generational_index_crash_mid_promote_repaired_by_attach(spark):
    """Simulated death in the promotion window: gen1 has been
    rewritten to include gen0's rows but gen0 was never emptied
    (manifest still says promoting=0). attach() must repair the
    overlap — total exact, generations disjoint again."""
    import os as _os

    from datafusion_functions_variant_spark.streaming import history as H

    idx = _gidx(spark, "gidx_crash", budget_rows=100)
    idx.append(_keys(spark, 90, salt="c0"), batch_id=0)  # 90 <= 100: no promote
    # the SECOND append crosses the budget (180 > 100) → promotion
    # fires; make it die AFTER the gen1 rewrite commits but BEFORE
    # gen0 is emptied
    orig_create = H.GenerationalHistoryIndex._create_empty
    died = []

    def dying_create(self, g):
        died.append(g)
        raise OSError("simulated crash before gen0 truncate")

    H.GenerationalHistoryIndex._create_empty = dying_create
    try:
        with pytest.raises(OSError, match="simulated crash"):
            idx.append(_keys(spark, 90, salt="c1"), batch_id=1)
    finally:
        H.GenerationalHistoryIndex._create_empty = orig_create
    assert died  # the crash really happened inside a promotion
    # manifest still open, and gen0's rows are duplicated into gen1.
    # Inspect the FILES (a real crash loses the metastore too — the
    # in-promotion DROP already removed gen0's entry):
    assert idx._read_manifest() == 0
    g0 = spark.read.parquet(idx._gpath(0)).select("k")
    g1 = spark.read.parquet(idx._gpath(1)).select("k")
    assert g0.join(g1, "k", "inner").count() > 0  # the overlap exists

    from datafusion_functions_variant_spark.streaming.history import (
        GenerationalHistoryIndex,
    )

    re = GenerationalHistoryIndex.attach(
        spark, "gidx_crash", "k", path=_idx_dir(spark, "gidx_crash"),
        expected_keys=2000,
    )
    assert re._read_manifest() is None
    rels = re.relations()
    assert sum(r.count() for r in rels) == 180
    for i in range(len(rels)):
        for j in range(i + 1, len(rels)):
            assert rels[i].join(rels[j], "k", "inner").count() == 0
    # bitset rebuilt: every key a member; appends keep working
    allk = re.relation().select("k")
    assert re.attach_bitset(allk).where(~re.member("k")).count() == 0
    re.append(_keys(spark, 10, salt="c9"), batch_id=3)
    assert re.relation().count() == 190


def test_generational_index_probe_plan_is_exchange_free_per_generation(spark):
    """The plan fact the class encodes: every generation side of the
    chained probe is an in-place bucketed scan (no Exchange, no
    BroadcastExchange on any index side); the probe side pays ONE
    Exchange reused across the chained joins."""
    idx = _gidx(spark, "gidx_plan", budget_rows=100)
    for b in range(4):
        idx.append(_keys(spark, 80, salt=f"p{b}"), batch_id=b)
    probe = _keys(spark, 50, salt="p1")
    flagged = idx.flag_members(probe, "k", "hit")
    plan = flagged._jdf.queryExecution().executedPlan().toString()
    assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan
    # one probe-side shuffle, reused by every chained SMJ
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 1, f"probe must shuffle once, saw {n_exchanges}:\n{plan}"
    assert "BroadcastExchange" not in plan


def test_generational_index_empty_novel_append_is_safe(spark):
    """An all-duplicate batch appends an EMPTY novel frame: rows
    unchanged, bitset not corrupted (the empty bloom delta must OR as
    zeros, not null out the bitset), membership still exact."""
    idx = _gidx(spark, "gidx_empty")
    keys = _keys(spark, 50, salt="ea")
    idx.append(keys, batch_id=0)
    empty = idx.anti_members(keys, "k")  # everything already present
    assert empty.count() == 0
    idx.append(empty, batch_id=1)
    assert idx.relation().count() == 50
    assert idx.attach_bitset(keys).where(~idx.member("k")).count() == 0
    # and a later real append still lands
    idx.append(_keys(spark, 10, salt="eb"), batch_id=2)
    assert idx.relation().count() == 60


# --- round 13: O(1) budget checks, sort-reuse pin, manifest hardening -------


def test_generational_append_budget_checks_are_driver_arithmetic(
    spark, monkeypatch
):
    """r12 verdict #4: append() must never run a job against a
    generation TABLE to check budgets (the old per-batch .count() paid
    a listing+footer scan over gen0's accumulated file groups). The
    running counts live in _gen_rows / the manifest; a non-promoting
    append touches no table metadata at all (refreshTable spy), and
    the counts stay EXACT across promotions."""
    import json as _json

    idx = _gidx(spark, "gidx_o1")
    calls = []
    cat_cls = type(spark.catalog)
    orig_refresh = cat_cls.refreshTable
    monkeypatch.setattr(
        cat_cls,
        "refreshTable",
        lambda self, name: (calls.append(name), orig_refresh(self, name))[1],
    )
    idx.append(_keys(spark, 50, salt="o1a"), batch_id=0)  # 50 <= 100 budget
    assert calls == [], f"non-promoting append touched table metadata: {calls}"
    # promotions DO refresh (they read the tables to merge) — and the
    # running counts remain exact afterwards
    for b in range(1, 6):
        idx.append(_keys(spark, 80, salt=f"o1{b}"), batch_id=b)
    actual = [r.count() for r in idx.relations()]
    assert idx._gen_rows == actual, (idx._gen_rows, actual)
    assert sum(actual) == 50 + 5 * 80
    # the manifest persists the counts next to the promotion marker
    with open(idx._manifest_path()) as fh:
        m = _json.load(fh)
    assert m == {"promoting": None, "rows": actual}


def test_generational_probe_sorts_probe_side_once_at_five_generations(spark):
    """r12 verdict #3: at a production-depth chain the plan detail
    that decides O(1)-vs-O(gens) probe cost is whether the chained
    SMJs re-sort the probe side. Pin: exactly ONE probe-side Sort and
    at most one Exchange across a 5-generation chain; every generation
    side stays an in-place bucketed scan (its per-bucket Sort is
    map-side and carries no Exchange)."""
    import re as _re

    idx = _gidx(
        spark, "gidx_deep", n_generations=5, expected_keys=5000
    )
    for b in range(8):
        idx.append(_keys(spark, 80, salt=f"d{b}"), batch_id=b)
    probe = _keys(spark, 50, salt="d1")
    flagged = idx.flag_members(probe, "k", "hit")
    plan = flagged._jdf.queryExecution().executedPlan().toString()
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 1, f"probe must shuffle once, saw {n_exchanges}"
    assert "BroadcastExchange" not in plan
    probe_sorts = len(_re.findall(r"Sort \[k#", plan))
    assert probe_sorts == 1, f"probe side re-sorted: {probe_sorts} sorts\n{plan}"
    # one map-side sort + one in-place bucketed scan per generation
    # side; an EMPTY generation may legitimately render without bucket
    # info (nothing to scan), so pin on the populated count — the
    # Exchange pin above is what rules out a shuffled index side
    n_nonempty = sum(1 for r in idx._gen_rows if r > 0)
    gen_sorts = len(_re.findall(r"Sort \[__gk", plan))
    assert gen_sorts >= n_nonempty >= 2, plan
    assert plan.count("SelectedBucketsCount") >= n_nonempty, plan
    # and the answers at depth 5 stay exact
    assert flagged.where(~F.col("hit")).count() == 0
    assert sum(r.count() for r in idx.relations()) == 8 * 80


def test_generational_unparseable_manifest_triggers_full_repair(spark):
    """ADVICE r12: a power-loss-truncated manifest must read as
    'unknown', and attach() must then run the overlap repair on EVERY
    adjacent pair (unconditionally correct) rather than assume
    quiescence. Simulate: crash mid-promote (real overlap), then
    truncate the manifest to garbage."""
    import os as _os

    from datafusion_functions_variant_spark.streaming import history as H

    idx = _gidx(spark, "gidx_unk", budget_rows=100)
    idx.append(_keys(spark, 90, salt="u0"), batch_id=0)
    orig_create = H.GenerationalHistoryIndex._create_empty

    def dying_create(self, g):
        raise OSError("simulated crash before gen0 truncate")

    H.GenerationalHistoryIndex._create_empty = dying_create
    try:
        with pytest.raises(OSError, match="simulated crash"):
            idx.append(_keys(spark, 90, salt="u1"), batch_id=1)
    finally:
        H.GenerationalHistoryIndex._create_empty = orig_create
    # now ALSO lose the manifest to a torn write
    with open(idx._manifest_path(), "w") as fh:
        fh.write('{"promot')  # truncated json
    assert idx._read_manifest() == "unknown"

    re_idx = H.GenerationalHistoryIndex.attach(
        spark, "gidx_unk", "k", path=_idx_dir(spark, "gidx_unk"),
        expected_keys=2000,
    )
    assert re_idx._read_manifest() is None
    rels = re_idx.relations()
    assert sum(r.count() for r in rels) == 180
    for i in range(len(rels)):
        for j in range(i + 1, len(rels)):
            assert rels[i].join(rels[j], "k", "inner").count() == 0
    # counts recomputed from the durable tables
    assert re_idx._gen_rows == [r.count() for r in rels]


def test_index_appends_validate_key_dtype(spark):
    """ADVICE r12: a non-string key column fails AT THE CALL SITE with
    the contract, not later inside the bucketed write."""
    gi = _gidx(spark, "gidx_dtype")
    bad = spark.range(5).select(F.col("id").alias("k"))  # bigint key
    with pytest.raises(TypeError, match="must be STRING"):
        gi.append(bad, batch_id=0)


def test_variant_extracted_key_feeds_exchange_free_probe_chain(spark):
    """Round-13 capability pin (VERDICT r12 #7): a probe whose key is
    EXTRACTED via the codec surface (parse_json → variant_get → md5)
    must feed the same Exchange-free chained probe as a precomputed
    key — the extraction rides map-side before the probe's single
    shuffle; every generation side stays an in-place bucketed scan."""
    idx = _gidx(spark, "gidx_vkey")
    for b in range(3):
        idx.append(_keys(spark, 80, salt=f"v{b}"), batch_id=b)
    payloads = spark.range(60).select(
        F.col("id").alias("doc_id"),
        F.to_json(
            F.struct(
                F.col("id").alias("id"),
                F.struct(
                    F.concat_ws(
                        "#", F.col("id").cast("string"), F.lit("v1")
                    ).alias("text")
                ).alias("body"),
            )
        ).alias("payload"),
    )
    probe = payloads.select(
        "doc_id",
        F.md5(
            F.variant_get(F.parse_json("payload"), "$.body.text", "string")
        ).alias("k"),
    )
    flagged = idx.flag_members(probe, "k", "hit")
    plan = flagged._jdf.queryExecution().executedPlan().toString()
    # the shredded key really is derived in-plan, map-side. Rendering
    # note: the physical plan prints the codec expressions as
    # variant_get(static_invoke(VariantExpressionEvalUtils.parseJson(
    # ...))) — match either surface spelling, they vary by plan state
    assert "variant_get" in plan
    assert "parse_json" in plan or "parseJson" in plan
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 1, f"probe must shuffle once, saw {n_exchanges}"
    assert "BroadcastExchange" not in plan
    # every NON-EMPTY generation is an in-place bucketed scan (an
    # empty generation may legitimately render without bucket info —
    # there is nothing to scan; the Exchange pin above is what rules
    # out a shuffled index side)
    n_nonempty = sum(1 for r in idx._gen_rows if r > 0)
    assert plan.count("SelectedBucketsCount") >= n_nonempty >= 2, plan
    # and the extracted keys actually match the indexed generation
    # (the _keys fixture hashes 'id#v1' — the same text the envelope
    # carries, so every probe row must flag as a member)
    assert flagged.where(~F.col("hit")).count() == 0


def test_bloom_saturation_reports_fill_and_tracks_growth(spark):
    """The operational dial for an outgrown expected_keys: fill and
    est_fpr are exact functions of the bitset; growing the index
    raises both; the no-bitset degenerate returns None."""
    idx = _gidx(spark, "gidx_sat", expected_keys=3000)
    s0 = idx.bloom_saturation()
    assert s0 == {"set_bits": 0, "m_bits": idx.m_bits, "fill": 0.0, "est_fpr": 0.0}
    idx.append(_keys(spark, 200, salt="sa"), batch_id=0)
    s1 = idx.bloom_saturation()
    # k=3 probes over 200 keys set at most 600 bits, at least ~200
    assert 200 <= s1["set_bits"] <= 600
    assert 0 < s1["fill"] < 0.01 and 0 < s1["est_fpr"] < 1e-5
    idx.append(_keys(spark, 400, salt="sb"), batch_id=1)
    s2 = idx.bloom_saturation()
    assert s2["set_bits"] > s1["set_bits"] and s2["est_fpr"] > s1["est_fpr"]
    # degenerate: no headroom -> no bitset -> None
    nob = _gidx(
        spark, "gidx_sat_none", expected_keys=10**12  # m capped below 2 bits/key
    )
    assert nob.bitset is None and nob.bloom_saturation() is None


def test_rebuild_bitset_resize_starts_new_epoch(spark):
    """The saturation dial's remedy: rebuild at a larger m_bits. The
    resized bitset must keep the zero-false-negative invariant over
    everything already indexed, report lower fill, and keep working
    through subsequent appends; bad sizes fail loudly."""
    idx = _gidx(spark, "gidx_resize", expected_keys=500)
    idx.append(_keys(spark, 300, salt="rz"), batch_id=0)
    before = idx.bloom_saturation()
    old_m = idx.m_bits
    idx.rebuild_bitset(m_bits=old_m * 4)
    assert idx.m_bits == old_m * 4
    after = idx.bloom_saturation()
    assert after["m_bits"] == old_m * 4 and after["fill"] < before["fill"]
    # no false negatives across the epoch change
    allk = idx.relation().select("k")
    assert idx.attach_bitset(allk).where(~idx.member("k")).count() == 0
    # appends keep ORing into the NEW epoch
    idx.append(_keys(spark, 100, salt="rz2"), batch_id=1)
    allk = idx.relation().select("k")
    assert idx.attach_bitset(allk).where(~idx.member("k")).count() == 0
    with pytest.raises(ValueError, match="multiple of 64"):
        idx.rebuild_bitset(m_bits=100)


# --- round 14: ADVICE r13 hardening ----------------------------------------


def test_rebuild_bitset_failure_leaves_consistent_state(spark, monkeypatch):
    """ADVICE r13: a mid-rebuild failure (bloom build / checkpoint
    dies) must leave (m_bits, bitset) CONSISTENT — the old epoch fully
    intact — or member() would index the old word array at the new
    size and read past-the-end as definite-miss: Bloom false negatives
    silently admitting duplicates."""
    from datafusion_functions_variant_spark.streaming import history as H

    idx = _gidx(spark, "gidx_rbfail", expected_keys=500)
    idx.append(_keys(spark, 200, salt="rf"), batch_id=0)
    old_m, old_bitset = idx.m_bits, idx.bitset

    def dying_build(df, col, m_bits):
        raise RuntimeError("simulated bloom build crash")

    monkeypatch.setattr(H, "bloom_build", dying_build)
    with pytest.raises(RuntimeError, match="simulated bloom"):
        idx.rebuild_bitset(m_bits=old_m * 4)
    monkeypatch.undo()
    # the old epoch survives whole: size unchanged, bitset object
    # unchanged, zero false negatives over everything indexed
    assert idx.m_bits == old_m and idx.bitset is old_bitset
    allk = idx.relation().select("k")
    assert idx.attach_bitset(allk).where(~idx.member("k")).count() == 0


def test_non_dict_manifest_reads_unknown(spark):
    """ADVICE r13: a manifest that PARSES but to a non-dict JSON value
    ('null', a list — tampering/partial overwrite) must read as
    'unknown' and route attach() into the fail-safe full repair, not
    crash with AttributeError."""
    from datafusion_functions_variant_spark.streaming import history as H

    idx = _gidx(spark, "gidx_nondict", budget_rows=100)
    idx.append(_keys(spark, 60, salt="nd"), batch_id=0)
    for garbage in ("null", "[1, 2]", '"promoting"'):
        with open(idx._manifest_path(), "w") as fh:
            fh.write(garbage)
        assert idx._read_manifest() == "unknown"
    re_idx = H.GenerationalHistoryIndex.attach(
        spark, "gidx_nondict", "k", path=_idx_dir(spark, "gidx_nondict"),
        expected_keys=2000,
    )
    assert re_idx._read_manifest() is None
    assert sum(r.count() for r in re_idx.relations()) == 60


def test_generational_append_count_rides_the_write_job(spark):
    """r13 verdict "next" #6: the batch row count is a df.observe
    metric on the WRITE action, not a standalone count() job. Pin the
    whole per-append job budget: 1 checkpoint of the novel batch + the
    bitset OR-merge checkpoint + 1 bucketed write — 6 Spark jobs on
    this build (the r13 shape paid one more for the dedicated count).
    On local[*] with no task retries the counts come out exact and
    feed the O(1) budget arithmetic and the manifest; on a real
    cluster they are near-exact (accumulator retry caveat, ADVICE
    r14) with promotion re-basing + attach() recount as the guards —
    see append()'s docstring."""
    idx = _gidx(spark, "gidx_njobs", budget_rows=100_000)
    idx.append(_keys(spark, 50, salt="nj0"), batch_id=0)  # warm
    sc = spark.sparkContext
    sc.setJobGroup("gidx-append-spy", "append job spy")
    try:
        idx.append(_keys(spark, 60, salt="nj1"), batch_id=1)
    finally:
        sc.setJobGroup("gidx-append-done", "")
    jobs = sc.statusTracker().getJobIdsForGroup("gidx-append-spy")
    assert len(jobs) <= 6, f"append submitted {len(jobs)} jobs"
    assert idx._gen_rows[0] == 110
    assert idx._gen_rows == [r.count() for r in idx.relations()]


def test_generational_bloom_auto_rebuild_fires_once(spark):
    """r13 verdict "next" #4: the bloom_saturation() dial wired to
    action. An ingest that outgrows expected_keys crosses the fill
    threshold → append() rebuilds the bitset ONCE at the next
    power-of-two m_bits; fill drops, membership verdicts unchanged
    (zero false negatives before and after), and the policy's
    steady-state gate stays driver arithmetic."""
    idx = _gidx(
        spark, "gidx_autorb", expected_keys=200, budget_rows=100_000,
        auto_rebuild_fill=0.5,
    )
    m0 = idx.m_bits
    assert m0 == 4096  # 200 keys * 20 bits/key → floor at 64 words
    for b in range(5):  # 1500 distinct keys ≈ fill 0.66 on 4096 bits
        idx.append(_keys(spark, 300, salt=f"rb{b}"), batch_id=b)
    assert len(idx.bloom_rebuilds) == 1, idx.bloom_rebuilds
    ev = idx.bloom_rebuilds[0]
    assert ev["old_m_bits"] == m0 and ev["new_m_bits"] == 2 * m0
    assert ev["fill"] >= 0.5
    after = idx.bloom_saturation()
    assert after["m_bits"] == 2 * m0 and after["fill"] < ev["fill"]
    # verdicts unchanged: every indexed key still members() true
    allk = idx.relation().select("k")
    assert idx.attach_bitset(allk).where(~idx.member("k")).count() == 0
    # and no second fire below the threshold at the new size
    idx.append(_keys(spark, 300, salt="rb5"), batch_id=5)
    assert len(idx.bloom_rebuilds) == 1
    # novel keys keep ORing into the NEW epoch
    allk = idx.relation().select("k")
    assert idx.attach_bitset(allk).where(~idx.member("k")).count() == 0


def test_generational_auto_rebuild_honors_bloom_max_bits_cap(spark, caplog):
    """ADVICE r14 (medium): the doubling policy must honor the same
    bloom_max_bits cap both constructors apply at initial sizing —
    the cap bounds driver/broadcast state and every probe's crossJoin
    payload. Doubling clamps to the cap; once AT the cap the policy
    warns ONCE, disarms further measurements, and never rebuilds
    again — membership verdicts stay correct (prescreen merely sheds
    fewer rows)."""
    import logging
    import math

    idx = _gidx(
        spark, "gidx_rbcap", expected_keys=200, budget_rows=100_000,
        auto_rebuild_fill=0.5, bloom_max_bits=8192,
    )
    assert idx.bloom_max_bits == 8192 and idx.m_bits == 4096
    # first crossing: next power of two (8192) == cap → clamp is a
    # no-op here, rebuild lands exactly at the cap
    for b in range(5):
        idx.append(_keys(spark, 300, salt=f"cap{b}"), batch_id=b)
    assert len(idx.bloom_rebuilds) == 1
    assert idx.bloom_rebuilds[0]["new_m_bits"] == 8192 == idx.m_bits
    # second crossing (≥ 1900 keys on 8192 bits): doubling would want
    # 16384 — past the cap → no rebuild, one warning, policy disarmed
    with caplog.at_level(logging.WARNING):
        for b in range(5, 9):
            idx.append(_keys(spark, 300, salt=f"cap{b}"), batch_id=b)
    assert len(idx.bloom_rebuilds) == 1  # never fired again
    assert idx.m_bits == 8192
    assert idx._bloom_cap_warned is True
    assert idx._next_fill_check == math.inf  # measurement disarmed
    warns = [r for r in caplog.records
             if "bloom_max_bits" in r.getMessage()]
    assert len(warns) == 1, [r.getMessage() for r in warns]
    # verdicts unchanged at the cap: every indexed key members() true
    allk = idx.relation().select("k")
    assert idx.attach_bitset(allk).where(~idx.member("k")).count() == 0


def test_generational_attach_restores_bloom_max_bits(spark):
    """attach() must carry the cap too (ADVICE r14) — a restarted
    ingest keeps honoring it."""
    from datafusion_functions_variant_spark.streaming import history as H

    idx = _gidx(spark, "gidx_capattach", expected_keys=200,
                budget_rows=100_000, bloom_max_bits=8192)
    idx.append(_keys(spark, 50, salt="ca0"), batch_id=0)
    re_idx = H.GenerationalHistoryIndex.attach(
        spark, "gidx_capattach", "k",
        path=_idx_dir(spark, "gidx_capattach"),
        expected_keys=200, bloom_max_bits=8192,
        auto_rebuild_fill=0.5,
    )
    assert re_idx.bloom_max_bits == 8192
    assert re_idx._bloom_cap_warned is False


def test_generational_auto_rebuild_threshold_validated(spark):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="auto_rebuild_fill"):
        _gidx(spark, "gidx_badfill", auto_rebuild_fill=1.5)


def test_generational_attach_carries_auto_rebuild_policy(spark):
    """attach() restores the policy too — a restarted ingest keeps
    resizing when it outgrows the bitset."""
    from datafusion_functions_variant_spark.streaming import history as H

    idx = _gidx(spark, "gidx_rbattach", expected_keys=200,
                budget_rows=100_000)
    idx.append(_keys(spark, 400, salt="ra0"), batch_id=0)
    re_idx = H.GenerationalHistoryIndex.attach(
        spark, "gidx_rbattach", "k", path=_idx_dir(spark, "gidx_rbattach"),
        expected_keys=200, auto_rebuild_fill=0.5,
    )
    assert re_idx.auto_rebuild_fill == 0.5 and re_idx.bloom_rebuilds == []
    for b in range(1, 5):
        re_idx.append(_keys(spark, 300, salt=f"ra{b}"), batch_id=b)
    assert len(re_idx.bloom_rebuilds) == 1
    allk = re_idx.relation().select("k")
    assert re_idx.attach_bitset(allk).where(~re_idx.member("k")).count() == 0


def test_shredded_key_probe_pushes_filters_and_prunes_payload(spark, tmp_path):
    """Round-14 capability pin (VERDICT r13 optional #7): when the
    feed is LANDED shredded (sources/shredded.py: $.body.text → typed
    body_text column at write time), the probe's key derivation reads
    a plain parquet column — the guard filter reaches the scan as a
    parquet PushedFilter on the SHREDDED column, the residual (the
    envelope bytes) is column-pruned out of the read entirely, and the
    derived key feeds the same Exchange-free chained generation probe
    as a precomputed hash. This is the restart/replay scale story: no
    parse_json anywhere in the plan."""
    from datafusion_functions_variant_spark.operators.dedup import (
        normalize_text,
    )
    from datafusion_functions_variant_spark.sources.shredded import (
        shredded_col,
    )
    from datafusion_functions_variant_spark.streaming import core as score

    split_dir = str(tmp_path / "shred_split")
    spec = score.write_documents_shredded_split(
        spark, "/root/testdata/sf0.001", split_dir
    )
    assert spec == {"body_text": ("$.body.text", "string")}

    idx = _gidx(spark, "gidx_skey")
    for b in range(3):
        idx.append(_keys(spark, 80, salt=f"s{b}"), batch_id=b)

    batch = spark.read.schema(
        "doc_id long, body_text string, _residual string"
    ).parquet(split_dir + "/batch0.parquet")
    key_col = shredded_col(spec, "$.body.text", "string")
    probe = batch.where(key_col.isNotNull()).select(
        "doc_id", F.md5(normalize_text(key_col)).alias("k")
    )
    flagged = idx.flag_members(probe, "k", "hit")
    plan = flagged._jdf.queryExecution().executedPlan().toString()
    # 1. the guard filter on the shredded key column reaches parquet
    assert "PushedFilters: [IsNotNull(body_text)]" in plan, plan
    # 2. the envelope bytes are never read: the scan's ReadSchema
    #    carries only doc_id + body_text, no _residual
    import re as _re

    read_schemas = _re.findall(r"ReadSchema: (\S+)", plan)
    assert read_schemas and all("_residual" not in rs for rs in read_schemas)
    assert any("body_text" in rs for rs in read_schemas)
    # 3. no codec walk anywhere — the parse happened once at ingest
    assert "parse_json" not in plan and "parseJson" not in plan
    # 4. the chain stays Exchange-free on every generation side
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 1, f"probe must shuffle once, saw {n_exchanges}"
    assert "BroadcastExchange" not in plan
    n_nonempty = sum(1 for r in idx._gen_rows if r > 0)
    assert plan.count("SelectedBucketsCount") >= n_nonempty >= 2, plan
    # 5. and the shredded column really carries the text: keys derived
    #    from it match the JSON-split twin's derivation
    jsplit = str(tmp_path / "json_split")
    score.write_documents_json_split(spark, "/root/testdata/sf0.001", jsplit)
    jbatch = spark.read.schema("doc_id long, payload string").parquet(
        jsplit + "/batch0.parquet"
    )
    jkeys = jbatch.select(
        "doc_id",
        F.md5(
            normalize_text(
                F.variant_get(F.parse_json("payload"), "$.body.text", "string")
            )
        ).alias("k"),
    )
    skeys = batch.select("doc_id", F.md5(normalize_text(key_col)).alias("k"))
    assert skeys.exceptAll(jkeys).count() == 0
    assert jkeys.exceptAll(skeys).count() == 0


def test_shredded_stream_microbatch_reads_only_shredded_columns(
    spark, tmp_path
):
    """Round-14 streaming-side twin of the pushdown pin: a
    FileStreamSource materializes every DECLARED column into the
    micro-batch (the foreachBatch frame is a Scan ExistingRDD —
    post-hoc pruning is impossible), so the shredded consumer declares
    (doc_id, body_text) alone and the source's parquet read skips the
    payload-sized residual entirely. Pin the REAL micro-batch plans:
    two columns, no _residual, no parse anywhere."""
    from datafusion_functions_variant_spark.operators.dedup import (
        normalize_text,
    )
    from datafusion_functions_variant_spark.sources.shredded import (
        shredded_col,
    )
    from datafusion_functions_variant_spark.streaming import core as score

    split_dir = str(tmp_path / "shred_split_mb")
    spec = score.write_documents_shredded_split(
        spark, "/root/testdata/sf0.001", split_dir
    )
    plans = []
    key_col = shredded_col(spec, "$.body.text", "string")

    def capture(batch_df, batch_id):
        probe = batch_df.where(key_col.isNotNull()).select(
            "doc_id", F.md5(normalize_text(key_col)).alias("h")
        )
        plans.append(probe._jdf.queryExecution().executedPlan().toString())

    q = (
        score.documents_shredded_split_stream(spark, split_dir)
        .writeStream.foreachBatch(capture)
        .option("checkpointLocation", str(tmp_path / "ckpt_mb"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(plans) == 3  # one per landed batch file
    for p in plans:
        assert "_residual" not in p, p
        assert "parse_json" not in p and "parseJson" not in p, p
        assert "body_text" in p


def test_auto_rebuild_rearm_when_measured_fill_below_threshold(
    spark, monkeypatch
):
    """The analytic gate OVER-estimates fill (it ignores hash
    collisions), so a crossing estimate with a measured fill still
    under threshold must NOT rebuild — it re-arms the measurement at
    +10% index growth so a hovering estimate cannot re-measure every
    batch (the steady state stays zero-job)."""
    from datafusion_functions_variant_spark.streaming.history import (
        GenerationalHistoryIndex,
    )

    idx = _gidx(spark, "gidx_rearm", expected_keys=200, budget_rows=100_000,
                auto_rebuild_fill=0.5)
    calls = []
    real_sat = GenerationalHistoryIndex.bloom_saturation

    def low_sat(self):
        calls.append(1)
        s = real_sat(self)
        return {**s, "fill": 0.1}  # pretend collisions ran far below

    monkeypatch.setattr(GenerationalHistoryIndex, "bloom_saturation", low_sat)
    for b in range(5):  # estimate crosses 0.5 around 1200-1500 keys
        idx.append(_keys(spark, 300, salt=f"ra{b}"), batch_id=b)
    assert idx.bloom_rebuilds == []  # never fired
    assert len(calls) >= 1  # measured at least once...
    assert idx._next_fill_check > 1500  # ...and re-armed past current n
    n_calls = len(calls)
    # appends below the re-arm point skip the measurement entirely
    idx.append(_keys(spark, 10, salt="ra5"), batch_id=5)
    assert len(calls) == n_calls


def test_generational_degenerate_arms(spark):
    """Sweep the small guard arms: no-bloom configuration (m under 2
    bits/key → prescreen off, rebuild a no-op), double-create without
    overwrite refused, and the attach() crash arms (__old restore,
    vanished generation dir)."""
    import os as _os
    import shutil as _sh

    import pytest as _pytest

    from datafusion_functions_variant_spark.streaming.history import (
        GenerationalHistoryIndex,
    )

    # no-bloom arm: absurd expected_keys cap m below 2 bits/key
    idx = _gidx(spark, "gidx_nobloom", expected_keys=10**12)
    assert idx.bitset is None and idx.m_bits is None
    idx.append(_keys(spark, 30, salt="nb"), batch_id=0)
    idx.rebuild_bitset()  # no-op return, not a crash
    assert idx.bitset is None
    # member() degrades to literal True — probes just skip the prescreen
    assert idx.attach_bitset(idx.relation()).where(~idx.member("k")).count() == 0

    # double-create without overwrite refused at the call site
    with _pytest.raises(ValueError, match="already holds index"):
        GenerationalHistoryIndex(
            spark, "gidx_nobloom", "k",
            path=_idx_dir(spark, "gidx_nobloom"), expected_keys=100,
        )

    # attach crash arms: g0 left at __old (rename-aside crash window),
    # g1 vanished entirely (crash between a promote's empty-rewrite
    # steps) — attach restores the one and re-creates the other
    p = _idx_dir(spark, "gidx_nobloom")
    _os.replace(_os.path.join(p, "g0"), _os.path.join(p, "g0__old"))
    _sh.rmtree(_os.path.join(p, "g1"), ignore_errors=True)
    re_idx = GenerationalHistoryIndex.attach(
        spark, "gidx_nobloom", "k", path=p, expected_keys=10**12,
    )
    assert re_idx.bitset is None  # no-bloom attach arm
    rels = re_idx.relations()
    assert sum(r.count() for r in rels) == 30  # g0 restored, g1 empty


def test_autogrow_capstone_fires_rebuild_and_matches_tiered(spark):
    """Round-15 capability pin (VERDICT r14 "next" #4): the
    ``auto_rebuild_fill`` policy exercised END-TO-END by a registry
    query. The capstone builds the tiered index at the 4096-bit Bloom
    floor (expected_keys=64 — an unknowable-cardinality feed) and
    drives the full 3-batch corpus through it: the fill crosses 0.18
    mid-ingest, the gate cascade fires, and the ``bloom_rebuilds``
    audit trail records the epoch resize the oracle cannot see.
    Verdicts must equal the strictly-earlier-batch spec regardless."""
    from datafusion_functions_variant_spark.queries.streaming_queries import (
        _run_autogrow_capstone,
    )
    from .conftest import SF_DIR

    verdicts, idx = _run_autogrow_capstone(spark, SF_DIR)
    rows = verdicts.collect()
    # the resize actually fired, from the floor, power-of-two, with
    # the measured fill in-trail
    assert len(idx.bloom_rebuilds) >= 1, idx.bloom_rebuilds
    ev = idx.bloom_rebuilds[0]
    assert ev["old_m_bits"] == 4096 and ev["new_m_bits"] == 8192
    assert ev["fill"] >= 0.18
    assert idx.m_bits == idx.bloom_rebuilds[-1]["new_m_bits"]
    # verdict parity with the oracle spec, computed engine-side
    docs = (
        spark.read.parquet(SF_DIR + "/documents.parquet")
        .select(
            "doc_id",
            F.md5(
                F.regexp_replace(F.trim(F.lower("text")), r"\s+", " ")
            ).alias("h"),
            (F.col("doc_id") % 3).alias("b"),
        )
    )
    firstb = docs.groupBy("h").agg(F.min("b").alias("fb"))
    expected = {
        r["doc_id"]: r["is_dup"]
        for r in docs.join(firstb, "h")
        .select(
            "doc_id",
            (F.col("b") > F.col("fb")).cast("long").alias("is_dup"),
        )
        .collect()
    }
    got = {r["doc_id"]: r["is_dup"] for r in rows}
    assert got == expected
    # and the new epoch still returns zero false NEGATIVES: every
    # indexed key members() true after the in-flight resize
    allk = idx.relation().select(F.col("h").alias("k"))
    assert idx.attach_bitset(allk).where(~idx.member("k")).count() == 0
