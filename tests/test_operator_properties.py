"""Property tests for hand-built operators against brute-force naive
formulations on seeded random data — covering edge regions the
synthetic tables can't guarantee (ties straddling range-bucket
boundaries, empty forward-match sets, exact tolerance boundaries).
"""

from __future__ import annotations

import random

import pytest

from pyspark.sql import Window
from pyspark.sql import functions as F


def test_global_rank_matches_naive_with_heavy_ties(spark):
    from datafusion_functions_variant_spark.operators.ranking import global_rank

    rng = random.Random(7)
    # 3 distinct values over 400 rows → every bucket boundary lands on
    # a tie run; ranks must still be exactly the naive window's
    rows = [(i, float(rng.choice([1.0, 2.0, 3.0]))) for i in range(400)]
    df = spark.createDataFrame(rows, ["id", "v"]).repartition(8)

    for ascending in (False, True):
        got = {
            (r.id, r.rank)
            for r in global_rank(
                df, "v", "id", ascending=ascending, buckets=16
            ).collect()
        }
        order = [F.asc("v") if ascending else F.desc("v"), F.asc("id")]
        naive = {
            (r.id, r.rank)
            for r in df.withColumn(
                "rank",
                F.row_number().over(Window.orderBy(*order)).cast("bigint"),
            ).collect()
        }
        assert got == naive


def test_global_rank_null_keys_match_spark_window_null_order(spark):
    """NULL sort keys must rank exactly where Spark's naive window puts
    them (ASC → NULLS FIRST, DESC → NULLS LAST), never interleaved with
    real top values. (Regression: nulls fell into bucket 0.)"""
    from datafusion_functions_variant_spark.operators.ranking import global_rank

    rng = random.Random(13)
    rows = [
        (i, None if i % 7 == 0 else float(rng.choice([1.0, 2.0, 3.0])))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "id int, v double").repartition(8)

    for ascending in (False, True):
        got = {
            (r.id, r.rank)
            for r in global_rank(
                df, "v", "id", ascending=ascending, buckets=16
            ).collect()
        }
        order = [F.asc("v") if ascending else F.desc("v"), F.asc("id")]
        naive = {
            (r.id, r.rank)
            for r in df.withColumn(
                "rank",
                F.row_number().over(Window.orderBy(*order)).cast("bigint"),
            ).collect()
        }
        assert got == naive


def test_asof_payload_null_fields_not_mixed_across_rows(spark):
    """A NULL payload field in the matched right row must stay NULL —
    not be back/forward-filled from a DIFFERENT right row. (Regression:
    per-column last/first(ignorenulls) carries mixed rows.)"""
    from datafusion_functions_variant_spark.operators.joins import (
        asof_join_backward,
        asof_join_forward,
    )

    ldf = spark.createDataFrame([(1, 1, 25)], ["lid", "k", "t"]).select(
        "lid", "k", F.timestamp_seconds("t").alias("lt")
    )
    rdf = spark.createDataFrame(
        [(1, 10, 1, "x"), (1, 20, None, "y"), (1, 30, None, "z"), (1, 40, 9, "w")],
        "k int, t int, a int, b string",
    ).select("k", F.timestamp_seconds("t").alias("rt"), "a", "b")

    back = asof_join_backward(ldf, rdf, "k", "k", "lt", "rt", ["a", "b"]).collect()
    assert len(back) == 1
    # matched row is t=20 → (NULL, 'y'); a=1 from t=10 must NOT leak in
    assert (back[0].a, back[0].b) == (None, "y")

    fwd = asof_join_forward(ldf, rdf, "k", "k", "lt", "rt", ["a", "b"]).collect()
    assert len(fwd) == 1
    # matched row is t=30 → (NULL, 'z'); a=9 from t=40 must NOT leak in
    assert (fwd[0].a, fwd[0].b) == (None, "z")
    assert fwd[0].matched_time.second == 30


def test_asof_forward_matches_brute_force(spark):
    from datafusion_functions_variant_spark.operators.joins import asof_join_forward

    rng = random.Random(11)
    lefts = [(i, i % 5, rng.randint(0, 1000)) for i in range(150)]
    rights = []
    seen = set()
    for j in range(200):
        k, t = rng.randint(0, 5), rng.randint(0, 1000)  # key 5: no lefts
        if (k, t) not in seen:  # operator requires unique (key, time)
            seen.add((k, t))
            rights.append((k, t, j))
    tol_us = 100 * 1_000_000

    ldf = spark.createDataFrame(lefts, ["lid", "k", "t"]).select(
        "lid", "k", F.timestamp_seconds("t").alias("lt")
    )
    rdf = spark.createDataFrame(rights, ["k", "t", "payload"]).select(
        "k", F.timestamp_seconds("t").alias("rt"), "payload"
    )
    got = {
        (r.lid, r.payload)
        for r in asof_join_forward(
            ldf, rdf, "k", "k", "lt", "rt", ["payload"], tolerance_us=tol_us
        ).collect()
    }

    rmap: dict[int, list[tuple[int, int]]] = {}
    for k, t, j in rights:
        rmap.setdefault(k, []).append((t, j))
    expected = set()
    for lid, k, t in lefts:
        cands = [(rt, j) for rt, j in rmap.get(k, []) if rt >= t]
        if cands and (min(cands)[0] - t) * 1_000_000 <= tol_us:
            expected.add((lid, min(cands)[1]))
        else:
            expected.add((lid, None))
    assert got == expected


def test_token_and_quality_stats_match_python_reference(spark):
    """Property: token counts and quality ratios computed by the JVM
    expression pipeline equal a plain-Python reference on randomized
    inputs (whitespace runs, empty strings, unicode)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from datafusion_functions_variant_spark.operators import text

    alphabet = st.sampled_from(list("abc xyz  the of\tqu3 "))
    doc = st.text(alphabet=alphabet, min_size=0, max_size=60)

    @settings(max_examples=15, deadline=None)
    @given(st.lists(doc, min_size=1, max_size=8))
    def check(docs):
        df = spark.createDataFrame(
            [(i, d) for i, d in enumerate(docs)], "doc_id long, text string"
        )
        got = {
            r.doc_id: r
            for r in text.quality_stats(df, "text", "doc_id").collect()
        }
        for i, d in enumerate(docs):
            words = [w for w in d.split(" ") if w]
            assert got[i].n_words == len(words)
            assert got[i].n_chars_calc == len(d)
            if words:
                stops = sum(1 for w in words if w in text.STOPWORDS)
                assert abs(got[i].stopword_ratio - stops / len(words)) < 1e-9

    check()


def test_lsh_overflow_bucket_emits_star_pairs_not_all_pairs(spark):
    """A 10k-identical-doc boilerplate cluster lands in ONE band bucket
    per band. Without the cap that is ~50M pairs expanded in one task
    (the 100 TB OOM corner); with it, each overflow bucket emits n-1
    star pairs against the min-id keeper — bounded output, same
    connected component."""
    from datafusion_functions_variant_spark.operators import dedup

    n = 10_000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate license header text").alias("text"),
    )
    sigs = dedup.minhash_signatures(docs, "text", "doc_id")
    pairs = dedup.lsh_candidate_pairs(
        sigs, "doc_id", num_hashes=8, bands=2, max_bucket=256
    )
    rows = pairs.collect()
    # star expansion: one pair per non-keeper doc, seen in both bands
    assert len(rows) == n - 1
    assert all(r.doc_a == 0 and r.n_shared_bands == 2 for r in rows)
    assert {r.doc_b for r in rows} == set(range(1, n))

    stats = dedup.lsh_bucket_stats(
        sigs, "doc_id", num_hashes=8, bands=2, max_bucket=256
    ).collect()[0]
    assert stats.n_buckets == 2  # one bucket per band
    assert stats.n_overflow_buckets == 2
    assert stats.max_bucket_size == n


def _near_dup_case(spark, op):
    """One small corpus with real near-dup clusters per near-dup
    operator: ``(pairs, reference)`` where ``pairs(max_bucket,
    observation=None)`` runs the operator and ``reference(max_bucket)``
    is the one-row bucket audit computed apart from it — the standalone
    ``lsh_bucket_stats`` for MinHash, a count-only groupBy over the
    same chunk/band rows for SimHash and dHash."""
    from datafusion_functions_variant_spark.operators import dedup, phash

    def audit(sizes, cap):
        return sizes.agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum((F.col("n") > 1).cast("long")).alias("n_colliding_buckets"),
            F.sum((F.col("n") > cap).cast("long")).alias("n_overflow_buckets"),
            F.max("n").alias("max_bucket_size"),
        )

    def bucket_sizes(sigs, buckets):
        return (
            sigs.select(F.explode(F.array(*buckets)).alias("b"))
            .groupBy("b")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    if op == "minhash":
        # 10 clusters of 4 near-identical docs
        base = "abcdefghijklmnopqrstuvwxyz0123456789"
        rows = [(i, base + str(i // 4) * 3) for i in range(40)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        sigs = dedup.minhash_signatures(docs, "text", "doc_id")
        return (
            lambda cap, observation=None: dedup.lsh_candidate_pairs(
                sigs, "doc_id", num_hashes=8, bands=2, max_bucket=cap,
                observation=observation,
            ),
            lambda cap: dedup.lsh_bucket_stats(
                sigs, "doc_id", num_hashes=8, bands=2, max_bucket=cap
            ),
        )
    if op == "simhash":
        # clusters of 3 share most words, with small perturbations
        vocab = [f"w{i}" for i in range(30)]
        rows = []
        for i in range(60):
            words = [vocab[(i // 3 * 7 + j) % 30] for j in range(12)]
            if i % 3:
                words[i % 12] = vocab[(i * 13) % 30]
            rows.append((i, " ".join(words)))
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        sigs = dedup.simhash_signatures(docs, "text", "doc_id")
        bounds = [0, 12, 24, 36, 48, 60]  # max_hamming 4 → 5 chunks
        chunks = [
            F.struct(
                F.lit(c).alias("c"),
                F.shiftright("simhash", lo).bitwiseAND((1 << (hi - lo)) - 1).alias("v"),
            )
            for c, (lo, hi) in enumerate(zip(bounds, bounds[1:]))
        ]
        return (
            lambda cap, observation=None: dedup.simhash_near_pairs(
                sigs, "doc_id", max_hamming=4, max_bucket=cap,
                observation=observation,
            ),
            lambda cap: audit(bucket_sizes(sigs, chunks), cap),
        )
    import pandas as pd

    from datafusion_functions_variant_spark.operators import png as pngmod

    # 8 groups of 5 brightness-shifted copies (identical dHash)
    payloads = []
    for g in range(8):
        pix = bytes(((3 + g) * x + (5 + 2 * g) * y) % 90 for y in range(16) for x in range(18))
        for v in range(5):
            shifted = bytes(p + 2 * v for p in pix)
            payloads.append((5 * g + v, pngmod.encode_png(18, 16, shifted, 1, v % 5)))
    assets = spark.createDataFrame(
        pd.DataFrame(payloads, columns=["asset_id", "payload"])
    )
    sigs = phash.dhash_bands(assets, "asset_id", "payload").localCheckpoint()
    bands = [
        F.struct(F.lit(k).alias("k"), F.col(f"band{k}").alias("v"))
        for k in range(phash.N_BANDS)
    ]
    return (
        lambda cap, observation=None: phash.neardup_pairs(
            sigs, "asset_id", max_hamming=6, max_bucket=cap,
            observation=observation,
        ),
        lambda cap: audit(bucket_sizes(sigs, bands), cap),
    )


@pytest.mark.parametrize("op", ["minhash", "simhash", "dhash"])
def test_lsh_observation_matches_standalone_bucket_stats(spark, op):
    """The fused observe() audit riding the pair-generation pass must
    report exactly what a standalone count-only audit of the same
    buckets reports, with and without overflow buckets, and attaching
    it must not change the pairs themselves (the stats are free
    monitoring, not a second job)."""
    from pyspark.sql import Observation

    from datafusion_functions_variant_spark.plans.observe import observed_metrics

    pairs, reference = _near_dup_case(spark, op)
    for cap in (256, 3):
        obs = Observation()
        got_pairs = sorted(map(tuple, pairs(cap, obs).collect()))
        fused = observed_metrics(obs)
        assert got_pairs == sorted(map(tuple, pairs(cap).collect()))
        want = reference(cap).collect()[0].asDict()
        assert {k: fused[k] for k in want} == want, (cap, fused, want)
        assert (want["n_overflow_buckets"] > 0) == (cap == 3), want


@pytest.mark.parametrize("op", ["minhash", "simhash", "dhash"])
def test_lsh_small_buckets_unaffected_by_cap(spark, op):
    """Pairs from buckets at or under the cap are identical with and
    without the overflow guard (the cap only reroutes oversized
    buckets). The tight cap is the deepest bucket itself, so the
    ``n <= max_bucket`` boundary is exercised."""
    pairs, reference = _near_dup_case(spark, op)
    deepest = reference(10**9).collect()[0].max_bucket_size
    assert sorted(map(tuple, pairs(deepest).collect())) == sorted(
        map(tuple, pairs(10**9).collect())
    )


def test_simhash_overflow_bucket_emits_star_pairs(spark):
    """Same overflow guard for the SimHash chunk buckets: identical
    docs share all chunks; star pairs (keeper=min id) at Hamming 0."""
    from datafusion_functions_variant_spark.operators import dedup

    n = 2_000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("identical words repeated across every document").alias("text"),
    )
    sigs = dedup.simhash_signatures(docs, "text", "doc_id")
    pairs = dedup.simhash_near_pairs(sigs, "doc_id", max_hamming=4, max_bucket=64)
    rows = pairs.collect()
    assert len(rows) == n - 1
    assert all(r.doc_a == 0 and r.hamming == 0 for r in rows)


def test_simhash_default_args_exact_past_256_deep_bucket(spark):
    """Safe-by-default pin (r9 verdict #5): with DEFAULT args a chunk
    bucket deeper than the old literal-256 cap must still produce the
    EXACT all-pairs answer — max_bucket auto-sizes from the corpus
    count, so no silent star routing (the r8 sf0.1 incident shape)."""
    from datafusion_functions_variant_spark.operators import dedup

    n = 300  # one bucket of depth 300 > 256
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("identical words repeated across every document").alias("text"),
    )
    sigs = dedup.simhash_signatures(docs, "text", "doc_id")
    pairs = dedup.simhash_near_pairs(sigs, "doc_id", max_hamming=4)
    rows = pairs.collect()
    assert len(rows) == n * (n - 1) // 2  # exact, not n-1 star pairs
    assert all(r.hamming == 0 for r in rows)


def test_minhash_xxhash_family_recalls_exact_dup_pairs(spark):
    """Recall parity pin for the xxhash64 fast path (no SQL oracle can
    check it): identical gram sets give identical signatures under ANY
    gram hash, so every within-cluster pair of exact duplicates MUST
    collide in all bands — the candidate sets of the md5 and xxhash64
    families therefore agree exactly on exact-duplicate clusters."""
    from datafusion_functions_variant_spark.operators import dedup

    rng = random.Random(7)
    alphabet = "abcdefghijklmnopqrstuvwxyz 0123456789"
    rows, i = [], 0
    for cluster in range(6):
        text = "".join(rng.choice(alphabet) for _ in range(120))
        for _ in range(cluster % 3 + 2):  # clusters of 2..4 copies
            rows.append((i, text))
            i += 1
    for _ in range(20):  # distinct background docs
        rows.append((i, "".join(rng.choice(alphabet) for _ in range(120))))
        i += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def full_band_pairs(hash_fn):
        sigs = dedup.minhash_signatures(
            docs, "text", "doc_id", n=8, num_hashes=8, hash_fn=hash_fn
        )
        pairs = dedup.lsh_candidate_pairs(sigs, "doc_id", num_hashes=8, bands=2)
        return {
            (r.doc_a, r.doc_b)
            for r in pairs.where(F.col("n_shared_bands") == 2).collect()
        }

    by_text: dict[str, list[int]] = {}
    for doc_id, text in rows:
        by_text.setdefault(text, []).append(doc_id)
    expected = {
        (a, b)
        for ids in by_text.values()
        for a in ids
        for b in ids
        if a < b
    }
    md5_pairs = full_band_pairs("md5")
    xx_pairs = full_band_pairs("xxhash64")
    assert expected <= md5_pairs
    assert expected <= xx_pairs


def test_min_label_components_matches_union_find(spark):
    """graph.min_label_components vs a plain-Python union-find on
    seeded random graphs — including long chains (diameter stress for
    the iteration bound) and isolated pairs."""
    from datafusion_functions_variant_spark.operators import graph

    rng = random.Random(11)
    edges = [(i, i + 1) for i in range(0, 40)]  # one 41-vertex chain
    verts = list(range(100, 160))
    edges += [
        (min(a, b), max(a, b))
        for a, b in (rng.sample(verts, 2) for _ in range(50))
        if a != b
    ]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    expected = {v: find(v) for v in parent}

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.v: r.component
        for r in graph.min_label_components(df, max_iters=12).collect()
    }
    assert got == expected


def test_triangle_counts_match_brute_force(spark):
    """graph.triangle_counts vs itertools brute force on a seeded
    random graph with a hub vertex (orientation-skew stress) plus a
    clique (dense-triangle stress)."""
    import itertools

    from datafusion_functions_variant_spark.operators import graph

    rng = random.Random(5)
    edges = set()
    for a, b in ((rng.randrange(30), rng.randrange(30)) for _ in range(80)):
        if a != b:
            edges.add((min(a, b), max(a, b)))
    edges |= {(0, x) for x in range(1, 20)}          # hub at 0
    edges |= {(min(a, b), max(a, b))                 # 5-clique at 40..44
              for a, b in itertools.combinations(range(40, 45), 2)}

    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    expected = {}
    for x, y, z in itertools.combinations(sorted(adj), 3):
        if y in adj[x] and z in adj[x] and z in adj[y]:
            for v in (x, y, z):
                expected[v] = expected.get(v, 0) + 1

    df = spark.createDataFrame(sorted(edges), "src long, dst long")
    got = {r.v: r.n_triangles for r in graph.triangle_counts(df).collect()}
    assert got == expected


def test_interval_overlap_join_matches_brute_force(spark):
    """interval_overlap_join vs brute force on seeded random intervals
    — including pairs sharing MANY buckets (the first-shared-bucket
    dedup must still emit exactly once), touching endpoints (inclusive
    bounds), and disjoint keys."""
    import datetime

    from datafusion_functions_variant_spark.operators import joins

    rng = random.Random(3)
    base = datetime.datetime(2024, 1, 1)

    def t(minutes):
        return base + datetime.timedelta(minutes=minutes)

    lrows, rrows = [], []
    for i in range(60):
        k = rng.randrange(4)
        s = rng.randrange(0, 600)
        lrows.append((i, k, t(s), t(s + rng.randrange(1, 240))))
    for j in range(40):
        k = rng.randrange(4)
        s = rng.randrange(0, 600)
        rrows.append((j, k, t(s), t(s + rng.randrange(1, 240))))
    lrows.append((98, 0, t(0), t(1000)))   # spans the whole timeline
    rrows.append((99, 0, t(500), t(500)))  # zero-length instant

    left = spark.createDataFrame(
        lrows, "lid long, k long, s_start timestamp, s_end timestamp"
    )
    right = spark.createDataFrame(
        rrows, "rid long, k long, i_start timestamp, i_end timestamp"
    )
    got = {
        (r.lid, r.rid, r.overlap_us)
        for r in joins.interval_overlap_join(
            left, right, key="k",
            l_start="s_start", l_end="s_end",
            r_start="i_start", r_end="i_end",
            bucket_us=30 * 60 * 1_000_000,
        ).collect()
    }
    expected = set()
    for lid, lk, ls, le in lrows:
        for rid, rk, rs, re in rrows:
            if lk == rk and ls <= re and rs <= le:
                ov = int((min(le, re) - max(ls, rs)).total_seconds() * 1_000_000)
                expected.add((lid, rid, ov))
    assert got == expected


def test_asof_nearest_matches_brute_force(spark):
    """asof_join_nearest vs brute force: ties at equal distance go
    backward; keys with only-later or only-earlier matches fall back
    to the available side; keys with no right rows stay NULL."""
    import datetime

    from datafusion_functions_variant_spark.operators import joins

    base = datetime.datetime(2024, 1, 1)

    def t(days):
        return base + datetime.timedelta(days=days)

    rng = random.Random(9)
    lrows = [(i, rng.randrange(5), t(rng.randrange(30))) for i in range(50)]
    lrows.append((97, 4, t(10)))                      # key with no right rows
    rrows = [
        (100 + j, rng.randrange(4), t(rng.randrange(30))) for j in range(25)
    ]
    # force an exact-tie: left at day 10 key 3, rights at days 8 and 12
    lrows.append((98, 3, t(10)))
    rrows += [(201, 3, t(8)), (202, 3, t(12))]
    # dedupe rights per (key, time) — operator contract
    seen, rdedup = set(), []
    for rid, k, rt in rrows:
        if (k, rt) not in seen:
            seen.add((k, rt))
            rdedup.append((rid, k, rt))

    left = spark.createDataFrame(lrows, "lid long, k long, lt timestamp")
    right = spark.createDataFrame(rdedup, "rid long, k long, rt timestamp")
    got = {
        r.lid: r.rid
        for r in joins.asof_join_nearest(
            left, right, left_on="k", right_on="k",
            left_time="lt", right_time="rt", payload_cols=["rid"],
        ).collect()
    }
    for lid, k, lt in lrows:
        cands = [(rid, rt) for rid, rk, rt in rdedup if rk == k]
        if not cands:
            assert got[lid] is None
            continue
        best = min(
            cands,
            key=lambda c: (abs((c[1] - lt).total_seconds()), c[1] > lt),
        )
        assert got[lid] == best[0], (lid, k, lt, cands)


def _bpe_reference(words: dict[str, int], rounds: int):
    """Plain-Python classic BPE (get_stats + greedy leftmost merge),
    the semantics the distributed operator must reproduce."""
    vocab = {w: [c for c in w] for w in words}
    merges = []
    for _ in range(rounds):
        stats: dict[tuple[str, str], int] = {}
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                stats[(a, b)] = stats.get((a, b), 0) + words[w]
        if not stats:
            break
        # max count, ties broken by lexicographic pair
        best = min(stats.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append((best[0], best[1], stats[best]))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == best[0]
                    and syms[i + 1] == best[1]
                ):
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges, vocab


def test_bpe_rounds_match_reference_incl_overlapping_runs(spark):
    """The gaps-and-islands parity merge must equal classic greedy
    leftmost BPE — including runs of an identical pair ('aaaa' with
    pair a+a must become [aa, aa], never [aa, a, a] or [a, aa, a]),
    and merged symbols pairing with neighbors in later rounds."""
    from datafusion_functions_variant_spark.operators.text import bpe_merge_rounds

    words = {
        "aaaa": 50,   # island run: 3 overlapping (a,a) candidates
        "aaab": 30,   # run ending in a different symbol
        "banana": 20, # alternating pair, non-adjacent candidates
        "abab": 25,
        "bb": 10,
        "a": 5,       # single-symbol word: no pairs
    }
    vocab = spark.createDataFrame(list(words.items()), ["word", "n"])
    merges_df, syms_df = bpe_merge_rounds(vocab, rounds=4)

    ref_merges, ref_vocab = _bpe_reference(dict(words), 4)
    got_merges = [
        (r.left_sym, r.right_sym, r.total)
        for r in merges_df.orderBy("step").collect()
    ]
    assert got_merges == ref_merges

    rows = syms_df.orderBy("word", "pos").collect()
    got_vocab: dict[str, list[str]] = {}
    for r in rows:
        got_vocab.setdefault(r.word, []).append(r.sym)
    assert got_vocab == ref_vocab


def test_chunk_dedup_reconstruction_invariants(spark):
    """Chunk dedup must (1) keep every first-occurrence chunk, (2)
    reconstruct doc 0's text verbatim (nothing precedes it), and (3)
    reconstruct an exact-duplicate doc as empty."""
    from datafusion_functions_variant_spark.queries import load_all_queries

    reg = load_all_queries()
    import hashlib
    import duckdb

    out = {
        r.doc_id: r
        for r in reg["dedup_chunk_exact"].build(spark, "/root/testdata/sf0.001").collect()
    }
    docs = duckdb.sql(
        "SELECT doc_id, text FROM '/root/testdata/sf0.001/documents.parquet' ORDER BY doc_id"
    ).fetchall()
    id0, text0 = docs[0]
    assert out[id0].new_text_md5 == hashlib.md5(text0.encode()).hexdigest()
    assert out[id0].n_kept == out[id0].n_chunks
    total_kept = sum(r.n_kept for r in out.values())
    distinct_chunks = duckdb.sql(f"""
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
                   FROM '/root/testdata/sf0.001/documents.parquet')
        SELECT COUNT(DISTINCT chunk) FROM (
          SELECT array_to_string(words[(i*20+1):((i+1)*20)], ' ') AS chunk
          FROM (SELECT words, unnest(range(0, CAST(ceil(len(words)/20.0) AS BIGINT))) AS i FROM w))
    """).fetchone()[0]
    assert total_kept == distinct_chunks


def test_ewma_lies_within_window_minmax(spark):
    """The EWMA is a convex combination of the last <=16 values, so it
    must lie within [min, max] of that window for every row; a first
    row's EWMA equals its own value."""
    from datafusion_functions_variant_spark.queries import load_all_queries
    from datafusion_functions_variant_spark.sources.tables import load_table

    reg = load_all_queries()
    out = reg["timeseries_ewma_fixed_point"].build(
        spark, "/root/testdata/sf0.001"
    )
    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id",
        "ts",
        "user_id",
        (F.floor(F.col("value") * 100) / 100.0).alias("v"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-15, 0)
    )
    bounds = {
        r.event_id: r
        for r in ev.select(
            "event_id",
            F.min("v").over(w).alias("lo"),
            F.max("v").over(w).alias("hi"),
            (F.count("v").over(w) == 1).alias("is_first"),
            "v",
        ).collect()
    }
    for r in out.collect():
        b = bounds[r.event_id]
        assert b.lo - 1e-6 <= r.ewma <= b.hi + 1e-6, r
        if b.is_first:
            assert abs(r.ewma - b.v) < 1e-6


def _rand_embeddings(spark, n: int, dim: int, seed: int):
    rng = random.Random(seed)
    rows = [
        (i, [round(rng.uniform(-1, 1), 4) for _ in range(dim)]) for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_pq_shortlist_rerank_matches_brute_force(spark):
    """PQ with a shortlist as wide as the corpus must return EXACTLY
    the brute-force top-k (the exact re-rank sees every vector, so
    quantization can cost nothing) — pins the re-rank stage's
    correctness independent of codebook quality."""
    from datafusion_functions_variant_spark.operators import similarity

    emb = _rand_embeddings(spark, 60, 16, seed=9)
    queries = emb.where(F.col("vec_id") < 3)
    exact = similarity.brute_force_topk(emb, queries, k=3, exact=True)
    pq = similarity.pq_topk(
        emb, queries, k=3, m=4, ks=8, dim=16, shortlist=60
    )
    want = {(r.query_id, r.rank): r.vec_id for r in exact.collect()}
    got = {(r.query_id, r.rank): r.vec_id for r in pq.collect()}
    assert got == want


def test_ivf_full_probe_matches_naive_cosine(spark):
    """IVF probing EVERY centroid list degenerates to exhaustive
    search: its (cosine-ranked) top-k must equal an independent
    plain-Python cosine ranking exactly — pins the probe-join +
    rescoring plumbing with recall taken out of the equation."""
    import math

    from datafusion_functions_variant_spark.operators import similarity

    emb = _rand_embeddings(spark, 50, 8, seed=21)
    rows = {r.vec_id: list(r.embedding) for r in emb.collect()}
    queries = emb.where(F.col("vec_id") < 3)
    ivf = similarity.ivf_topk(emb, queries, k=3, n_centroids=4, n_probe=4)
    got = {(r.query_id, r.rank): r.vec_id for r in ivf.collect()}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))

    want = {}
    for qid in range(3):
        ranked = sorted(rows, key=lambda v: (-cos(rows[qid], rows[v]), v))[:3]
        for rank, vid in enumerate(ranked, 1):
            want[(qid, rank)] = vid
    assert got == want


def _reference_minhash(text, n=8, num_hashes=8):
    """Pure-Python MinHash of one text: each distinct n-gram's md5,
    its first 15 hex digits as an integer, xor-permuted by
    ``XOR_CONSTS[h]``, minimum per permutation. A text shorter than
    ``n`` (or NULL) has no grams: all-None."""
    import hashlib

    from datafusion_functions_variant_spark.operators.dedup import XOR_CONSTS

    if text is None or len(text) < n:
        return (None,) * num_hashes
    xs = {
        int(hashlib.md5(text[i:i + n].encode()).hexdigest()[:15], 16)
        for i in range(len(text) - n + 1)
    }
    return tuple(min(x ^ XOR_CONSTS[h] for x in xs) for h in range(num_hashes))


def test_minhash_signatures_match_python_reference(spark):
    """The signer equals a pure-Python MinHash row for row on random
    docs, short (no grams → all-NULL) and NULL ones included, and
    carries ``keep`` through (default: the id alone)."""
    from datafusion_functions_variant_spark.operators import dedup

    rng = random.Random(33)
    alphabet = "abcdefghij é"
    rows = [
        (i, "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 60))))
        for i in range(80)
    ] + [(80, None)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = dedup.minhash_signatures(docs, "text", "doc_id", n=8, num_hashes=8)
    assert sigs.columns == ["doc_id", *[f"mh{h}" for h in range(8)]]
    got = {r[0]: tuple(r[1:]) for r in sigs.collect()}
    assert got == {i: _reference_minhash(t) for i, t in rows}
    assert any(t is not None and len(t) < 8 for _, t in rows)

    kept = dedup.minhash_signatures(
        docs, "text", "doc_id", n=8, num_hashes=2, keep=["doc_id", "text"]
    )
    assert kept.columns == ["doc_id", "text", "mh0", "mh1"]


def test_short_documents_never_pair(spark):
    """A text shorter than the gram width (or empty, or NULL) has no
    grams, so no bucket: LSH never pairs it, however many such docs
    there are, and the bucket audit counts no NULL bucket — the pairs
    and the audit equal those of the long documents alone."""
    from datafusion_functions_variant_spark.operators import dedup

    rng = random.Random(7)
    base = "".join(rng.choice("abcdefghij ") for _ in range(200))
    long_docs = [(i, base) for i in range(4)] + [(4, base + "k"), (5, "k" + base)]
    short_docs = [(10, "abc"), (11, "abcdefg"), (12, "xyz"), (13, ""), (14, None)]
    docs = spark.createDataFrame(long_docs + short_docs, "doc_id long, text string")
    sigs = dedup.minhash_signatures(docs, "text", "doc_id", n=8, num_hashes=8)
    long_sigs = sigs.where(F.col("doc_id") < 10)

    def pairs_of(s):
        return {
            (r.doc_a, r.doc_b)
            for r in dedup.lsh_candidate_pairs(s, "doc_id", 8, 2).collect()
        }

    pairs = pairs_of(sigs)
    assert not any(a >= 10 or b >= 10 for a, b in pairs), pairs
    assert pairs == pairs_of(long_sigs)
    # the exact copies share every bucket
    assert {(a, b) for a in range(4) for b in range(a + 1, 4)} <= pairs

    def stats_of(s):
        return dedup.lsh_bucket_stats(s, "doc_id", 8, 2).collect()[0].asDict()

    assert stats_of(sigs) == stats_of(long_sigs)


def test_cusum_changepoint_matches_bruteforce(spark):
    """Second oracle for timeseries_cusum_changepoint: pure-Python
    integer CUSUM over the same parquet (argmax_k |n*P_k - k*total|,
    ties to the earliest day) — independent of both Spark windows and
    the DuckDB SQL twin."""
    import collections
    import datetime

    import pyarrow.parquet as pq

    from datafusion_functions_variant_spark.queries import load_all_queries
    from .conftest import SF_DIR

    tbl = pq.read_table(f"{SF_DIR}/events.parquet", columns=["event_type", "ts"])
    daily = collections.Counter()
    epoch = datetime.date(1970, 1, 1)
    for et, ts in zip(tbl["event_type"].to_pylist(), tbl["ts"].to_pylist()):
        daily[(et, (ts.date() - epoch).days)] += 1
    series = collections.defaultdict(list)
    for (et, day), x in sorted(daily.items()):
        series[et].append((day, x))
    expect = {}
    for et, pts in series.items():
        n, total = len(pts), sum(x for _, x in pts)
        pk, best = 0, None
        for k, (day, x) in enumerate(pts, start=1):
            pk += x
            t_abs = abs(n * pk - k * total)
            if best is None or t_abs > best[0]:
                best = (t_abs, day)
        expect[et] = (n, best[1], best[0])

    reg = load_all_queries()
    rows = reg["timeseries_cusum_changepoint"].build(spark, SF_DIR).collect()
    assert len(rows) == len(expect)
    for r in rows:
        n, cp, stat = expect[r["event_type"]]
        assert (r["n_days"], r["cp_day"], r["cusum_stat"]) == (n, cp, stat)


def test_curriculum_stages_are_balanced_ordered_partition(spark):
    """Stage populations differ by at most 1, cover the corpus
    exactly, and stage token ranges are non-overlapping ascending —
    the invariants of an exact-rank quartile split (independent of the
    DuckDB twin's formula)."""
    import pyarrow.parquet as pq

    from datafusion_functions_variant_spark.queries import load_all_queries
    from .conftest import SF_DIR

    n_docs = pq.read_metadata(f"{SF_DIR}/documents.parquet").num_rows
    reg = load_all_queries()
    rows = (
        reg["dataset_curriculum_stages"]
        .build(spark, SF_DIR)
        .orderBy("stage")
        .collect()
    )
    assert [r["stage"] for r in rows] == [1, 2, 3, 4]
    sizes = [r["n_docs"] for r in rows]
    assert sum(sizes) == n_docs
    assert max(sizes) - min(sizes) <= 1
    for lo, hi in zip(rows, rows[1:]):
        assert lo["max_tokens"] <= hi["min_tokens"]
        assert lo["min_tokens"] <= lo["max_tokens"]


def test_snapshot_diff_null_and_delimiter_adversarial(spark):
    """The fingerprint and the modified-row filter must survive the
    adversarial encodings that defeat naive concat_ws('|')+'!=' diffs:
    NULL<->non-NULL payload flips (null-unsafe != yields NULL and the
    WHERE drops the row), NULL-position swaps ((NULL,'x') vs
    ('x',NULL) — concat_ws silently skips nulls), delimiter straddles
    ('a|b','c') vs ('a','b|c'), and NULL vs empty string."""
    from datafusion_functions_variant_spark.operators.reconcile import (
        bucketed_snapshot_diff,
    )

    schema = "k int, p string, q string"
    a_rows = [
        (1, None, "x"),   # NULL-position swap vs b
        (2, "a|b", "c"),  # delimiter straddle vs b
        (3, "v", None),   # NULL -> non-NULL flip
        (4, "w", "w2"),   # non-NULL -> NULL flip
        (5, None, None),  # NULL vs empty string
        (6, "same", "same2"),  # genuinely unchanged
        (7, "a\\", "|b"),  # escape-char straddle vs b
    ]
    b_rows = [
        (1, "x", None),
        (2, "a", "b|c"),
        (3, "v", "now"),
        (4, "w", None),
        (5, "", ""),
        (6, "same", "same2"),
        (7, "a", "\\|b"),
    ]
    a = spark.createDataFrame(a_rows, schema).repartition(4)
    b = spark.createDataFrame(b_rows, schema).repartition(4)
    got = {
        (r.kind, r.k)
        for r in bucketed_snapshot_diff(a, b, "k", ["p", "q"], n_buckets=8).collect()
    }
    assert got == {("M", 1), ("M", 2), ("M", 3), ("M", 4), ("M", 5), ("M", 7)}


def test_snapshot_diff_matches_naive_full_outer(spark):
    """Random drift of every kind (delete / modify / insert) on seeded
    random snapshots: the bucket-summary drill-down must emit EXACTLY
    the rows a brute-force full-outer diff emits — including runs with
    zero drift of some kind and buckets holding multiple diffs."""
    from datafusion_functions_variant_spark.operators.reconcile import (
        bucketed_snapshot_diff,
    )

    rng = random.Random(23)
    a_rows = [(i, float(rng.randrange(100, 999))) for i in range(300)]
    b_rows = []
    for k, v in a_rows:
        r = rng.random()
        if r < 0.1:
            continue  # deleted
        if r < 0.25:
            b_rows.append((k, v + 11.0))  # modified
        else:
            b_rows.append((k, v))
    b_rows += [(1000 + i, float(i)) for i in range(17)]  # inserted
    a = spark.createDataFrame(a_rows, ["k", "v"]).repartition(8)
    b = spark.createDataFrame(b_rows, ["k", "v"]).repartition(8)

    # small n_buckets so dirty buckets carry several diffs each
    got = {
        (r.kind, r.k, r.old_v, r.new_v)
        for r in bucketed_snapshot_diff(a, b, "k", ["v"], n_buckets=16).collect()
    }
    amap, bmap = dict(a_rows), dict(b_rows)
    naive = set()
    for k in set(amap) | set(bmap):
        if k not in bmap:
            naive.add(("D", k, amap[k], None))
        elif k not in amap:
            naive.add(("I", k, None, bmap[k]))
        elif amap[k] != bmap[k]:
            naive.add(("M", k, amap[k], bmap[k]))
    assert got == naive


def test_bloom_has_no_false_negatives(spark):
    """Every inserted key MUST pass the membership test (bloom's one
    hard guarantee); false positives on non-members stay under a loose
    bound at the ~20 bits/key dial."""
    from datafusion_functions_variant_spark.operators import bloom

    keys = spark.range(0, 500).select(F.col("id").alias("k")).repartition(8)
    m = bloom.bloom_m_bits(500)
    bits = bloom.bloom_build(keys, F.col("k"), m)
    member = F.expr(bloom.bloom_member_sql("k", m))
    hits = (
        spark.range(0, 500).select(F.col("id").alias("k"))
        .crossJoin(F.broadcast(bits)).where(member).count()
    )
    assert hits == 500  # no false negatives, ever
    fp = (
        spark.range(10_000, 20_000).select(F.col("id").alias("k"))
        .crossJoin(F.broadcast(bits)).where(member).count()
    )
    assert fp / 10_000 < 0.05  # ~0.1-1% expected at 20 bits/key, k=3


def test_rollup_ivm_merge_equals_recompute_randomized(spark):
    """Property: for a random base corpus and a random signed
    changelog (inserts + tombstones of existing rows, including
    whole-group deletions), maintaining the rollup via
    operators/ivm.py must equal a from-scratch recompute over the
    applied multiset — every grouping set, every group, counts and
    decimal sums."""
    import random

    from datafusion_functions_variant_spark.operators import ivm
    from pyspark.sql import functions as F

    rng = random.Random(81)
    days = [f"2024-02-{d:02d}" for d in range(1, 4)]
    types = ["a", "b"]
    base = [
        (rng.choice(days), rng.randrange(3), rng.choice(types),
         round(rng.uniform(1, 99), 2), i)
        for i in range(400)
    ]
    # tombstone ~1/4 of base rows — including, deliberately, EVERY
    # row of one (day, hour, type) group so a group fully vanishes
    doomed_group = base[0][:3]
    deletes = [
        r for r in base
        if r[:3] == doomed_group or r[4] % 4 == 0
    ]
    inserts = [
        r
        for r in (
            (rng.choice(days), rng.randrange(3), rng.choice(types),
             round(rng.uniform(1, 99), 2), 1000 + i)
            for i in range(120)
        )
        if r[:3] != doomed_group  # keep the vanished group vanished
    ]
    schema = "day string, hour int, event_type string, vd double, id int"
    to_df = lambda rows: (
        spark.createDataFrame(rows, schema)
        .select("day", "hour", "event_type",
                F.col("vd").cast("decimal(18,2)").alias("v"))
    )
    rollup0 = ivm.rollup_full(to_df(base), "ivm_prop_base")
    signed = (
        to_df(inserts).withColumn("sign", F.lit(1))
    ).unionByName(to_df(deletes).withColumn("sign", F.lit(-1)))
    maintained = ivm.merge_rollup(
        rollup0, ivm.rollup_delta(signed, "ivm_prop_delta")
    )
    applied_rows = [r for r in base if r not in deletes] + inserts
    recomputed = ivm.rollup_full(to_df(applied_rows), "ivm_prop_applied")
    key = lambda r: (r["day"], r["hour"], r["event_type"])
    got = {key(r): (r["n"], r["s"]) for r in maintained.collect()}
    want = {key(r): (r["n"], r["s"]) for r in recomputed.collect()}
    assert got == want
    # the doomed group must be ABSENT, not present with n=0
    assert all(k[:3] != doomed_group[:3] or True for k in got)
    dk = (doomed_group[0], doomed_group[1], doomed_group[2])
    assert dk not in got


def test_phash_dhash_brightness_invariance_and_symmetry(spark):
    """Property: (a) uniformly brightness-shifted images hash to the
    IDENTICAL signature (the floor((s+4c)/4)=floor(s/4)+c argument,
    checked empirically over random images), and (b) the verified
    pair list is symmetric-complete: every (a, b) with id_a < id_b
    and Hamming <= threshold appears exactly once."""
    import random

    import pandas as pd
    from datafusion_functions_variant_spark.operators import phash
    from datafusion_functions_variant_spark.operators import png as pngmod
    from pyspark.sql import functions as F

    rng = random.Random(17)
    W, H = 18, 16
    payloads = []
    base_images = []
    for i in range(12):
        pix = bytes(rng.randrange(0, 200) for _ in range(W * H))
        base_images.append(pix)
        payloads.append((2 * i, pngmod.encode_png(W, H, pix, 1, i % 5)))
        shifted = bytes(p + 37 for p in pix)  # max 236 < 256, no wrap
        payloads.append((2 * i + 1, pngmod.encode_png(W, H, shifted, 1, (i + 2) % 5)))
    assets = spark.createDataFrame(
        pd.DataFrame(payloads, columns=["asset_id", "payload"])
    )
    sigs = {r["asset_id"]: (r["band0"], r["band1"], r["band2"], r["band3"])
            for r in phash.dhash_bands(assets, "asset_id", "payload").collect()}
    for i in range(12):
        assert sigs[2 * i] == sigs[2 * i + 1], f"brightness shift moved dHash of {i}"
    # exact pair completeness at a high threshold where banding is
    # guaranteed lossless (hamming <= 3 < n_bands)
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in phash.neardup_pairs(
            phash.dhash_bands(assets, "asset_id", "payload"), "asset_id",
            max_hamming=3,
        ).collect()
    }
    def ham(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(sigs[a], sigs[b]))
    ids = sorted(sigs)
    want = {
        (a, b): ham(a, b)
        for i, a in enumerate(ids) for b in ids[i + 1:]
        if ham(a, b) <= 3
    }
    assert got == want


def test_phash_overflow_flood_emits_star_pairs_with_observation(spark):
    """An identical-image flood (every payload byte-equal) collides in
    ALL four band buckets. The round-9 guard must (a) emit n-1 star
    pairs against the min-id keeper instead of ~n²/2 all-pairs, (b)
    never materialize a member array past max_bucket (the routed
    subgroups make every flood member its own group), and (c) report
    the trade on the default observation: 4 overflow buckets, depth n."""
    import pandas as pd
    from datafusion_functions_variant_spark.operators import phash
    from datafusion_functions_variant_spark.operators import png as pngmod
    from datafusion_functions_variant_spark.plans.observe import observed_metrics
    from pyspark.sql import Observation

    n, cap = 500, 64
    pix = bytes((7 * x + 13 * y) % 97 for y in range(16) for x in range(18))
    payload = pngmod.encode_png(18, 16, pix, 1, 0)
    assets = spark.createDataFrame(
        pd.DataFrame({"asset_id": range(n), "payload": [payload] * n})
    )
    sigs = phash.dhash_bands(assets, "asset_id", "payload")
    obs = Observation()
    rows = phash.neardup_pairs(
        sigs, "asset_id", max_hamming=6, max_bucket=cap, observation=obs
    ).collect()
    assert len(rows) == n - 1
    assert all(r.id_a == 0 and r.hamming == 0 for r in rows)
    assert {r.id_b for r in rows} == set(range(1, n))
    got = observed_metrics(obs)
    assert got["n_overflow_buckets"] == 4
    assert got["n_buckets"] == 4
    assert got["n_colliding_buckets"] == 4
    assert got["max_bucket_size"] == n


def test_simhash_observation_detects_forfeited_exactness(spark):
    """ADVICE r8: star routing silently trades the pigeonhole
    exactness away (the r8 sf0.1 incident: a 549-deep chunk bucket
    star-routed 24 true pairs past a 256 cap with no runtime signal).
    The observation must surface it: identical docs overflow every
    chunk bucket → n_overflow_buckets == n_chunks; and attaching the
    observation must not change the emitted pairs."""
    from datafusion_functions_variant_spark.operators import dedup
    from datafusion_functions_variant_spark.plans.observe import observed_metrics
    from pyspark.sql import Observation

    n, max_hamming = 300, 4  # 5 chunks
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("identical words repeated across every document").alias("text"),
    )
    sigs = dedup.simhash_signatures(docs, "text", "doc_id")
    obs = Observation()
    observed = dedup.simhash_near_pairs(
        sigs, "doc_id", max_hamming=max_hamming, max_bucket=64, observation=obs
    )
    got_pairs = sorted(map(tuple, observed.collect()))
    plain = sorted(
        map(
            tuple,
            dedup.simhash_near_pairs(
                sigs, "doc_id", max_hamming=max_hamming, max_bucket=64
            ).collect(),
        )
    )
    assert got_pairs == plain
    assert len(got_pairs) == n - 1  # star pairs, keeper = 0
    got = observed_metrics(obs)
    assert got["n_overflow_buckets"] == max_hamming + 1
    assert got["n_buckets"] == max_hamming + 1
    assert got["max_bucket_size"] == n
    # exactness intact when the cap clears the deepest bucket: no
    # overflow reported and all-pairs emitted
    obs2 = Observation()
    full = dedup.simhash_near_pairs(
        sigs, "doc_id", max_hamming=max_hamming, max_bucket=n, observation=obs2
    )
    assert full.count() == n * (n - 1) // 2
    assert observed_metrics(obs2)["n_overflow_buckets"] == 0


def test_dhash_bands_rejects_bad_geometry(spark):
    """The decode boundary must fail LOUDLY on a wrong-geometry image
    (r8 ADVICE: a differently-sized or RGB PNG used to yield garbage
    signatures or a deep IndexError inside the grid comprehension)."""
    import pandas as pd
    import pytest
    from datafusion_functions_variant_spark.operators import phash
    from datafusion_functions_variant_spark.operators import png as pngmod

    wrong_size = pngmod.encode_png(10, 10, bytes(100), 1, 0)
    assets = spark.createDataFrame(
        pd.DataFrame({"asset_id": [1], "payload": [wrong_size]})
    )
    with pytest.raises(Exception, match="dhash_bands expects"):
        phash.dhash_bands(assets, "asset_id", "payload").collect()

    rgb = pngmod.encode_png(18, 16, bytes(18 * 16 * 3), 3, 0)
    assets3 = spark.createDataFrame(
        pd.DataFrame({"asset_id": [1], "payload": [rgb]})
    )
    with pytest.raises(Exception, match="channel"):
        phash.dhash_bands(assets3, "asset_id", "payload").collect()


def test_simhash_chunk_blocking_exact_below_cap_randomized(spark):
    """Pigeonhole exactness, randomized: when no bucket overflows, the
    chunk-blocked pair list must equal the brute-force list of ALL
    pairs with Hamming(simhash) <= max_hamming — the r8 incident was
    exactly this property silently failing past the cap. Signatures
    are taken from Spark, ground truth recomputed in pure Python over
    random word-soup docs (heavy shared vocabulary → many near pairs)."""
    import itertools
    import random

    from datafusion_functions_variant_spark.operators import dedup

    rng = random.Random(99)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(120):
        # clusters of 3 share most words → realistic near-dup structure
        words = [vocab[(i // 3 * 7 + j) % 30] for j in range(12)]
        if i % 3:
            words[i % 12] = vocab[(i * 13) % 30]  # small perturbation
        rows.append((i, " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = dedup.simhash_signatures(docs, "text", "doc_id")
    sig_map = {r.doc_id: r.simhash for r in sigs.collect()}

    for max_hamming in (2, 6):
        got = sorted(
            map(
                tuple,
                dedup.simhash_near_pairs(
                    sigs, "doc_id", max_hamming=max_hamming, max_bucket=10**9
                ).collect(),
            )
        )
        want = sorted(
            (a, b, bin(sig_map[a] ^ sig_map[b]).count("1"))
            for a, b in itertools.combinations(sorted(sig_map), 2)
            if bin(sig_map[a] ^ sig_map[b]).count("1") <= max_hamming
        )
        assert got == want, (max_hamming, len(got), len(want))


def test_spark_xxhash64_matches_cleanroom_xxh64(spark):
    """Known-vector pin for the xxhash64 gram-hash fast path: Spark's
    intrinsic must equal a clean-room XXH64 written from the PUBLIC
    algorithm spec (https://xxhash.com, seed 42 over UTF-8 bytes).
    With this plus the persisted-signature oracle, every stage of
    ``dedup_minhash_xxhash`` is independently value-verified."""
    M = (1 << 64) - 1
    P1, P2, P3, P4, P5 = (
        0x9E3779B185EBCA87,
        0xC2B2AE3D27D4EB4F,
        0x165667B19E3779F9,
        0x85EBCA77C2B2AE63,
        0x27D4EB2F165667C5,
    )

    def rotl(x, r):
        return ((x << r) | (x >> (64 - r))) & M

    def rnd(acc, inp):
        acc = (acc + inp * P2) & M
        return (rotl(acc, 31) * P1) & M

    def merge(acc, v):
        acc ^= rnd(0, v)
        return (acc * P1 + P4) & M

    def xxh64(data: bytes, seed: int) -> int:
        n, i = len(data), 0
        if n >= 32:
            v1, v2 = (seed + P1 + P2) & M, (seed + P2) & M
            v3, v4 = seed & M, (seed - P1) & M
            while i + 32 <= n:
                v1 = rnd(v1, int.from_bytes(data[i : i + 8], "little"))
                v2 = rnd(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
                v3 = rnd(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
                v4 = rnd(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
                i += 32
            acc = (rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)) & M
            for v in (v1, v2, v3, v4):
                acc = merge(acc, v)
        else:
            acc = (seed + P5) & M
        acc = (acc + n) & M
        while i + 8 <= n:
            acc ^= rnd(0, int.from_bytes(data[i : i + 8], "little"))
            acc = (rotl(acc, 27) * P1 + P4) & M
            i += 8
        if i + 4 <= n:
            acc ^= (int.from_bytes(data[i : i + 4], "little") * P1) & M
            acc = (rotl(acc, 23) * P2 + P3) & M
            i += 4
        while i < n:
            acc ^= (data[i] * P5) & M
            acc = (rotl(acc, 11) * P1) & M
            i += 1
        acc ^= acc >> 33
        acc = (acc * P2) & M
        acc ^= acc >> 29
        acc = (acc * P3) & M
        return acc ^ (acc >> 32)

    def signed(x):
        return x - (1 << 64) if x >= (1 << 63) else x

    rng = random.Random(20260815)
    alphabet = "abcdefghij αβγ ✓ 0123456789"
    cases = ["", "a", "abc", "abcdefgh"] + [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 120)))
        for _ in range(60)
    ]
    got = {
        r.s: r.h
        for r in spark.createDataFrame([(c,) for c in set(cases)], ["s"])
        .select("s", F.xxhash64("s").alias("h"))
        .collect()
    }
    for s, h in got.items():
        assert h == signed(xxh64(s.encode("utf-8"), 42)), repr(s)


def _vecs(spark, n, dim=8, seed=3, id_col="vec_id"):
    rng = random.Random(seed)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(n)]
    return spark.createDataFrame(rows, [id_col, "embedding"])


def test_brute_force_topk_fast_path_agrees_with_exact(spark):
    """The double fast path (exact=False) must return the same top-k
    SET as the decimal exact path on well-separated random vectors —
    it exists for the 100 TB scan where BigDecimal per element is the
    dominant cost, so agreement is the whole contract."""
    from datafusion_functions_variant_spark.operators.similarity import (
        brute_force_topk,
    )

    corpus = _vecs(spark, 120, seed=5)
    queries = _vecs(spark, 4, seed=11)
    fast = {
        (r.query_id, r.vec_id, r.rank)
        for r in brute_force_topk(corpus, queries, k=3, exact=False).collect()
    }
    exact = {
        (r.query_id, r.vec_id, r.rank)
        for r in brute_force_topk(corpus, queries, k=3, exact=True).collect()
    }
    assert fast == exact and len(fast) == 12


def test_cosine_topk_matches_normalized_dot(spark):
    """cosine_topk must rank identically to brute-force dot top-k over
    pre-normalized vectors (cosine IS the dot of unit vectors)."""
    from datafusion_functions_variant_spark.operators.similarity import (
        brute_force_topk,
        cosine_topk,
    )

    corpus = _vecs(spark, 100, seed=7)
    queries = _vecs(spark, 3, seed=23)

    def unit(df):
        norm = F.sqrt(
            F.aggregate(
                F.zip_with("embedding", "embedding", lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
        return df.withColumn(
            "embedding", F.transform("embedding", lambda x: x / norm)
        )

    got = {
        (r.query_id, r.vec_id, r.rank)
        for r in cosine_topk(corpus, queries, k=3).collect()
    }
    via_dot = {
        (r.query_id, r.vec_id, r.rank)
        for r in brute_force_topk(
            unit(corpus), unit(queries), k=3, exact=False
        ).collect()
    }
    assert got == via_dot and len(got) == 9


def test_pq_topk_skips_rerank_when_shortlist_not_larger_than_k(spark):
    """shortlist <= k must take the ADC-only exit (same schema, score
    = the ADC approximation) instead of building a rerank join."""
    from datafusion_functions_variant_spark.operators.similarity import pq_topk

    corpus = _vecs(spark, 80, seed=17)
    queries = _vecs(spark, 2, seed=29)
    out = pq_topk(corpus, queries, k=3, m=2, ks=4, dim=8, shortlist=3)
    rows = out.collect()
    assert out.columns == ["query_id", "vec_id", "score", "rank"]
    assert len(rows) == 6 and all(r.rank <= 3 for r in rows)


def test_knn_graph_dim_guard_and_ranked_k(spark):
    """bands*bits_per_band > dim must raise loudly (silent NULL sign
    bits would collapse the bucket space); k>1 emits a rank column."""
    import pytest

    from datafusion_functions_variant_spark.operators.similarity import knn_graph

    df = _vecs(spark, 60, dim=8, seed=31)
    with pytest.raises(ValueError, match="sign dims"):
        knn_graph(df, "vec_id", "embedding", bands=3, bits_per_band=4, dim=8)
    out = knn_graph(
        df, "vec_id", "embedding", bands=2, bits_per_band=4, dim=8, k=2,
        exact=False,  # the double fast path — the registry queries pin exact
    )
    rows = out.collect()
    assert "rank" in out.columns and rows
    assert all(r.rank in (1, 2) for r in rows)


def test_fan_out_repartitions_only_when_under_target(spark):
    from datafusion_functions_variant_spark.operators.dedup import fan_out

    one = spark.createDataFrame([(i,) for i in range(10)], ["id"]).coalesce(1)
    assert fan_out(one, min_partitions=4).rdd.getNumPartitions() == 4
    wide = spark.range(100).repartition(8)
    assert fan_out(wide, min_partitions=4) is wide  # already saturated


def test_gram_hash_rejects_unknown_hash_fn(spark):
    import pytest

    from datafusion_functions_variant_spark.operators.dedup import gram_hash

    with pytest.raises(ValueError, match="unknown hash_fn"):
        gram_hash(F.lit("x"), "sha9000")


def test_minhash_signatures_canonical_equals_plain(spark):
    """The canonicalize-first form (sign each DISTINCT text once, join
    signatures back by content hash) must return EXACTLY the plain
    form's rows — same (id, mh*) per document, one row per id — on a
    duplicate-heavy corpus with a text too short to sign, for both
    hash families."""
    from datafusion_functions_variant_spark.operators.dedup import (
        minhash_signatures,
        minhash_signatures_canonical,
    )

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "pack my box with five dozen liquor jugs",
        "sphinx of black quartz judge my vow",
        "tiny",
    ]
    # 32 docs over 4 distinct texts — the exact-dup mass the canonical
    # form exists for
    docs = spark.createDataFrame(
        [(i, texts[i % 4]) for i in range(32)], ["doc_id", "text"]
    )
    for hash_fn in ("md5", "xxhash64"):
        plain = minhash_signatures(
            docs, "text", "doc_id", num_hashes=4, hash_fn=hash_fn
        )
        canon = minhash_signatures_canonical(
            docs, "text", "doc_id", num_hashes=4, hash_fn=hash_fn
        )
        assert canon.columns == plain.columns
        rows_p = sorted(map(tuple, plain.collect()))
        rows_c = sorted(map(tuple, canon.collect()))
        assert rows_c == rows_p
        assert len({r[0] for r in rows_c}) == 32  # one row per doc id


def test_text_content_key_fields_and_canonical_plan(spark, monkeypatch):
    """The content key the canonical signing collapses on is
    ``struct(xxhash64(text), xxhash64(reverse(text)), length(text))``
    (NULL text → NULL key), and widening it from the one-hash form
    keeps the signing plan intrinsic-only with the same Exchange
    count."""
    import re

    from datafusion_functions_variant_spark.operators import dedup

    df = spark.createDataFrame(
        [(0, "abc"), (1, None), (2, ""), (3, "cba")], "doc_id long, text string"
    )
    keyed = df.select("doc_id", dedup.text_content_key("text").alias("k"))
    assert (
        keyed.schema["k"].dataType.simpleString()
        == "struct<h:bigint,r:bigint,l:int>"
    )
    want = df.select(
        "doc_id",
        F.xxhash64("text"),
        F.xxhash64(F.reverse("text")),
        F.length("text"),
    ).collect()
    got = {r["doc_id"]: r["k"] for r in keyed.collect()}
    assert got[1] is None
    for doc_id, h, r, n in want:
        if doc_id != 1:
            assert tuple(got[doc_id]) == (h, r, n)
    # a text and its reverse share the length but not the key
    assert got[0] != got[3]

    docs = spark.createDataFrame(
        [(i, f"text number {i % 4} of the corpus") for i in range(20)],
        ["doc_id", "text"],
    )

    def plan() -> str:
        out = dedup.minhash_signatures_canonical(
            docs, "text", "doc_id", num_hashes=4, hash_fn="xxhash64"
        )
        return out._jdf.queryExecution().executedPlan().toString()

    wide = plan()
    for udf in ("PythonUDF", "BatchEvalPython", "ArrowEvalPython", "md5("):
        assert udf not in wide
    monkeypatch.setattr(
        dedup,
        "text_content_key",
        lambda c: F.when(
            F.col(c).isNotNull(),
            F.struct(F.xxhash64(c).alias("h"), F.length(c).alias("l")),
        ),
    )
    narrow = plan()
    assert len(re.findall(r"Exchange", wide)) == len(
        re.findall(r"Exchange", narrow)
    ) > 0


def test_history_degenerate_attach_and_noop_rebuild(spark):
    """attach() with no bloom headroom must come back bitset-less
    (member() passes everything, rebuild_bitset is a no-op) while the
    durable tables still answer exactly; drop_bitset is an identity
    on a bitset-less frame."""
    import os

    from datafusion_functions_variant_spark.queries.catalog import _IO_DIR
    from datafusion_functions_variant_spark.streaming.history import (
        GenerationalHistoryIndex,
    )

    path = os.path.join(_IO_DIR, "gidx_t_degen_attach")
    idx = GenerationalHistoryIndex(
        spark, "gidx_t_degen_attach", "k", path=path, expected_keys=50, overwrite=True,
    )
    keys = spark.range(40).select(F.md5(F.col("id").cast("string")).alias("k"))
    idx.append(keys, batch_id=0)
    for g in range(idx.n_generations):
        spark.sql(f"DROP TABLE IF EXISTS {idx._gtable(g)}")

    re = GenerationalHistoryIndex.attach(
        spark, "gidx_t_degen_attach", "k", path=path, expected_keys=5000,
        bloom_max_bits=4096,  # < 2 bits/key → prescreen off
    )
    assert re.bitset is None and re.m_bits is None
    re.rebuild_bitset()  # no-op, must not crash or grow state
    assert re.bitset is None
    probe = re.attach_bitset(keys)  # identity without a bitset
    assert re.drop_bitset(probe) is probe
    assert probe.where(re.member("k")).count() == 40
    assert re.relation().count() == 40


def test_dhash_bands_pdf_matches_distributed_and_guards_geometry(spark):
    """The in-process batch body must produce byte-identical signatures
    to the distributed mapInPandas stage on the same payloads, and
    reject wrong-geometry images loudly. (The body is module-level
    precisely so this test — and a line tracer — can reach it; worker
    subprocesses are invisible to both.)"""
    import pandas as pd
    import pytest

    from datafusion_functions_variant_spark.operators import png as pngmod
    from datafusion_functions_variant_spark.operators.phash import (
        _dhash_bands_pdf,
        dhash_bands,
    )

    def gray_png(seed):
        px = bytes(((seed * 31 + i * 7) % 251) for i in range(18 * 16))
        return pngmod.encode_png(18, 16, px, 1, 0)

    pdf = pd.DataFrame(
        {"asset_id": [1, 2, 3], "payload": [gray_png(s) for s in (1, 2, 3)]}
    )
    local = _dhash_bands_pdf(pdf, "asset_id", "payload")
    sdf = spark.createDataFrame(pdf)
    dist = (
        dhash_bands(sdf, "asset_id", "payload")
        .orderBy("asset_id")
        .toPandas()
    )
    # compare VALUES; dtypes legitimately differ (schema int32 vs
    # pandas int64)
    assert (
        local.sort_values("asset_id").astype("int64").values.tolist()
        == dist.astype("int64").values.tolist()
    )
    bad = pd.DataFrame(
        {
            "asset_id": [9],
            "payload": [pngmod.encode_png(10, 10, bytes(100), 1, 0)],
        }
    )
    with pytest.raises(ValueError, match="resize/grayscale"):
        _dhash_bands_pdf(bad, "asset_id", "payload")
