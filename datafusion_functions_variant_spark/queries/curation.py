"""Corpus-curation operators, round 4 additions: sub-document
(chunk-level) exact dedup, fixed-point EWMA smoothing, and a count-min
frequency sketch completing the sketch family (HLL / theta / bitmap /
GK already covered).

Scale notes (100 TB discipline, see ARCHITECTURE.md):

* chunk dedup shuffles the corpus exactly twice (once on chunk hash
  for the global first-occurrence window, once on doc_id for the
  ordered reconstruction) — no all-pairs, no driver state;
* EWMA is one window pass with 16 codegen'd ``lag`` terms — integer
  weights keep it bit-exact across engines with zero extra shuffles;
* the CMS counter tables are ``depth x width`` rows regardless of
  corpus size, so the sketch side is always broadcastable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import multimodal
from ..sources.tables import load_table
from . import query

# ---------------------------------------------------------------------------
# Chunk-level (sub-document) exact dedup — RefinedWeb/CCNet-style line
# dedup re-expressed over fixed 20-word chunks (the synthetic corpus
# has no newlines, so the chunk boundary stands in for the line
# boundary; the pipeline shape is identical).
# ---------------------------------------------------------------------------

_CHUNK_WORDS = 20


@query(
    "dedup_chunk_exact",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ),
    ch AS (
      SELECT doc_id, i AS pos,
             array_to_string(words[(i*{_CHUNK_WORDS}+1):((i+1)*{_CHUNK_WORDS})], ' ') AS chunk
      FROM (SELECT doc_id, words,
                   unnest(range(0, CAST(ceil(len(words) / {_CHUNK_WORDS}.0) AS BIGINT))) AS i
            FROM w)
    ),
    k AS (
      SELECT doc_id, pos, chunk,
             row_number() OVER (PARTITION BY md5(chunk)
                                ORDER BY doc_id, pos) AS rn
      FROM ch
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           md5(coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY pos), ''))
             AS new_text_md5
    FROM k
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def dedup_chunk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document exact dedup (RefinedWeb-style line dedup over
    20-word chunks): every chunk that already occurred earlier in the
    corpus — in global (doc_id, position) order — is removed, and each
    document is reconstructed from its surviving chunks. Emits per-doc
    chunk counts and the md5 of the rebuilt text so the full
    reconstruction is value-checked without shipping the corpus back.

    Plan: chunks are built IN-ROW (sequence+transform over the split
    array — no explode until the dedup itself needs per-chunk rows),
    then one shuffle on the chunk hash assigns global first-occurrence
    via row_number, and one shuffle on doc_id rebuilds the text with an
    array_sort over (pos, chunk) structs. No all-pairs, no collect."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_chunks = F.ceil(F.size(words) / F.lit(float(_CHUNK_WORDS))).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(
            " ", F.slice(words, i * _CHUNK_WORDS + 1, _CHUNK_WORDS)
        ),
    )
    exploded = docs.select(
        "doc_id", F.posexplode(chunks).alias("pos", "chunk")
    ).withColumn("h", F.md5("chunk"))
    w = Window.partitionBy("h").orderBy("doc_id", "pos")
    flagged = exploded.withColumn(
        "keep", F.row_number().over(w) == F.lit(1)
    )
    rebuilt = F.concat_ws(
        " ",
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(F.col("keep"), F.struct("pos", "chunk"))
                )
            ),
            lambda s: s.chunk,
        ),
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.md5(rebuilt).alias("new_text_md5"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Fixed-point EWMA — exponentially weighted moving average with
# EXACT integer arithmetic, so both engines agree bit-for-bit.
# ---------------------------------------------------------------------------

_EWMA_DEPTH = 16  # truncation horizon (alpha = 1/2 => weight 2^-(k+1))


def _ewma_terms_sql(cents: str) -> tuple[str, str]:
    """(numerator, denominator) SQL as sums of 16 lag terms with
    power-of-two integer weights — identical text runs on DuckDB."""
    num = " + ".join(
        f"coalesce(lag({cents}, {k}) OVER win * {1 << (_EWMA_DEPTH - 1 - k)}, 0)"
        for k in range(_EWMA_DEPTH)
    )
    den = " + ".join(
        f"(CASE WHEN lag({cents}, {k}) OVER win IS NOT NULL"
        f" THEN {1 << (_EWMA_DEPTH - 1 - k)} ELSE 0 END)"
        for k in range(_EWMA_DEPTH)
    )
    return num, den


_EWMA_NUM, _EWMA_DEN = _ewma_terms_sql("cents")


@query(
    "timeseries_ewma_fixed_point",
    oracle=f"""
    WITH c AS (
      SELECT event_id, user_id, ts,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events
    )
    SELECT event_id, user_id,
           round(({_EWMA_NUM}) / ({_EWMA_DEN}) / 100.0, 6) AS ewma
    FROM c
    WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY event_id
    """,
)
def timeseries_ewma_fixed_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of event values (alpha = 1/2, truncated at 16
    observations), in EXACT fixed-point arithmetic: values are floored
    to integer cents and each of the 16 lag terms carries a
    power-of-two integer weight, so numerator and denominator are
    bigints and the single final division is the only float op — both
    engines compute the identical double. One window pass, 16
    codegen'd lag expressions, no extra shuffle beyond the user_id
    partition. The truncated-horizon formulation is what a streaming
    scorer uses anyway (bounded state per key)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    num = sum(
        (
            F.coalesce(
                F.lag("cents", k).over(w)
                * F.lit(1 << (_EWMA_DEPTH - 1 - k)),
                F.lit(0),
            )
            for k in range(_EWMA_DEPTH)
        ),
        F.lit(0),
    )
    den = sum(
        (
            F.when(
                F.lag("cents", k).over(w).isNotNull(),
                F.lit(1 << (_EWMA_DEPTH - 1 - k)),
            ).otherwise(F.lit(0))
            for k in range(_EWMA_DEPTH)
        ),
        F.lit(0),
    )
    return (
        ev.select(
            "event_id",
            "user_id",
            F.round(num / den / F.lit(100.0), 6).alias("ewma"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# Count-min sketch — mergeable frequency estimation, completing the
# sketch family (HLL distinct, theta set ops, bitmap exact, GK
# quantiles ... CMS frequencies).
# ---------------------------------------------------------------------------

_CMS_DEPTH = 4
_CMS_WIDTH = 16  # deliberately narrow so collisions (overestimates) are real


def _cms_bucket_sql(tok: str, d: int) -> str:
    return (
        f"(('0x' || substr(md5({tok}), {1 + d * 8}, 8))::UBIGINT"
        f" % {_CMS_WIDTH})::BIGINT"
    )


def _cms_bucket_col(tok, d: int) -> F.Column:
    return (
        F.conv(F.substring(F.md5(tok), 1 + d * 8, 8), 16, 10).cast("long")
        % _CMS_WIDTH
    )


@query(
    "freq_cms_tokens",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    exact AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_n
      FROM tok GROUP BY token
    ),
    counters AS (
      SELECT d,
             (('0x' || substr(md5(token), 1 + d * 8, 8))::UBIGINT
              % {_CMS_WIDTH})::BIGINT AS bucket,
             CAST(SUM(exact_n) AS BIGINT) AS total
      FROM (
        SELECT unnest(range(0, {_CMS_DEPTH})) AS d, token, exact_n FROM exact
      )
      GROUP BY 1, 2
    ),
    top AS (
      SELECT token, exact_n,
             {' , '.join(f"{_cms_bucket_sql('token', d)} AS b{d}" for d in range(_CMS_DEPTH))}
      FROM exact
      ORDER BY exact_n DESC, token
      LIMIT 20
    )
    SELECT t.token, t.exact_n,
           least({', '.join(f"c{d}.total" for d in range(_CMS_DEPTH))}) AS cms_estimate,
           least({', '.join(f"c{d}.total" for d in range(_CMS_DEPTH))}) - t.exact_n
             AS overestimate
    FROM top t
    {' '.join(f"JOIN counters c{d} ON c{d}.d = {d} AND c{d}.bucket = t.b{d}" for d in range(_CMS_DEPTH))}
    ORDER BY exact_n DESC, token
    """,
)
def freq_cms_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (depth 4 x width 16) over the corpus token
    stream, checked against exact counts for the top-20 tokens: emits
    (token, exact_n, cms_estimate, overestimate). CMS guarantees
    estimate >= exact; the deliberately narrow width makes collisions
    — and hence real overestimates — visible at test scale.

    Scale shape: exact counts are one token-hash shuffle with map-side
    combine; the counter tables are depth x width rows TOTAL (here 64)
    regardless of corpus size — built FROM the exact-count vocabulary
    with an in-row (d, bucket) explode, then broadcast back onto the
    top-k probes. At 100 TB you'd keep only the counter build (one
    pass, mergeable across shards by elementwise +) and drop the exact
    side; it's retained here as the oracle-checkable ground truth."""
    docs = load_table(spark, sf_dir, "documents")
    tokens = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    exact = tokens.groupBy("token").agg(
        F.count(F.lit(1)).alias("exact_n")
    )
    # depth x width counter tables, built from the vocabulary-sized
    # exact-count relation via an in-row explode of (d, bucket) pairs
    counters = (
        exact.select(
            "exact_n",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(d).alias("d"),
                            _cms_bucket_col(F.col("token"), d).alias("bucket"),
                        )
                        for d in range(_CMS_DEPTH)
                    ]
                )
            ).alias("db"),
        )
        .groupBy(F.col("db.d").alias("d"), F.col("db.bucket").alias("bucket"))
        .agg(F.sum("exact_n").alias("total"))
    )
    top = (
        exact.orderBy(F.col("exact_n").desc(), "token")
        .limit(20)
        .select(
            "token",
            "exact_n",
            *[
                _cms_bucket_col(F.col("token"), d).alias(f"b{d}")
                for d in range(_CMS_DEPTH)
            ],
        )
    )
    probed = top
    for d in range(_CMS_DEPTH):
        cd = counters.where(F.col("d") == d).select(
            F.col("bucket").alias(f"b{d}"), F.col("total").alias(f"t{d}")
        )
        probed = probed.join(F.broadcast(cd), f"b{d}")
    est = F.least(*[F.col(f"t{d}") for d in range(_CMS_DEPTH)])
    return probed.select(
        "token",
        "exact_n",
        est.alias("cms_estimate"),
        (est - F.col("exact_n")).alias("overestimate"),
    ).orderBy(F.col("exact_n").desc(), "token")


# ---------------------------------------------------------------------------
# PQ asymmetric-distance ANN — the memory-bound-regime index, next to
# IVF (list pruning) and int8 (scalar quantization).
# ---------------------------------------------------------------------------


def _pq_query():
    # deferred import: llmdata owns the shared ANN recall machinery
    from ..operators import dedup, similarity
    from .llmdata import _ann_recall_summary

    def similarity_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
        emb = dedup.fan_out(load_table(spark, sf_dir, "embeddings"))
        queries_df = emb.where(F.col("vec_id") < 5)
        approx = similarity.pq_topk(
            emb, queries_df, k=3, m=8, ks=16, dim=64, shortlist=32
        )
        return _ann_recall_summary(emb, queries_df, approx, min_recall=0.6)

    return similarity_pq_topk


# ---------------------------------------------------------------------------
# Fixed-iteration PageRank over the near-dup candidate graph, in
# exact integer fixed-point so the oracle reproduces every bit.
# ---------------------------------------------------------------------------

_PR_SCALE = 1_000_000_000_000  # ranks in units of 1e-12
_PR_ITERS = 4


def _pagerank_oracle() -> str:
    from .llmdata import _SIGS_CTE

    its = []
    prev = "r0"
    for i in range(1, _PR_ITERS + 1):
        its.append(
            f"""it{i} AS (
      SELECT e.dst AS node,
             CAST((SELECT (15 * {_PR_SCALE}) // (100 * n) FROM n)
                  + (85 * SUM(r.rank // d.deg)) // 100 AS BIGINT) AS rank
      FROM edges e
      JOIN {prev} r ON r.node = e.src
      JOIN deg d ON d.src = e.src
      GROUP BY e.dst
    )"""
        )
        prev = f"it{i}"
    return f"""
    WITH {_SIGS_CTE},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM candidates
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM candidates
    ),
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg),
    r0 AS (SELECT src AS node, CAST({_PR_SCALE} // n AS BIGINT) AS rank FROM deg, n),
    {', '.join(its)}
    SELECT node AS doc_id, rank AS pagerank_fp
    FROM {prev}
    ORDER BY doc_id
    """


def _register_round4_tail() -> None:
    """Registers the queries whose oracles/builders depend on llmdata
    (imported lazily to dodge a circular import at module load)."""
    from ..operators import dedup
    from .llmdata import _ANN_ORACLE

    pq = _pq_query()
    pq.__doc__ = (
        "Product-quantization ANN (operators/similarity.py:pq_topk): "
        "corpus vectors compressed to m=8 one-byte codes (8x fewer "
        "bytes than float32 through shuffle/cache), queries broadcast "
        "with their precomputed ADC lookup tables, approximate inner "
        "product = 8 array lookups per pair; the ADC top-32 shortlist "
        "is then exactly re-scored (the standard two-stage PQ serving "
        "shape — quantization distortion only costs recall if a true "
        "neighbor misses the whole shortlist). Recall@3 bound 0.6 vs "
        "the exact brute force (measured 0.73-0.87 at sf0.001/sf0.01 "
        "on near-random synthetic embeddings, PQ's adversarial case)."
    )
    query("similarity_pq_topk", oracle=_ANN_ORACLE)(pq)

    def pagerank_candidate_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Fixed-iteration (4) PageRank over the undirected MinHash-LSH
        candidate graph — 'how central is this document inside its
        near-dup neighborhood' (boilerplate hubs rank high). All
        arithmetic is integer fixed-point (ranks in 1e-12 units,
        floor division for damping and out-degree splits), so DuckDB's
        unrolled-CTE oracle matches bit-for-bit — the usual
        float-PageRank nondeterminism (summation order) is gone.

        Scale shape: each iteration is one shuffle join on src plus one
        groupBy on dst — O(iters) bounded rounds like the
        connected-components operator; node/degree/N stats stay
        DataFrame-side (1-row N broadcast back, never collected). The
        edge set and each iteration's rank state are eagerly
        localCheckpoint'ed (operators/graph.py discipline): edges'
        lineage is the whole minhash/LSH pipeline, and without
        truncation every iteration re-embeds it — 28 corpus scans in
        the untruncated 4-iteration plan."""
        docs = dedup.fan_out(load_table(spark, sf_dir, "documents"))
        sigs = dedup.minhash_signatures(
            docs, "text", "doc_id", n=8, num_hashes=8
        )
        pairs = dedup.lsh_candidate_pairs(sigs, "doc_id", num_hashes=8, bands=2)
        edges = (
            pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
            .union(
                pairs.select(
                    F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
                )
            )
            .localCheckpoint(eager=True)
        )
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        nrow = deg.agg(F.count(F.lit(1)).alias("n"))
        state = (
            deg.crossJoin(F.broadcast(nrow))
            .select(
                F.col("src").alias("node"),
                "deg",
                F.expr(f"{_PR_SCALE} div n").alias("rank"),
            )
        )
        teleport = F.expr(f"(15 * {_PR_SCALE}) div (100 * n)")
        for _ in range(_PR_ITERS):
            contrib = edges.join(
                state, edges["src"] == state["node"]
            ).select("dst", F.expr("rank div deg").alias("c"))
            summed = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
            state = (
                summed.crossJoin(F.broadcast(nrow))
                .select(
                    F.col("dst").alias("node"),
                    (teleport + F.expr("(85 * s) div 100")).alias("rank"),
                )
                .join(deg, F.col("node") == F.col("src"))
                .select("node", "deg", "rank")
                .localCheckpoint(eager=True)
            )
        return state.select(
            F.col("node").alias("doc_id"), F.col("rank").alias("pagerank_fp")
        ).orderBy("doc_id")

    query("pagerank_candidate_graph", oracle=_pagerank_oracle())(
        pagerank_candidate_graph
    )


_register_round4_tail()


# ---------------------------------------------------------------------------
# Distributed BPE tokenizer training — 3 merge rounds over the
# word-frequency table, exact integer scoring, greedy leftmost
# non-overlapping merge resolved with gaps-and-islands parity (no
# sequential per-word state).
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 3


def _bpe_cte_parts() -> list[str]:
    """The unrolled DuckDB CTE chain of the BPE training loop
    (v0 word frequencies → s0 initial symbols → per-round x/best/c/s
    frames up to ``s{_BPE_ROUNDS}``), shared by the merge-table oracle
    below and the encode oracle in queries/ingestion.py."""
    parts = [
        """v0 AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      GROUP BY word
    ),
    s0 AS (
      SELECT word, n, i AS pos, substr(word, i::INT, 1) AS sym
      FROM (SELECT word, n, unnest(range(1, len(word) + 1)) AS i FROM v0)
    )"""
    ]
    for r in range(_BPE_ROUNDS):
        parts.append(
            f"""x{r} AS (
      SELECT word, n, pos, sym,
             lead(sym) OVER (PARTITION BY word ORDER BY pos) AS next
      FROM s{r}
    ),
    best{r} AS (
      SELECT sym AS a, next AS b, CAST(SUM(n) AS BIGINT) AS total
      FROM x{r} WHERE next IS NOT NULL
      GROUP BY 1, 2
      ORDER BY total DESC, a, b
      LIMIT 1
    ),
    c{r} AS (
      SELECT word, pos,
             (row_number() OVER (PARTITION BY word, island ORDER BY pos) % 2 = 1)
               AS sel
      FROM (
        SELECT x.word, x.pos,
               x.pos - row_number() OVER (PARTITION BY x.word ORDER BY x.pos)
                 AS island
        FROM x{r} x, best{r} b
        WHERE x.sym = b.a AND x.next = b.b
      )
    ),
    s{r + 1} AS (
      -- renumber positions: merges leave gaps and the next round's
      -- adjacency logic requires consecutive positions
      SELECT word, n,
             row_number() OVER (PARTITION BY word ORDER BY pos) AS pos,
             sym
      FROM (
        SELECT x.word, x.n, x.pos,
               CASE WHEN ch.sel THEN x.sym || x.next ELSE x.sym END AS sym
        FROM x{r} x
        LEFT JOIN c{r} ch ON ch.word = x.word AND ch.pos = x.pos AND ch.sel
        LEFT JOIN c{r} pv ON pv.word = x.word AND pv.pos = x.pos - 1 AND pv.sel
        WHERE pv.word IS NULL
      )
    )"""
        )
    return parts


def _bpe_oracle() -> str:
    """Unrolled-CTE DuckDB twin of the Spark BPE loop below: same
    pair scoring (ALL adjacent pairs, overlap included, weighted by
    word frequency), same (total DESC, a, b) tie-break, same
    island-parity greedy merge."""
    parts = _bpe_cte_parts()
    unions = "\n      UNION ALL\n      ".join(
        f"SELECT {r + 1} AS step, a AS left_sym, b AS right_sym, total FROM best{r}"
        for r in range(_BPE_ROUNDS)
    )
    return (
        "\n    WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT step, left_sym, right_sym, total FROM (
      {unions}
    ) ORDER BY step
    """
    )


@query("tokenizer_bpe_merges", oracle=_bpe_oracle())
def tokenizer_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, first 3 merge rounds, distributed: the
    corpus collapses to a word-frequency table in one shuffle (the only
    corpus-scale step — BPE statistics live on the vocabulary, which is
    orders of magnitude smaller than the data), then each round scores
    every adjacent symbol pair (frequency-weighted, overlaps counted,
    classic get_stats semantics), picks the max with a (count DESC,
    pair) tie-break, and applies the greedy leftmost non-overlapping
    merge. Greedy-leftmost over a run of identical pairs ('aaaa' with
    pair a+a) is resolved WITHOUT sequential state: candidate positions
    form gaps-and-islands (pos - row_number), and within each island
    exactly the odd ranks merge — pure window arithmetic, identical in
    the DuckDB oracle. Emits (step, left_sym, right_sym, total): the
    merge table a real tokenizer would persist.

    Scale: rounds iterate on the vocabulary only; the best pair is a
    1-row broadcast (never collected); per-round cost is one
    vocabulary-keyed window + one small join."""
    from ..operators.text import bpe_merge_rounds

    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    merges, _ = bpe_merge_rounds(vocab, rounds=_BPE_ROUNDS)
    return merges.orderBy("step")


# ---------------------------------------------------------------------------
# Linear-interpolation gap fill (complement of timeseries_gapfill_locf)
# and dataset mixing weights (sampling-rate calculator for a target
# language mix).
# ---------------------------------------------------------------------------


@query(
    "timeseries_interpolate_linear",
    oracle="""
    WITH agg AS (
      SELECT event_type AS key, time_bucket(INTERVAL '1 hour', ts) AS hour,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT time_bucket(INTERVAL '1 hour', min(ts)) AS lo,
             time_bucket(INTERVAL '1 hour', max(ts)) AS hi
      FROM events
    ),
    spine AS (
      SELECT k.key, b.lo + t.i * INTERVAL '1 hour' AS hour
      FROM (SELECT DISTINCT event_type AS key FROM events) k,
           bounds b, range(0, 200000) t(i)
      WHERE t.i <= date_diff('hour', b.lo, b.hi)
    ),
    dense AS (
      SELECT s.key, s.hour, COALESCE(a.n, 0) AS n, a.sum_value,
             epoch(s.hour)::BIGINT // 3600 AS h,
             CASE WHEN COALESCE(a.n, 0) > 0
                  THEN CAST(floor(a.sum_value * 100) AS BIGINT) END AS cents,
             CASE WHEN COALESCE(a.n, 0) > 0
                  THEN epoch(s.hour)::BIGINT // 3600 END AS oh
      FROM spine s LEFT JOIN agg a ON a.key = s.key AND a.hour = s.hour
    ),
    neigh AS (
      SELECT *,
             last_value(cents IGNORE NULLS) OVER wp AS pv,
             last_value(oh IGNORE NULLS) OVER wp AS ph,
             first_value(cents IGNORE NULLS) OVER wn AS nv,
             first_value(oh IGNORE NULLS) OVER wn AS nh
      FROM dense
      WINDOW wp AS (PARTITION BY key ORDER BY hour
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wn AS (PARTITION BY key ORDER BY hour
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT key, strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour, n, sum_value,
           round(CASE WHEN n > 0 THEN cents
                      WHEN pv IS NOT NULL AND nv IS NOT NULL
                      THEN (pv * (nh - h) + nv * (h - ph)) // (nh - ph)
                 END / 100.0, 6) AS interp_value
    FROM neigh
    ORDER BY key, hour
    """,
)
def timeseries_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted linear interpolation over the dense hourly spine
    (operators/timeseries.py:hourly_interpolate_linear): missing hours
    get prev + (next-prev)*(t-t_prev)/(t_next-t_prev) between their
    nearest observed neighbors, in all-integer cent/epoch-hour
    arithmetic with one floor division — bit-reproducible on both
    engines. Leading/trailing gaps stay null (no extrapolation). Same
    single key-partitioned shuffle as the LOCF twin."""
    from ..operators.timeseries import hourly_interpolate_linear

    ev = load_table(spark, sf_dir, "events")
    out = hourly_interpolate_linear(ev, "ts", "event_type", "value")
    return out.select(
        "key",
        F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "n",
        "sum_value",
        "interp_value",
    ).orderBy("key", "hour")


_MIX_TARGETS = [("en", 40), ("de", 25), ("fr", 20), ("es", 15)]
_MIX_BUDGET_PCT = 60  # sample down to 60% of the corpus' total tokens


@query(
    "dataset_mixing_weights",
    oracle=f"""
    WITH toks AS (
      SELECT lang, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS actual_tokens
      FROM documents GROUP BY lang
    ),
    total AS (SELECT CAST(SUM(actual_tokens) AS BIGINT) AS t FROM toks),
    targets(lang, target_pct) AS (VALUES
      {', '.join(f"('{lang}', {pct})" for lang, pct in _MIX_TARGETS)}),
    rates AS (
      SELECT k.lang, k.actual_tokens, g.target_pct,
             least(1000000,
                   (g.target_pct * ({_MIX_BUDGET_PCT} * total.t // 100) * 10000)
                   // (100 * k.actual_tokens)) AS rate_ppm
      FROM toks k JOIN targets g USING (lang), total
    )
    SELECT lang, actual_tokens, CAST(target_pct AS BIGINT) AS target_pct,
           CAST(rate_ppm AS BIGINT) AS rate_ppm,
           CAST(actual_tokens * rate_ppm // 1000000 AS BIGINT) AS expected_tokens
    FROM rates
    ORDER BY lang
    """,
)
def dataset_mixing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture calculator: given target language proportions and a
    token budget (60% of the corpus), derive the per-language sampling
    rate (parts-per-million, capped at 1.0) and the expected token
    yield — the table a weighted-mixture loader consumes. All integer
    arithmetic (floor divisions), so the oracle is exact. One corpus
    scan for token counts; the 1-row total broadcasts back; targets
    ride as literals."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.groupBy("lang").agg(
        F.sum(F.size(F.split("text", " "))).alias("actual_tokens")
    )
    total = toks.agg(F.sum("actual_tokens").alias("t"))
    targets = docs.sparkSession.createDataFrame(
        _MIX_TARGETS, ["lang", "target_pct"]
    )
    rates = (
        toks.join(F.broadcast(targets), "lang")
        .crossJoin(F.broadcast(total))
        .select(
            "lang",
            "actual_tokens",
            "target_pct",
            F.least(
                F.lit(1000000),
                F.expr(
                    f"(target_pct * (({_MIX_BUDGET_PCT} * t) div 100) * 10000)"
                    " div (100 * actual_tokens)"
                ),
            ).alias("rate_ppm"),
        )
    )
    return rates.select(
        "lang",
        "actual_tokens",
        F.col("target_pct").cast("long").alias("target_pct"),
        "rate_ppm",
        F.expr("(actual_tokens * rate_ppm) div 1000000").alias("expected_tokens"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# Audio-style overlapping-window framing (multimodal family): real
# per-frame content hashes, oracle-verified byte-for-byte.
# ---------------------------------------------------------------------------

_AUDIO_WIN = 64
_AUDIO_HOP = 32


@query(
    "multimodal_audio_framing",
    oracle=f"""
    WITH a AS (
      SELECT CAST(doc_id AS BIGINT) AS asset_id, text,
             octet_length(encode(text)) AS n,
             unnest(range(0, CASE WHEN octet_length(encode(text)) >= {_AUDIO_WIN}
                  THEN greatest(1, (octet_length(encode(text)) - {_AUDIO_WIN}) // {_AUDIO_HOP} + 1)
                  ELSE 1 END)) AS frame_idx
      FROM documents
    )
    SELECT asset_id, CAST(frame_idx AS INT) AS frame_idx,
           CAST(frame_idx * {_AUDIO_HOP} AS INT) AS "offset",
           md5(substr(text, (frame_idx * {_AUDIO_HOP} + 1)::INT, {_AUDIO_WIN}))
             AS frame_md5
    FROM a
    ORDER BY asset_id, frame_idx
    """,
)
def multimodal_audio_framing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio front-end framing plumbing
    (operators/multimodal.py:audio_frame_plan): overlapping 64-byte
    windows advanced by 32 bytes over each payload — the STFT/fbank
    layout. Per-frame md5 is of the ACTUAL byte slice (payloads are
    ASCII here, so the oracle's char slicing is byte-identical),
    making this the multimodal entry whose content — not just fan-out
    arithmetic — is oracle-verified. Arrow-batched mapInPandas; the
    payload never leaves the batch loop as row objects."""
    from ..operators import multimodal

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "payload", F.encode("text", "UTF-8")
    )
    return multimodal.audio_frame_plan(
        docs, "payload", "doc_id", win=_AUDIO_WIN, hop=_AUDIO_HOP
    ).orderBy("asset_id", "frame_idx")


@query(
    "dataset_importance_resample",
    oracle=f"""
    WITH toks AS (
      SELECT lang, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS actual_tokens
      FROM documents GROUP BY lang
    ),
    total AS (SELECT CAST(SUM(actual_tokens) AS BIGINT) AS t FROM toks),
    targets(lang, target_pct) AS (VALUES
      {', '.join(f"('{lang}', {pct})" for lang, pct in _MIX_TARGETS)}),
    rates AS (
      SELECT k.lang,
             least(1000000,
                   (g.target_pct * ({_MIX_BUDGET_PCT} * total.t // 100) * 10000)
                   // (100 * k.actual_tokens)) AS rate_ppm
      FROM toks k JOIN targets g USING (lang), total
    ),
    sampled AS (
      SELECT d.doc_id, d.lang, len(string_split(d.text, ' ')) AS n_tokens,
             (('0x' || substr(md5('resample:' || d.doc_id), 1, 8))::UBIGINT
              % 1000000)::BIGINT AS bucket,
             r.rate_ppm
      FROM documents d JOIN rates r USING (lang)
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_kept,
           CAST(MIN(doc_id) AS BIGINT) AS min_kept_doc,
           CAST(MAX(doc_id) AS BIGINT) AS max_kept_doc
    FROM sampled
    WHERE bucket < rate_ppm
    GROUP BY lang
    ORDER BY lang
    """,
)
def dataset_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the mixing weights: each document keeps iff its salted
    md5 bucket (0..1M) falls below its language's sampling rate from
    ``dataset_mixing_weights`` — deterministic Bernoulli-by-hash, the
    same reproducibility discipline as dataset_split_assignment (never
    ``sample()``: membership must be a pure function of the id, stable
    across runs, partitionings, and engines). Emits the achieved
    per-language doc/token yields. One corpus scan; the 4-row rate
    table broadcasts; no shuffle beyond the final per-language agg."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.groupBy("lang").agg(
        F.sum(F.size(F.split("text", " "))).alias("actual_tokens")
    )
    total = toks.agg(F.sum("actual_tokens").alias("t"))
    targets = docs.sparkSession.createDataFrame(
        _MIX_TARGETS, ["lang", "target_pct"]
    )
    rates = (
        toks.join(F.broadcast(targets), "lang")
        .crossJoin(F.broadcast(total))
        .select(
            "lang",
            F.least(
                F.lit(1000000),
                F.expr(
                    f"(target_pct * (({_MIX_BUDGET_PCT} * t) div 100) * 10000)"
                    " div (100 * actual_tokens)"
                ),
            ).alias("rate_ppm"),
        )
    )
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit("resample:"), F.col("doc_id"))), 1, 8), 16, 10)
        .cast("long")
        % 1000000
    )
    sampled = (
        docs.select(
            "doc_id",
            "lang",
            F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
            bucket.alias("bucket"),
        )
        .join(F.broadcast(rates), "lang")
        .where(F.col("bucket") < F.col("rate_ppm"))
    )
    return (
        sampled.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("n_tokens").alias("tokens_kept"),
            F.min("doc_id").alias("min_kept_doc"),
            F.max("doc_id").alias("max_kept_doc"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# SemDeDup-style semantic dedup: cluster the embedding space, then
# look for near-duplicates only WITHIN clusters.
# ---------------------------------------------------------------------------

_SEM_K = 16
_SEM_TAU = 0.3

_SEM_DOT = """ROUND(CAST(SUM(CAST(CAST({a}[i.i] AS DOUBLE) * CAST({b}[i.i] AS DOUBLE)
             AS DECIMAL(30,15))) AS DOUBLE), 9)"""


@query(
    "dedup_semantic_clusters",
    oracle=f"""
    WITH cents AS (
      SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < {_SEM_K}
    ),
    scored AS (
      SELECT e.vec_id, c.cid,
             {_SEM_DOT.format(a='e.embedding', b='c.cvec')} AS s
      FROM embeddings e, cents c,
           LATERAL (SELECT unnest(range(1, len(e.embedding) + 1)) AS i) i
      GROUP BY e.vec_id, c.cid
    ),
    assigned AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
        FROM scored) WHERE rn = 1
    ),
    pairs AS (
      SELECT a.cid, a.vec_id AS va, b.vec_id AS vb,
             {_SEM_DOT.format(a='ea.embedding', b='eb.embedding')} AS dot
      FROM assigned a
      JOIN assigned b ON a.cid = b.cid AND a.vec_id < b.vec_id
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id,
      LATERAL (SELECT unnest(range(1, len(ea.embedding) + 1)) AS i) i
      GROUP BY a.cid, a.vec_id, b.vec_id
    ),
    tight AS (
      SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_tight_pairs,
             CAST(COUNT(DISTINCT vb) AS BIGINT) AS n_removed
      FROM pairs WHERE dot >= {_SEM_TAU} GROUP BY cid
    )
    SELECT m.cid, m.n_members,
           coalesce(t.n_tight_pairs, 0) AS n_tight_pairs,
           coalesce(t.n_removed, 0) AS n_removed
    FROM (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members
          FROM assigned GROUP BY cid) m
    LEFT JOIN tight t USING (cid)
    ORDER BY cid
    """,
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic dedup: assign every embedding to its
    max-dot seeded centroid (spherical k-means convention — the corpus
    is unit-normalized), then search for near-duplicates ONLY within
    clusters (pair work is sum of squared cluster sizes, not corpus²;
    at scale k grows with the corpus to bound cluster width). Emits
    per-cluster members, tight pairs (dot >= 0.3), and docs a min-id
    keeper policy would remove.

    Exactness: every dot is the decimal-summed product rounded to 9
    (operators/similarity.py:_dot_decimal discipline) and BOTH the
    assignment ranking and the tight-pair threshold use the rounded
    value with a cid tie-break, so the oracle reproduces cluster
    membership and pair sets bit-for-bit — no float-order ambiguity.
    Plan: centroids broadcast onto one corpus pass; the only corpus
    shuffle is the within-cluster self-join on cid."""
    from ..operators import dedup
    from ..operators.similarity import _dot_decimal

    emb = dedup.fan_out(load_table(spark, sf_dir, "embeddings"))
    cents = emb.where(F.col("vec_id") < _SEM_K).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    scored = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "embedding",
        "cid",
        F.round(_dot_decimal("embedding", "cvec"), 9).alias("s"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("s").desc(), "cid")
    assigned = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "cid", "embedding")
    )
    a = assigned.select(
        F.col("cid"), F.col("vec_id").alias("va"), F.col("embedding").alias("_ea")
    )
    b = assigned.select(
        F.col("cid"), F.col("vec_id").alias("vb"), F.col("embedding").alias("_eb")
    )
    pairs = (
        a.join(b, "cid")
        .where(F.col("va") < F.col("vb"))
        .select("cid", "va", "vb", F.round(_dot_decimal("_ea", "_eb"), 9).alias("dot"))
    )
    tight = (
        pairs.where(F.col("dot") >= F.lit(_SEM_TAU))
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_tight_pairs"),
            F.countDistinct("vb").alias("n_removed"),
        )
    )
    members = assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("n_members"))
    return (
        members.join(tight, "cid", "left")
        .select(
            "cid",
            "n_members",
            F.coalesce("n_tight_pairs", F.lit(0)).alias("n_tight_pairs"),
            F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
        )
        .orderBy("cid")
    )


# ---------------------------------------------------------------------------
# Cohort retention — the classic warehouse analytics matrix.
# ---------------------------------------------------------------------------


@query(
    "orders_retention_cohorts",
    oracle="""
    WITH o AS (
      SELECT o_custkey,
             (year(o_orderdate) * 12 + month(o_orderdate)) AS ym
      FROM orders
    ),
    firsts AS (SELECT o_custkey, min(ym) AS cym FROM o GROUP BY o_custkey),
    joined AS (
      SELECT f.cym, o.ym - f.cym AS months_since, o.o_custkey
      FROM o JOIN firsts f USING (o_custkey)
    )
    SELECT printf('%04d-%02d', (cym - 1) // 12, ((cym - 1) % 12) + 1)
             AS cohort_month,
           CAST(months_since AS BIGINT) AS months_since,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM joined
    GROUP BY cym, months_since
    ORDER BY cohort_month, months_since
    """,
)
def orders_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: customers grouped by first-order month,
    counted distinct in every subsequent month-offset — the classic
    warehouse retention triangle. Month arithmetic is pure integers
    (year*12+month), so cohorts and offsets are engine-exact; the
    month-key formatting avoids timestamp/timezone representation
    entirely. Two shuffles (first-order agg on custkey, retention agg
    on cohort/offset) — the custkey join reuses the first agg's
    partitioning."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("ym"),
    )
    firsts = o.groupBy("o_custkey").agg(F.min("ym").alias("cym"))
    joined = o.join(firsts, "o_custkey").select(
        "cym", (F.col("ym") - F.col("cym")).alias("months_since"), "o_custkey"
    )
    cohort = F.format_string(
        "%04d-%02d",
        F.expr("(cym - 1) div 12"),
        F.expr("((cym - 1) % 12) + 1"),
    )
    return (
        joined.groupBy("cym", "months_since")
        .agg(F.countDistinct("o_custkey").alias("n_customers"))
        .select(
            cohort.alias("cohort_month"),
            F.col("months_since").cast("long").alias("months_since"),
            "n_customers",
        )
        .orderBy("cohort_month", "months_since")
    )


# ---------------------------------------------------------------------------
# Containment (asymmetric Jaccard) over LSH candidates — the
# decontamination metric for detecting near-SUPERSET duplication.
# ---------------------------------------------------------------------------


def _register_containment() -> None:
    from ..operators import dedup
    from .llmdata import _SIGS_CTE

    oracle = f"""
    WITH {_SIGS_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
      FROM candidates c
      JOIN grams ga ON ga.doc_id = c.doc_a
      JOIN grams gb ON gb.doc_id = c.doc_b AND gb.g = ga.g
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           CAST(i.n_inter AS BIGINT) AS n_inter,
           CAST(sa.n AS BIGINT) AS n_a,
           CAST(sb.n AS BIGINT) AS n_b,
           round(i.n_inter / least(sa.n, sb.n), 6) AS containment
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    ORDER BY doc_a, doc_b
    """

    def dedup_containment_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Containment (asymmetric Jaccard, |A∩B| / min(|A|,|B|)) for
        every LSH candidate pair: the decontamination-literature metric
        that catches a document CONTAINING another (near-superset
        duplication Jaccard under-scores, because the union is
        inflated by the larger doc). Same bucketed discipline as the
        Jaccard verifier — exact gram intersection computed only for
        candidates, candidate list broadcast, per-doc sizes broadcast;
        the single division is integer/integer rounded to 6 on both
        engines."""
        docs = dedup.fan_out(load_table(spark, sf_dir, "documents"))
        sigs = dedup.minhash_signatures(docs, "text", "doc_id", n=8, num_hashes=8)
        cand = dedup.lsh_candidate_pairs(sigs, "doc_id", num_hashes=8, bands=2).select(
            "doc_a", "doc_b"
        )
        grams = dedup.char_ngrams(docs, "text", "doc_id", n=8)
        sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
        ga = grams.select(F.col("doc_id").alias("doc_a"), "g")
        gb = grams.select(F.col("doc_id").alias("doc_b"), "g")
        inter = (
            F.broadcast(cand)
            .join(ga, "doc_a")
            .join(gb, ["doc_b", "g"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
        sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
        sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
        return (
            inter.join(F.broadcast(sa), "doc_a")
            .join(F.broadcast(sb), "doc_b")
            .select(
                "doc_a",
                "doc_b",
                "n_inter",
                "n_a",
                "n_b",
                F.round(
                    F.col("n_inter") / F.least("n_a", "n_b"), 6
                ).alias("containment"),
            )
            .orderBy("doc_a", "doc_b")
        )

    query("dedup_containment_verified", oracle=oracle)(dedup_containment_verified)


_register_containment()


# ---------------------------------------------------------------------------
# Classic analytics shapes: ordered funnel, ABC/Pareto classes, RFM
# segmentation, market-basket lift.
# ---------------------------------------------------------------------------


@query(
    "events_funnel_ordered",
    oracle="""
    WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, min(e.ts) AS t2
          FROM events e JOIN v ON v.user_id = e.user_id AND e.ts > v.t1
          WHERE e.event_type = 'click' GROUP BY e.user_id),
    p AS (SELECT e.user_id, min(e.ts) AS t3
          FROM events e JOIN c ON c.user_id = e.user_id AND e.ts > c.t2
          WHERE e.event_type = 'purchase' GROUP BY e.user_id)
    SELECT 
      (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n_viewed,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_clicked_after_view,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_purchased_after_click,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM events
        WHERE event_type = 'purchase'
          AND user_id NOT IN (SELECT user_id FROM p)) AS purchases_outside_funnel
    """,
)
def events_funnel_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly ORDERED conversion funnel (view -> later click -> later
    purchase): each stage's anchor is the user's earliest event of
    that type occurring after the previous stage's anchor — an
    order-sensitive semantics a naive per-type distinct count gets
    wrong (the last column counts purchase events that a naive funnel
    would credit). Three stage aggregations, each a user-keyed shuffle
    reusing the same partitioning; timestamps only compared, never
    emitted."""
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    outside = (
        ev.where(F.col("event_type") == "purchase")
        .join(p, "user_id", "left_anti")
        .agg(F.count(F.lit(1)).alias("purchases_outside_funnel"))
    )
    counts = (
        v.agg(F.count(F.lit(1)).alias("n_viewed"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_clicked_after_view")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchased_after_click")))
        .crossJoin(outside)
    )
    return counts


@query(
    "lineitem_abc_pareto",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS r
      FROM lineitem GROUP BY l_partkey
    ),
    tot AS (SELECT SUM(r) AS t FROM rev),
    ranked AS (
      SELECT l_partkey, r,
             SUM(r) OVER (ORDER BY r DESC, l_partkey
                          ROWS UNBOUNDED PRECEDING) AS cum
      FROM rev
    ),
    classed AS (
      SELECT CASE WHEN (cum - r) * 100 < tot.t * 80 THEN 'A'
                  WHEN (cum - r) * 100 < tot.t * 95 THEN 'B'
                  ELSE 'C' END AS abc_class,
             r
      FROM ranked, tot
    )
    SELECT abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(r) AS DOUBLE) AS class_revenue
    FROM classed
    GROUP BY abc_class
    ORDER BY abc_class
    """,
)
def lineitem_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification of parts by revenue: class A = parts
    whose PRECEDING cumulative share is under 80%, B under 95%, C the
    tail — the inventory-analytics standard. The cumulative sum is
    decimal-exact and the class boundaries compare integers
    (cum*100 < total*80), so classification is engine-exact with no
    float share in sight. The global running sum is the one inherently
    serial step; part cardinality (the AGGREGATED relation, not
    lineitem) keeps it small, and the same ordered-bucket trick as
    global_sort_rank would shard it at 100 TB."""
    rev = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("r"))
    )
    tot = rev.agg(F.sum("r").alias("t"))
    w = Window.orderBy(F.col("r").desc(), "l_partkey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = rev.withColumn("cum", F.sum("r").over(w))
    classed = ranked.crossJoin(F.broadcast(tot)).select(
        F.when((F.col("cum") - F.col("r")) * 100 < F.col("t") * 80, "A")
        .when((F.col("cum") - F.col("r")) * 100 < F.col("t") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
        "r",
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("r").cast("double").alias("class_revenue"),
        )
        .orderBy("abc_class")
    )


@query(
    "orders_rfm_segments",
    oracle="""
    WITH m AS (
      SELECT o_custkey,
             max(o_orderdate) AS last_order,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT o_custkey,
             ntile(5) OVER (ORDER BY last_order DESC, o_custkey) AS r_score,
             ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
             ntile(5) OVER (ORDER BY monetary DESC, o_custkey) AS m_score
      FROM m
    )
    SELECT CAST(r_score AS BIGINT) AS r_score,
           CAST(f_score AS BIGINT) AS f_score,
           CAST(m_score AS BIGINT) AS m_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM scored
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
)
def orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer recency/frequency/monetary
    quintiles (ntile over fully tie-broken total orders — custkey as
    the tiebreaker makes every quintile boundary engine-exact), rolled
    up to segment counts. Monetary ranks on the exact decimal sum.
    The three ntiles share one single-partition window over the
    CUSTOMER aggregate (not orders) — same bounded-serial-step
    reasoning as the Pareto classes."""
    m = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("monetary"),
        )
    )
    scored = m.select(
        "o_custkey",
        F.ntile(5).over(Window.orderBy(F.col("last_order").desc(), "o_custkey")).alias("r_score"),
        F.ntile(5).over(Window.orderBy(F.col("frequency").desc(), "o_custkey")).alias("f_score"),
        F.ntile(5).over(Window.orderBy(F.col("monetary").desc(), "o_custkey")).alias("m_score"),
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .select(
            F.col("r_score").cast("long").alias("r_score"),
            F.col("f_score").cast("long").alias("f_score"),
            F.col("m_score").cast("long").alias("m_score"),
            "n_customers",
        )
        .orderBy("r_score", "f_score", "m_score")
    )


@query(
    "basket_part_lift",
    oracle="""
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey % 100 AS part_bucket
      FROM lineitem
    ),
    n_orders AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM li),
    supp AS (
      SELECT part_bucket, CAST(COUNT(*) AS BIGINT) AS n_orders_with
      FROM li GROUP BY part_bucket
    ),
    pairs AS (
      SELECT a.part_bucket AS pa, b.part_bucket AS pb,
             CAST(COUNT(*) AS BIGINT) AS n_together
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.part_bucket < b.part_bucket
      GROUP BY 1, 2
    )
    SELECT p.pa, p.pb, p.n_together,
           round((p.n_together * n.n) / (sa.n_orders_with * sb.n_orders_with), 6)
             AS lift
    FROM pairs p
    JOIN supp sa ON sa.part_bucket = p.pa
    JOIN supp sb ON sb.part_bucket = p.pb, n_orders n
    WHERE p.n_together >= 8
    ORDER BY pa, pb
    """,
)
def basket_part_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association lift over part buckets co-occurring in
    an order (buckets keep the itemset vocabulary bounded — the same
    move real basket mining makes with product categories):
    lift(a,b) = P(a,b) / (P(a)P(b)) as one integer expression
    (n_together * n_orders) / (supp_a * supp_b), rounded to 6 (the
    support floor of 8 keeps the driver check non-empty at sf0.001 —
    10 rows — while trimming singleton noise). The
    pair join is keyed on l_orderkey whose fan-out is the order's line
    count (~7) — bounded quadratic per order, never corpus-quadratic;
    support tables broadcast back."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", (F.col("l_partkey") % 100).alias("part_bucket"))
        .distinct()
    )
    n_orders = li.agg(F.countDistinct("l_orderkey").alias("n"))
    supp = li.groupBy("part_bucket").agg(F.count(F.lit(1)).alias("n_orders_with"))
    a = li.select(F.col("l_orderkey"), F.col("part_bucket").alias("pa"))
    b = li.select(F.col("l_orderkey"), F.col("part_bucket").alias("pb"))
    pairs = (
        a.join(b, "l_orderkey")
        .where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n_together"))
        .where(F.col("n_together") >= 8)
    )
    sa = supp.select(F.col("part_bucket").alias("pa"), F.col("n_orders_with").alias("_sa"))
    sb = supp.select(F.col("part_bucket").alias("pb"), F.col("n_orders_with").alias("_sb"))
    return (
        pairs.join(F.broadcast(sa), "pa")
        .join(F.broadcast(sb), "pb")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "pa",
            "pb",
            "n_together",
            F.round(
                (F.col("n_together") * F.col("n")) / (F.col("_sa") * F.col("_sb")), 6
            ).alias("lift"),
        )
        .orderBy("pa", "pb")
    )


@query(
    "window_numeric_range_frame",
    oracle="""
    WITH c AS (
      SELECT event_id, event_type,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events
    )
    SELECT event_id,
           CAST(COUNT(*) OVER (PARTITION BY event_type ORDER BY cents
                               RANGE BETWEEN 500 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS n_within_5
    FROM c
    ORDER BY event_id
    """,
)
def window_numeric_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric (value-distance) RANGE frame — the frame family's last
    member next to ROWS and time-RANGE: for each event, how many
    same-type events have a value within 5.00 below it. RANGE frames
    bound by VALUE distance, so peers (equal cents) share one frame
    regardless of row order — deterministic with no tie-break needed;
    the integer-cents sort key keeps the bound exact on both engines.
    One shuffle on event_type."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rangeBetween(-500, Window.currentRow)
    )
    return (
        ev.select(
            "event_id",
            F.count(F.lit(1)).over(w).alias("n_within_5"),
        )
        .orderBy("event_id")
    )


@query(
    "map_functions_showcase",
    oracle="""
    WITH counts AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT user_id, CAST(SUM(n) AS BIGINT) AS total FROM counts GROUP BY 1),
    -- map_filter(n >= 2), transform_values(n * 2), map_concat(__total),
    -- all rendered as ONE key-sorted entry list (matching Spark's
    -- array_sort over map_entries, binary string order)
    entries AS (
      SELECT user_id, event_type AS k, CAST(n * 2 AS VARCHAR) AS v
      FROM counts WHERE n >= 2
      UNION ALL
      SELECT user_id, '__total', CAST(total AS VARCHAR) FROM tot
    )
    SELECT user_id,
           string_agg(k || '=' || v, ';' ORDER BY k) AS rendered
    FROM entries
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def map_functions_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MAP-column function family (the scalar-surface sibling of
    the array HOFs): per-user event-type counts built into a real
    map column with ``map_from_entries``, pruned with ``map_filter``,
    rescaled with ``transform_values``, merged with ``map_concat``
    (a __total entry), and rendered deterministically by sorting
    ``map_entries`` — map key order is engine-internal, so ANY
    map-valued output must canonicalize through sorted entries before
    it can be value-compared (the same discipline the variant codec
    applies to object keys)."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    m = counts.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "n"))
        ).alias("m"),
        F.sum("n").alias("total"),
    )
    filtered = F.map_filter("m", lambda k, v: v >= 2)
    doubled = F.transform_values(filtered, lambda k, v: v * 2)
    merged = F.map_concat(
        doubled, F.create_map(F.lit("__total"), F.col("total"))
    )
    rendered = F.array_join(
        F.transform(
            F.array_sort(F.map_entries(merged)),
            lambda e: F.concat(e.key, F.lit("="), e.value.cast("string")),
        ),
        ";",
    )
    return (
        m.select("user_id", rendered.alias("rendered"))
        .orderBy("user_id")
    )


@query(
    "variant_merge_patch",
    oracle="""
    WITH patched AS (
      SELECT event_id,
             json_merge_patch(
               props,
               CASE WHEN event_id % 2 = 0
                    THEN '{"k": null, "sq": ' || (event_id % 97) * (event_id % 97) || '}'
                    ELSE '{"sq": ' || (event_id % 97) * (event_id % 97) || '}'
               END) AS merged
      FROM events
    )
    SELECT event_id, CAST(merged AS VARCHAR) AS merged_json
    FROM patched
    ORDER BY event_id
    """,
)
def variant_merge_patch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 7386 merge patch executed at the VARIANT level on the
    explicit-codec track (codec.py:merge_patch + the per-row
    dictionary rebuild in functions/explicit.py): even events delete
    the ``k`` key and add ``sq``; odd events only add. The result
    renders through the codec's canonical to_json (object keys in
    dictionary order), which DuckDB's ``json_merge_patch`` also
    produces for this key set — variant mutation is the capability the
    reference's append-only builders lack. Arrow-batched end to end;
    one dictionary build per distinct key set on each side of the
    patch. Sorted on ``event_id`` before the UDFs, so the range
    exchange's sample job reads only the scan, not the Python chain."""
    from ..functions import explicit

    ev = load_table(spark, sf_dir, "events").orderBy("event_id")
    sq = (F.col("event_id") % 97) * (F.col("event_id") % 97)
    patch = F.when(
        F.col("event_id") % 2 == 0,
        F.concat(F.lit('{"k": null, "sq": '), sq, F.lit("}")),
    ).otherwise(F.concat(F.lit('{"sq": '), sq, F.lit("}")))
    v = ev.select(
        "event_id",
        explicit.variant_from_json(F.col("props")).alias("v"),
        patch.alias("patch"),
    )
    merged = v.select(
        "event_id",
        explicit.variant_merge_patch(F.col("v"), F.col("patch")).alias("m"),
    )
    return merged.select(
        "event_id",
        explicit.variant_to_json(F.col("m")).alias("merged_json"),
    )


@query(
    "text_lang_confusion_matrix",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang,
             len(list_filter(string_split(text,' '), w -> w IN ('der','die','das','und','ein')))::BIGINT AS score_de,
             len(list_filter(string_split(text,' '), w -> w IN ('the','a','of','and','to')))::BIGINT AS score_en,
             len(list_filter(string_split(text,' '), w -> w IN ('el','la','de','que','los')))::BIGINT AS score_es,
             len(list_filter(string_split(text,' '), w -> w IN ('le','la','les','des','une')))::BIGINT AS score_fr,
             len(list_filter(string_split(text,' '), w -> w IN ('de5','shi4','le5','zai4','he2')))::BIGINT AS score_zh
      FROM documents
    ),
    pred AS (
      SELECT lang AS lang_true,
             CASE WHEN greatest(score_de, score_en, score_es, score_fr, score_zh) = 0 THEN 'und'
                  WHEN score_de = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'de'
                  WHEN score_en = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'en'
                  WHEN score_es = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'es'
                  WHEN score_fr = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'fr'
                  ELSE 'zh' END AS lang_pred
      FROM scored
    )
    SELECT lang_true, lang_pred, CAST(COUNT(*) AS BIGINT) AS n
    FROM pred
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def text_lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluation harness for the lang-ID heuristic: confusion matrix
    of the corpus' labeled language against the marker-lexicon
    prediction — the quality-control query every classifier-driven
    curation stage needs BEFORE trusting the filter at scale (a
    per-language recall collapse shows up here, not in aggregate
    accuracy). One corpus pass (the scorer is an in-row projection),
    one grouped count."""
    from ..operators import text as text_ops

    docs = load_table(spark, sf_dir, "documents")
    pred = text_ops.lang_id(docs, "text", "doc_id").select("doc_id", "lang_pred")
    return (
        docs.select("doc_id", F.col("lang").alias("lang_true"))
        .join(pred, "doc_id")
        .groupBy("lang_true", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang_true", "lang_pred")
    )


@query(
    "join_key_skew_profile",
    oracle="""
    WITH freq AS (
      SELECT l_suppkey AS key, CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem GROUP BY l_suppkey
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t,
                   CAST(COUNT(*) AS BIGINT) AS n_keys FROM freq)
    SELECT f.key, f.n,
           CAST((f.n * 1000000) // tot.t AS BIGINT) AS share_ppm,
           CAST((f.n * tot.n_keys * 100) // tot.t AS BIGINT) AS x100_of_avg
    FROM freq f, tot
    ORDER BY f.n DESC, f.key
    LIMIT 10
    """,
)
def join_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew pre-flight: the top-10 heaviest l_suppkey values
    with their corpus share (ppm) and their size relative to the
    average key (x100) — the diagnostic you run BEFORE a big shuffle
    join to decide between plain hash join, broadcast, salting
    (skew_salted_join), or AQE skew splitting. All integer floor
    arithmetic; one key-grouped count with map-side combine, a 1-row
    total broadcast back, and a TakeOrdered top-10 — never a full
    sort."""
    li = load_table(spark, sf_dir, "lineitem")
    freq = li.groupBy(F.col("l_suppkey").alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = freq.agg(
        F.sum("n").alias("t"), F.count(F.lit(1)).alias("n_keys")
    )
    return (
        freq.crossJoin(F.broadcast(tot))
        .select(
            "key",
            "n",
            F.expr("(n * 1000000) div t").alias("share_ppm"),
            F.expr("(n * n_keys * 100) div t").alias("x100_of_avg"),
        )
        .orderBy(F.col("n").desc(), "key")
        .limit(10)
    )


@query(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    )
    SELECT prev_type, event_type AS next_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM seq
    WHERE prev_type IS NOT NULL
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order user-journey transition counts (the Markov matrix
    behind next-action modeling and funnel design): consecutive
    event-type pairs per user in (ts, event_id) order. One user-keyed
    window pass, then a tiny grouped count — the same shuffle the
    sessionizer already needs, so at scale this piggybacks on an
    existing partitioning."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).where(F.col("prev_type").isNotNull())
    return (
        seq.groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("prev_type", "next_type")
    )


@query(
    "embedding_centroid_drift",
    oracle="""
    WITH dims AS (
      SELECT label, vec_id % 2 AS half, i.i AS pos,
             CAST(SUM(CAST(embedding[i.i] AS DECIMAL(20,10))) AS DOUBLE) AS s
      FROM embeddings,
           LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) i
      GROUP BY label, half, i.i
    ),
    paired AS (
      SELECT a.label, a.pos, a.s AS sa, b.s AS sb
      FROM dims a JOIN dims b
        ON a.label = b.label AND a.pos = b.pos AND a.half = 0 AND b.half = 1
    ),
    dots AS (
      SELECT label,
             CAST(SUM(CAST(sa * sb AS DECIMAL(30,10))) AS DOUBLE) AS dot,
             CAST(SUM(CAST(sa * sa AS DECIMAL(30,10))) AS DOUBLE) AS na,
             CAST(SUM(CAST(sb * sb AS DECIMAL(30,10))) AS DOUBLE) AS nb
      FROM paired GROUP BY label
    )
    SELECT CAST(label AS BIGINT) AS label,
           round(dot / sqrt(na * nb), 6) AS centroid_cosine
    FROM dots
    ORDER BY label
    """,
)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor for embedding pipelines: per label,
    the cosine between the centroid of one corpus half and the other
    (halves by vec_id parity) — a drop below ~1.0 flags that the two
    halves don't share a distribution, the check a training pipeline
    runs when ingesting a new embedding batch. Exactness: cosine is
    scale-invariant, so the UNnormalized per-dimension decimal sums
    stand in for the means (no decimal division whose scale rules
    differ across engines); the cross products accumulate in decimal
    and only the final sqrt/divide run in (IEEE-deterministic)
    doubles, rounded to 6. Shuffle carries label x half x dim partial
    sums — independent of corpus size."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = (
        emb.select(
            "label",
            (F.col("vec_id") % 2).alias("half"),
            F.posexplode("embedding").alias("pos", "x"),
        )
        .groupBy("label", "half", "pos")
        .agg(
            F.sum(F.col("x").cast("decimal(20,10)")).cast("double").alias("s")
        )
    )
    a = dims.where(F.col("half") == 0).select("label", "pos", F.col("s").alias("sa"))
    b = dims.where(F.col("half") == 1).select("label", "pos", F.col("s").alias("sb"))
    paired = a.join(b, ["label", "pos"])
    dots = paired.groupBy("label").agg(
        F.sum((F.col("sa") * F.col("sb")).cast("decimal(30,10)")).cast("double").alias("dot"),
        F.sum((F.col("sa") * F.col("sa")).cast("decimal(30,10)")).cast("double").alias("na"),
        F.sum((F.col("sb") * F.col("sb")).cast("decimal(30,10)")).cast("double").alias("nb"),
    )
    return dots.select(
        F.col("label").cast("long").alias("label"),
        F.round(F.col("dot") / F.sqrt(F.col("na") * F.col("nb")), 6).alias(
            "centroid_cosine"
        ),
    ).orderBy("label")


@query(
    "variant_explode_relational",
    oracle="""
    SELECT 0 AS pos, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS sum_k,
           CAST(NULL AS BIGINT) AS sum_int
    FROM events
    UNION ALL
    SELECT 1, CAST(COUNT(*) AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
    FROM events
    UNION ALL
    SELECT 2, CAST(COUNT(*) AS BIGINT), CAST(NULL AS BIGINT),
           CAST(SUM(event_id % 5) AS BIGINT)
    FROM events
    ORDER BY pos
    """,
)
def variant_explode_relational(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's ``variant_explode`` table function: a HETEROGENEOUS
    variant array (object, object, int — no fixed element schema) per
    event flattens into relational rows via LATERAL, with typed
    ``variant_get`` extraction applied per position — the array
    counterpart of the shred-early rule, and the operation a fixed
    ``explode(array<struct>)`` cannot express (the elements don't
    share a struct type). try_variant_get degrades gracefully where a
    path doesn't apply (objects at the int position and vice versa):
    the per-position sums prove which elements carried which shape."""
    ev = load_table(spark, sf_dir, "events")
    ev.select(
        F.expr(
            """parse_json(concat('[', props, ',{"t":"', event_type, '"},',
                          CAST(event_id % 5 AS STRING), ']'))"""
        ).alias("v")
    ).createOrReplaceTempView("variant_arrays")
    return spark.sql(
        """
        SELECT t.pos,
               COUNT(*) AS n,
               SUM(try_variant_get(t.value, '$.k', 'bigint')) AS sum_k,
               SUM(CASE WHEN schema_of_variant(t.value) NOT LIKE 'OBJECT%'
                        THEN try_variant_get(t.value, '$', 'bigint') END)
                 AS sum_int
        FROM variant_arrays s, LATERAL variant_explode(s.v) t
        GROUP BY t.pos
        ORDER BY t.pos
        """
    )


@query(
    "text_ngram_novelty",
    oracle="""
    WITH grams AS (
      SELECT doc_id, substr(text, i.i::INT, 8) AS g
      FROM documents,
           LATERAL (SELECT unnest(range(1, len(text) - 6)) AS i) i
    ),
    firsts AS (
      SELECT doc_id, g,
             (row_number() OVER (PARTITION BY g ORDER BY doc_id) = 1
              AND doc_id = min(doc_id) OVER (PARTITION BY g)) AS is_first_doc
      FROM (SELECT DISTINCT doc_id, g FROM grams)
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN is_first_doc THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           round(SUM(CASE WHEN is_first_doc THEN 1 ELSE 0 END)
                 / COUNT(*), 6) AS novelty
    FROM firsts
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's DISTINCT
    char-8-grams never seen in any earlier doc (by doc_id order) — the
    dataset-freshness curve that tells a curation pipeline when
    additional data stops contributing new content (novelty trending
    to zero = the crawl is saturating). Plan shape is chunk-dedup's:
    in-row gram build, one shuffle on the gram for the
    first-occurrence window, one regroup per doc. Integer counts plus
    one rounded division."""
    from ..operators import dedup

    docs = dedup.fan_out(load_table(spark, sf_dir, "documents"))
    grams = dedup.char_ngrams(docs, "text", "doc_id", n=8)
    w = Window.partitionBy("g")
    flagged = grams.withColumn(
        "is_first_doc", F.col("doc_id") == F.min("doc_id").over(w)
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.col("is_first_doc").cast("long")).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.round(F.col("n_novel") / F.col("n_grams"), 6).alias("novelty"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Data-quality audits and multimodal shard packing.
# ---------------------------------------------------------------------------


@query(
    "referential_integrity_audit",
    oracle="""
    SELECT 'lineitem->orders' AS relation,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_children,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
    UNION ALL
    SELECT 'orders->customer',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'customer->nation',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM customer),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM customer c
             WHERE NOT EXISTS (SELECT 1 FROM nation n
                               WHERE n.n_nationkey = c.c_nationkey))
    UNION ALL
    SELECT 'supplier->nation',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM supplier),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM supplier s
             WHERE NOT EXISTS (SELECT 1 FROM nation n
                               WHERE n.n_nationkey = s.s_nationkey))
    ORDER BY relation
    """,
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key orphan audit across the star schema — the data-
    quality gate a warehouse runs after every load (a nonzero orphan
    count means a broken pipeline upstream, and every downstream inner
    join silently drops those rows). Each relation is one LEFT ANTI
    join; the dimension sides broadcast; the four audits union into a
    single report."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")

    def audit(name, child, parent, ckey, pkey):
        orphans = child.join(
            F.broadcast(parent.select(pkey)),
            child[ckey] == parent[pkey],
            "left_anti",
        )
        return (
            child.agg(F.count(F.lit(1)).alias("n_children"))
            .crossJoin(orphans.agg(F.count(F.lit(1)).alias("n_orphans")))
            .select(F.lit(name).alias("relation"), "n_children", "n_orphans")
        )

    out = (
        audit("lineitem->orders", li, o, "l_orderkey", "o_orderkey")
        .union(audit("orders->customer", o, c, "o_custkey", "c_custkey"))
        .union(audit("customer->nation", c, n, "c_nationkey", "n_nationkey"))
        .union(audit("supplier->nation", s, n, "s_nationkey", "n_nationkey"))
    )
    return out.orderBy("relation")


_SHARD_BYTES = 20000


@query(
    "multimodal_shard_packing",
    oracle=f"""
    WITH sized AS (
      SELECT source, doc_id, octet_length(encode(text)) AS n_bytes,
             SUM(octet_length(encode(text)))
               OVER (PARTITION BY source ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior
      FROM documents
    )
    SELECT source,
           CAST(coalesce(prior, 0) // {_SHARD_BYTES} AS BIGINT) AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_assets,
           CAST(SUM(n_bytes) AS BIGINT) AS shard_bytes,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM sized
    GROUP BY source, shard_id
    ORDER BY source, shard_id
    """,
)
def multimodal_shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-budgeted shard packing for binary assets (the multimodal
    sibling of token-budget sequence packing): within each source, in
    deterministic doc_id order, an asset joins the shard its PRIOR
    cumulative bytes fall into (prior div budget — the streaming-
    friendly rule: an asset never splits, shards overflow by at most
    one asset). Emits the shard manifest a dataloader consumes. One
    source-keyed window + regroup; integer arithmetic throughout."""
    docs = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sized = docs.select(
        "source",
        "doc_id",
        F.octet_length(F.encode("text", "UTF-8")).cast("long").alias("n_bytes"),
    ).withColumn("prior", F.coalesce(F.sum("n_bytes").over(w), F.lit(0)))
    return (
        sized.withColumn("shard_id", F.expr(f"prior div {_SHARD_BYTES}"))
        .groupBy("source", "shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.sum("n_bytes").alias("shard_bytes"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("source", "shard_id")
    )


@query(
    "orders_mom_revenue_change",
    oracle="""
    WITH m AS (
      SELECT o_orderpriority AS priority,
             (year(o_orderdate) * 12 + month(o_orderdate)) AS ym,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1, 2
    ),
    chg AS (
      SELECT priority, ym, rev,
             CAST(rev * 100 AS BIGINT) AS rev_c,
             lag(CAST(rev * 100 AS BIGINT))
               OVER (PARTITION BY priority ORDER BY ym) AS prev_c,
             lag(ym) OVER (PARTITION BY priority ORDER BY ym) AS prev_ym
      FROM m
    )
    SELECT priority,
           printf('%04d-%02d', (ym - 1) // 12, ((ym - 1) % 12) + 1) AS month,
           CAST(rev AS DOUBLE) AS revenue,
           CASE WHEN prev_ym = ym - 1
                THEN round((CASE WHEN rev_c >= prev_c THEN 1 ELSE -1 END)
                           * (abs(rev_c - prev_c) * 10000 // prev_c)
                           / 100.0, 2)
           END AS mom_pct
    FROM chg
    ORDER BY priority, month
    """,
)
def orders_mom_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue change per order priority — the
    period-over-period reporting shape: one month-grain aggregate,
    one lag window per priority, and a gap guard (a month with no
    predecessor month emits NULL instead of comparing across the gap).
    The percentage is computed as integer basis points on the exact
    revenues converted to integer CENTS first — magnitude and sign
    handled separately because negative integer division floors on one
    engine and truncates on the other, and decimal `div` rounding
    rules aren't portable either — so both engines emit the identical
    two-decimal figure."""
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("ym"),
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    w = Window.partitionBy("priority").orderBy("ym")
    m = m.withColumn("rev_c", F.expr("CAST(rev * 100 AS BIGINT)"))
    chg = m.withColumn("prev_c", F.lag("rev_c").over(w)).withColumn(
        "prev_ym", F.lag("ym").over(w)
    )
    month = F.format_string(
        "%04d-%02d", F.expr("(ym - 1) div 12"), F.expr("((ym - 1) % 12) + 1")
    )
    mom = F.when(
        F.col("prev_ym") == F.col("ym") - 1,
        F.round(
            F.expr(
                "(CASE WHEN rev_c >= prev_c THEN 1 ELSE -1 END)"
                " * (abs(rev_c - prev_c) * 10000 div prev_c)"
            )
            / F.lit(100.0),
            2,
        ),
    )
    return chg.select(
        "priority",
        month.alias("month"),
        F.col("rev").cast("double").alias("revenue"),
        mom.alias("mom_pct"),
    ).orderBy("priority", "month")


@query(
    "customer_order_gap_histogram",
    oracle="""
    WITH gaps AS (
      SELECT o_custkey,
             date_diff('day',
                       lag(o_orderdate) OVER (PARTITION BY o_custkey
                                              ORDER BY o_orderdate, o_orderkey),
                       o_orderdate) AS gap_days
      FROM orders
    )
    SELECT CAST(least(gap_days // 30, 12) AS BIGINT) AS gap_bucket_months,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(MIN(gap_days) AS BIGINT) AS min_days,
           CAST(MAX(gap_days) AS BIGINT) AS max_days
    FROM gaps
    WHERE gap_days IS NOT NULL
    GROUP BY 1
    ORDER BY 1
    """,
)
def customer_order_gap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase interval distribution: consecutive order gaps per
    customer (lag window, orderkey tie-break) bucketed into months
    with a 12+ tail — the churn-model feature a retention team reads
    before picking a reactivation window. Day differences and buckets
    are pure integers; gaps never span customers (window partitioning)
    and a customer's first order emits no gap."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = o.select(
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).alias("gap_days")
    ).where(F.col("gap_days").isNotNull())
    return (
        gaps.select(
            F.least(F.expr("gap_days div 30"), F.lit(12))
            .cast("long")
            .alias("gap_bucket_months"),
            "gap_days",
        )
        .groupBy("gap_bucket_months")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.min("gap_days").cast("long").alias("min_days"),
            F.max("gap_days").cast("long").alias("max_days"),
        )
        .orderBy("gap_bucket_months")
    )


@query(
    "part_share_within_type",
    oracle="""
    WITH rev AS (
      SELECT p.p_type AS ptype, p.p_brand AS brand,
             CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS rev_c
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    )
    SELECT ptype, brand,
           CAST(rev_c / 100.0 AS DOUBLE) AS revenue,
           CAST(rev_c * 10000 // SUM(rev_c) OVER (PARTITION BY ptype) AS BIGINT)
             AS share_bp
    FROM rev
    ORDER BY ptype, brand
    """,
)
def part_share_within_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each brand's basis-point share of its part
    type's revenue via an unframed window aggregate (sum over the
    whole partition as the denominator) — the reporting shape that
    needs no second aggregate or self-join. Shares are integer cents
    divided integerly (all positive, so floor and truncate agree
    across engines); the window reuses the grouped aggregate's type
    partitioning, so the share costs no extra shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    rev = (
        li.join(
            F.broadcast(p.select("p_partkey", "p_type", "p_brand")),
            li.l_partkey == p.p_partkey,
        )
        .groupBy(F.col("p_type").alias("ptype"), F.col("p_brand").alias("brand"))
        .agg(
            F.expr(
                "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT)"
            ).alias("rev_c")
        )
    )
    w = Window.partitionBy("ptype")
    total = F.sum("rev_c").over(w)
    return rev.select(
        "ptype",
        "brand",
        (F.col("rev_c") / F.lit(100.0)).cast("double").alias("revenue"),
        F.expr(f"rev_c * 10000").alias("_num"),
        total.alias("_tot"),
    ).select(
        "ptype",
        "brand",
        "revenue",
        F.expr("_num div _tot").cast("long").alias("share_bp"),
    ).orderBy("ptype", "brand")


def _register_source_dup_matrix() -> None:
    from ..operators import dedup
    from .llmdata import _SIGS_CTE

    oracle = f"""
    WITH {_SIGS_CTE}
    SELECT da.source AS source_a, db.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM candidates c
    JOIN documents da ON da.doc_id = c.doc_a
    JOIN documents db ON db.doc_id = c.doc_b
    GROUP BY 1, 2
    ORDER BY 1, 2
    """

    def dedup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Cross-source duplication matrix: LSH candidate pairs joined
        back to each side's source label — the provenance analytic
        that tells a curation team WHICH feeds copy from which (heavy
        off-diagonal mass = syndication between sources; diagonal mass
        = within-feed boilerplate), and therefore which source to drop
        wholesale instead of deduping pair by pair. The doc->source
        map broadcasts onto the (small) candidate set."""
        docs = dedup.fan_out(load_table(spark, sf_dir, "documents"))
        sigs = dedup.minhash_signatures(docs, "text", "doc_id", n=8, num_hashes=8)
        pairs = dedup.lsh_candidate_pairs(sigs, "doc_id", num_hashes=8, bands=2)
        src = docs.select("doc_id", "source")
        a = src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("source_a"))
        b = src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("source_b"))
        return (
            pairs.join(F.broadcast(a), "doc_a")
            .join(F.broadcast(b), "doc_b")
            .groupBy("source_a", "source_b")
            .agg(F.count(F.lit(1)).alias("n_pairs"))
            .orderBy("source_a", "source_b")
        )

    query("dedup_source_matrix", oracle=oracle)(dedup_source_matrix)


_register_source_dup_matrix()


@query(
    "events_weekly_heatmap",
    oracle="""
    SELECT CAST(isodow(ts) - 1 AS BIGINT) AS weekday,
           CAST(hour(ts) AS BIGINT) AS hour,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def events_weekly_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday x hour activity heatmap (0 = Monday, ISO convention on
    both engines) — the seasonality fingerprint behind capacity
    planning and anomaly baselines. One grouped count over calendar
    projections; the 168-cell result is constant-size at any scale."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.weekday("ts").cast("long").alias("weekday"),
            F.hour("ts").cast("long").alias("hour"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("weekday", "hour")
    )


@query(
    "curation_token_budget",
    oracle="""
    WITH toks AS (
      SELECT source, doc_id,
             len(list_filter(string_split(text, ' '), w -> len(w) > 0)) AS toks
      FROM documents),
    cum AS (
      SELECT source, doc_id, toks,
             SUM(toks) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum_toks
      FROM toks)
    SELECT source,
           COUNT(*) AS total_docs,
           CAST(SUM(CASE WHEN cum_toks <= 700 THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
           CAST(SUM(CASE WHEN cum_toks <= 700 THEN toks ELSE 0 END) AS BIGINT) AS kept_tokens,
           CAST(SUM(toks) AS BIGINT) AS total_tokens
    FROM cum
    GROUP BY source
    ORDER BY source
    """,
)
def curation_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget capping (keep docs in ingestion order
    until the source's cumulative whitespace-token count passes 700)
    — the "cap each over-represented domain" step that precedes
    mixture sampling in a training-data pipeline. One shuffle on
    ``source``; the accounting groupBy reuses the window's hash
    partitioning, so the plan carries exactly one Exchange
    (plan-pinned in tests/test_plans.py)."""
    from ..operators import text as text_ops

    docs = load_table(spark, sf_dir, "documents")
    return text_ops.token_budget(
        docs, "text", "doc_id", "source", budget=700
    ).orderBy("source")


@query(
    "pipeline_media_to_shards",
    oracle="""
    -- the generative formula (seed = asset_id % 100) reproduces every
    -- pipeline stage without decoding a byte: same seed => byte-
    -- identical PNG payload, so content-md5 dedup == seed dedup
    WITH assets AS (
      SELECT doc_id AS asset_id, doc_id % 100 AS seed
      FROM documents WHERE doc_id < 200),
    dims AS (
      SELECT asset_id, seed,
             CAST(8 + seed % 5 AS INT) AS width,
             CAST(6 + seed % 4 AS INT) AS height
      FROM assets),
    px AS (
      SELECT d.asset_id, d.seed, d.width, d.height,
             CAST(SUM((d.seed + 7 * x.x + 13 * y.y) % 256) AS BIGINT) AS px_sum
      FROM dims d,
           LATERAL (SELECT unnest(range(d.width)) AS x) x,
           LATERAL (SELECT unnest(range(d.height)) AS y) y
      GROUP BY 1, 2, 3, 4),
    gated AS (SELECT * FROM px WHERE width * height >= 56),
    dedup AS (
      SELECT *, MIN(asset_id) OVER (PARTITION BY seed) AS keeper FROM gated),
    survivors AS (
      SELECT asset_id, width, height, px_sum
      FROM dedup WHERE asset_id = keeper),
    packed AS (
      SELECT width, height, asset_id, px_sum,
             width * height AS px_bytes,
             COALESCE(SUM(width * height) OVER (
               PARTITION BY width, height ORDER BY asset_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
      FROM survivors)
    SELECT width, height,
           CAST(prior // 100 AS BIGINT) AS shard_id,
           COUNT(*) AS n_assets,
           CAST(SUM(px_bytes) AS BIGINT) AS shard_px_bytes,
           CAST(SUM(px_sum) AS BIGINT) AS px_sum_total,
           CAST(MIN(asset_id) AS BIGINT) AS first_asset,
           CAST(MAX(asset_id) AS BIGINT) AS last_asset
    FROM packed GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
    hash_deps=(multimodal.synthesize_assets, multimodal.png_gray),
)
def pipeline_media_to_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal CAPSTONE — binary ingest to training shards in
    ONE plan: synthesize genuine PNG payloads (operators/png.py, all
    five spec filters), decode them through the MediaDecoder seam,
    quality-gate on decoded dimensions (area >= 56), EXACT content
    dedup on the decoder stage's payload md5 (seeds repeat every 100
    assets, so half the corpus is byte-identical duplicates — keeper =
    min asset id), then pack survivors into px-budgeted shards WITHIN
    each (width, height) shape class — uniform-shape shards are what a
    dataloader batches without padding. Emits the shard manifest.

    The oracle never decodes a byte: the generative formula maps seed
    -> dims -> pixel bytes, and byte-identical payloads have equal
    seeds (distinct seeds differ in dims or pixel content), so
    content-md5 dedup is reproduced as seed dedup.

    Scale shape: payloads live ONLY inside the chained
    synth-mapInPandas -> featurize-mapInPandas pipeline — no Exchange
    between the Python stages (plan-pinned), and every post-decode
    stage operates on narrow metadata rows: one shuffle for the
    content-hash dedup window, one for the shape-class packing window;
    the manifest groupBy reuses the packing partitioning. At 100 TB of
    images the bytes cross the wire zero times — only ids, hashes and
    dims do. Reference parity: the reference has no media layer at
    all; this is the Spark-native shape its codec-style column model
    (binary + typed metadata) supports."""
    from ..operators import png as pngmod

    ids = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 200
    ).select("doc_id")
    assets = multimodal.synthesize_assets(
        ids, "doc_id", lambda i: multimodal.png_gray(i % 100)
    )
    feat = multimodal.featurize_binary(
        assets, "payload", "asset_id", decoder=pngmod.png_decoder()
    )
    gated = feat.where(F.col("width") * F.col("height") >= 56)
    w_dd = Window.partitionBy("content_md5")
    survivors = (
        gated.withColumn("keeper", F.min("asset_id").over(w_dd))
        .where(F.col("asset_id") == F.col("keeper"))
        .select("asset_id", "width", "height", "px_sum")
    )
    w_pack = (
        Window.partitionBy("width", "height")
        .orderBy("asset_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    px_bytes = (F.col("width") * F.col("height")).cast("long")
    packed = survivors.withColumn("px_bytes", px_bytes).withColumn(
        "prior", F.coalesce(F.sum("px_bytes").over(w_pack), F.lit(0))
    )
    return (
        packed.withColumn("shard_id", F.expr("prior div 100"))
        .groupBy("width", "height", "shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.sum("px_bytes").alias("shard_px_bytes"),
            F.sum("px_sum").alias("px_sum_total"),
            F.min("asset_id").alias("first_asset"),
            F.max("asset_id").alias("last_asset"),
        )
        .orderBy("width", "height", "shard_id")
    )


# ---------------------------------------------------------------------------
# Synchronous label propagation (community detection) over the same
# candidate graph — integer-exact mode updates with min-label
# tie-break, so the unrolled oracle matches bit-for-bit.
# ---------------------------------------------------------------------------

_LPA_ITERS = 3


def _register_lpa() -> None:
    from ..operators import dedup
    from .llmdata import _SIGS_CTE

    def _lpa_oracle() -> str:
        its = []
        prev = "it0"
        for i in range(1, _LPA_ITERS + 1):
            its.append(
                f"""it{i} AS (
      SELECT node, label FROM (
        SELECT e.dst AS node, r.label AS label,
               ROW_NUMBER() OVER (PARTITION BY e.dst
                                  ORDER BY COUNT(*) DESC, r.label) AS rn
        FROM edges e JOIN {prev} r ON r.node = e.src
        GROUP BY e.dst, r.label) WHERE rn = 1
    )"""
            )
            prev = f"it{i}"
        return f"""
    WITH {_SIGS_CTE},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM candidates
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM candidates
    ),
    it0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
    {', '.join(its)}
    SELECT node AS doc_id, CAST(label AS BIGINT) AS community
    FROM {prev} ORDER BY doc_id
    """

    def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Community detection by synchronous label propagation (3
        iterations) over the undirected MinHash-LSH candidate graph —
        the near-linear community algorithm (Raghavan et al.) that
        groups near-dup neighborhoods WITHOUT the transitive-closure
        collapse of connected components (CC merges chains; LPA keeps
        densely-linked cliques together and lets weak bridges split).
        Completes the graph-analytics family: components (reach),
        PageRank (centrality), triangles (cohesion), LPA (community).

        Determinism, the classic LPA weakness, is engineered out: the
        update is the exact MODE of neighbor labels with ties broken
        by SMALLEST label — in-plan as min(struct(-count, label)), a
        pure integer champion aggregate — and iterations are
        synchronous, so the unrolled-window oracle agrees bit-for-bit.

        Scale shape: each iteration is one shuffle join on src + one
        (node, label) groupBy + one champion aggregate per node —
        O(iters) bounded rounds, state is one (node, label) row per
        node, and the edge set / each iteration's state are eagerly
        localCheckpoint'ed (operators/graph.py discipline: edges'
        lineage is the whole LSH pipeline; untruncated, every
        iteration would re-embed it)."""
        docs = dedup.fan_out(load_table(spark, sf_dir, "documents"))
        sigs = dedup.minhash_signatures(
            docs, "text", "doc_id", n=8, num_hashes=8
        )
        pairs = dedup.lsh_candidate_pairs(sigs, "doc_id", num_hashes=8, bands=2)
        edges = (
            pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
            .union(
                pairs.select(
                    F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
                )
            )
            .localCheckpoint(eager=True)
        )
        state = edges.select(F.col("src").alias("node")).distinct().select(
            "node", F.col("node").alias("label")
        )
        for _ in range(_LPA_ITERS):
            votes = (
                edges.join(state, edges["src"] == state["node"])
                .select("dst", "label")
                .groupBy("dst", "label")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            state = (
                votes.groupBy("dst")
                .agg(
                    F.min(
                        F.struct((-F.col("c")).alias("nc"), F.col("label"))
                    ).alias("m")
                )
                .select(F.col("dst").alias("node"), F.col("m.label").alias("label"))
                .localCheckpoint(eager=True)
            )
        return state.select(
            F.col("node").alias("doc_id"), F.col("label").cast("long").alias("community")
        ).orderBy("doc_id")

    query("graph_label_propagation", oracle=_lpa_oracle())(graph_label_propagation)


_register_lpa()
