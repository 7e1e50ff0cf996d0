"""Approximation-quality audits: measured recall/precision of the
approximate operators, hash-verified against the DuckDB oracle.

The existing ANN queries (similarity_lsh_topk, similarity_ivf_*) are
driver-checked against a recall BOUND (the oracle can't reproduce an
approximate neighbor list in general, so they reduce to
``recall_ok``).  The two queries here go further: every stochastic
ingredient is made deterministic and engine-portable (md5-derived
hyperplanes, DECIMAL-accumulated dots, md5 minhash), so the measured
recall NUMBER itself — not just a bound on it — hash-matches the
oracle.  This is the "measure, don't guess" layer an operator runs
before trusting an approximate method with a 100 TB job: pick the
blocking/band config, run the audit on a bounded subcorpus, read the
recall, then launch.

Reference parity note: the reference repo has no query layer at all
(README.md:13-16) — these audits belong to the LLM-data-pipeline
surface the task brief adds on top of the variant codec.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import dedup
from ..operators.similarity import _dot_decimal, _hyperplane
from ..sources.tables import load_table
from . import query

_N_PLANES = 4
_DIM = 64

#: The audited hyperplanes — identical to operators/similarity.py's
#: ``_hyperplane`` family used by lsh_bucket_signatures (md5-derived,
#: no RNG), so the audit measures the production blocking scheme.
_PLANES = [_hyperplane(_DIM, p) for p in range(_N_PLANES)]

#: DuckDB literal table for the planes: (plane p, 1-based component i,
#: value as a string cast to DOUBLE). The string cast is deliberate —
#: repr(float) round-trips exactly under correctly-rounded parsing,
#: whereas a bare decimal literal would be parsed as DECIMAL first and
#: could lose the last ulp on the way to DOUBLE.
_PLANES_VALUES = ",\n      ".join(
    f"({p}, {i + 1}, '{v!r}'::DOUBLE)"
    for p, plane in enumerate(_PLANES)
    for i, v in enumerate(plane)
)


def _plane_dot_decimal(vec_col: str, plane: list[float]) -> F.Column:
    """Sign-test dot <v, plane> with DECIMAL(30,15) accumulation: each
    per-element double product (IEEE, engine-identical) is rounded into
    decimal, then summed exactly — so the SIGN of the result is
    engine-order-independent, unlike a double fold where addition order
    could flip a near-zero sum. Mirrors operators/similarity.py's
    ``_dot_decimal`` shape with a literal second operand."""
    arr = F.array(*[F.lit(float(x)) for x in plane])
    prods = F.zip_with(
        vec_col,
        arr,
        lambda x, y: (x.cast("double") * y).cast("decimal(30,15)"),
    )
    return F.aggregate(
        prods,
        F.lit(0).cast("decimal(30,15)"),
        lambda acc, v: (acc + v).cast("decimal(30,15)"),
    )


@query(
    "similarity_recall_audit",
    oracle=f"""
    WITH planes(p, i, val) AS (VALUES
      {_PLANES_VALUES}
    ),
    pdots AS (
      SELECT e.vec_id, pl.p,
             SUM(CAST(CAST(e.emb[e.i::INT] AS DOUBLE) * pl.val
                      AS DECIMAL(30,15))) AS d
      FROM (SELECT vec_id, embedding AS emb,
                   unnest(range(1, len(embedding) + 1)) AS i
            FROM embeddings) e
      JOIN planes pl ON pl.i = e.i
      GROUP BY 1, 2
    ),
    sigs AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN d > 0 THEN (1 << p) ELSE 0 END) AS INT)
               AS bucket
      FROM pdots GROUP BY vec_id
    ),
    q AS (SELECT vec_id AS query_id, embedding FROM embeddings
          WHERE vec_id < 8),
    qb AS (SELECT q.query_id, q.embedding, s.bucket
           FROM q JOIN sigs s ON s.vec_id = q.query_id),
    cb AS (SELECT e.vec_id, e.embedding, s.bucket
           FROM embeddings e JOIN sigs s USING (vec_id)),
    exact_dots AS (
      SELECT query_id, vec_id,
             SUM(CAST(CAST(qe[i::INT] AS DOUBLE) * CAST(ee[i::INT] AS DOUBLE)
                      AS DECIMAL(30,15))) AS dot_dec
      FROM (SELECT q.query_id, e.vec_id, q.embedding AS qe,
                   e.embedding AS ee,
                   unnest(range(1, len(e.embedding) + 1)) AS i
            FROM embeddings e, q)
      GROUP BY 1, 2
    ),
    exact_top AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY dot_dec DESC, vec_id) AS rk
        FROM exact_dots) WHERE rk <= 3
    ),
    cand AS (
      SELECT qb.query_id, cb.vec_id, qb.embedding AS qe, cb.embedding AS ee
      FROM qb JOIN cb ON cb.bucket = qb.bucket
    ),
    approx_dots AS (
      SELECT query_id, vec_id,
             SUM(CAST(CAST(qe[i::INT] AS DOUBLE) * CAST(ee[i::INT] AS DOUBLE)
                      AS DECIMAL(30,15))) AS dot_dec
      FROM (SELECT query_id, vec_id, qe, ee,
                   unnest(range(1, len(ee) + 1)) AS i
            FROM cand)
      GROUP BY 1, 2
    ),
    approx_top AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY dot_dec DESC, vec_id) AS rk
        FROM approx_dots) WHERE rk <= 3
    ),
    ncand AS (
      SELECT qb.query_id, CAST(COUNT(*) AS BIGINT) AS n_candidates
      FROM qb JOIN cb ON cb.bucket = qb.bucket GROUP BY 1
    ),
    hits AS (
      SELECT a.query_id, CAST(COUNT(*) AS BIGINT) AS n_hits
      FROM approx_top a
      JOIN exact_top e ON e.query_id = a.query_id AND e.vec_id = a.vec_id
      GROUP BY 1
    )
    SELECT qb.query_id, qb.bucket, nc.n_candidates,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           ROUND(COALESCE(h.n_hits, 0) / 3.0, 9) AS recall
    FROM qb
    JOIN ncand nc USING (query_id)
    LEFT JOIN hits h USING (query_id)
    ORDER BY query_id
    """,
    hash_deps=(_plane_dot_decimal,),
)
def similarity_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query measured recall@3 of sign-hyperplane LSH blocking
    (the ``lsh_bucketed_topk`` scheme, 4 planes → 16 buckets) against
    the exact decimal-dot top-3 — with the recall NUMBER itself
    hash-verified, not just bounded: the md5-derived planes and
    DECIMAL-accumulated sign tests make the bucketing bit-reproducible
    in the oracle. Also reports each query's candidate-set size (the
    cost side of the recall/cost trade).

    100 TB: this is the pre-flight you run before an ANN fan-out —
    corpus signatures are one zero-shuffle codegen pass, the sampled
    query side broadcasts (here: 8 fixed ids; production: any bounded
    sample), and both the exact baseline and the bucketed candidates
    are corpus-scan-shaped, so the audit costs ~2 scans of the
    audited subcorpus regardless of total corpus size. Read recall +
    candidate depth, tune planes/bands, then launch."""
    emb = dedup.fan_out(load_table(spark, sf_dir, "embeddings"))
    sig = F.lit(0).cast("int")
    for p, plane in enumerate(_PLANES):
        sig = sig + F.when(
            _plane_dot_decimal("embedding", plane) > 0, F.lit(1 << p)
        ).otherwise(F.lit(0))
    corpus = emb.select("vec_id", "embedding", sig.alias("bucket"))
    queries_df = corpus.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("_qvec"),
        "bucket",
    )
    # exact top-3 (decimal dot, total-ordered) — queries broadcast,
    # corpus never shuffles
    exact_scored = corpus.crossJoin(F.broadcast(queries_df.drop("bucket"))).select(
        "query_id", "vec_id", _dot_decimal("_qvec", "embedding").alias("_dot")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_dot"), "vec_id")
    exact_top = (
        exact_scored.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= 3)
        .select("query_id", "vec_id")
    )
    # bucketed candidates: equi-join on bucket replaces the cross join
    cand = corpus.join(F.broadcast(queries_df), "bucket").select(
        "query_id", "vec_id", "_qvec", "embedding"
    )
    approx_top = (
        cand.select(
            "query_id", "vec_id", _dot_decimal("_qvec", "embedding").alias("_dot")
        )
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= 3)
        .select("query_id", "vec_id")
    )
    ncand = cand.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates")
    )
    hits = (
        approx_top.join(exact_top, ["query_id", "vec_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    return (
        queries_df.select("query_id", "bucket")
        .join(ncand, "query_id")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "bucket",
            "n_candidates",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.round(F.coalesce("n_hits", F.lit(0)) / 3.0, 9).alias("recall"),
        )
        .orderBy("query_id")
    )


#: The audit's LSH chain over CANONICAL documents (exact-dup collapse
#: first). Mirrors llmdata._SIGS_CTE but reads ``canon`` instead of
#: ``documents`` — identical texts have identical gram sets, so the
#: collapse changes nothing about which DISTINCT texts pair up while
#: removing the duplicate-mass K² from both the ground-truth gram
#: join and the candidate buckets.
#: Hard cap on the audited subcorpus (docs). Ground truth is exact
#: all-qualifying-pairs Jaccard, so its cost must be bounded by
#: construction, not by the corpus: whole prefix-blocks are kept (the
#: planted near-dup clusters share long prefixes, so clusters survive
#: sampling together and the recall estimate keeps statistical power)
#: in md5-block order until the cumulative doc count reaches the cap.
_AUDIT_SAMPLE_CAP = 1000

_CANON_SIGS_CTE = (
    f"""
canon AS (
  SELECT text, MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_copies
  FROM documents GROUP BY text
),
blocks AS (
  SELECT doc_id, text, md5(substr(text, 1, 64)) AS bk FROM canon
),
keep AS (
  SELECT bk FROM (
    SELECT bk, c, SUM(c) OVER (ORDER BY bk
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS cum
    FROM (SELECT bk, COUNT(*) AS c FROM blocks GROUP BY bk)
  ) WHERE cum <= {_AUDIT_SAMPLE_CAP} OR cum = c
),
sampled AS (
  SELECT b.doc_id, b.text FROM blocks b JOIN keep k ON k.bk = b.bk
),
grams AS (
  SELECT DISTINCT doc_id, substr(text, i::INT, 8) AS g
  FROM (SELECT doc_id, text, unnest(range(1, len(text) - 6)) AS i
        FROM sampled)
),
sigs AS (
  SELECT doc_id,
         """
    + ",\n         ".join(
        f"min(xor(x, {dedup.XOR_CONSTS[h]})) AS mh{h}" for h in range(8)
    )
    + """
  FROM (SELECT doc_id, (('0x' || substr(md5(g), 1, 15))::UBIGINT)::BIGINT AS x
        FROM grams)
  GROUP BY doc_id
),
bands AS (
  SELECT doc_id, 0 AS band_id, md5(mh0 || mh1 || mh2 || mh3) AS band_hash FROM sigs
  UNION ALL
  SELECT doc_id, 1 AS band_id, md5(mh4 || mh5 || mh6 || mh7) AS band_hash FROM sigs
),
candidates AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band_id = b.band_id AND a.band_hash = b.band_hash
              AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)"""
)


@query(
    "dedup_lsh_recall_audit",
    oracle=f"""
    WITH {_CANON_SIGS_CTE},
    inter AS (
      SELECT ga.doc_id AS doc_a, gb.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM grams ga
      JOIN grams gb ON ga.g = gb.g AND ga.doc_id < gb.doc_id
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY 1),
    truth AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.doc_a
      JOIN sizes sb ON sb.doc_id = i.doc_b
      WHERE CAST(i.n_inter AS DOUBLE)
              / (sa.n_grams + sb.n_grams - i.n_inter) >= 0.9
    ),
    cand AS (SELECT doc_a, doc_b FROM candidates),
    hits AS (
      SELECT c.doc_a, c.doc_b FROM cand c
      JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
    )
    SELECT CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_docs,
           CAST((SELECT COUNT(*) FROM canon) AS BIGINT) AS n_canon,
           CAST((SELECT COUNT(*) FROM sampled) AS BIGINT) AS n_sample,
           CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
           CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_candidates,
           CAST((SELECT COUNT(*) FROM hits) AS BIGINT) AS n_hits,
           ROUND((SELECT COUNT(*) FROM hits)
                 / GREATEST((SELECT COUNT(*) FROM truth), 1)::DOUBLE, 9)
             AS recall,
           ROUND((SELECT COUNT(*) FROM hits)
                 / GREATEST((SELECT COUNT(*) FROM cand), 1)::DOUBLE, 9)
             AS precision
    """,
)
def dedup_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall AND precision of MinHash-LSH candidate
    generation (8 md5 permutations × 2 bands — the production
    ``dedup_minhash_lsh`` config) against exact ground truth: every
    pair of DISTINCT texts with 8-gram Jaccard ≥ 0.9. Two scale
    disciplines stack: (1) exact-dup collapse FIRST — identical texts
    have identical gram sets, so canonicalizing changes nothing about
    which distinct texts pair up while removing the duplicate-mass K²
    from both the truth join and the candidate buckets (on bench.py's
    10× replica corpus the whole audit collapses back to 1× after one
    ``groupBy(text)``; without it the truth join grew ~100× per gram
    group and ran for minutes); (2) ground truth is gram-BLOCKED, not
    all-pairs — a pair at Jaccard ≥ 0.9 shares grams by definition,
    so joining on the gram finds exactly the qualifying pairs, and
    cost is quadratic only inside shared-gram groups of distinct
    texts.

    100 TB: ground-truth computation is still the expensive side
    (that is WHY LSH exists), so the audit BUILDS IN its bounded
    subcorpus (round 9 — closes the r8 sf0.1 exception where the
    exact all-pairs oracle needed >80 GB of DuckDB temp): canonical
    docs are blocked on md5(substr(text, 1, 64)) — planted near-dup
    clusters share long prefixes, so clusters survive sampling
    TOGETHER and the recall estimate keeps its statistical power —
    and whole blocks are kept in md5 order until the cumulative doc
    count reaches ``_AUDIT_SAMPLE_CAP`` (≤ 1000 docs at every SF; at
    sf0.001/sf0.01 that is the whole corpus, so those results are
    unchanged). The md5 ordering is a deterministic pseudo-random
    stratification both engines reproduce bit-identically. The
    cumulative-sum window is a single-partition pass over one row per
    BLOCK — at true 100 TB scale, pre-gate blocks with a coarse fixed
    hash-prefix filter first (e.g. bk < '01') so the exact cap scans
    thousands, not billions, of block rows; the measured recall then
    calibrates the band/row S-curve before the full-corpus LSH job
    (`dedup_lsh_band_sweep` estimates the curve analytically; this
    query measures it). Single-row output: counts as exact integers
    (incl. the n_docs → n_canon → n_sample funnel), recall/precision
    as ROUND(9) doubles."""
    raw = load_table(spark, sf_dir, "documents")
    canon = raw.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    blocks = canon.select(
        "doc_id", "text", F.md5(F.substring("text", 1, 64)).alias("bk")
    )
    wcum = Window.orderBy("bk").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    keep = (
        blocks.groupBy("bk")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("cum", F.sum("c").over(wcum))
        # always keep the first md5-ordered block (cum == c) so a
        # boilerplate-heavy corpus whose first prefix block alone
        # exceeds the cap still yields a non-degenerate sample
        # instead of silently reporting recall on zero docs
        .where(
            (F.col("cum") <= _AUDIT_SAMPLE_CAP) | (F.col("cum") == F.col("c"))
        )
        .select("bk")
    )
    docs = dedup.fan_out(
        blocks.join(F.broadcast(keep), "bk").select("doc_id", "text")
    )
    grams = dedup.char_ngrams(docs, "text", "doc_id", n=8)
    # truth: gram-blocked exact Jaccard >= 0.9 over ALL qualifying pairs
    ga = grams.select(F.col("doc_id").alias("doc_a"), "g")
    gb = grams.select(F.col("doc_id").alias("doc_b"), "g")
    inter = (
        ga.join(gb, "g")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_grams").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_grams").alias("n_b"))
    truth = (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .where(
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            >= 0.9
        )
        .select("doc_a", "doc_b")
    )
    sigs = dedup.minhash_signatures(docs, "text", "doc_id", n=8, num_hashes=8)
    cand = dedup.lsh_candidate_pairs(sigs, "doc_id", num_hashes=8, bands=2).select(
        "doc_a", "doc_b"
    )
    hits = cand.join(truth, ["doc_a", "doc_b"], "left_semi")
    nd = raw.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    nk = canon.agg(F.count(F.lit(1)).cast("long").alias("n_canon"))
    ns = docs.agg(F.count(F.lit(1)).cast("long").alias("n_sample"))
    nt = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    nc = cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    nh = hits.agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    return (
        nd.crossJoin(nk)
        .crossJoin(ns)
        .crossJoin(nt)
        .crossJoin(nc)
        .crossJoin(nh)
        .select(
            "n_docs",
            "n_canon",
            "n_sample",
            "n_truth",
            "n_candidates",
            "n_hits",
            F.round(
                F.col("n_hits") / F.greatest(F.col("n_truth"), F.lit(1)), 9
            ).alias("recall"),
            F.round(
                F.col("n_hits") / F.greatest(F.col("n_candidates"), F.lit(1)), 9
            ).alias("precision"),
        )
    )
