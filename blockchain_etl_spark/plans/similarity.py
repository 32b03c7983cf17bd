"""Similarity-search plans over the `embeddings` table (64-dim float
vectors): brute-force cosine top-k as the exact baseline, sign-LSH bucketing
as the approximate scale path, and per-label centroid aggregation.

Determinism: dot products and squared norms are per-element double products
(IEEE-identical on both engines) scaled to fixed-point BIGINT via
``ROUND(x * 1e12)`` and summed exactly, so cosine values match the oracle
bit-for-bit and the top-k ranking (with vec_id tie-break) selects identical
rows. (High-scale DECIMAL casts of arbitrary doubles are NOT cross-engine
stable — engines disagree by 1 ulp of the last decimal digit near rounding
boundaries; ROUND of an identical double is.)

Scale shape: the query side is broadcast, the corpus side streams — the
brute-force plan is a broadcast nested-loop with map-side top-k (window
within query partition), no corpus shuffle. The LSH variant pre-buckets the
corpus so candidate generation is an equi-join on the bucket key.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast, col, pandas_udf
from pyspark.sql.types import DoubleType

from ..sources.testdata import load_table
from .registry import register

_N_QUERIES = 10
_TOP_K = 5

# exact fixed-point dot product of two float arrays (Spark side):
# per-element double product → ROUND(p * 1e12) → BIGINT sum (exact,
# order-insensitive) → back to double.
_DOT = """
    CAST(aggregate(
      zip_with({a}, {b}, (x, y) ->
        CAST(ROUND(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) * 1e12, 0) AS BIGINT)),
      0L, (acc, v) -> acc + v) AS DOUBLE) / 1e12
"""

_NORMS_SQL = """
      SELECT vec_id,
             sqrt(CAST(SUM(CAST(ROUND(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) * 1e12)
                                AS BIGINT)) AS DOUBLE) / 1e12) AS nrm
      FROM (SELECT vec_id, unnest(embedding) AS v FROM embeddings) t
      GROUP BY vec_id
"""


def _with_norm(df: DataFrame, emb: str, out: str) -> DataFrame:
    return df.withColumn(out, F.sqrt(F.expr(_DOT.format(a=emb, b=emb))))


@pandas_udf(DoubleType())
def _fx_dot(ea: pd.Series, eb: pd.Series) -> pd.Series:
    """Arrow-vectorized fixed-point dot product, numerically IDENTICAL to
    the `_DOT` column expression (and the DuckDB oracle): per-element
    float64 product × 1e12, rounded half-away-from-zero, summed in int64,
    divided back. Used on the pair-scoring hot paths because Spark's
    higher-order functions evaluate interpreted (~45µs/row on 64-dim
    arrays); this kernel is ~4× faster and scales with Arrow batch size.

    Rounding note: ``floor(|p|) + (frac >= 0.5)`` is the exact half-away
    rule — NOT ``floor(|p|+0.5)``, which mis-rounds fractions within one
    ulp below 0.5, and NOT ``np.round``, which is half-even."""
    A = np.stack(ea.to_numpy()).astype(np.float64)
    B = np.stack(eb.to_numpy()).astype(np.float64)
    P = A * B * 1e12
    absP = np.abs(P)
    fl = np.floor(absP)
    rounded = (fl + (absP - fl >= 0.5)).astype(np.int64)
    signed = np.where(P < 0, -rounded, rounded)
    return pd.Series(signed.sum(axis=1) / 1e12)


@register(
    "knn_cosine_bruteforce",
    sql=f"""
    WITH norms AS ({_NORMS_SQL}),
    q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < {_N_QUERIES}),
    pairs AS (
      SELECT qid, vec_id,
             CAST(SUM(CAST(ROUND(CAST(qv AS DOUBLE) * CAST(cv AS DOUBLE) * 1e12)
                           AS BIGINT)) AS DOUBLE) / 1e12 AS dot
      FROM (SELECT qid, e.vec_id AS vec_id, unnest(qe) AS qv, unnest(e.embedding) AS cv
            FROM q, embeddings e WHERE e.vec_id <> qid) z
      GROUP BY qid, vec_id
    ),
    scored AS (
      SELECT qid, pairs.vec_id AS neighbor_id,
             dot / (nq.nrm * nc.nrm) AS cosine
      FROM pairs
      JOIN norms nq ON nq.vec_id = qid
      JOIN norms nc ON nc.vec_id = pairs.vec_id
    )
    SELECT qid, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                       ORDER BY cosine DESC, neighbor_id) AS rank
          FROM scored) r
    WHERE rank <= {_TOP_K}
    """,
    survey_ops=(),
    doc="Brute-force cosine top-k ANN baseline: broadcast query vectors, "
    "stream the corpus, exact-decimal dot products, per-query window top-k.",
)
def knn_cosine_bruteforce(
    spark: SparkSession, sf_dir: str, corpus: DataFrame | None = None
) -> DataFrame:
    """``corpus``: a caller that already materialized the normed corpus
    (the eval gates run this arm AND the IVF arm over the same frame)
    passes it here so the embeddings scan + norm checkpoint happens once
    per eval instead of once per arm; default None stays self-contained."""
    if corpus is None:
        emb = load_table(spark, sf_dir, "embeddings")
        corpus = _with_norm(
            emb.select("vec_id", "embedding"), "embedding", "nrm"
        ).localCheckpoint()  # query (broadcast) side and stream side both read it
    else:
        # a shared eval corpus also carries `label` for the IVF arm —
        # project it away so the broadcast-NLJ stream side stays as
        # narrow as the self-contained frame (guide §2.3)
        corpus = corpus.select("vec_id", "embedding", "nrm")
    queries = corpus.filter(col("vec_id") < _N_QUERIES).select(
        col("vec_id").alias("qid"),
        col("embedding").alias("qe"),
        col("nrm").alias("qnrm"),
    )
    pairs = corpus.join(F.broadcast(queries), col("vec_id") != col("qid"))
    scored = pairs.select(
        "qid",
        col("vec_id").alias("neighbor_id"),
        (_fx_dot("qe", "embedding") / (col("qnrm") * col("nrm"))).alias("cosine"),
    )
    w = Window.partitionBy("qid").orderBy(col("cosine").desc(), col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(col("rank") <= _TOP_K)
    )


@register(
    "embedding_lsh_buckets",
    sql="""
    SELECT bucket, COUNT(*) AS n_vectors, MIN(vec_id) AS min_vec_id,
           COUNT(DISTINCT label) AS n_labels
    FROM (
      SELECT vec_id, label,
             CAST((CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
                + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
                + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
                + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END)
                + (CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END)
                + (CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END)
                + (CASE WHEN embedding[7] > 0 THEN 64 ELSE 0 END)
                + (CASE WHEN embedding[8] > 0 THEN 128 ELSE 0 END) AS BIGINT) AS bucket
      FROM embeddings
    ) t
    GROUP BY bucket
    """,
    survey_ops=(),
    doc="Sign-LSH bucket assignment (8-bit hypercube code from coordinate "
    "signs) + bucket histogram — the candidate-generation stage of "
    "LSH-bucketed ANN; at scale the knn join runs per-bucket instead of "
    "all-pairs.",
)
def embedding_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    terms = [
        F.when(F.expr(f"embedding[{i}]") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i in range(8)
    ]
    bucket = sum(terms[1:], terms[0]).cast("long")
    return (
        emb.select("vec_id", "label", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min("vec_id").alias("min_vec_id"),
            F.countDistinct("label").alias("n_labels"),
        )
    )


@register(
    "label_centroids",
    sql="""
    SELECT label, CAST(dim AS BIGINT) AS dim,
           CAST(SUM(CAST(ROUND(CAST(v AS DOUBLE) * 1e12) AS BIGINT)) AS DOUBLE)
             / 1e12 / COUNT(*) AS centroid,
           COUNT(*) AS n
    FROM (SELECT label, unnest(embedding) AS v,
                 generate_subscripts(embedding, 1) AS dim
          FROM embeddings) t
    GROUP BY label, dim
    """,
    survey_ops=("A6",),
    doc="Per-label centroid of the embedding column (posexplode to "
    "(label, dim, value), exact-decimal mean per cell) — the aggregation "
    "kernel of IVF coarse quantization / k-means steps.",
)
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    )
    return (
        exploded.groupBy("label", (col("pos") + 1).cast("long").alias("dim"))
        .agg(
            (
                F.sum(F.round(col("v").cast("double") * F.lit(1e12)).cast("long")).cast("double")
                / F.lit(1e12)
                / F.count(F.lit(1))
            ).alias("centroid"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# --------------------------------------------------------------------------
# Embedding-cosine near-dup: sign-LSH banded candidate generation (8 bands
# of 8 consecutive-dim sign bits) + exact fixed-point cosine verification.
# --------------------------------------------------------------------------

_ND_BANDS = 8
_ND_BAND_W = 8
_ND_THRESHOLD = 0.35


def _band_val_sql(b: int) -> str:
    terms = " + ".join(
        f"(CASE WHEN embedding[{b * _ND_BAND_W + j + 1}] > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(_ND_BAND_W)
    )
    return f"CAST({terms} AS BIGINT)"


@register(
    "embedding_cosine_neardup",
    sql=f"""
    WITH norms AS ({_NORMS_SQL}),
    bands AS (
      SELECT vec_id, b.b AS band_id,
             CASE b.b {' '.join(f'WHEN {b} THEN {_band_val_sql(b)}' for b in range(_ND_BANDS))}
             END AS band_val
      FROM embeddings CROSS JOIN range({_ND_BANDS}) b(b)),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM bands a
      JOIN bands b ON a.band_id = b.band_id AND a.band_val = b.band_val
                  AND a.vec_id < b.vec_id),
    dots AS (
      SELECT vec_a, vec_b,
             CAST(SUM(CAST(ROUND(CAST(av AS DOUBLE) * CAST(bv AS DOUBLE) * 1e12)
                           AS BIGINT)) AS DOUBLE) / 1e12 AS dot
      FROM (SELECT c.vec_a, c.vec_b, unnest(ea.embedding) AS av,
                   unnest(eb.embedding) AS bv
            FROM cand c
            JOIN embeddings ea ON ea.vec_id = c.vec_a
            JOIN embeddings eb ON eb.vec_id = c.vec_b) z
      GROUP BY vec_a, vec_b)
    SELECT vec_a, vec_b, dot / (na.nrm * nb.nrm) AS cosine
    FROM dots
    JOIN norms na ON na.vec_id = vec_a
    JOIN norms nb ON nb.vec_id = vec_b
    WHERE dot / (na.nrm * nb.nrm) >= {_ND_THRESHOLD}
    """,
    survey_ops=(),
    doc="Embedding near-duplicate pairs: sign-LSH bands (8×8 consecutive-dim "
    "sign bits) generate candidates via a bucket equi-join — never an "
    "all-pairs product — then exact fixed-point cosine filters at the "
    "threshold. The standard scale path for embedding dedup of a 100 TB "
    "corpus: shuffle keys are (band_id, band_val) then the pair key.",
)
def embedding_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # three consumers (band projection + both pair-join sides): materialize
    # once — norms are per-row HOF aggregates worth not recomputing.
    corpus = _with_norm(emb, "embedding", "nrm").localCheckpoint()

    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).cast("long").alias("band_id"),
                F.expr(
                    " + ".join(
                        f"(CASE WHEN embedding[{b * _ND_BAND_W + j}] > 0D"
                        f" THEN {1 << j} ELSE 0 END)"
                        for j in range(_ND_BAND_W)
                    )
                ).cast("long").alias("band_val"),
            )
            for b in range(_ND_BANDS)
        ]
    )
    bands = corpus.select("vec_id", F.explode(band_structs).alias("bv")).select(
        "vec_id", col("bv.band_id").alias("band_id"), col("bv.band_val").alias("band_val")
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (col("a.band_id") == col("b.band_id"))
            & (col("a.band_val") == col("b.band_val"))
            & (col("a.vec_id") < col("b.vec_id")),
        )
        .select(col("a.vec_id").alias("vec_a"), col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    ea = corpus.select(
        col("vec_id").alias("vec_a"), col("embedding").alias("e_a"), col("nrm").alias("n_a")
    )
    eb = corpus.select(
        col("vec_id").alias("vec_b"), col("embedding").alias("e_b"), col("nrm").alias("n_b")
    )
    cosine = _fx_dot("e_a", "e_b") / (col("n_a") * col("n_b"))
    return (
        cand.join(ea, ["vec_a"])
        .join(eb, ["vec_b"])
        .select("vec_a", "vec_b", cosine.alias("cosine"))
        .filter(col("cosine") >= _ND_THRESHOLD)
    )


# --------------------------------------------------------------------------
# IVF-style ANN: label centroids act as the coarse quantizer; every vector
# is assigned to its nearest centroid cell; queries probe their top-2 cells
# and rank candidates by exact cosine.
# --------------------------------------------------------------------------

_IVF_PROBES = 2

_IVF_SETUP_SQL = """
    cdim AS (
      SELECT label, dim,
             CAST(SUM(CAST(ROUND(CAST(v AS DOUBLE) * 1e12) AS BIGINT)) AS DOUBLE)
               / 1e12 / COUNT(*) AS centroid
      FROM (SELECT label, unnest(embedding) AS v,
                   generate_subscripts(embedding, 1) AS dim
            FROM embeddings) t
      GROUP BY label, dim),
    cnorm AS (
      SELECT label,
             sqrt(CAST(SUM(CAST(ROUND(centroid * centroid * 1e12) AS BIGINT))
                       AS DOUBLE) / 1e12) AS cnrm
      FROM cdim GROUP BY label),
    vdim AS (
      SELECT vec_id, unnest(embedding) AS v,
             generate_subscripts(embedding, 1) AS dim
      FROM embeddings),
    scores AS (
      SELECT vdim.vec_id AS vec_id, cdim.label AS cell,
             (CAST(SUM(CAST(ROUND(CAST(v AS DOUBLE) * centroid * 1e12) AS BIGINT))
                   AS DOUBLE) / 1e12) / (MIN(n.nrm) * MIN(c.cnrm)) AS score
      FROM vdim
      JOIN cdim USING (dim)
      JOIN norms n ON n.vec_id = vdim.vec_id
      JOIN cnorm c ON c.label = cdim.label
      GROUP BY vdim.vec_id, cdim.label)
"""

def _label_centroids(emb: DataFrame) -> DataFrame:
    """Coarse quantizer: per-label centroid vectors (exact-decimal means)
    assembled into ordered arrays with fixed-point norms — (cell, cvec,
    cnrm), tiny (|labels| rows) → broadcast. Shared by knn_cosine_ivf and
    chunk_retrieval_ivf (same arithmetic as the oracle's cdim/cnorm)."""
    cent = (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(
            (
                F.sum(F.round(col("v").cast("double") * F.lit(1e12)).cast("long")).cast("double")
                / F.lit(1e12)
                / F.count(F.lit(1))
            ).alias("centroid")
        )
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "centroid"))),
                lambda s: s.centroid,
            ).alias("cvec")
        )
    )
    return _with_norm(cent.select(col("label").alias("cell"), "cvec"), "cvec", "cnrm")


@register(
    "knn_cosine_ivf",
    sql=f"""
    WITH norms AS ({_NORMS_SQL}),
    {_IVF_SETUP_SQL},
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY score DESC, cell) AS rn
        FROM scores) t WHERE rn = 1),
    probes AS (
      SELECT vec_id AS qid, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY score DESC, cell) AS rn
        FROM scores WHERE vec_id < {_N_QUERIES}) t WHERE rn <= {_IVF_PROBES}),
    cand AS (
      SELECT p.qid, a.vec_id
      FROM probes p JOIN assign a ON a.cell = p.cell
      WHERE a.vec_id <> p.qid),
    dots AS (
      SELECT qid, vec_id,
             CAST(SUM(CAST(ROUND(CAST(qv AS DOUBLE) * CAST(cv AS DOUBLE) * 1e12)
                           AS BIGINT)) AS DOUBLE) / 1e12 AS dot
      FROM (SELECT c.qid, c.vec_id, unnest(eq.embedding) AS qv,
                   unnest(ec.embedding) AS cv
            FROM cand c
            JOIN embeddings eq ON eq.vec_id = c.qid
            JOIN embeddings ec ON ec.vec_id = c.vec_id) z
      GROUP BY qid, vec_id)
    , pair_cos AS (
      SELECT dots.qid AS qid, dots.vec_id AS vec_id,
             dot / (nq.nrm * nc.nrm) AS cosine
      FROM dots
      JOIN norms nq ON nq.vec_id = dots.qid
      JOIN norms nc ON nc.vec_id = dots.vec_id)
    SELECT qid, vec_id AS neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
    FROM (SELECT qid, vec_id, cosine,
                 ROW_NUMBER() OVER (PARTITION BY qid
                                    ORDER BY cosine DESC, vec_id) AS rank
          FROM pair_cos) r
    WHERE rank <= {_TOP_K}
    """,
    survey_ops=(),
    doc="IVF-style approximate nearest neighbors: label centroids as the "
    "coarse quantizer (broadcast, ~|labels| rows), vectors assigned to "
    "their nearest cell, queries probe top-2 cells, exact cosine ranks the "
    "probed candidates. At scale the corpus is partitioned BY CELL on "
    "disk, so a probe reads only matching partitions.",
)
def knn_cosine_ivf(
    spark: SparkSession,
    sf_dir: str,
    corpus: DataFrame | None = None,
    eager_ckpt: bool = True,
) -> DataFrame:
    """``corpus``: same injection contract as knn_cosine_bruteforce — the
    eval gates share one normed-corpus checkpoint across both arms; the
    injected frame must carry (vec_id, embedding, label, nrm).
    ``eager_ckpt``: the eval gates pass False so the internal scoring
    checkpoint materializes inside its first consumer's job instead of
    paying a dedicated job up front (round 14 — the eager form cost the
    composed evals ~2x wall at bench scale; the reuse-once-materialized
    property is identical)."""
    from pyspark.sql import Window

    if corpus is None:
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding", "label"
        )
        corpus = _with_norm(emb, "embedding", "nrm").localCheckpoint()

    # centroids off the CHECKPOINTED corpus (extra cols are pruned by the
    # select inside) — the old emb lineage re-scanned the parquet
    cent = _label_centroids(corpus)

    # score every (vector, cell) pair: fixed-point cosine. Centroid side is
    # broadcast; the corpus streams — no corpus shuffle for scoring.
    scored = corpus.join(F.broadcast(cent)).select(
        "vec_id",
        "cell",
        (_fx_dot("embedding", "cvec") / (col("nrm") * col("cnrm"))).alias("score"),
    )
    w = Window.partitionBy("vec_id").orderBy(col("score").desc(), col("cell"))
    # assign and probes both filter this frame — materialize the scoring
    # window once instead of running it per consumer.
    ranked = scored.withColumn("rn", F.row_number().over(w)).localCheckpoint(
        eager=eager_ckpt
    )
    assign = ranked.filter(col("rn") == 1).select("vec_id", "cell")
    probes = (
        ranked.filter((col("vec_id") < _N_QUERIES) & (col("rn") <= _IVF_PROBES))
        .select(col("vec_id").alias("qid"), "cell")
    )
    cand = (
        probes.join(assign, ["cell"])
        .filter(col("vec_id") != col("qid"))
        .select("qid", "vec_id")
    )
    eq = corpus.select(col("vec_id").alias("qid"), col("embedding").alias("qe"), col("nrm").alias("qnrm"))
    scored_pairs = (
        cand.join(F.broadcast(eq), ["qid"])
        .join(corpus, ["vec_id"])
        .select(
            "qid",
            col("vec_id").alias("neighbor_id"),
            (_fx_dot("qe", "embedding") / (col("qnrm") * col("nrm"))).alias("cosine"),
        )
    )
    wk = Window.partitionBy("qid").orderBy(col("cosine").desc(), col("neighbor_id"))
    return (
        scored_pairs.withColumn("rank", F.row_number().over(wk).cast("long"))
        .filter(col("rank") <= _TOP_K)
    )


# --------------------------------------------------------------------------
# Chunk → embedding-plane linkage: the RAG retrieval shape. Documents are
# chunked (text.py doc_chunk_overlap's exact windows), each chunk is
# FINGERPRINTED into a sparse 64-dim vector by feature hashing its tokens
# (md5 → dim, md5 nibble parity → ±1 sign — the deterministic stand-in
# for a learned encoder, same stance as the multimodal decode stubs),
# and the chunk vectors PROBE the IVF coarse-quantizer plane: top-2
# nearest label-centroid cells, exact sparse-dense cosine against only
# the corpus vectors assigned to those cells, top-k per chunk — with the
# chunk's provenance (doc_id, chunk_seq, char_start) carried through to
# the result, which is what a retrieval index must serve back.
# --------------------------------------------------------------------------
_CR_DOC_MOD = 25      # probe chunks from every 25th document
_CR_MAX_CHUNKS = 2    # first two chunks per probed document
_CR_DIMS = 64         # embeddings dim — the feature-hash target space

# the exact chunk windows doc_chunk_overlap produces (text.py is imported
# before this module by registry._load_all; no cycle — text never imports
# similarity)
from .text import _CHUNK_SIZE as _CR_SIZE
from .text import _CHUNK_STRIDE as _CR_STRIDE


def _chunk_windows(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → one row per overlapping chunk window (doc_id,
    chunk_seq, char_start, ctext, i) — the exact windows
    doc_chunk_overlap emits, with the raw index kept for callers that
    cap chunks per doc. Map-side sequence+explode: zero shuffle."""
    d = docs.filter(F.length("text") > 0).select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(
                F.lit(0),
                F.floor((F.length("text") - 1) / _CR_STRIDE).cast("long"),
            )
        ).alias("i"),
    )
    chunk = F.expr(f"substring(text, CAST(i * {_CR_STRIDE} + 1 AS INT), {_CR_SIZE})")
    return d.select(
        "doc_id",
        (col("i") + 1).cast("long").alias("chunk_seq"),
        (col("i") * _CR_STRIDE + 1).cast("long").alias("char_start"),
        chunk.alias("ctext"),
        "i",
    )


def _chunk_token_features(chunks: DataFrame) -> DataFrame:
    """Chunk windows → sparse feature-hash weights (doc_id, chunk_seq,
    char_start, dim, qw ≠ 0): md5 of each token picks one of the 64 dims,
    a second md5 nibble's parity picks the ±1 sign. One batch-sized
    shuffle on the chunk key; the SPEC here is single-sourced for the
    registered oracle query (chunk_retrieval_ivf) and the streaming
    index builder (chunk_vectors)."""
    ck = ["doc_id", "chunk_seq", "char_start"]
    toks = chunks.select(
        *ck,
        F.explode(F.expr("filter(split(ctext, ' '), w -> length(w) > 0)")).alias("tok"),
    )
    sgn = F.expr(
        "CASE WHEN CAST(conv(substring(md5(tok), 9, 1), 16, 10) AS INT) % 2 = 0 "
        "THEN 1 ELSE -1 END"
    )
    return (
        toks.select(
            *ck,
            F.expr(
                f"CAST(conv(substring(md5(tok), 1, 8), 16, 10) AS BIGINT) % {_CR_DIMS}"
            ).alias("dim"),
            sgn.alias("sgn"),
        )
        .groupBy(*ck, "dim")
        .agg(F.sum("sgn").cast("long").alias("qw"))
        .filter(col("qw") != 0)
    )


# provenance packing for indexed chunk vectors: vec_id = doc_id * SEQ_CAP
# + chunk_seq, reversible without a side table as long as a document has
# fewer than SEQ_CAP chunks (SEQ_CAP * stride = 15 MB of text per doc)
_CR_SEQ_CAP = 100_000


def chunk_vectors(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → one DENSE feature-hashed 64-dim double vector per
    overlapping chunk, with provenance: (vec_id, embedding, doc_id,
    chunk_seq, char_start). The dense form (absent dims = 0.0) is what
    the persisted IVF indexes ingest — their fixed-point cosine treats
    it exactly like a learned embedding — and the weights are the same
    single-sourced feature-hash spec chunk_retrieval_ivf hash-verifies
    against DuckDB. Chunks whose tokens fully cancel (or empty chunks)
    produce no vector: a zero vector has no direction to index. Chunks
    at/after _CR_SEQ_CAP are EXCLUDED (not silently collided): the
    vec_id packing is only reversible below the cap, and a colliding id
    would clobber the NEXT doc_id's chunk-1 vector in any
    inventory-keyed index."""
    feat = _chunk_token_features(
        _chunk_windows(docs).filter(col("chunk_seq") < _CR_SEQ_CAP).drop("i")
    )
    ck = ["doc_id", "chunk_seq", "char_start"]
    arr = (
        feat.groupBy(*ck)
        .agg(F.map_from_entries(F.collect_list(F.struct("dim", "qw"))).alias("m"))
        .select(
            *ck,
            F.expr(
                f"transform(sequence(0, {_CR_DIMS - 1}),"
                " d -> CAST(coalesce(m[CAST(d AS BIGINT)], 0) AS DOUBLE))"
            ).alias("embedding"),
        )
    )
    return arr.select(
        (col("doc_id") * F.lit(_CR_SEQ_CAP) + col("chunk_seq"))
        .cast("long")
        .alias("vec_id"),
        "embedding",
        *ck,
    )


@register(
    "chunk_retrieval_ivf",
    sql=f"""
    WITH norms AS ({_NORMS_SQL}),
    {_IVF_SETUP_SQL},
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY score DESC, cell) AS rn
        FROM scores) t WHERE rn = 1),
    chunks AS (
      SELECT doc_id, CAST(i + 1 AS BIGINT) AS chunk_seq,
             CAST(i * {_CR_STRIDE} + 1 AS BIGINT) AS char_start,
             substr(text, CAST(i * {_CR_STRIDE} + 1 AS INT), {_CR_SIZE}) AS ctext
      FROM (
        SELECT doc_id, text,
               unnest(range(0, CAST(floor((length(text) - 1) / {_CR_STRIDE}) AS BIGINT) + 1))
                 AS i
        FROM documents WHERE length(text) > 0)
      WHERE doc_id % {_CR_DOC_MOD} = 0 AND i < {_CR_MAX_CHUNKS}),
    toks AS (
      SELECT doc_id, chunk_seq, char_start, tok
      FROM (SELECT doc_id, chunk_seq, char_start,
                   unnest(string_split(ctext, ' ')) AS tok
            FROM chunks) t
      WHERE length(tok) > 0),
    feat AS (
      SELECT doc_id, chunk_seq, char_start,
             CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % {_CR_DIMS} AS dim,
             CAST(SUM(CASE WHEN CAST('0x' || substr(md5(tok), 9, 1) AS INT) % 2 = 0
                           THEN 1 ELSE -1 END) AS BIGINT) AS qw
      FROM toks
      GROUP BY doc_id, chunk_seq, char_start, dim
      HAVING SUM(CASE WHEN CAST('0x' || substr(md5(tok), 9, 1) AS INT) % 2 = 0
                      THEN 1 ELSE -1 END) <> 0),
    qnorm AS (
      SELECT doc_id, chunk_seq, char_start,
             sqrt(CAST(SUM(qw * qw) AS DOUBLE)) AS qnrm
      FROM feat GROUP BY doc_id, chunk_seq, char_start),
    qsc AS (
      SELECT f.doc_id, f.chunk_seq, f.char_start, c.label AS cell,
             CAST(SUM(CAST(ROUND(CAST(f.qw AS DOUBLE) * c.centroid * 1e12)
                           AS BIGINT)) AS DOUBLE) / 1e12 AS pdot,
             MIN(cn.cnrm) AS cnrm
      FROM feat f
      JOIN cdim c ON c.dim = f.dim + 1
      JOIN cnorm cn ON cn.label = c.label
      GROUP BY f.doc_id, f.chunk_seq, f.char_start, c.label),
    probes AS (
      SELECT doc_id, chunk_seq, char_start, cell FROM (
        SELECT q.doc_id, q.chunk_seq, q.char_start, q.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY q.doc_id, q.chunk_seq
                 ORDER BY (q.pdot / (qn.qnrm * q.cnrm)) DESC, q.cell) AS rn
        FROM qsc q
        JOIN qnorm qn ON qn.doc_id = q.doc_id AND qn.chunk_seq = q.chunk_seq) t
      WHERE rn <= {_IVF_PROBES}),
    cand AS (
      SELECT p.doc_id, p.chunk_seq, p.char_start, a.vec_id
      FROM probes p JOIN assign a ON a.cell = p.cell),
    dots AS (
      SELECT c.doc_id, c.chunk_seq, c.char_start, c.vec_id,
             CAST(SUM(CAST(ROUND(CAST(f.qw AS DOUBLE) * CAST(v.v AS DOUBLE) * 1e12)
                           AS BIGINT)) AS DOUBLE) / 1e12 AS dot
      FROM cand c
      JOIN feat f ON f.doc_id = c.doc_id AND f.chunk_seq = c.chunk_seq
      JOIN vdim v ON v.vec_id = c.vec_id AND v.dim = f.dim + 1
      GROUP BY c.doc_id, c.chunk_seq, c.char_start, c.vec_id),
    pc AS (
      SELECT d.doc_id, d.chunk_seq, d.char_start, d.vec_id,
             d.dot / (qn.qnrm * n.nrm) AS cosine
      FROM dots d
      JOIN qnorm qn ON qn.doc_id = d.doc_id AND qn.chunk_seq = d.chunk_seq
      JOIN norms n ON n.vec_id = d.vec_id)
    SELECT doc_id, chunk_seq, char_start, vec_id AS neighbor_id, cosine,
           CAST(rank AS BIGINT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id, chunk_seq
                                       ORDER BY cosine DESC, vec_id) AS rank
          FROM pc) r
    WHERE rank <= {_TOP_K}
    """,
    survey_ops=(),
    doc="RAG chunk retrieval with provenance: overlapping document chunks "
    "(doc_chunk_overlap's exact windows) are feature-hashed into sparse "
    "64-dim token vectors (md5 → dim, nibble parity → sign; the "
    "deterministic encoder stand-in), probe the IVF coarse quantizer "
    "(top-2 label-centroid cells), and rank an exact sparse-dense cosine "
    "over ONLY the probed cells' vectors — (doc_id, chunk_seq, "
    "char_start) ride through to the hit list, the provenance a "
    "retrieval index must serve. Scale shape: the probe set is bounded "
    "(sampled chunks), chunk features are broadcast, the corpus streams "
    "once for assignment and only candidate (vec_id, dim) rows join the "
    "sparse side — never an all-pairs or full-corpus-per-chunk pass; on "
    "the persisted form (operators/ann_index.py) the probed cells are "
    "physical partitions.",
)
def chunk_retrieval_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # _chunk_windows owns the empty-text invariant; no outer filter here
    docs = load_table(spark, sf_dir, "documents")
    chunks = _chunk_windows(docs.filter(col("doc_id") % _CR_DOC_MOD == 0)).filter(
        col("i") < _CR_MAX_CHUNKS
    )
    ck = ["doc_id", "chunk_seq", "char_start"]
    feat = _chunk_token_features(chunks).localCheckpoint()
    # ^ feeds qnorm, probe scoring, and the exact dots
    qnorm = feat.groupBy(*ck).agg(
        F.sqrt(F.sum(col("qw") * col("qw")).cast("double")).alias("qnrm")
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label")
    corpus = _with_norm(emb, "embedding", "nrm").localCheckpoint()
    # centroids feed THREE consumers (assignment scoring, the exploded
    # probe dims, and nothing re-derives them lazily after this): one
    # materialization instead of recomputing the label aggregate per use.
    # Aggregated off the CHECKPOINTED corpus (round 13): the old emb
    # lineage re-scanned the embeddings parquet a second time.
    cent = _label_centroids(corpus).localCheckpoint()

    # corpus → top-1 cell assignment (broadcast centroids, corpus streams).
    # NOT checkpointed: measured slower when materialized — the lazy
    # recompute shares the final plan's corpus scan and cached codegen.
    scored = corpus.join(F.broadcast(cent)).select(
        "vec_id",
        "cell",
        (_fx_dot("embedding", "cvec") / (col("nrm") * col("cnrm"))).alias("score"),
    )
    wv = Window.partitionBy("vec_id").orderBy(col("score").desc(), col("cell"))
    assign = (
        scored.withColumn("rn", F.row_number().over(wv))
        .filter(col("rn") == 1)
        .select("vec_id", "cell")
    )

    # chunk → probe cells: sparse fixed-point dot vs the centroid dims
    cdim = cent.select("cell", "cnrm", F.posexplode("cvec").alias("dim", "centroid"))
    qsc = (
        feat.join(F.broadcast(cdim), ["dim"])
        .groupBy(*ck, "cell")
        .agg(
            (
                F.sum(
                    F.round(col("qw").cast("double") * col("centroid") * F.lit(1e12))
                    .cast("long")
                ).cast("double")
                / F.lit(1e12)
            ).alias("pdot"),
            F.min("cnrm").alias("cnrm"),
        )
    )
    wq = Window.partitionBy("doc_id", "chunk_seq").orderBy(
        (col("pdot") / (col("qnrm") * col("cnrm"))).desc(), col("cell")
    )
    probes = (
        qsc.join(qnorm, ck)
        .withColumn("rn", F.row_number().over(wq))
        .filter(col("rn") <= _IVF_PROBES)
        .select(*ck, "cell")
    )
    # exact cosine over the probed cells only. The chunk's sparse weights
    # densify to a 64-slot double array (absent dims → 0.0: ROUND(0*v*1e12)
    # contributes 0, so the dense fixed-point sum is bit-identical to the
    # oracle's sparse sum) and ride a BROADCAST, so scoring is one streamed
    # pass over the probed corpus rows with the Arrow _fx_dot kernel —
    # never a (vec_id, dim)-grain shuffle of candidate × dimension rows.
    qarr = (
        feat.groupBy(*ck)
        .agg(F.map_from_entries(F.collect_list(F.struct("dim", "qw"))).alias("m"))
        .select(
            *ck,
            F.expr(
                f"transform(sequence(0, {_CR_DIMS - 1}),"
                " d -> CAST(coalesce(m[CAST(d AS BIGINT)], 0) AS DOUBLE))"
            ).alias("qarr"),
        )
        .join(qnorm, ck)
    )
    corpus_cells = corpus.join(assign, ["vec_id"])
    pc = (
        corpus_cells.join(F.broadcast(probes.join(qarr, ck)), ["cell"])
        .select(
            *ck,
            col("vec_id").alias("neighbor_id"),
            (_fx_dot("qarr", "embedding") / (col("qnrm") * col("nrm"))).alias(
                "cosine"
            ),
        )
    )
    wr = Window.partitionBy("doc_id", "chunk_seq").orderBy(
        col("cosine").desc(), col("neighbor_id")
    )
    return pc.withColumn("rank", F.row_number().over(wr).cast("long")).filter(
        col("rank") <= _TOP_K
    )


# --------------------------------------------------------------------------
# int8 scalar quantization — the memory-scale path for ANN: a 64-dim float
# vector becomes 64 bytes + one scale, an 8x footprint cut before any IVF/
# LSH structure is built. Integer-only math so the oracle matches exactly.
# --------------------------------------------------------------------------
@register(
    "embedding_quantize_stats",
    sql="""
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS vf
      FROM embeddings),
    s AS (SELECT vec_id, vf,
                 list_max(list_transform(vf, x -> abs(x))) AS scale_fp
          FROM v),
    q AS (SELECT vec_id, vf, scale_fp,
                 CASE WHEN scale_fp = 0 THEN NULL ELSE
                   list_transform(vf, x ->
                     CASE WHEN x >= 0 THEN (x * 254 + scale_fp) // (2 * scale_fp)
                          ELSE -(((-x) * 254 + scale_fp) // (2 * scale_fp)) END)
                 END AS qv
          FROM s),
    e AS (SELECT vec_id, scale_fp, qv,
                 CASE WHEN scale_fp = 0 THEN NULL ELSE
                   list_transform(range(1, len(vf) + 1),
                     i -> abs(vf[i] * 127 - qv[i] * scale_fp))
                 END AS errs
          FROM q)
    SELECT vec_id, scale_fp,
           -- CAST: DuckDB list_sum(BIGINT[]) yields HUGEINT, which lands in
           -- pandas as float64 and hash-diverges from Spark's int64
           CASE WHEN scale_fp = 0 THEN NULL
                ELSE CAST(list_sum(qv) AS BIGINT) END AS q_sum,
           CASE WHEN scale_fp = 0 THEN NULL ELSE list_max(errs) END AS max_err_fp,
           CASE WHEN scale_fp = 0 THEN NULL ELSE
             CAST(list_sum(list_transform(errs, x -> x * x)) AS BIGINT) END AS sse_fp
    FROM e
    """,
    survey_ops=(),
    doc="Per-vector int8 scalar quantization with reconstruction-error "
    "audit: symmetric scale = max|component|, q = round(v*127/scale) via "
    "pure INTEGER arithmetic ((|vf|*254 + s) div (2s), sign restored), "
    "errors in the 127e6 fixed-point domain — both engines compute "
    "identical integers, no float division anywhere. Scale shape: "
    "zero-shuffle map-only projection over the corpus (HOFs in codegen); "
    "at 100 TB this is the compression pass that makes the ANN index fit "
    "executor memory (8x smaller vectors, error bounds as columns).",
)
def embedding_quantize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    v = emb.withColumn(
        "vf",
        F.expr(
            "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
        ),
    ).withColumn("scale_fp", F.expr("array_max(transform(vf, x -> abs(x)))"))
    q = v.withColumn(
        "qv",
        F.expr(
            """CASE WHEN scale_fp = 0 THEN NULL ELSE
                 transform(vf, x ->
                   CASE WHEN x >= 0 THEN (x * 254 + scale_fp) div (2 * scale_fp)
                        ELSE -(((-x) * 254 + scale_fp) div (2 * scale_fp)) END)
               END"""
        ),
    ).withColumn(
        "errs",
        F.expr(
            """CASE WHEN scale_fp = 0 THEN NULL ELSE
                 transform(sequence(1, size(vf)),
                   i -> abs(element_at(vf, i) * 127 - element_at(qv, i) * scale_fp))
               END"""
        ),
    )
    return q.select(
        "vec_id",
        "scale_fp",
        F.expr("aggregate(qv, 0L, (a, x) -> a + x)").alias("q_sum"),
        F.expr("array_max(errs)").alias("max_err_fp"),
        F.expr("aggregate(errs, 0L, (a, x) -> a + x * x)").alias("sse_fp"),
    )


# --------------------------------------------------------------------------
# Recall evaluation: IVF (approximate) against brute-force (exact ground
# truth) — the "measure, don't guess" loop every ANN deployment needs.
# Both sides are this module's own registered queries, so the oracle is
# their SQL composed verbatim; recall@k = |approx ∩ exact| / k per query.
# --------------------------------------------------------------------------
def _registered_sql(name: str) -> str:
    from .registry import QUERIES

    return QUERIES[name].sql


@register(
    "knn_recall_eval",
    sql=None,  # composed from the sibling queries' SQL below, post-registration
    survey_ops=(),
    doc="ANN quality gate: per-query recall@k of the IVF index against the "
    "exact brute-force top-k. Composes the two registered queries — in "
    "production this runs on a sampled query set after each index build, "
    "and a recall drop blocks the index swap. The comparison join is on "
    "(qid, neighbor_id): k·|queries| rows, negligible at any scale.",
)
def knn_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE normed-corpus checkpoint shared by both arms (round 13): the
    # exact and IVF arms each materialized their own identical
    # embeddings+norm frame inside one eval DAG — one scan+checkpoint job
    # of the two was pure recomputation. LAZY (round 14): eager=False
    # keeps the materialize-once/consume-many property but folds the
    # materialization into the first consuming job — the r13 eager form
    # (a dedicated checkpoint job per eval) measured ~2x the wall of the
    # lazy form at bench scale and was the r13 verdict's #1 regression.
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    corpus = _with_norm(emb, "embedding", "nrm").localCheckpoint(eager=False)
    exact = knn_cosine_bruteforce(spark, sf_dir, corpus=corpus).select(
        "qid", "neighbor_id"
    )
    approx = knn_cosine_ivf(
        spark, sf_dir, corpus=corpus, eager_ckpt=False
    ).select("qid", "neighbor_id")
    hit = exact.withColumn("__hit", F.lit(1))
    return (
        approx.join(hit, ["qid", "neighbor_id"], "left")
        .groupBy("qid")
        .agg(
            F.count(F.lit(1)).alias("n_approx"),
            F.count("__hit").alias("n_hit"),
            (F.count("__hit").cast("double") / F.lit(_TOP_K)).alias("recall_at_k"),
        )
    )


# compose the oracle from the sibling queries' SQL now that both are
# registered (WITH-in-subquery is valid DuckDB)
def _finalize_recall_oracle() -> None:
    from .registry import QUERIES

    QUERIES["knn_recall_eval"].sql = f"""
    WITH exact AS ({_registered_sql("knn_cosine_bruteforce")}),
    approx AS ({_registered_sql("knn_cosine_ivf")})
    SELECT a.qid,
           COUNT(*) AS n_approx,
           COUNT(e.neighbor_id) AS n_hit,
           CAST(COUNT(e.neighbor_id) AS DOUBLE) / {_TOP_K} AS recall_at_k
    FROM approx a
    LEFT JOIN exact e
      ON e.qid = a.qid AND e.neighbor_id = a.neighbor_id
    GROUP BY a.qid
    """


_finalize_recall_oracle()


# --------------------------------------------------------------------------
# Johnson–Lindenstrauss random projection: 64-dim float embeddings down to
# 8 dims with a deterministic ±1 sign matrix (md5-derived, no RNG — the
# repo-wide determinism contract). The standard cheap dimensionality
# reduction before clustering / coarse ANN at 100 TB: map-side only, zero
# shuffle, and the ±1 matrix means the projection is exact integer
# arithmetic on the fixed-point inputs — no float accumulation order
# hazard, so Spark and the oracle agree bit-for-bit.
# --------------------------------------------------------------------------
_RP_OUT_DIMS = 8
_RP_IN_DIMS = 64


def _rp_sign_strings() -> list[str]:
    import hashlib

    return [
        "".join(
            "+"
            if int(hashlib.md5(f"rp:{j}:{i}".encode()).hexdigest()[0], 16) % 2 == 0
            else "-"
            for i in range(_RP_IN_DIMS)
        )
        for j in range(_RP_OUT_DIMS)
    ]


_RP_SIGNS = _rp_sign_strings()

_RP_COLS_SQL = ",\n".join(
    f"""           CAST(list_sum(list_transform(embedding, (x, i) ->
             CAST(ROUND(CAST(x AS DOUBLE) * 1e12) AS BIGINT)
             * (CASE WHEN substr('{s}', i, 1) = '+' THEN 1 ELSE -1 END)))
             AS BIGINT) AS r{j}"""
    for j, s in enumerate(_RP_SIGNS)
)


@register(
    "embedding_random_projection",
    sql=f"""
    SELECT vec_id,
{_RP_COLS_SQL}
    FROM embeddings
    """,
    survey_ops=(),
    doc=f"JL random projection {_RP_IN_DIMS}->{_RP_OUT_DIMS} dims with a "
    "deterministic md5-derived ±1 matrix. Each element is rounded to "
    "fixed-point BIGINT once, then only multiplied by ±1 and summed — "
    "exact integer math, order-insensitive, cross-engine stable. Purely "
    "map-side (no shuffle): the 100 TB pre-step that makes downstream "
    "clustering and coarse quantization 8x cheaper.",
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # Spark transform indexes are 0-based; the shared sign strings are
    # 1-indexed via substr in the oracle, hence i + 1 here.
    proj = [
        F.expr(
            f"""aggregate(transform(embedding, (x, i) ->
                  CAST(ROUND(CAST(x AS DOUBLE) * 1e12, 0) AS BIGINT)
                  * IF(substring('{s}', i + 1, 1) = '+', 1L, -1L)),
                0L, (acc, v) -> acc + v)"""
        ).alias(f"r{j}")
        for j, s in enumerate(_RP_SIGNS)
    ]
    return emb.select("vec_id", *proj)


# --------------------------------------------------------------------------
# IVF codebook TRAINING: Lloyd's k-means over the embedding corpus, fully
# integer-exact — vectors on the 1e6 fixed-point grid, squared-L2 distances
# in int64, new centroids via truncating integer division — so two engines
# (and two cluster sizes) converge to bit-identical codebooks. This is the
# missing upstream half of knn_cosine_ivf, which consumes a codebook.
# --------------------------------------------------------------------------
_KM_K = 8
_KM_ITERS = 2


def _km_assign(emb: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, vf) × broadcast (cell, cvec) → (vec_id, cell) nearest-cell
    assignment; min-struct keeps the smallest cell id on distance ties."""
    d2 = F.expr(
        "aggregate(zip_with(vf, cvec, (x, y) -> (x - y) * (x - y)),"
        " 0L, (acc, p) -> acc + p)"
    )
    return (
        emb.crossJoin(broadcast(cent))
        .select("vec_id", "cell", d2.alias("d2"))
        .groupBy("vec_id")
        .agg(F.min(F.struct("d2", "cell")).alias("w"))
        .select("vec_id", col("w.cell").alias("cell"))
    )


@register(
    "ivf_kmeans_codebook",
    sql=f"""
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS vf
      FROM embeddings),
    vd AS (SELECT vec_id, unnest(vf) AS val,
                  generate_subscripts(vf, 1) - 1 AS dim
           FROM v),
    c0 AS (SELECT vec_id AS cell, dim, val AS c FROM vd WHERE vec_id < {_KM_K}),
    d1 AS (SELECT vd.vec_id AS vec_id, c0.cell AS cell,
                  CAST(SUM((val - c) * (val - c)) AS BIGINT) AS d2
           FROM vd JOIN c0 USING (dim) GROUP BY vd.vec_id, c0.cell),
    a1 AS (SELECT vec_id, cell FROM (
             SELECT vec_id, cell,
                    ROW_NUMBER() OVER (PARTITION BY vec_id
                                       ORDER BY d2, cell) AS rn
             FROM d1) t WHERE rn = 1),
    m1 AS (SELECT a1.cell AS cell, vd.dim AS dim,
                  CAST(SUM(val) AS BIGINT) // COUNT(*) AS c
           FROM vd JOIN a1 USING (vec_id) GROUP BY a1.cell, vd.dim),
    c1 AS (SELECT c0.cell, c0.dim, COALESCE(m1.c, c0.c) AS c
           FROM c0 LEFT JOIN m1 ON m1.cell = c0.cell AND m1.dim = c0.dim),
    d2_ AS (SELECT vd.vec_id AS vec_id, c1.cell AS cell,
                   CAST(SUM((val - c) * (val - c)) AS BIGINT) AS d2
            FROM vd JOIN c1 USING (dim) GROUP BY vd.vec_id, c1.cell),
    a2 AS (SELECT vec_id, cell FROM (
             SELECT vec_id, cell,
                    ROW_NUMBER() OVER (PARTITION BY vec_id
                                       ORDER BY d2, cell) AS rn
             FROM d2_) t WHERE rn = 1),
    m2 AS (SELECT a2.cell AS cell, vd.dim AS dim,
                  CAST(SUM(val) AS BIGINT) // COUNT(*) AS c
           FROM vd JOIN a2 USING (vec_id) GROUP BY a2.cell, vd.dim),
    n2 AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_members
           FROM a2 GROUP BY cell)
    SELECT m2.cell AS cell, CAST(m2.dim AS BIGINT) AS dim,
           m2.c AS centroid_fp, n2.n_members
    FROM m2 JOIN n2 USING (cell)
    """,
    survey_ops=(),
    doc="k-means codebook training (2 Lloyd iterations, k=8, seeded from "
    "the first k vectors — deterministic, no RNG): assignment is a "
    "crossJoin against the BROADCAST codebook scored by a JVM zip_with/ "
    "aggregate HOF (k·N pairs, map-side, no shuffle); re-estimation "
    "shuffles once on vec_id (membership join) and once on (cell, dim) "
    "(posexplode mean). Integer-exact throughout: fixed-point grid, int64 "
    "squared-L2, truncating-div means — both engines emit bit-identical "
    "codebooks, the property that lets a 1000-executor retrain reproduce "
    "yesterday's index. Empty cells inherit the previous centroid.",
)
def ivf_kmeans_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.expr(
                "transform(embedding,"
                " x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
            ).alias("vf"),
        )
        .localCheckpoint()  # consumed by seeding + every iteration
    )
    cent = emb.filter(col("vec_id") < _KM_K).select(
        col("vec_id").alias("cell"), col("vf").alias("cvec")
    )
    assign = None
    for _ in range(_KM_ITERS):
        assign = _km_assign(emb, cent)
        members = emb.join(assign, ["vec_id"])
        means = (
            members.select("cell", F.posexplode("vf").alias("dim", "val"))
            .groupBy("cell", "dim")
            .agg(F.expr("sum(val) div count(*)").alias("c"))
        )
        new_cvec = means.groupBy("cell").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "c"))),
                lambda s: s["c"],
            ).alias("cvec")
        )
        # empty cells keep their previous centroid (k-row joins: broadcast)
        cent = (
            cent.alias("o")
            .join(broadcast(new_cvec.alias("n")), ["cell"], "left")
            .select("cell", F.coalesce("n.cvec", "o.cvec").alias("cvec"))
        )
    final_means = (
        emb.join(assign, ["vec_id"])
        .select("cell", F.posexplode("vf").alias("dim", "val"))
        .groupBy("cell", "dim")
        .agg(F.expr("sum(val) div count(*)").alias("centroid_fp"))
    )
    n_members = assign.groupBy("cell").agg(F.count(F.lit(1)).alias("n_members"))
    return final_means.join(broadcast(n_members), ["cell"]).select(
        "cell",
        col("dim").cast("long").alias("dim"),
        "centroid_fp",
        "n_members",
    )


# --------------------------------------------------------------------------
# Semantic dedup clustering: connected components over the embedding
# near-dup pair graph — the embedding-space twin of dedup_components
# (which clusters lexical candidates). Same scalable min-label propagation
# operator (operators/components.py), same recursive-CTE oracle shape;
# the edge set is this module's own registered near-dup query verbatim.
# --------------------------------------------------------------------------
def _nd_pairs_sql() -> str:
    from .registry import QUERIES

    return QUERIES["embedding_cosine_neardup"].sql


@register(
    "embedding_semantic_clusters",
    sql=None,  # bound right after registration (needs the neardup SQL)
    survey_ops=("X2",),
    doc="Semantic near-duplicate clusters: sign-LSH banded candidates → "
    "exact fixed-point cosine pairs (embedding_cosine_neardup) become the "
    "edge set; min-label propagation (one edges⋈labels shuffle + one "
    "min-agg per round, O(diameter) rounds, localCheckpoint lineage "
    "truncation) finds components; clusters of >1 emit (cluster_id, "
    "n_vecs, keep_vec_id). The semantic-dedup decision input for an "
    "embedding-indexed corpus.",
)
def embedding_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.components import propagate_min_labels

    pairs = embedding_cosine_neardup(spark, sf_dir).select(
        col("vec_a").alias("src"), col("vec_b").alias("dst")
    )
    # clusters of >1 only contain edge endpoints — propagate over the
    # near-dup subgraph, not the whole corpus (see dedup_components)
    labels = propagate_min_labels(None, pairs, id_col="vec_id")
    return (
        labels.groupBy(col("label").alias("cluster_id"))
        .agg(F.count(F.lit(1)).alias("n_vecs"), F.min("vec_id").alias("keep_vec_id"))
        .filter(col("n_vecs") > 1)
    )


# bind the recursive oracle now that embedding_cosine_neardup's SQL is
# registered (composed verbatim so the two queries can never drift)
def _bind_semantic_clusters_sql() -> None:
    from .registry import QUERIES

    QUERIES["embedding_semantic_clusters"].sql = f"""
    WITH RECURSIVE nd AS ({_nd_pairs_sql()}),
    edges AS (SELECT vec_a AS src, vec_b AS dst FROM nd
              UNION SELECT vec_b, vec_a FROM nd),
    reach(vec_id, label) AS (
      SELECT vec_id, vec_id FROM embeddings
      UNION
      SELECT edges.dst, reach.label
      FROM reach JOIN edges ON edges.src = reach.vec_id
      WHERE reach.label < edges.dst),
    comp AS (SELECT vec_id, MIN(label) AS cluster_id FROM reach GROUP BY vec_id)
    SELECT cluster_id,
           COUNT(*) AS n_vecs,
           MIN(vec_id) AS keep_vec_id
    FROM comp
    GROUP BY cluster_id
    HAVING COUNT(*) > 1
    """


_bind_semantic_clusters_sql()


# --------------------------------------------------------------------------
# Product quantization — the vector-compression half of IVF-PQ, the
# standard layout for billion-scale ANN (Jégou et al., "Product
# Quantization for Nearest Neighbor Search", TPAMI 2011). A 64-dim vector
# splits into 8 subvectors of 8 dims; each subvector is replaced by the id
# of its nearest codeword in a per-subspace 64-entry codebook, so the
# stored vector is 8 six-bit codes (6 bytes) instead of 256 float bytes
# (~42x). Queries
# never decompress the corpus: ADC (asymmetric distance computation)
# precomputes a query->codeword lookup table per subspace and sums 8 table
# entries per candidate. Everything here is on the 1e6 fixed-point integer
# grid (like ivf_kmeans_codebook) so Spark and the DuckDB oracle agree
# bit-for-bit; the codebook is deterministically seeded from the first
# _PQ_K vectors' subvectors (no RNG — the repo determinism contract).
# --------------------------------------------------------------------------
_PQ_M = 8  # subspaces
_PQ_D = 8  # dims per subspace (M * D = 64 = corpus dim)
_PQ_K = 64  # codewords per subspace

# shared oracle CTEs: fixed-point vectors -> per-subspace rows -> codebook
# -> nearest-code assignment (the PQ encoding).
_PQ_SETUP_SQL = f"""
    v AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS vf
      FROM embeddings),
    sv AS (
      SELECT vec_id, CAST(s.sub AS BIGINT) AS sub,
             list_slice(vf, 1 + {_PQ_D} * s.sub, {_PQ_D} * (s.sub + 1)) AS subvec
      FROM v CROSS JOIN (SELECT unnest(range({_PQ_M})) AS sub) s),
    svd AS (
      SELECT vec_id, sub, unnest(subvec) AS val,
             generate_subscripts(subvec, 1) AS j
      FROM sv),
    cb AS (
      SELECT vec_id AS code, sub, j, val AS c
      FROM svd WHERE vec_id < {_PQ_K}),
    pqd AS (
      SELECT svd.vec_id AS vec_id, svd.sub AS sub, cb.code AS code,
             CAST(SUM((val - c) * (val - c)) AS BIGINT) AS d2_fp
      FROM svd JOIN cb USING (sub, j)
      GROUP BY svd.vec_id, svd.sub, cb.code),
    codes AS (
      SELECT vec_id, sub, code, d2_fp FROM (
        SELECT vec_id, sub, code, d2_fp,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY d2_fp, code) AS rn
        FROM pqd) t
      WHERE rn = 1)
"""

_PQ_SUB_D2 = (
    "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
    " 0L, (acc, p) -> acc + p)"
)

# ADC shortlist size for the exact-rerank stage (production IVFADC shape:
# ADC prunes the corpus to a fixed-size shortlist, exact distances re-rank
# only those rows).
_PQ_RERANK = 50

# shared ADC CTEs layered on _PQ_SETUP_SQL: per-query lookup table and the
# ADC-ranked candidate list.
_PQ_ADC_SQL = f"""
    lut AS (
      SELECT q.vec_id AS qid, q.sub AS sub, c.code AS code,
             CAST(SUM((q.val - c.c) * (q.val - c.c)) AS BIGINT) AS lut_d2
      FROM svd q JOIN cb c USING (sub, j)
      WHERE q.vec_id < {_N_QUERIES}
      GROUP BY q.vec_id, q.sub, c.code),
    adcr AS (
      SELECT l.qid AS qid, x.vec_id AS vec_id,
             CAST(SUM(l.lut_d2) AS BIGINT) AS adc_d2_fp,
             ROW_NUMBER() OVER (PARTITION BY l.qid
                                ORDER BY CAST(SUM(l.lut_d2) AS BIGINT),
                                         x.vec_id) AS rank
      FROM codes x
      JOIN lut l ON l.sub = x.sub AND l.code = x.code
      WHERE x.vec_id <> l.qid
      GROUP BY l.qid, x.vec_id)
"""


def _pq_fixed_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, vf) full fixed-point vectors — map-side projection."""
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            "transform(embedding,"
            " x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
        ).alias("vf"),
    )


def pq_subvectors_from(vf_frame: DataFrame) -> DataFrame:
    """(vec_id, vf) fixed-point vectors → (vec_id, sub, subvec) subvector
    rows — a map-side explode, no shuffle. Shared with the persisted
    IVF-PQ index (operators/ivfpq_index.py)."""
    return vf_frame.select(
        "vec_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {_PQ_M - 1}),"
                f" s -> struct(CAST(s AS BIGINT) AS sub,"
                f" slice(vf, 1 + {_PQ_D} * s, {_PQ_D}) AS subvec))"
            )
        ).alias("p"),
    ).select("vec_id", col("p.sub").alias("sub"), col("p.subvec").alias("subvec"))


def _pq_subvectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, sub, subvec) fixed-point subvector rows — a map-side
    explode of the scan, no shuffle."""
    return pq_subvectors_from(_pq_fixed_vectors(spark, sf_dir))


def _pq_codebook(subs: DataFrame) -> DataFrame:
    """(sub, code, cvec) — the first _PQ_K vectors' subvectors, one
    64-entry codebook per subspace (M*K rows; always broadcast)."""
    return subs.filter(col("vec_id") < _PQ_K).select(
        "sub", col("vec_id").alias("code"), col("subvec").alias("cvec")
    )


def _pq_encode(subs: DataFrame, codebook: DataFrame) -> DataFrame:
    """(vec_id, sub, code, d2_fp) nearest-codeword assignment, ZERO
    shuffle: the M*K-row codebook is collected to the driver (512 rows of
    8 ints — dim-sized, the same bounded-collect class as the IVF probe
    cells in operators/ann_index.py, and exactly how FAISS-style engines
    hold PQ codebooks: driver/executor-resident, never a join side) and
    every subvector row scores all K codewords in one Arrow-vectorized
    numpy kernel. Integer-exact int64 math (argmin returns the FIRST
    minimum, i.e. the lowest code — the (d2, code) tie-break). The
    interpreted-HOF alternative (zip_with/aggregate per codeword) measures
    ~175µs/row at K=64 — ~50x this kernel."""
    import numpy as np
    from pyspark.sql.types import LongType, StructField, StructType

    rows = codebook.collect()
    K = max(r.code for r in rows) + 1
    M = max(r.sub for r in rows) + 1
    D = len(rows[0].cvec)
    CB = np.zeros((M, K, D), dtype=np.int64)
    for r in rows:
        CB[r.sub, r.code] = r.cvec

    @pandas_udf(
        StructType(
            [StructField("code", LongType()), StructField("d2_fp", LongType())]
        )
    )
    def nearest(sub: pd.Series, subvec: pd.Series) -> pd.DataFrame:
        A = np.stack(subvec.to_numpy()).astype(np.int64)
        su = sub.to_numpy()
        code = np.empty(len(A), dtype=np.int64)
        d2 = np.empty(len(A), dtype=np.int64)
        for m in range(M):
            mask = su == m
            if not mask.any():
                continue
            diff = A[mask][:, None, :] - CB[m][None, :, :]
            dd = (diff * diff).sum(axis=2)
            idx = dd.argmin(axis=1)  # first min = lowest code on ties
            code[mask] = idx
            d2[mask] = dd[np.arange(len(idx)), idx]
        return pd.DataFrame({"code": code, "d2_fp": d2})

    return subs.select(
        "vec_id", "sub", nearest("sub", "subvec").alias("w")
    ).select(
        "vec_id", "sub", col("w.code").alias("code"), col("w.d2_fp").alias("d2_fp")
    )


@register(
    "embedding_pq_codes",
    sql=f"""
    WITH {_PQ_SETUP_SQL}
    SELECT vec_id, sub, code, d2_fp FROM codes
    """,
    survey_ops=(),
    doc=f"Product-quantization encoding: {_PQ_M} subspaces x {_PQ_D} dims, "
    f"{_PQ_K}-entry deterministic codebook per subspace (seeded from the "
    f"first {_PQ_K} vectors), nearest codeword by integer squared-L2 with "
    "(d2, code) tie-break. Output is the full code table plus per-"
    "subspace residual error — the ~42x memory-compression pass that lets "
    "a 100 TB embedding corpus fit an ANN index in executor memory. "
    "Scale shape: ZERO shuffle — the dim-sized codebook is driver-"
    "resident (FAISS-style) inside an Arrow-vectorized numpy kernel, so "
    "the corpus streams through one scan + subvector explode + "
    "projection (plan-gated: ArrowEvalPython, no exchanges).",
)
def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    subs = _pq_subvectors(spark, sf_dir)
    return _pq_encode(subs, _pq_codebook(subs))


@register(
    "knn_pq_adc",
    sql=f"""
    WITH {_PQ_SETUP_SQL},
    {_PQ_ADC_SQL}
    SELECT qid, vec_id AS neighbor_id, adc_d2_fp, CAST(rank AS BIGINT) AS rank
    FROM adcr
    WHERE rank <= {_TOP_K}
    """,
    survey_ops=(),
    doc="ADC (asymmetric distance) top-k over PQ codes: each query builds "
    f"a {_PQ_M}x{_PQ_K} lookup table of exact query-to-codeword distances "
    "(queries stay uncompressed — only the corpus is quantized), then a "
    "candidate's approximate distance is the sum of 8 table entries "
    "selected by its stored codes. The corpus side never touches floats "
    "or original vectors. Scale shape: the LUT is |queries|*M*K rows — "
    "broadcast; the corpus code table streams through ONE (qid, vec_id) "
    "aggregate with map-side partials; top-k is a bounded window per "
    "query. Integer-exact, so both engines rank identically. Pure ADC "
    "ranking is the compression probe; production serving adds the exact "
    "rerank stage (knn_pq_rerank).",
)
def knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _pq_adc_ranked(spark, sf_dir)
        .filter(col("rank") <= _TOP_K)
        .select("qid", col("vec_id").alias("neighbor_id"), "adc_d2_fp", "rank")
    )


def _pq_adc_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(qid, vec_id, adc_d2_fp, rank) — the full ADC-ranked candidate list
    (broadcast LUT join + one (qid, vec_id) aggregate + per-qid window)."""
    from pyspark.sql import Window

    subs = _pq_subvectors(spark, sf_dir).localCheckpoint()  # corpus + queries + codebook
    codebook = _pq_codebook(subs)
    codes = _pq_encode(subs, codebook)
    lut = (
        subs.filter(col("vec_id") < _N_QUERIES)
        .select(col("vec_id").alias("qid"), "sub", col("subvec").alias("qsub"))
        .join(F.broadcast(codebook), ["sub"])
        .select(
            "qid",
            "sub",
            "code",
            F.expr(_PQ_SUB_D2.format(a="qsub", b="cvec")).alias("lut_d2"),
        )
    )
    dist = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .filter(col("vec_id") != col("qid"))
        .groupBy("qid", "vec_id")
        .agg(F.sum("lut_d2").alias("adc_d2_fp"))
    )
    wk = Window.partitionBy("qid").orderBy(col("adc_d2_fp"), col("vec_id"))
    return dist.withColumn("rank", F.row_number().over(wk).cast("long"))


@register(
    "knn_pq_rerank",
    sql=f"""
    WITH {_PQ_SETUP_SQL},
    {_PQ_ADC_SQL},
    short AS (SELECT qid, vec_id FROM adcr WHERE rank <= {_PQ_RERANK}),
    ex AS (
      SELECT s.qid AS qid, s.vec_id AS vec_id,
             CAST(SUM((q.val - x.val) * (q.val - x.val)) AS BIGINT) AS d2_fp
      FROM short s
      JOIN svd q ON q.vec_id = s.qid
      JOIN svd x ON x.vec_id = s.vec_id AND x.sub = q.sub AND x.j = q.j
      GROUP BY s.qid, s.vec_id)
    SELECT qid, vec_id AS neighbor_id, d2_fp, CAST(rank AS BIGINT) AS rank
    FROM (SELECT qid, vec_id, d2_fp,
                 ROW_NUMBER() OVER (PARTITION BY qid
                                    ORDER BY d2_fp, vec_id) AS rank
          FROM ex) r
    WHERE rank <= {_TOP_K}
    """,
    survey_ops=(),
    doc=f"Production PQ serving path: ADC prunes the corpus to a "
    f"{_PQ_RERANK}-row shortlist per query, then EXACT fixed-point "
    "squared-L2 re-ranks only those rows for the final top-k — the "
    "standard IVFADC+rerank pipeline that recovers most of the recall "
    "the ~42x compression costs (measured by pq_recall_eval: rerank vs "
    "pure-ADC recall side by side). Scale shape: the shortlist (and the "
    "query set) ride broadcasts; the corpus streams ONCE through the "
    "broadcast id filter — exact distances are computed for "
    "|queries| x shortlist rows only, never the full corpus.",
)
def knn_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    short = (
        _pq_adc_ranked(spark, sf_dir)
        .filter(col("rank") <= _PQ_RERANK)
        .select("qid", "vec_id")
    )
    vf = _pq_fixed_vectors(spark, sf_dir).localCheckpoint()  # corpus + query sides
    qv = vf.filter(col("vec_id") < _N_QUERIES).select(
        col("vec_id").alias("qid"), col("vf").alias("qvf")
    )
    exact = (
        vf.join(F.broadcast(short), ["vec_id"])
        .join(F.broadcast(qv), ["qid"])
        .select(
            "qid",
            "vec_id",
            F.expr(_PQ_SUB_D2.format(a="vf", b="qvf")).alias("d2_fp"),
        )
    )
    wk = Window.partitionBy("qid").orderBy(col("d2_fp"), col("vec_id"))
    return (
        exact.withColumn("rank", F.row_number().over(wk).cast("long"))
        .filter(col("rank") <= _TOP_K)
        .select("qid", col("vec_id").alias("neighbor_id"), "d2_fp", "rank")
    )


@register(
    "pq_recall_eval",
    sql=f"""
    WITH {_PQ_SETUP_SQL},
    {_PQ_ADC_SQL},
    adc AS (SELECT qid, vec_id FROM adcr WHERE rank <= {_TOP_K}),
    short AS (SELECT qid, vec_id FROM adcr WHERE rank <= {_PQ_RERANK}),
    exd AS (
      SELECT s.qid AS qid, s.vec_id AS vec_id,
             CAST(SUM((q.val - x.val) * (q.val - x.val)) AS BIGINT) AS d2_fp
      FROM short s
      JOIN svd q ON q.vec_id = s.qid
      JOIN svd x ON x.vec_id = s.vec_id AND x.sub = q.sub AND x.j = q.j
      GROUP BY s.qid, s.vec_id),
    rr AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY d2_fp, vec_id) AS rank
        FROM exd) r
      WHERE rank <= {_TOP_K}),
    exact AS (
      SELECT qid, vec_id FROM (
        SELECT q.vec_id AS qid, x.vec_id AS vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                  ORDER BY SUM((q.val - x.val) * (q.val - x.val)),
                                           x.vec_id) AS rank
        FROM svd q
        JOIN svd x ON x.sub = q.sub AND x.j = q.j
        WHERE q.vec_id < {_N_QUERIES} AND x.vec_id <> q.vec_id
        GROUP BY q.vec_id, x.vec_id) t
      WHERE rank <= {_TOP_K}),
    a_hits AS (
      SELECT a.qid, CAST(COUNT(e.vec_id) AS BIGINT) AS adc_hits
      FROM adc a LEFT JOIN exact e ON e.qid = a.qid AND e.vec_id = a.vec_id
      GROUP BY a.qid),
    r_hits AS (
      SELECT r.qid, CAST(COUNT(e.vec_id) AS BIGINT) AS rerank_hits
      FROM rr r LEFT JOIN exact e ON e.qid = r.qid AND e.vec_id = r.vec_id
      GROUP BY r.qid)
    SELECT a_hits.qid AS qid, adc_hits, rerank_hits,
           CAST(adc_hits AS DOUBLE) / {_TOP_K} AS adc_recall_at_k,
           CAST(rerank_hits AS DOUBLE) / {_TOP_K} AS rerank_recall_at_k
    FROM a_hits JOIN r_hits ON r_hits.qid = a_hits.qid
    """,
    survey_ops=(),
    doc="PQ quality gate: recall@k of BOTH the pure-ADC ranking and the "
    "ADC+exact-rerank pipeline against the exact fixed-point squared-L2 "
    "top-k, side by side per query — the number that justifies (or "
    "blocks) an index swap, and the measured gap the rerank stage "
    "recovers. The exact side scores |queries| x |corpus| pairs against "
    "the 10 BROADCAST queries — the bounded yardstick shape, run on a "
    "sampled query set in production. All sides deterministic integer "
    "math, so both engines agree bit-for-bit.",
)
def pq_recall_eval(
    spark: SparkSession, sf_dir: str, adc_ranked: DataFrame | None = None
) -> DataFrame:
    """``adc_ranked``: a serving pipeline that already holds the ADC
    ranking (knn_pq_adc's pre-top-k frame) passes it here so the gate
    scores it without re-running the ADC scan; default None recomputes,
    keeping the registered oracle self-contained."""
    from pyspark.sql import Window

    ranked = (
        adc_ranked
        if adc_ranked is not None
        else _pq_adc_ranked(spark, sf_dir).localCheckpoint()  # adc + shortlist consumers
    )
    adc = ranked.filter(col("rank") <= _TOP_K).select("qid", "vec_id")
    short = ranked.filter(col("rank") <= _PQ_RERANK).select("qid", "vec_id")
    vf = _pq_fixed_vectors(spark, sf_dir).localCheckpoint()
    qv = vf.filter(col("vec_id") < _N_QUERIES).select(
        col("vec_id").alias("qid"), col("vf").alias("qvf")
    )
    exd = (
        vf.join(F.broadcast(short), ["vec_id"])
        .join(F.broadcast(qv), ["qid"])
        .select(
            "qid",
            "vec_id",
            F.expr(_PQ_SUB_D2.format(a="vf", b="qvf")).alias("d2_fp"),
        )
    )
    wk = Window.partitionBy("qid").orderBy(col("d2_fp"), col("vec_id"))
    rr = (
        exd.withColumn("rank", F.row_number().over(wk))
        .filter(col("rank") <= _TOP_K)
        .select("qid", "vec_id")
    )
    # exact ground truth: all-pairs vs the broadcast query set
    pair_d2 = (
        vf.join(F.broadcast(qv))
        .filter(col("vec_id") != col("qid"))
        .select(
            "qid",
            "vec_id",
            F.expr(_PQ_SUB_D2.format(a="vf", b="qvf")).alias("d2"),
        )
    )
    wx = Window.partitionBy("qid").orderBy(col("d2"), col("vec_id"))
    exact = (
        pair_d2.withColumn("rank", F.row_number().over(wx))
        .filter(col("rank") <= _TOP_K)
        .select("qid", "vec_id", F.lit(1).alias("__hit"))
        .localCheckpoint()  # consumed by both hit joins
    )
    a_hits = (
        adc.join(exact, ["qid", "vec_id"], "left")
        .groupBy("qid")
        .agg(F.count("__hit").alias("adc_hits"))
    )
    r_hits = (
        rr.join(exact, ["qid", "vec_id"], "left")
        .groupBy("qid")
        .agg(F.count("__hit").alias("rerank_hits"))
    )
    return a_hits.join(r_hits, ["qid"]).select(
        "qid",
        "adc_hits",
        "rerank_hits",
        (col("adc_hits").cast("double") / F.lit(_TOP_K)).alias("adc_recall_at_k"),
        (col("rerank_hits").cast("double") / F.lit(_TOP_K)).alias("rerank_recall_at_k"),
    )


# --------------------------------------------------------------------------
# Hard-negative mining — the contrastive-training data step (triplet /
# InfoNCE negatives): for each anchor, the most-similar corpus vectors
# whose LABEL DIFFERS are exactly the negatives that carry gradient
# signal. Same broadcast-anchor + streamed-corpus shape as the
# brute-force kNN baseline, plus the label inequality in the pair filter.
# --------------------------------------------------------------------------
@register(
    "knn_hard_negatives",
    sql=f"""
    WITH norms AS ({_NORMS_SQL}),
    q AS (SELECT vec_id AS qid, embedding AS qe, label AS qlabel
          FROM embeddings WHERE vec_id < {_N_QUERIES}),
    pairs AS (
      SELECT qid, qlabel, vec_id, neg_label,
             CAST(SUM(CAST(ROUND(CAST(qv AS DOUBLE) * CAST(cv AS DOUBLE) * 1e12)
                           AS BIGINT)) AS DOUBLE) / 1e12 AS dot
      FROM (SELECT qid, qlabel, e.vec_id AS vec_id, e.label AS neg_label,
                   unnest(qe) AS qv, unnest(e.embedding) AS cv
            FROM q, embeddings e WHERE e.label <> qlabel) z
      GROUP BY qid, qlabel, vec_id, neg_label
    ),
    scored AS (
      SELECT qid, CAST(qlabel AS BIGINT) AS qlabel,
             pairs.vec_id AS neighbor_id, CAST(neg_label AS BIGINT) AS neg_label,
             dot / (nq.nrm * nc.nrm) AS cosine
      FROM pairs
      JOIN norms nq ON nq.vec_id = qid
      JOIN norms nc ON nc.vec_id = pairs.vec_id
    )
    SELECT qid, qlabel, neighbor_id, neg_label, cosine, CAST(rank AS BIGINT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                       ORDER BY cosine DESC, neighbor_id) AS rank
          FROM scored) r
    WHERE rank <= {_TOP_K}
    """,
    survey_ops=(),
    doc="Hard-negative mining for contrastive training: per anchor (the "
    "broadcast query set), the top-k most-cosine-similar vectors with a "
    "DIFFERENT label — the negatives that actually move an InfoNCE/"
    "triplet loss, vs easy random negatives. Corpus streams once, label "
    "filter prunes pairs before scoring, exact fixed-point dot products, "
    "per-anchor window top-k. At 100 TB the anchor set is the (sampled) "
    "training batch and the corpus side can swap to the IVF/PQ index "
    "path (knn_pq_adc) unchanged — this registered form pins the exact "
    "semantics the approximate server must approach.",
)
def knn_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = _with_norm(
        emb.select("vec_id", "embedding", "label"), "embedding", "nrm"
    ).localCheckpoint()  # anchor (broadcast) side and stream side both read it
    anchors = corpus.filter(col("vec_id") < _N_QUERIES).select(
        col("vec_id").alias("qid"),
        col("embedding").alias("qe"),
        col("nrm").alias("qnrm"),
        col("label").alias("qlabel"),
    )
    pairs = corpus.join(F.broadcast(anchors), col("label") != col("qlabel"))
    scored = pairs.select(
        "qid",
        col("qlabel").cast("long").alias("qlabel"),
        col("vec_id").alias("neighbor_id"),
        col("label").cast("long").alias("neg_label"),
        (_fx_dot("qe", "embedding") / (col("qnrm") * col("nrm"))).alias("cosine"),
    )
    w = Window.partitionBy("qid").orderBy(col("cosine").desc(), col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        col("rank") <= _TOP_K
    )


# --------------------------------------------------------------------------
# Hybrid retrieval with reciprocal-rank fusion — the standard production
# combiner for lexical + vector search (Cormack et al. 2009): each path
# ranks independently, fused score = sum over paths of 1/(60 + rank).
# Integer-only fusion (1e9 DIV (60 + rank)) so the oracle is exact; the
# per-path ranks ride along COALESCEd to 0 so the output stays pure int64.
# --------------------------------------------------------------------------
_RRF_QMOD = 97      # query docs: doc_id % QMOD == 0 (known-item probes)
_RRF_K_PATH = 10    # per-path candidate depth
_RRF_K_OUT = 5      # fused top-k
_RRF_C = 60         # the standard RRF constant

# lexical terms are word-3-gram shingles (the dedup family's unit), not
# unigrams: the synthetic corpus draws from a ~31-word vocabulary, so
# unigram df carries no signal, while shingle df is discriminative — the
# same reason the Jaccard family shingles first.
from .dedup import _SHINGLE_ROWS_SQL as _RRF_SHINGLES_SQL  # noqa: E402
from .dedup import _shingle_rows as _rrf_shingle_rows  # noqa: E402


@register(
    "retrieval_hybrid_rrf",
    sql=f"""
    WITH t_all AS (
      SELECT doc_id, shingle AS term FROM ({_RRF_SHINGLES_SQL}) sr),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
              FROM t_all GROUP BY term),
    informative AS (
      SELECT term, df FROM dfreq, nd WHERE df <= n_docs // 10 + 1),
    qt AS (SELECT doc_id AS qid, term FROM t_all
           WHERE doc_id % {_RRF_QMOD} = 0),
    lex AS (
      SELECT qid, t.doc_id,
             CAST(SUM((n_docs * 1000000) // df) AS BIGINT) AS lex_score
      FROM qt
      JOIN informative USING (term)
      JOIN t_all t USING (term)
      CROSS JOIN nd
      GROUP BY qid, t.doc_id),
    lexr AS (
      SELECT qid, doc_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid
                    ORDER BY lex_score DESC, doc_id) AS BIGINT) AS lex_rank
      FROM lex QUALIFY lex_rank <= {_RRF_K_PATH}),
    feat AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % {_CR_DIMS}
               AS dim,
             CAST(SUM(CASE WHEN CAST('0x' || substr(md5(tok), 9, 1) AS INT)
                                % 2 = 0
                           THEN 1 ELSE -1 END) AS BIGINT) AS w
      FROM (SELECT doc_id,
                   unnest(list_filter(string_split(text, ' '),
                                      w -> length(w) > 0)) AS tok
            FROM documents) z
      GROUP BY doc_id, dim
      HAVING SUM(CASE WHEN CAST('0x' || substr(md5(tok), 9, 1) AS INT)
                           % 2 = 0
                      THEN 1 ELSE -1 END) != 0),
    dn AS (SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS n2
           FROM feat GROUP BY doc_id),
    qf AS (SELECT doc_id AS qid, dim, w AS qw FROM feat
           WHERE doc_id % {_RRF_QMOD} = 0),
    vdot AS (
      SELECT qid, f.doc_id, CAST(SUM(qw * w) AS BIGINT) AS dot
      FROM qf JOIN feat f USING (dim)
      GROUP BY qid, f.doc_id),
    vecr AS (
      SELECT qid, doc_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid
                    ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(n2 AS DOUBLE))
                             DESC, doc_id) AS BIGINT) AS vec_rank
      FROM vdot JOIN dn USING (doc_id)
      QUALIFY vec_rank <= {_RRF_K_PATH}),
    fused AS (
      SELECT COALESCE(l.qid, v.qid) AS qid,
             COALESCE(l.doc_id, v.doc_id) AS doc_id,
             COALESCE(l.lex_rank, 0) AS lex_rank,
             COALESCE(v.vec_rank, 0) AS vec_rank,
             CAST(COALESCE(1000000000 // ({_RRF_C} + l.lex_rank), 0)
                  + COALESCE(1000000000 // ({_RRF_C} + v.vec_rank), 0)
               AS BIGINT) AS rrf_fp
      FROM lexr l FULL OUTER JOIN vecr v USING (qid, doc_id))
    SELECT qid, doc_id, lex_rank, vec_rank, rrf_fp,
           CAST(ROW_NUMBER() OVER (PARTITION BY qid
                  ORDER BY rrf_fp DESC, doc_id) AS BIGINT) AS fused_rank
    FROM fused QUALIFY fused_rank <= {_RRF_K_OUT}
    """,
    survey_ops=(),
    doc="Hybrid retrieval: a lexical shingle-IDF path (word-3-gram terms "
    "— unigram df carries no signal on this corpus — sparse term join, "
    f"stop-shingles with df > n/10 excluded from candidate generation, "
    "the same rare-first pruning as the SSJoin prefix filter) and a "
    "feature-hash vector path (the chunk_retrieval 64-dim md5 spec at doc "
    "grain, length-normalized) each rank top-10 per query; reciprocal-"
    f"rank fusion (1e9 DIV ({_RRF_C} + rank), the Cormack et al. "
    "constant) combines them and keeps the fused top-5. Pure-integer "
    "output incl. the fused score, so hash equality covers both paths' "
    "orderings AND the fusion arithmetic. Scale shape: query frames are "
    "probe-sized broadcasts; the corpus contributes one term aggregate "
    "and one (doc, dim) aggregate, both map-side combinable; no path "
    "ever materializes query x corpus pairs beyond df-bounded term "
    "collisions.",
)
def retrieval_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.expr("filter(split(text, ' '), w -> length(w) > 0)")
        ).alias("term"),
    )
    t_all = _rrf_shingle_rows(spark, sf_dir).select(
        "doc_id", col("shingle").alias("term")
    )
    t_all = t_all.localCheckpoint()  # consumers: df, query side, corpus side
    n_docs = docs.count()
    dfreq = t_all.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    informative = dfreq.filter(col("df") <= F.lit(n_docs // 10 + 1))
    qt = t_all.filter(col("doc_id") % _RRF_QMOD == 0).select(
        col("doc_id").alias("qid"), "term"
    )
    lex = (
        qt.join(informative, ["term"])
        .join(t_all, ["term"])
        .groupBy("qid", "doc_id")
        .agg(
            # n_docs interpolates as an L-suffixed literal: two bare int
            # literals multiply in 32 bits under Spark 4 ANSI and overflow
            # past ~2147 documents (sf0.1 has 5000 — measured crash)
            F.sum(F.expr(f"({n_docs}L * 1000000L) DIV df"))
            .cast("long")
            .alias("lex_score")
        )
    )
    wl = Window.partitionBy("qid").orderBy(col("lex_score").desc(), "doc_id")
    lexr = (
        lex.withColumn("lex_rank", F.row_number().over(wl).cast("long"))
        .filter(col("lex_rank") <= _RRF_K_PATH)
        .select("qid", "doc_id", "lex_rank")
    )
    sgn = F.expr(
        "CASE WHEN CAST(conv(substring(md5(term), 9, 1), 16, 10) AS INT) % 2 = 0 "
        "THEN 1 ELSE -1 END"
    )
    feat = (
        toks.select(
            "doc_id",
            F.expr(
                f"CAST(conv(substring(md5(term), 1, 8), 16, 10) AS BIGINT)"
                f" % {_CR_DIMS}"
            ).alias("dim"),
            sgn.alias("sgn"),
        )
        .groupBy("doc_id", "dim")
        .agg(F.sum("sgn").cast("long").alias("w"))
        .filter(col("w") != 0)
    )
    feat = feat.localCheckpoint()  # consumers: norms, query side, corpus side
    dn = feat.groupBy("doc_id").agg(F.sum(col("w") * col("w")).alias("n2"))
    qf = feat.filter(col("doc_id") % _RRF_QMOD == 0).select(
        col("doc_id").alias("qid"), "dim", col("w").alias("qw")
    )
    vdot = (
        feat.join(F.broadcast(qf), ["dim"])
        .groupBy("qid", "doc_id")
        .agg(F.sum(col("qw") * col("w")).cast("long").alias("dot"))
    )
    wv = Window.partitionBy("qid").orderBy(
        (col("dot").cast("double") / F.sqrt(col("n2").cast("double"))).desc(),
        "doc_id",
    )
    vecr = (
        vdot.join(dn, ["doc_id"])
        .withColumn("vec_rank", F.row_number().over(wv).cast("long"))
        .filter(col("vec_rank") <= _RRF_K_PATH)
        .select("qid", "doc_id", "vec_rank")
    )
    fused = (
        lexr.join(vecr, ["qid", "doc_id"], "full_outer")
        .select(
            "qid",
            "doc_id",
            F.coalesce("lex_rank", F.lit(0)).cast("long").alias("lex_rank"),
            F.coalesce("vec_rank", F.lit(0)).cast("long").alias("vec_rank"),
            (
                F.coalesce(
                    F.expr(f"1000000000 DIV ({_RRF_C} + lex_rank)"), F.lit(0)
                )
                + F.coalesce(
                    F.expr(f"1000000000 DIV ({_RRF_C} + vec_rank)"), F.lit(0)
                )
            )
            .cast("long")
            .alias("rrf_fp"),
        )
    )
    wf = Window.partitionBy("qid").orderBy(col("rrf_fp").desc(), "doc_id")
    return fused.withColumn(
        "fused_rank", F.row_number().over(wf).cast("long")
    ).filter(col("fused_rank") <= _RRF_K_OUT)


# --------------------------------------------------------------------------
# Matryoshka-style dimension-truncation eval: how much recall does a
# prefix of the embedding retain? Rank the corpus by cosine over the
# first d coordinates (d = 8/16/32) and measure recall@k against the
# full-dim exact top-k. The decision this feeds at 100 TB: a 8x-16x
# smaller coarse index (IVF cells, shortlists, cache tiers) built on
# prefixes — the same "measure, don't guess" loop as knn_recall_eval /
# pq_recall_eval, aimed at the truncation knob instead of the quantizer.
# Truncated cosines use the SAME exact fixed-point dot spec as the
# brute-force baseline, with norms over the SAME prefix (a truncated
# ranking must be self-consistent, not full-norm-scaled).
# --------------------------------------------------------------------------
_TRUNC_DIMS = (8, 16, 32)


@register(
    "embedding_dim_truncation_recall",
    sql=f"""
    WITH exact AS ({_registered_sql("knn_cosine_bruteforce")}),
    dimsrc AS (SELECT unnest([{", ".join(str(d) for d in _TRUNC_DIMS)}])
                 AS dims),
    prs AS (
      SELECT dims, q.vec_id AS qid, e.vec_id AS neighbor_id,
             unnest(q.embedding[1:dims]) AS qv,
             unnest(e.embedding[1:dims]) AS cv
      FROM embeddings q, embeddings e, dimsrc
      WHERE q.vec_id < {_N_QUERIES} AND e.vec_id <> q.vec_id),
    gp AS (
      SELECT dims, qid, neighbor_id,
             CAST(SUM(CAST(ROUND(CAST(qv AS DOUBLE) * CAST(cv AS DOUBLE)
                                 * 1e12) AS BIGINT)) AS DOUBLE) / 1e12 AS dot,
             sqrt(CAST(SUM(CAST(ROUND(CAST(qv AS DOUBLE) * CAST(qv AS DOUBLE)
                                 * 1e12) AS BIGINT)) AS DOUBLE) / 1e12) AS qn,
             sqrt(CAST(SUM(CAST(ROUND(CAST(cv AS DOUBLE) * CAST(cv AS DOUBLE)
                                 * 1e12) AS BIGINT)) AS DOUBLE) / 1e12) AS cn
      FROM prs GROUP BY dims, qid, neighbor_id),
    ranked AS (
      SELECT dims, qid, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY dims, qid
                                ORDER BY dot / (qn * cn) DESC,
                                         neighbor_id) AS rnk
      FROM gp),
    approx AS (SELECT dims, qid, neighbor_id FROM ranked
               WHERE rnk <= {_TOP_K})
    SELECT CAST(dims AS BIGINT) AS dims,
           CAST(COUNT(DISTINCT a.qid) AS BIGINT) AS n_queries,
           CAST(COUNT(e.neighbor_id) AS BIGINT) AS n_hit,
           CAST(COUNT(e.neighbor_id) * 1000000
                // (COUNT(DISTINCT a.qid) * {_TOP_K}) AS BIGINT) AS recall_ppm
    FROM approx a
    LEFT JOIN exact e
      ON e.qid = a.qid AND e.neighbor_id = a.neighbor_id
    GROUP BY dims
    """,
    survey_ops=(),
    doc="Dimension-truncation recall eval (Matryoshka check): per "
    "truncation d in (8, 16, 32), rank the corpus by cosine over the "
    "first d coordinates (exact fixed-point dots, prefix norms) and "
    "report recall@k vs the full-dim brute-force top-k, as integer ppm. "
    "Scale shape: one broadcast-query pair frame reused across all three "
    "truncations (the slices are projections, not new scans); the "
    "comparison join is k x |queries| x |dims| rows.",
)
def embedding_dim_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = emb.localCheckpoint()  # pair stream + broadcast query side
    queries = corpus.filter(col("vec_id") < _N_QUERIES).select(
        col("vec_id").alias("qid"), col("embedding").alias("qe")
    )
    pairs = corpus.join(F.broadcast(queries), col("vec_id") != col("qid"))
    pairs = pairs.localCheckpoint()  # reused by all three truncations
    per_d = []
    for d in _TRUNC_DIMS:
        qs, cs = f"slice(qe, 1, {d})", f"slice(embedding, 1, {d})"
        cosine = F.expr(_DOT.format(a=qs, b=cs)) / (
            F.sqrt(F.expr(_DOT.format(a=qs, b=qs)))
            * F.sqrt(F.expr(_DOT.format(a=cs, b=cs)))
        )
        per_d.append(
            pairs.select(
                F.lit(d).cast("long").alias("dims"),
                "qid",
                col("vec_id").alias("neighbor_id"),
                cosine.alias("cosine"),
            )
        )
    tr = per_d[0]
    for p in per_d[1:]:
        tr = tr.unionByName(p)
    w = Window.partitionBy("dims", "qid").orderBy(
        col("cosine").desc(), "neighbor_id"
    )
    approx = (
        tr.withColumn("rnk", F.row_number().over(w))
        .filter(col("rnk") <= _TOP_K)
        .select("dims", "qid", "neighbor_id")
    )
    hit = knn_cosine_bruteforce(spark, sf_dir).select(
        "qid", "neighbor_id", F.lit(1).alias("__hit")
    )
    return (
        approx.join(hit, ["qid", "neighbor_id"], "left")
        .groupBy("dims")
        .agg(
            F.countDistinct("qid").cast("long").alias("n_queries"),
            F.count("__hit").cast("long").alias("n_hit"),
            F.expr(
                f"CAST(COUNT(__hit) * 1000000 div"
                f" (COUNT(DISTINCT qid) * {_TOP_K}) AS BIGINT)"
            ).alias("recall_ppm"),
        )
    )
