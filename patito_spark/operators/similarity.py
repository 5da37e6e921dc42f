"""Approximate-nearest-neighbor search over embedding columns.

Three tiers:

- ``topk_brute_force`` — exact cosine top-k via a broadcast probe join +
  window rank.  Native Columns; the baseline every ANN variant is measured
  against.  Cost O(|corpus| × |probes|) — fine for ≤ ~100 probes even at
  large corpus sizes because the probe side broadcasts and the corpus is
  scanned once.
- ``topk_blockwise`` — the same semantics with the inner product computed in
  numpy over Arrow batches (``mapInPandas``): each batch does ONE matrix
  multiply against the broadcast probe matrix and emits only its local
  top-k, so the shuffle carries |probes| × k rows per batch, never the
  corpus.  The scale path for wide fan-outs.
- ``ivf_topk`` — IVF-style bucketed search: vectors are assigned to their
  nearest of C deterministic centroids at index time; a probe searches only
  the ``nprobe`` nearest centroid buckets.  Trades recall for a
  1/(C/nprobe) scan reduction.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..functions.vectors import cosine_similarity
from ..sources.io import arrow_frame
from .dedup import _materialize

#: Probe frames are collected to the driver (the probe matrix ships in the
#: task closure / a broadcast), so their size must be bounded BY CODE, not
#: by contract: pointing a corpus at the probe argument would otherwise be
#: a silent driver OOM.  4096 probes × 64 doubles ≈ 2 MB — far below any
#: driver limit, far above any sane probe batch.  Raise via the
#: ``max_probes`` parameter (and chunk the probe set) for wider fan-outs.
DEFAULT_MAX_PROBES = 4096


def _collect_probes(probes: DataFrame, cols: list, max_probes: int) -> list:
    rows = probes.select(*cols).limit(max_probes + 1).collect()
    if len(rows) > max_probes:
        raise ValueError(
            f"probe frame exceeds max_probes={max_probes}; probes are "
            "collected to the driver — chunk the probe set (or raise "
            "max_probes consciously) instead of passing a corpus"
        )
    return rows


def topk_brute_force(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
) -> DataFrame:
    """Exact top-k: ``(probe_id, neighbor_id, cosine, rank)``.

    The probe side is broadcast — the corpus never shuffles; ranking happens
    on the (small) |corpus|×|probes| similarity rows after a probe-key
    repartition.  Ties broken by neighbor id for full determinism.
    """
    from ..functions.vectors import dot_product, l2_norm

    # Materialize each norm ONCE per vector BELOW the crossJoin (same
    # rationale as topk_quantized): an inline cosine_similarity re-runs
    # both l2 aggregates per (probe, corpus) PAIR — and twice each, since
    # the `when` guard and the division don't CSE across HOF lambdas.
    # Identical doubles: same aggregates over the same values, only
    # evaluated once per row instead of once per pair.
    p = F.broadcast(
        _materialize(
            probes.select(
                F.col(probe_id_col).alias("probe_id"),
                F.col(vec_col).alias("_pvec"),
            ),
            _pnorm=l2_norm(F.col("_pvec")),
        )
    )
    c = _materialize(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cvec")
        ),
        _cnorm=l2_norm(F.col("_cvec")),
    )
    denom = F.col("_cnorm") * F.col("_pnorm")
    sims = c.crossJoin(p).select(
        "probe_id",
        "neighbor_id",
        F.round(
            F.when(
                denom > 0, dot_product(F.col("_cvec"), F.col("_pvec")) / denom
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("cosine"),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return sims.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def topk_blockwise(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    max_probes: int = DEFAULT_MAX_PROBES,
) -> DataFrame:
    """Same result as :func:`topk_brute_force`, Arrow/numpy inner loop.

    The probe matrix is collected once (bounded by ``max_probes`` — a
    probe frame past the cap raises instead of silently OOMing the driver)
    and shipped in the closure; each Arrow batch computes a single
    normalized matrix product and emits its batch-local top-k — vectorized
    end to end, no per-row Python.
    """
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    probe_rows = _collect_probes(probes, [probe_id_col, vec_col], max_probes)
    probe_ids = [r[0] for r in probe_rows]
    pm = np.asarray([r[1] for r in probe_rows], dtype="float64")
    pm = pm / np.maximum(np.linalg.norm(pm, axis=1, keepdims=True), 1e-12)

    out_schema = T.StructType(
        [
            T.StructField("probe_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def _block(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            m = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
            sims = m @ pm.T  # (batch, probes)
            local_k = min(k, sims.shape[0])
            # batch-local top-k per probe (argpartition → exact order later)
            top = np.argpartition(-sims, local_k - 1, axis=0)[:local_k]
            rows = {
                "probe_id": np.repeat(probe_ids, local_k),
                "neighbor_id": ids[top.T.ravel()],
                "cosine": np.round(
                    np.take_along_axis(sims, top, axis=0).T.ravel(), 6
                ),
            }
            yield pd.DataFrame(rows)

    partial = corpus.select(id_col, vec_col).mapInPandas(_block, out_schema)
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return partial.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _kmeans_centroids(vectors: list, k: int, iters: int) -> list:
    """Deterministic spherical k-means (Lloyd) on a driver-side sample.

    Fully deterministic: init = first ``k`` sample vectors (the sample is
    id-ordered), all math in float64, fixed iteration count — so repeated
    runs and test assertions agree bit-for-bit.  All O(sample × k) work
    happens once on the driver; executors only ever see the resulting
    centroid literals.
    """
    import numpy as np  # noqa: PLC0415

    X = np.asarray(vectors, dtype="float64")
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    C = X[:k].copy()
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        for j in range(k):
            members = X[assign == j]
            if len(members):
                mean = members.sum(axis=0)
                norm = np.linalg.norm(mean)
                if norm > 0:
                    C[j] = mean / norm
    return [list(map(float, row)) for row in C]


def build_ivf_index(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    strategy: str = "kmeans",
    sample_size: int = 4096,
    iters: int = 10,
) -> tuple:
    """Assign every vector to its nearest deterministic centroid.

    ``strategy="kmeans"`` (default): spherical k-means on the ``sample_size``
    lowest-id vectors — deterministic, driver-side numpy, good bucket
    balance.  ``strategy="first"``: centroids are simply the ``n_centroids``
    lowest-id vectors — cheaper and trivially reproducible in plain SQL
    (used by the oracle-checked contract query).  Returns
    ``(indexed_df, centroids)`` where indexed_df has a ``_centroid`` column
    — persist it with ``sources.io.write_bucketed_table(indexed, t,
    "_centroid")`` so probe-time reads prune whole buckets (verified:
    test_ivf_index_bucket_pruning shows ``SelectedBucketsCount`` dropping
    to the probed buckets).
    """
    if strategy == "kmeans":
        sample = (
            corpus.orderBy(id_col)
            .limit(sample_size)
            .select(id_col, vec_col)
            .collect()
        )
        cvecs = _kmeans_centroids([r[1] for r in sample], n_centroids, iters)
        centroids = [(None, v) for v in cvecs]
    elif strategy == "first":
        centroids = (
            corpus.orderBy(id_col).limit(n_centroids).select(id_col, vec_col).collect()
        )
    else:
        raise ValueError(f"Unknown IVF centroid strategy: {strategy!r}")
    cent_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("cid"),
                F.array(*[F.lit(float(x)) for x in row[1]]).alias("cvec"),
            )
            for i, row in enumerate(centroids)
        ]
    )
    best = F.aggregate(
        cent_structs,
        F.struct(
            F.lit(-1).alias("cid"), F.lit(float("-inf")).cast("double").alias("sim")
        ),
        lambda acc, c: F.when(
            cosine_similarity(F.col(vec_col), c["cvec"]) > acc["sim"],
            F.struct(
                c["cid"].alias("cid"),
                cosine_similarity(F.col(vec_col), c["cvec"]).alias("sim"),
            ),
        ).otherwise(acc),
    )
    indexed = corpus.withColumn("_centroid", best["cid"])
    return indexed, [(i, list(r[1])) for i, r in enumerate(centroids)]


def ivf_topk(
    indexed: DataFrame,
    centroids: list,
    probes: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    max_probes: int = DEFAULT_MAX_PROBES,
) -> DataFrame:
    """Search only the ``nprobe`` nearest centroid buckets per probe.

    The probe frame is collected to the driver for centroid assignment and
    bounded by ``max_probes`` (raise past the cap, never a silent OOM).
    """
    import numpy as np  # noqa: PLC0415

    cm = np.asarray([c[1] for c in centroids], dtype="float64")
    cm = cm / np.maximum(np.linalg.norm(cm, axis=1, keepdims=True), 1e-12)
    probe_rows = _collect_probes(probes, [probe_id_col, vec_col], max_probes)
    assignments = []
    for r in probe_rows:
        v = np.asarray(r[1], dtype="float64")
        v = v / max(np.linalg.norm(v), 1e-12)
        top = np.argsort(-(cm @ v))[:nprobe]
        for cid in top:
            assignments.append((r[0], int(cid), [float(x) for x in r[1]]))
    from ..functions.vectors import dot_product, l2_norm

    spark = indexed.sparkSession
    # norms materialized once per row BELOW the join (same rationale as
    # topk_brute_force / topk_quantized; bit-identical doubles — the same
    # sequential aggregate, evaluated per vector instead of per pair, so
    # the probe norm comes from Spark too, not numpy with its pairwise
    # summation order)
    probe_buckets = F.broadcast(
        _materialize(
            arrow_frame(
                spark, assignments, "probe_id long, _centroid int, _pvec array<double>"
            ),
            _pnorm=l2_norm(F.col("_pvec")),
        )
    )
    cand = _materialize(
        indexed.withColumn("_cvec", F.col(vec_col).cast("array<double>")),
        _cnorm=l2_norm(F.col("_cvec")),
    )
    denom = F.col("_cnorm") * F.col("_pnorm")
    joined = cand.join(probe_buckets, "_centroid").select(
        "probe_id",
        F.col(id_col).alias("neighbor_id"),
        F.round(
            F.when(
                denom > 0, dot_product(F.col("_cvec"), F.col("_pvec")) / denom
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("cosine"),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return joined.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    q_col: str = "q",
    scale_col: str = "q_scale",
) -> DataFrame:
    """Per-vector symmetric int8 quantization: ``q_i = round(v_i / s)``
    with ``s = max(|v|) / 127`` (clipped to [-127, 127]; all-zero vectors
    get s = 1 so q stays all-zero).

    The 100 TB ANN storage path: int8 vectors are 4x smaller than float32
    on disk and over the shuffle, and COSINE between quantized vectors
    needs no dequantization at all — the per-vector scales cancel:
    ``cos(qa*sa, qb*sb) = dot(qa, qb) / (||qa|| * ||qb||)``.  That also
    makes every downstream similarity integer-derived, hence bit-portable
    across engines.
    """
    v = F.col(vec_col)
    absmax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.when(absmax > 0, absmax / F.lit(127.0)).otherwise(F.lit(1.0))
    return df.withColumn(scale_col, scale).withColumn(
        q_col,
        F.transform(
            v,
            lambda x: F.greatest(
                F.lit(-127),
                F.least(F.lit(127), F.round(x / F.col(scale_col)).cast("int")),
            ),
        ),
    )


def topk_quantized(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
) -> DataFrame:
    """Top-k by int8-quantized cosine: ``(probe_id, neighbor_id, qcosine,
    rank)`` — same shape as ``topk_brute_force``, with the similarity
    computed entirely in integer arithmetic over quantized vectors
    (broadcast probes, corpus never shuffles before ranking).

    ``qcosine`` approximates the exact cosine to ~1/127 resolution per
    component — rank agreement with the float path is high but not exact;
    use it as the cheap first pass and rescore the top candidates with
    ``topk_brute_force`` semantics when exactness matters.
    """
    qc = quantize_embeddings(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col)),
        vec_col,
    )
    qp = quantize_embeddings(
        probes.select(F.col(probe_id_col).alias("probe_id"), F.col(vec_col)),
        vec_col,
    )
    def _inorm(col: str):
        return F.sqrt(
            F.aggregate(
                F.transform(col, lambda x: (x * x).cast("long")),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ).cast("double")
        )

    # Materialize each norm ONCE per vector before the crossJoin — Catalyst
    # does not CSE across HOF lambdas, so an inline _inorm in both the
    # `when` guard and the product would re-run the aggregate up to 3x per
    # (probe, corpus) PAIR instead of once per row.
    c = _materialize(
        qc.select("neighbor_id", F.col("q").alias("_cq")),
        _cnorm=_inorm("_cq"),
    )
    p = F.broadcast(
        _materialize(
            qp.select("probe_id", F.col("q").alias("_pq")),
            _pnorm=_inorm("_pq"),
        )
    )
    idot = F.aggregate(
        F.zip_with("_cq", "_pq", lambda a, b: (a * b).cast("long")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )

    sims = c.crossJoin(p).select(
        "probe_id",
        "neighbor_id",
        F.round(
            idot / F.when(
                (F.col("_cnorm") > 0) & (F.col("_pnorm") > 0),
                F.col("_cnorm") * F.col("_pnorm"),
            ).otherwise(F.lit(float("inf"))),
            6,
        ).alias("qcosine"),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("qcosine").desc(), F.col("neighbor_id").asc()
    )
    return sims.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
