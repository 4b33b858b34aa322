"""Similarity search over the ``embeddings`` table
(``embedding: array<float>[64]``).

* brute-force cosine top-k — the exact baseline; one broadcast of the
  query vector, a single scan, TakeOrderedAndProject for the top-k.
* LSH-bucketed ANN — random-hyperplane signs partition vectors into
  2^H buckets; search touches only the query's bucket (multi-probe:
  plus single-bit-flip neighbors).  At 100 TB the bucket id is the
  shuffle/partition key; the brute-force path never shuffles at all.
* IVF-style variant — coarse centroids via deterministic seed vectors;
  each vector assigned to nearest centroid, search probes the nearest
  ``nprobe`` centroids.

All vector math is `F.zip_with`/`F.aggregate` array algebra — stays
JVM-side; no Python per-row UDFs.
"""

from __future__ import annotations

import math
import random

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import _dot, _norm, cosine


def _query_vec(embs: DataFrame, vec_id: int) -> Column:
    """The query vector as a broadcast scalar (1-row cross join)."""
    return F.broadcast(
        embs.filter(F.col("vec_id") == vec_id).select(F.col("embedding").alias("qv")).limit(1)
    )


def topk_bruteforce(embs: DataFrame, query_id: int, k: int = 10) -> DataFrame:
    """Exact cosine top-k neighbors of ``query_id`` (excluded).
    orderBy+limit compiles to TakeOrderedAndProject — no global sort
    materialization."""
    q = _query_vec(embs, query_id)
    scored = (
        embs.crossJoin(q)
        .filter(F.col("vec_id") != query_id)
        .select(
            F.col("vec_id"),
            F.col("label"),
            F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias("cos"),
        )
    )
    return scored.orderBy(F.col("cos").desc(), F.col("vec_id")).limit(k)


def _lit_floats(vals) -> Column:
    """Literal ``array<double>`` built as ONE parsed SQL expression.

    ``F.array(*[F.lit(float(v)) ...])`` costs one py4j round-trip per
    element; the centroid/codebook trees here carry 1000+ literals,
    and building them element-wise made DATAFRAME CONSTRUCTION (not
    planning, not execution) the dominant cost of every ANN query —
    measured 1.2–1.7 s per ``topk_ivfpq`` build vs 0.1 s planning and
    0.3 s execution at sf0.1 (r14, guide §7.3: driver-side
    single-threaded work).  One ``F.expr`` string is a single
    round-trip, parsed JVM-side.  ``repr(float)`` round-trips IEEE
    doubles exactly and Spark's ``...D`` literal parses with Java's
    ``Double.parseDouble`` — bit-identical to the ``F.lit`` path
    (verified)."""
    return F.expr("array(" + ",".join(repr(float(v)) + "D" for v in vals) + ")")


def _lit_ints(vals) -> Column:
    """Literal integer array in one parsed expression — see
    :func:`_lit_floats`.  Plain SQL integer literals type exactly like
    ``F.lit(int)`` (INT when the value fits 32 bits, else BIGINT)."""
    return F.expr("array(" + ",".join(str(int(v)) for v in vals) + ")")


def _lit_floats_2d(rows) -> Column:
    """Literal ``array<array<double>>`` in one parsed expression —
    see :func:`_lit_floats`."""
    return F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(repr(float(v)) + "D" for v in row) + ")"
            for row in rows
        )
        + ")"
    )


# ----------------------------------------------------------------------
# random-hyperplane LSH
# ----------------------------------------------------------------------
def _hyperplanes(dim: int = 64, num: int = 8, seed: int = 42) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(num)]


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Bucket id = bits of sign(v·h) per hyperplane."""
    bucket = F.lit(0)
    for i, plane in enumerate(planes):
        lit_plane = _lit_floats(plane)
        dot = _dot(vec, lit_plane)
        bucket = bucket + F.when(dot > 0, F.lit(1 << i)).otherwise(0)
    return bucket


def with_lsh_buckets(embs: DataFrame, num_planes: int = 8, seed: int = 42) -> DataFrame:
    planes = _hyperplanes(64, num_planes, seed)
    return embs.withColumn("bucket", lsh_bucket(F.col("embedding"), planes))


def topk_lsh(
    embs: DataFrame, query_id: int, k: int = 10, num_planes: int = 8, multiprobe: bool = True
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's LSH bucket
    (plus 1-bit-flip probe buckets).  Recall grows with multiprobe;
    cost is bucket-local."""
    b = with_lsh_buckets(embs, num_planes)
    qrow = b.filter(F.col("vec_id") == query_id).select(
        F.col("embedding").alias("qv"), F.col("bucket").alias("qb")
    ).limit(1)
    joined = b.crossJoin(F.broadcast(qrow)).filter(F.col("vec_id") != query_id)
    if multiprobe:
        probes = F.array(
            F.col("qb"), *[F.col("qb").bitwiseXOR(F.lit(1 << i)) for i in range(num_planes)]
        )
        joined = joined.filter(F.array_contains(probes, F.col("bucket")))
    else:
        joined = joined.filter(F.col("bucket") == F.col("qb"))
    scored = joined.select(
        F.col("vec_id"),
        F.col("label"),
        F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias("cos"),
    )
    return scored.orderBy(F.col("cos").desc(), F.col("vec_id")).limit(k)


# ----------------------------------------------------------------------
# IVF-style coarse quantization
# ----------------------------------------------------------------------
def _centroids(dim: int = 64, num: int = 16, seed: int = 7) -> list[list[float]]:
    rng = random.Random(seed)
    out = []
    for _ in range(num):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        out.append([x / n for x in v])
    return out


def _nearest_centroid(vec: Column, cents: list[list[float]]) -> Column:
    # array argmax, NOT a chained-when fold: each when-step re-embeds
    # every prior score subtree (O(k²) dot evaluations — the same trap
    # pq_encode hit); array_position of array_max keeps the identical
    # first-wins tiebreak at O(k)
    scores = F.array(
        *[_dot(vec, _lit_floats(c)) / _norm(vec) for c in cents]
    )
    return (F.array_position(scores, F.array_max(scores)) - 1).cast("int")


def topk_ivf(
    embs: DataFrame,
    query_id: int,
    k: int = 10,
    num_cells: int = 16,
    nprobe: int = 4,
    cells_from=None,
) -> DataFrame:
    """IVF probe: rank centroids by similarity to the query, scan the
    nearest ``nprobe`` cells only.  ``cells_from`` takes a trained
    centroid list (e.g. :func:`kmeans` output) instead of the
    deterministic random seed cells — trained cells follow the data
    distribution, so the same nprobe yields higher recall."""
    if cells_from is not None:
        # trained centroids (e.g. kmeans means) carry varying norms,
        # and the cell ranking below is a raw dot product — unnormalized
        # they bias assignment toward large-norm centroids, splitting
        # cells inconsistently with the cosine-trained clustering.
        # Normalize DRIVER-SIDE so ranking is cosine; the seeded
        # _centroids are unit-norm already (literals unchanged, the
        # seeded-literal oracles stay bit-for-bit).
        cents = [
            [x / n for x in c]
            for c in cells_from
            for n in [math.sqrt(sum(x * x for x in c)) or 1.0]
        ]
    else:
        cents = _centroids(64, num_cells)
    cells = embs.withColumn("cell", _nearest_centroid(F.col("embedding"), cents))
    qrow = cells.filter(F.col("vec_id") == query_id).select(
        F.col("embedding").alias("qv")
    ).limit(1)
    joined = cells.crossJoin(F.broadcast(qrow)).filter(F.col("vec_id") != query_id)
    # probe cells: nprobe best centroids for the query, as a LITERAL
    # isin predicate (driver-side ranking of the one collected query
    # vector — see _probe_cells for why the expression form hurts)
    probes = _probe_cells(embs, query_id, cents, nprobe)
    probe_filter = (
        F.col("cell").isin([int(i) for i in probes]) if probes else F.lit(False)
    )
    scored = joined.filter(probe_filter).select(
        F.col("vec_id"),
        F.col("label"),
        F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias("cos"),
    )
    return scored.orderBy(F.col("cos").desc(), F.col("vec_id")).limit(k)


def _pq_codebooks(
    dim: int = 64, m: int = 8, k: int = 16, seed: int = 11
) -> list[list[list[float]]]:
    """m seeded codebooks of k centroids over dim/m-dim subspaces —
    deterministic stand-ins for trained codebooks (swap in per-subspace
    :func:`kmeans` output for data-adaptive cells), exactly like
    :func:`_centroids` for IVF."""
    rng = random.Random(seed)
    sub = dim // m
    return [
        [[rng.gauss(0, 1) for _ in range(sub)] for _ in range(k)] for _ in range(m)
    ]


def pq_encode(
    embs: DataFrame,
    m: int = 8,
    k: int = 16,
    seed: int = 11,
    dim: int = 64,
    method: str = "arrow",
) -> DataFrame:
    """Product-quantization encoding (Jégou '11): split each vector
    into ``m`` subvectors, store only the id of the nearest codebook
    centroid per subspace — dim floats become m small ints (64×4
    bytes → 8 codes here), the memory step that makes billion-vector
    ANN fit a cluster.  Returns the input plus ``codes`` (array<int>).

    ``method='arrow'`` (default) is one vectorized GEMM argmin per
    batch — the same Arrow vehicle as :func:`kmeans_assign` and ~5×
    the throughput of the expression path, because m×k fold lambdas
    are interpreted, not codegen'd.  ``method='expr'`` keeps the
    whole encode in pure JVM expressions (no Python worker at all) —
    both produce identical codes (first-occurrence argmin; the
    equivalence pytest locks it)."""
    if method == "arrow":
        import numpy as np

        cbs = _pq_codebooks(dim, m, k, seed)
        sub_d = dim // m
        C = np.asarray(cbs, dtype="float64")          # (m, k, sub_d)
        c_sq = (C * C).sum(axis=2)                    # (m, k)

        @F.pandas_udf("array<int>")
        def enc(vecs: pd.Series) -> pd.Series:
            if vecs.empty:
                return pd.Series([], dtype=object)
            M = np.vstack(vecs.to_numpy()).astype("float64")
            out = np.empty((len(M), len(C)), dtype="int32")
            for mi in range(len(C)):
                S = M[:, mi * sub_d : (mi + 1) * sub_d]
                # ||s-c||² ranking needs only -2·S@Cᵀ + ||c||²
                d = -2.0 * (S @ C[mi].T) + c_sq[mi]
                out[:, mi] = d.argmin(axis=1)         # first-occurrence
            return pd.Series(list(out))

        return embs.withColumn("codes", enc(F.col("embedding")))
    cbs = _pq_codebooks(dim, m, k, seed)
    sub_d = dim // m
    # materialize subvectors, then distance ARRAYS, as columns between
    # projections: a chained-when argmin re-embeds every prior distance
    # subtree (O(k²) fold duplication — measured 11.4 s → 1 s at
    # sf0.1), and lambda bodies re-evaluate inlined slices per centroid
    # (the op_embed lesson)
    with_subs = embs.select(
        "*",
        *[
            F.slice(F.col("embedding"), mi * sub_d + 1, sub_d).alias(f"__sub{mi}")
            for mi in range(m)
        ],
    )
    with_dists = with_subs.select(
        "*",
        *[
            F.array(
                *[
                    F.aggregate(
                        F.zip_with(
                            F.col(f"__sub{mi}"),
                            _lit_floats(c),
                            lambda a, b: (a - b) * (a - b),
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                    for c in cbs[mi]
                ]
            ).alias(f"__d{mi}")
            for mi in range(m)
        ],
    )
    # first occurrence of the min == the d < best_d keep-first tiebreak
    codes = F.array(
        *[
            (
                F.array_position(
                    F.col(f"__d{mi}"), F.array_min(F.col(f"__d{mi}"))
                )
                - 1
            ).cast("int")
            for mi in range(m)
        ]
    )
    return with_dists.select(*embs.columns, codes.alias("codes"))


#: PQ encode-scheme version, encoded as a constant marker column named
#: ``pq_v{PQ_SCHEME}`` in every materialized code index — the same
#: loud-staleness design as ``dedup.BAND_SCHEME`` and
#: ``textstats.WINNOW_SCHEME``: code VALUES depend on the codebook
#: seeding + argmin tiebreak implementation, a stale index silently
#: reconstructs the wrong centroids, and the column-NAME encoding
#: makes the check pure schema.  The (m, k, seed, dim[, num_cells])
#: tuple is the caller's part of the index identity (bake it into the
#: table name); bump this whenever the encode changes produced codes.
PQ_SCHEME = 1
_PQ_MARKER = f"pq_v{PQ_SCHEME}"


def _require_pq_marker(codes: DataFrame, need_cell: bool) -> None:
    if _PQ_MARKER not in codes.columns:
        stale = [c for c in codes.columns if c.startswith("pq_v")]
        raise ValueError(
            f"codes_table lacks marker column {_PQ_MARKER!r}"
            + (f" (found stale scheme marker(s) {stale})" if stale else "")
            + " — rebuild it with materialize_pq_index (PQ_SCHEME"
            " changed, so persisted codes no longer match the"
            " codebooks this engine reconstructs from)"
        )
    if need_cell and "cell" not in codes.columns:
        raise ValueError(
            "codes_table has no 'cell' column — it was materialized"
            " without num_cells and cannot serve IVF-PQ probes;"
            " rebuild with materialize_pq_index(..., num_cells=N)"
        )


def materialize_pq_index(
    embs: DataFrame,
    table: str,
    m: int = 8,
    k: int = 16,
    seed: int = 11,
    dim: int = 64,
    num_cells: int | None = None,
    n_buckets: int = 32,
) -> None:
    """Materialize the corpus's PQ codes as a managed table — the
    100 TB amortization for :func:`topk_pq` / :func:`topk_ivfpq`,
    exactly parallel to ``dedup.materialize_band_index`` and
    ``textstats.materialize_fp_index``: read full vectors ONCE at
    build time, then every query scans (vec_id, label, codes[, cell])
    — m small ints per row instead of dim floats.  With ``num_cells``
    the IVF coarse cell is stored too and the table is bucketed on
    ``cell``, so an IVF-PQ probe prunes to nprobe buckets with no
    shuffle and no assignment recompute; without it the table serves
    :func:`topk_pq` full-corpus ADC scans (bucketed on vec_id only
    for even file sizes).  Append new batches' codes after ingest to
    keep the index current; an encode-scheme upgrade requires a
    REBUILD, enforced by the marker column (see ``PQ_SCHEME``)."""
    from .layout import write_bucketed

    coded, bucket_cols = _coded_index_rows(embs, m, k, seed, dim, num_cells)
    write_bucketed(
        coded,
        table,
        bucket_cols,
        n_buckets=n_buckets,
    )


def _coded_index_rows(
    embs: DataFrame,
    m: int,
    k: int,
    seed: int,
    dim: int,
    num_cells: int | None,
) -> tuple[DataFrame, list[str]]:
    """(index rows, bucket columns) for the PQ code index — shared by
    the initial build and the per-batch append."""
    coded = pq_encode(embs, m, k, seed, dim)
    cols = ["vec_id", "label", "codes"]
    if num_cells is not None:
        cents = _centroids(dim, num_cells)
        coded = coded.withColumn(
            "cell", _nearest_centroid(F.col("embedding"), cents)
        )
        cols.append("cell")
        bucket_cols = ["cell"]
    else:
        bucket_cols = ["vec_id"]
    return coded.select(*cols).withColumn(_PQ_MARKER, F.lit(True)), bucket_cols


def append_pq_codes(
    embs: DataFrame,
    table: str,
    m: int = 8,
    k: int = 16,
    seed: int = 11,
    dim: int = 64,
    num_cells: int | None = None,
    n_buckets: int = 32,
) -> None:
    """Append a NEW batch's codes to an existing PQ index — the
    per-ingest increment that keeps :func:`materialize_pq_index`'s
    encode-once contract at 100 TB: only the batch is encoded, the
    archive is never re-read.  The (m, k, seed, dim, num_cells,
    n_buckets) parameters MUST match the build (bake them into the
    table name, as with the band/fp indexes); scheme drift is caught
    by the marker column, and a cell/no-cell mismatch is a schema
    error before any write.

    Writer exclusion: the append holds the dataset lock on the index
    location for its whole check-and-write window, the same lock
    ``layout.compact_bucketed_table`` holds across its swap — an
    append racing a compaction would otherwise write its files into
    the pre-swap directory and lose them when the staged copy
    replaces it.  Contention raises loudly (the lock never blocks);
    the caller retries after the other writer finishes."""
    from .layout import (
        acquire_dataset_lock,
        release_dataset_lock,
        table_location,
        write_bucketed,
    )

    spark = embs.sparkSession
    loc = table_location(spark, table)
    acquire_dataset_lock(spark, loc, owner=f"append_pq_codes({table})")
    try:
        existing = spark.table(table)
        _require_pq_marker(existing, need_cell=num_cells is not None)
        coded, bucket_cols = _coded_index_rows(embs, m, k, seed, dim, num_cells)
        if set(coded.columns) != set(existing.columns):
            raise ValueError(
                f"append_pq_codes: batch columns {sorted(coded.columns)} do"
                f" not match index {table!r} columns"
                f" {sorted(existing.columns)} — was the index built with a"
                " different num_cells?"
            )
        write_bucketed(
            coded.select(*existing.columns),
            table,
            bucket_cols,
            n_buckets=n_buckets,
            mode="append",
        )
    finally:
        release_dataset_lock(spark, loc)


def _pq_recon(cbs: list[list[list[float]]]) -> Column:
    """Quantized reconstruction: concatenation of each subspace's
    centroid selected by ``codes`` — element_at over literal codebook
    arrays (narrow codegen; codes are the only per-row state)."""
    return F.flatten(
        F.array(
            *[
                F.element_at(
                    _lit_floats_2d(cbs[mi]),
                    F.element_at(F.col("codes"), mi + 1) + 1,
                )
                for mi in range(len(cbs))
            ]
        )
    )


def _adc_topk(
    coded: DataFrame,
    qrow: DataFrame,
    query_id: int,
    cbs,
    topk: int,
    pre_filter: Column | None = None,
) -> DataFrame:
    """Asymmetric-distance top-k over a coded corpus: cosine between
    the EXACT broadcast query vector and each row's quantized
    reconstruction, selected by TakeOrderedAndProject.  The cosine is
    materialized ONCE between projections — rounding it twice inline
    would re-evaluate the 64-element fold.  ``pre_filter`` (e.g. the
    IVF probe-cell membership, which references ``qv``) is applied
    right after the broadcast join, before any reconstruction."""
    joined = coded.crossJoin(F.broadcast(qrow))
    if pre_filter is not None:
        joined = joined.filter(pre_filter)
    scored = joined.filter(F.col("vec_id") != query_id).select(
        "vec_id", "label", cosine(_pq_recon(cbs), F.col("qv")).alias("__c")
    )
    return (
        scored.orderBy(F.round(F.col("__c"), 6).desc(), F.col("vec_id"))
        .limit(topk)
        .select("vec_id", "label", F.round(F.col("__c"), 4).alias("cos4"))
    )


def _probe_cells(
    embs: DataFrame, query_id: int, cents: list[list[float]], nprobe: int
) -> list[int]:
    """The ``nprobe`` nearest coarse cells by query·centroid dot,
    computed DRIVER-SIDE from the one collected query vector (a
    boundary-sized collect, same policy as the k-means / PQ codebook
    fits): the probe set becomes a LITERAL ``isin`` predicate, so the
    cell-bucketed code index can prune buckets/files at planning time
    and no per-row centroid ranking runs on the corpus side (the
    previous expression form re-sorted a num_cells struct array for
    EVERY scanned row, and a non-literal predicate defeats partition
    pruning).  Tie order matches the SQL oracle: score desc, cell id
    desc — and the fold order of the dot product is the sequential
    zip order on both sides, so the doubles agree bit-for-bit."""
    row = (
        embs.filter(F.col("vec_id") == query_id)
        .select("embedding")
        .limit(1)
        .collect()
    )
    if not row:
        return []
    qv = [float(x) for x in row[0][0]]
    scores = [
        (sum(a * b for a, b in zip(qv, c)), i) for i, c in enumerate(cents)
    ]
    return [i for _, i in sorted(scores, reverse=True)[:nprobe]]


def topk_ivfpq(
    embs: DataFrame,
    query_id: int,
    topk: int = 10,
    num_cells: int = 16,
    nprobe: int = 4,
    m: int = 8,
    k: int = 16,
    seed: int = 11,
    dim: int = 64,
    codes_table: str | None = None,
) -> DataFrame:
    """IVF-PQ — the standard billion-scale ANN pipeline (FAISS's
    workhorse index): the IVF coarse quantizer prunes the corpus to
    ``nprobe`` cells, then PQ asymmetric distance ranks ONLY the
    surviving codes.  With ``codes_table`` (built by
    :func:`materialize_pq_index` with the same (m, k, seed, dim,
    num_cells)) the query scans the cell-bucketed code index only —
    cell ids + m-byte codes, full vectors touched for exactly one row
    (the query's own) — which at 100 TB is the whole point: encode
    once at ingest, never re-read vectors at query time.  Without it,
    cells + codes are computed inline from ``embs`` (prototyping
    path; reads full vectors of the pruned nprobe/num_cells
    fraction).  Composition of :func:`topk_ivf`'s probe filter and
    :func:`topk_pq`'s ADC ranking — both replayed exactly by the SQL
    oracle; the index path is locked ≡ inline by pytest."""
    cents = _centroids(dim, num_cells)
    qrow = (
        embs.filter(F.col("vec_id") == query_id)
        .select(F.col("embedding").alias("qv"))
        .limit(1)
    )
    probes = _probe_cells(embs, query_id, cents, nprobe)
    cbs = _pq_codebooks(dim, m, k, seed)
    probe_filter = (
        F.col("cell").isin([int(i) for i in probes]) if probes else F.lit(False)
    )
    if codes_table is not None:
        codes = embs.sparkSession.table(codes_table)
        _require_pq_marker(codes, need_cell=True)
        coded = codes.select("vec_id", "label", "codes", "cell")
        return _adc_topk(coded, qrow, query_id, cbs, topk, pre_filter=probe_filter)
    cells = embs.withColumn("cell", _nearest_centroid(F.col("embedding"), cents))
    pruned = (
        cells.crossJoin(F.broadcast(qrow))
        .filter(F.col("vec_id") != query_id)
        .filter(probe_filter)
    )
    coded = pq_encode(pruned, m, k, seed, dim).drop("qv")
    return _adc_topk(coded, qrow, query_id, cbs, topk)


def topk_pq(
    embs: DataFrame,
    query_id: int,
    topk: int = 10,
    m: int = 8,
    k: int = 16,
    seed: int = 11,
    dim: int = 64,
    codes_table: str | None = None,
) -> DataFrame:
    """PQ asymmetric-distance top-k: the corpus is ranked by the
    cosine between the EXACT query vector and each row's quantized
    reconstruction (concatenated codebook centroids) — the classic
    ADC search.  Reconstruction is an element_at over literal
    codebook arrays, the query row broadcasts, and selection is
    TakeOrderedAndProject.  With ``codes_table`` (built by
    :func:`materialize_pq_index` with the same (m, k, seed, dim))
    the corpus side scans CODES ONLY — m ints per row, no
    ``embedding`` column in the scan schema, the entire point of PQ
    at 100 TB; the one full-vector read is the broadcast query row.
    Without it, codes are computed inline from ``embs`` (prototyping
    path).  Returns (vec_id, label, cos4 = quantized-recon cosine)."""
    cbs = _pq_codebooks(dim, m, k, seed)
    qrow = embs.filter(F.col("vec_id") == query_id).select(
        F.col("embedding").alias("qv")
    ).limit(1)
    if codes_table is not None:
        codes = embs.sparkSession.table(codes_table)
        _require_pq_marker(codes, need_cell=False)
        coded = codes.select("vec_id", "label", "codes")
    else:
        coded = pq_encode(embs, m, k, seed, dim)
    return _adc_topk(coded, qrow, query_id, cbs, topk)


def topk_batch(
    embs: DataFrame, query_ids: list[int], k: int = 10
) -> DataFrame:
    """Batched exact retrieval: cosine top-k neighbours for EVERY
    query in one corpus pass.  The query batch (small by contract)
    broadcasts; per-(query, salt) partial top-k bounds every window
    partition before the final per-query rank — the classic two-stage
    distributed top-k, so no single reducer ever sees more than
    (salt_buckets × k) rows per query regardless of corpus size.
    Ties break on vec_id — deterministic, SQL-replayable.
    Returns (query_id, vec_id, cos4, rank)."""
    from pyspark.sql import Window

    q = embs.filter(F.col("vec_id").isin([int(x) for x in query_ids])).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    scored = (
        embs.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            cosine(F.col("embedding"), F.col("qv")).alias("__cos"),
        )
    )
    salt = (F.col("vec_id") % 32).alias("__salt")
    w1 = Window.partitionBy("query_id", "__salt").orderBy(
        F.col("__cos").desc(), F.col("vec_id")
    )
    partial = (
        scored.withColumn("__salt", salt)
        .withColumn("__r", F.row_number().over(w1))
        .filter(F.col("__r") <= k)
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("__cos").desc(), F.col("vec_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", F.round(F.col("__cos"), 4).alias("cos4"), "rank")
    )


def hard_negatives(
    embs: DataFrame,
    query_ids: list[int],
    k: int = 5,
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the ``k`` most similar vectors carrying a DIFFERENT
    label — the negatives that sit closest to the decision boundary
    and therefore teach the most (the standard in-batch-negatives
    upgrade for embedding-model training).

    Same scale posture as :func:`topk_batch`: the query batch
    broadcasts, the label-mismatch filter runs before any ranking,
    and the salted two-stage top-k bounds every window partition at
    (salt_buckets × k) rows per query regardless of corpus size.
    Ties break on vec_id — deterministic, SQL-replayable.
    Returns (query_id, query_label, vec_id, neg_label, cos4, rank)."""
    from pyspark.sql import Window

    q = embs.filter(F.col("vec_id").isin([int(x) for x in query_ids])).select(
        F.col("vec_id").alias("query_id"),
        F.col(label_col).alias("query_label"),
        F.col("embedding").alias("qv"),
    )
    scored = (
        embs.crossJoin(F.broadcast(q))
        .filter(F.col(label_col) != F.col("query_label"))
        .select(
            "query_id",
            "query_label",
            "vec_id",
            F.col(label_col).alias("neg_label"),
            cosine(F.col("embedding"), F.col("qv")).alias("__cos"),
        )
    )
    salt = (F.col("vec_id") % 32).alias("__salt")
    w1 = Window.partitionBy("query_id", "__salt").orderBy(
        F.col("__cos").desc(), F.col("vec_id")
    )
    partial = (
        scored.withColumn("__salt", salt)
        .withColumn("__r", F.row_number().over(w1))
        .filter(F.col("__r") <= k)
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("__cos").desc(), F.col("vec_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "query_label",
            "vec_id",
            "neg_label",
            F.round(F.col("__cos"), 4).alias("cos4"),
            "rank",
        )
    )


def _max_cosine_to(
    embs: DataFrame, cents, vec_col: str, out_col: str
) -> DataFrame:
    """Each row's maximum cosine similarity to any of ``cents``
    (Arrow GEMM per batch) — the farthest-point-init distance pass."""
    import numpy as np

    C = np.asarray(cents, dtype="float64")
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)

    @F.pandas_udf("double")
    def best(vecs: pd.Series) -> pd.Series:
        if vecs.empty:
            return pd.Series([], dtype="float64")
        M = np.vstack(vecs.to_numpy()).astype("float64")
        M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        return pd.Series((M @ Cn.T).max(axis=1))

    return embs.withColumn(out_col, best(F.col(vec_col)))


def kmeans_assign(
    embs: DataFrame, cents, vec_col: str = "embedding", out_col: str = "cluster"
) -> DataFrame:
    """Assign each vector to its nearest centroid by cosine — one
    Arrow-vectorized GEMM per batch against the (k×dim) centroid
    matrix (captured in the UDF closure: model state is tiny and
    ships with the task, the data never moves).  Catalyst literal
    folds would cost k·dim expression nodes per row and fall out of
    codegen for non-trivial k."""
    import numpy as np

    C = np.asarray(cents, dtype="float64")
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)

    @F.pandas_udf("int")
    def nearest(vecs: pd.Series) -> pd.Series:
        if vecs.empty:
            return pd.Series([], dtype="int32")
        M = np.vstack(vecs.to_numpy()).astype("float64")
        M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        return pd.Series((M @ Cn.T).argmax(axis=1).astype("int32"))

    return embs.withColumn(out_col, nearest(F.col(vec_col)))


def _first_seed(embs: DataFrame, vec_col: str, id_col: str):
    import numpy as np

    first = (
        embs.select(F.col(vec_col))
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(1)
        .collect()
    )
    if not first:
        raise ValueError("kmeans needs a non-empty corpus")
    return np.asarray(first[0][0], dtype="float64")


def _maximin_init(embs: DataFrame, k: int, vec_col: str, id_col: str):
    """Deterministic farthest-point init — k−1 TakeOrdered full
    scans; cannot drop a well-separated cluster.  Raises when the
    corpus has fewer than k distinct directions (the next 'farthest'
    point coincides with an existing seed)."""
    import numpy as np

    seeds = [_first_seed(embs, vec_col, id_col)]
    for _ in range(k - 1):
        nxt = (
            _max_cosine_to(embs, seeds, vec_col, "__sim")
            .orderBy(F.col("__sim"), F.col(id_col))
            .select(F.col(vec_col), F.col("__sim"))
            .limit(1)
            .collect()
        )
        if nxt[0]["__sim"] >= 1.0 - 1e-12:
            raise ValueError(
                f"kmeans: corpus has fewer than k={k} distinct vector"
                " directions (maximin found a zero-gain seed)"
            )
        seeds.append(np.asarray(nxt[0][0], dtype="float64"))
    return np.vstack(seeds)


def _parallel_init(
    embs: DataFrame,
    k: int,
    vec_col: str,
    id_col: str,
    rounds: int = 4,
    oversample: int | None = None,
):
    """k-means‖ init (Bahmani '12, public): O(rounds) full scans
    instead of maximin's k−1 — each round samples ~2k candidates with
    probability ∝ squared cosine distance to the current seed set,
    then the oversampled candidate pool is reduced to k by a
    weighted greedy farthest-point pass on the DRIVER (the pool is
    O(rounds·2k) rows — model-sized).  Fully deterministic: the
    per-point coin is md5(id:round) mapped to [0,1), not an RNG."""
    import numpy as np

    ell = float(oversample or 2 * k)
    seeds = [_first_seed(embs, vec_col, id_col)]
    cand: dict = {}
    for r in range(rounds):
        scored = _max_cosine_to(embs, seeds, vec_col, "__sim").withColumn(
            "__d2", (F.lit(1.0) - F.col("__sim")) ** 2
        )
        tot = scored.agg(F.sum("__d2").alias("t")).collect()[0]["t"] or 0.0
        if tot <= 0:
            break  # every point already coincides with a seed
        # deterministic uniform in [0,1): 13 hex chars of md5(id:r)
        coin = (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", F.col(id_col).cast("string"), F.lit(str(r)))),
                    1,
                    13,
                ),
                16,
                10,
            ).cast("double")
            / float(16**13)
        )
        picked = (
            scored.filter(coin < F.least(F.lit(1.0), F.lit(ell) * F.col("__d2") / F.lit(tot)))
            .select(id_col, vec_col)
            .collect()
        )
        for row in picked:
            cand[row[0]] = np.asarray(row[1], dtype="float64")
        seeds = [seeds[0]] + list(cand.values())
    pool = list(cand.items())
    if 1 + len(pool) < k:
        raise ValueError(
            f"kmeans: k-means|| sampled only {1 + len(pool)} candidates"
            f" for k={k} — corpus too small or too degenerate"
        )
    # weight candidates by how many points they attract (one pass)
    cvecs = [seeds[0]] + [v for _, v in pool]
    weights = np.ones(len(cvecs))
    counts = (
        kmeans_assign(embs, np.vstack(cvecs), vec_col, "__c")
        .groupBy("__c")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    for row in counts:
        weights[row["__c"]] = row["n"]
    # driver-side weighted greedy farthest-point down to k (numpy,
    # deterministic): start from the heaviest candidate
    M = np.vstack(cvecs)
    Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
    chosen = [int(np.argmax(weights))]
    for _ in range(k - 1):
        sims = (Mn @ Mn[chosen].T).max(axis=1)
        gain = weights * (1.0 - sims) ** 2
        gain[chosen] = -1.0
        nxt = int(np.argmax(gain))
        if gain[nxt] <= 0:
            raise ValueError(
                f"kmeans: corpus has fewer than k={k} distinct vector"
                " directions (zero-gain candidate in k-means|| reduce)"
            )
        chosen.append(nxt)
    return M[chosen]


#: above this k, ``init='auto'`` switches from maximin (k−1 full
#: scans — best seeds, fine when k is a handful) to k-means‖
#: (O(rounds) scans — the only sane shape when k is in the hundreds
#: on a 100 TB corpus, where every extra full scan is real money)
KMEANS_MAXIMIN_MAX_K = 16


def kmeans(
    embs: DataFrame,
    k: int = 8,
    iters: int = 10,
    tol: float = 1e-4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    init: str = "auto",
):
    """Distributed Lloyd's k-means (cosine) over the embedding column,
    DataFrame-native: per iteration one assign pass (broadcast
    centroid matrix, Arrow GEMM) and one centroid update (posexplode →
    map-side-combined hash aggregation on (cluster, dim)).  Only
    k·dim partial means ever reach the driver per iteration — the
    legitimate driver-side payload is the MODEL, never the data — so
    the same loop runs unchanged over 100 TB of vectors.

    ``init`` picks the seeding strategy, all deterministic:

    * ``'auto'`` (default) — maximin for k ≤
      :data:`KMEANS_MAXIMIN_MAX_K`, k-means‖ above it: init scan
      count stays O(1)-ish for small k and O(rounds) instead of
      O(k) for large k.
    * ``'maximin'`` — farthest-point; k−1 full scans.  Best seeds,
      right choice for small k.
    * ``'parallel'`` — k-means‖ (Bahmani '12): O(log k) scans via
      oversampled distance-weighted sampling + driver-side weighted
      reduce.  The scale path when k is large.

    All raise ValueError when the corpus has fewer than k distinct
    vector directions (a duplicate seed would silently yield
    coincident centroids).  Empty clusters keep their previous
    centroid.  Returns (assignments DataFrame, centroids list)."""
    import numpy as np

    if init == "auto":
        init = "maximin" if k <= KMEANS_MAXIMIN_MAX_K else "parallel"
    if init == "maximin":
        cents = _maximin_init(embs, k, vec_col, id_col)
    elif init == "parallel":
        cents = _parallel_init(embs, k, vec_col, id_col)
    else:
        raise ValueError(f"unknown kmeans init {init!r}")
    for _ in range(iters):
        assigned = kmeans_assign(embs, cents, vec_col)
        upd = (
            assigned.select(F.col("cluster"), F.posexplode(F.col(vec_col)).alias("dim", "v"))
            .groupBy("cluster", "dim")
            .agg(F.avg(F.col("v").cast("double")).alias("m"))
            .collect()
        )
        new = cents.copy()  # empty clusters keep their previous centroid
        for r in upd:
            new[r["cluster"], r["dim"]] = r["m"]
        shift = float(np.abs(new - cents).max())
        cents = new
        if shift < tol:
            break
    return kmeans_assign(embs, cents, vec_col), [list(map(float, c)) for c in cents]


def kmeans_portable(
    embs: DataFrame,
    k: int = 4,
    iters: int = 2,
    scale: int = 1000,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Fixed-iteration, integer-quantized Lloyd's k-means — the
    PORTABLE twin of :func:`kmeans` (the md5-portable pattern: same
    algorithm shape, every step exact integer/IEEE arithmetic an SQL
    engine replays bit-for-bit, so the full iterative loop gains a
    hash-checkable oracle).  Differences from the production kernel,
    all in service of replayability: squared-Euclidean distance on
    round-half-up quantized vectors (q = floor(x·scale + 0.5) after a
    float→double promotion) instead of cosine on floats; seeding =
    the k first rows in (md5(id), id) order (the same deterministic
    order :func:`_first_seed` uses) instead of maximin; argmin ties
    break to the LOWEST centroid index; centroid update =
    floor(avg + 0.5) per dimension, empty clusters keeping their
    previous centroid.

    Scale shape is identical to the production loop: per iteration
    one assign pass (the k·dim centroid matrix folds into native
    array expressions — JVM-side, no Python) and one posexplode →
    map-side-combined (cluster, dim) aggregation; only k·dim partial
    means reach the driver per iteration.  Returns (id, cluster)."""
    if k < 1 or iters < 0:
        raise ValueError("kmeans_portable needs k >= 1 and iters >= 0")
    qv = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * float(scale) + 0.5).cast("long"),
    )
    q = embs.select(F.col(id_col), qv.alias("__q"))
    seeds = [
        [int(x) for x in r["__q"]]
        for r in q.orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(k)
        .collect()
    ]
    if len(seeds) < k:
        raise ValueError(f"kmeans_portable: corpus has fewer than k={k} rows")
    cents = seeds

    def _assign(cents_):
        dists = F.array(
            *[
                F.aggregate(
                    F.zip_with(
                        F.col("__q"),
                        _lit_ints(cv),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                )
                for cv in cents_
            ]
        )
        # argmin with lowest-index ties: array_position finds the
        # FIRST occurrence of the minimum
        return q.withColumn(
            "cluster",
            (F.array_position(dists, F.array_min(dists)) - 1).cast("int"),
        )

    assigned = _assign(cents)
    for _ in range(iters):
        upd = (
            assigned.select("cluster", F.posexplode("__q").alias("dim", "v"))
            .groupBy("cluster", "dim")
            # explicit exact-integer sum / count instead of avg():
            # both engines then perform the SAME single IEEE division
            # (engine-internal avg accumulation orders could differ
            # in the last ulp right at a floor boundary)
            .agg(
                F.floor(
                    F.sum("v").cast("double") / F.count(F.lit(1)) + 0.5
                )
                .cast("long")
                .alias("m")
            )
            .collect()
        )
        new = [list(c) for c in cents]  # empty clusters keep previous
        for r in upd:
            new[r["cluster"]][r["dim"]] = int(r["m"])
        cents = new
        assigned = _assign(cents)
    return assigned.select(F.col(id_col), "cluster")


def centroids(embs: DataFrame, label_col: str = "label") -> DataFrame:
    """Per-label element-wise mean vector, emitted long-form as
    (label, dim, centroid) — the k-means-update / class-prototype
    primitive.  posexplode → one map-side-combined hash aggregation on
    (label, dim): at 100 TB the shuffle payload is |labels|·dims
    partial sums, not the vectors."""
    e = embs.select(label_col, F.posexplode("embedding").alias("dim", "v"))
    return (
        e.groupBy(label_col, "dim")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("centroid"))
        .select(F.col(label_col), F.col("dim").cast("int").alias("dim"), "centroid")
    )


def quantize_int8(embs: DataFrame) -> DataFrame:
    """Symmetric int8 quantization: q_i = round(127·x_i / max|x|),
    per-vector scale.  Pure array algebra (transform/array_max) —
    narrow, codegen'd, no shuffle; the 4× size cut is what a 100 TB
    embedding store ships to ANN serving.  Zero vectors are undefined
    (scale 0 → division by zero), matching standard quantizer
    contracts."""
    as_double = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    mx = F.array_max(F.transform(as_double, F.abs))
    q = F.transform(as_double, lambda x: F.round(x * 127 / mx).cast("int"))
    return embs.select(
        F.col("vec_id"),
        F.round(mx, 6).alias("scale"),
        F.md5(F.array_join(q, ",")).alias("quant_md5"),
    )
