"""Deduplication operators over the ``documents`` table.

Five strategies, all expressed as DataFrame pipelines that scale by
partitioning on content-derived keys (no driver-side state, no
collect):

* exact        — hash-groupBy on a normalized-content fingerprint
* minhash LSH  — shingle → minhash signature → band buckets →
                 bucket-join candidates → Jaccard verify
* simhash      — 64-bit sign-of-weighted-sum signature; near-dup via
                 banded hamming buckets
* n-gram Jaccard — direct pairwise Jaccard within cheap buckets
* embedding cosine — near-identical vectors via normalized dot product

At 100 TB: every strategy's shuffle key is content-derived (fingerprint,
band hash, bucket), so the candidate-pair explosion stays local to a
bucket; skew is bounded by band width choice, and AQE skew-join
handles hot buckets.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .textstats import fingerprint

# ----------------------------------------------------------------------
# exact dedup
# ----------------------------------------------------------------------
def exact_groups(docs: DataFrame) -> DataFrame:
    """Duplicate groups by normalized-content fingerprint:
    (fp, keep_id = min doc_id, n = group size)."""
    return (
        docs.select(F.col("doc_id"), fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n"))
    )


def dup_rate_stats(docs: DataFrame) -> DataFrame:
    """Dedup observability: the exact-duplicate group-size histogram —
    (group_size, n_groups, n_docs) — the number every dedup run
    reports (dup rate = 1 − Σn_groups/Σn_docs).  Two tiny partial-agg
    shuffles (fp, then group size); output is O(max group size)
    rows."""
    return (
        exact_groups(docs)
        .groupBy(F.col("n").alias("group_size"))
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.sum("n").alias("n_docs"),
        )
    )


def exact_dedup(docs: DataFrame) -> DataFrame:
    """documents with exact duplicates removed (keep lowest doc_id).
    Implemented as a window-free groupBy+join so the only shuffle key
    is the fingerprint."""
    keep = exact_groups(docs).select(F.col("keep_id").alias("doc_id"))
    return docs.join(keep, "doc_id", "inner")


# ----------------------------------------------------------------------
# shingles + minhash
# ----------------------------------------------------------------------
def _tokens(text: Column) -> Column:
    return F.split(F.regexp_replace(F.lower(F.trim(text)), r"\s+", " "), " ")


def shingles(text: Column, k: int = 3) -> Column:
    """k-token shingles as strings (distinct).

    Built by zipping k shifted views of the token array (k-1 slices
    total) instead of a per-index ``slice`` inside ``transform`` —
    the naive form allocates O(S²) intermediate arrays per document
    and measured ~6× slower.  ``concat`` is null-propagating, so the
    short tail positions null out and one ``filter`` drops them."""
    toks = _tokens(text)
    n = F.size(toks)
    acc = toks
    for j in range(2, k + 1):
        nxt = F.slice(toks, j, F.greatest(n - (j - 1), F.lit(0)))
        acc = F.zip_with(acc, nxt, lambda a, b: F.concat(a, F.lit(" "), b))
    sh = F.filter(acc, lambda x: x.isNotNull())
    return F.array_distinct(F.when(n >= k, sh).otherwise(F.array(F.concat_ws(" ", toks))))


def hashed_shingles(text: Column, k: int = 3) -> Column:
    """k-token shingles as DISTINCT 64-bit hashes — the banding fast
    path.  Allocating shingle strings (k tokens re-copied per
    position) was ~half the band-table cost at sf0.1; here each token
    string is xxhash64'd ONCE and shingle identity is the sequential
    xxhash64 of its k token hashes, so no shingle string ever exists.
    Same shifted-zip construction as :func:`shingles`.  Hash
    collisions can merge distinct shingles, which only perturbs the
    (already probabilistic) minhash candidate stage — pair
    verification is exact string jaccard downstream.  Short docs
    (< k tokens) hash their whole token sequence as one shingle."""
    toks = _tokens(text)
    th = F.transform(toks, lambda t: F.xxhash64(t))
    n = F.size(th)
    acc = th
    for j in range(2, k + 1):
        nxt = F.slice(th, j, F.greatest(n - (j - 1), F.lit(0)))
        # xxhash64 SKIPS null inputs (it does not propagate like
        # concat), so the short tail would silently hash as a
        # (k-1)-shingle — slice to the valid positions instead
        acc = F.zip_with(acc, nxt, lambda a, b: F.xxhash64(a, b))
    sh = F.slice(acc, 1, F.greatest(n - (k - 1), F.lit(0)))
    return F.array_distinct(
        F.when(n >= k, sh).otherwise(F.array(F.xxhash64(F.concat_ws(" ", toks))))
    )


def minhash_signature_arr(sh: Column, num_hashes: int = 32) -> Column:
    """The full signature as ONE array column via a single fold over
    the shingles: per shingle an array of num_hashes hashes, merged
    with elementwise ``least`` — one pass, no num_hashes× re-scan of
    the shingle array.

    The shingle STRING is hashed exactly once (its bytes dominate the
    hashing cost); the num_hashes independent functions are derived
    by re-hashing the resulting 8-byte long under per-function seeds
    — the standard one-base-hash minhash family, ~num_hashes× less
    string hashing than seeding xxhash64 over the text per function
    (measured 2.3× on the 32-hash signature pass at sf0.1).  The base
    hash is bound through its OWN ``transform`` pass first: a lambda
    body re-evaluates embedded subexpressions per element (no CSE
    inside higher-order functions — same pitfall documented in
    ``pipeline.embed_documents``), so inlining ``xxhash64(s)`` into
    the num_hashes-element array hashed every shingle string 32×
    (measured another 1.5× on the archive banding pass at sf0.1).
    Hash values here take 64-bit shingle hashes as input, so BAND
    hash values depend on the upstream shingle representation — the
    r5 switch from string shingles to :func:`hashed_shingles` changed
    every downstream band hash.  Persisted band indexes are therefore
    versioned: see ``BAND_SCHEME`` / :func:`_band_table`, which make
    a stale index fail loudly instead of silently matching nothing
    (correctness oracles are value-level on the verified pair set,
    not on hashes)."""
    init = F.array_repeat(F.lit((1 << 63) - 1).cast("long"), num_hashes)
    base = F.transform(sh, lambda s: F.xxhash64(s))
    return F.aggregate(
        base,
        init,
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[F.xxhash64(h, F.lit(seed)) for seed in range(num_hashes)]
            ),
            lambda a, b: F.least(a, b),
        ),
    )


#: Banding-scheme version, encoded as a constant marker column NAMED
#: ``scheme_v{BAND_SCHEME}`` in every band table.  History: v1 =
#: string shingles (unversioned, rounds ≤4); v2 = hashed_shingles
#: (round 5+).  A band index persisted under a different scheme
#: produces band hashes that NEVER equal current ones — the failure
#: mode is a silent zero-candidate join, not an error — so
#: ``incremental_dup_pairs`` validates the marker on ``archive_bands``
#: and raises instead.  Encoding the version in the column NAME makes
#: the check pure schema (no data scan distinguishes v2 from v3), and
#: the constant boolean RLE-compresses to nothing in parquet.  Bump
#: this whenever _tokens/hashed_shingles/minhash_signature_arr/band
#: hashing change any produced hash value.
BAND_SCHEME = 2
_BAND_MARKER = f"scheme_v{BAND_SCHEME}"


def _band_table(
    docs: DataFrame, k: int = 3, num_hashes: int = 32, bands: int = 8
) -> DataFrame:
    """(doc_id, band, h, scheme_vN) LSH banding table: hashed shingle
    → minhash signature → bands of r=num_hashes/bands rows, hashed
    per band.  Uses :func:`hashed_shingles` (no shingle strings
    allocated — measured 1.5× on the archive banding pass at sf0.1);
    the exact string-jaccard verify downstream is untouched.

    Band hash VALUES are only comparable between tables built under
    the same ``BAND_SCHEME`` — every table carries the version as a
    marker column so persisted indexes from older schemes fail
    loudly downstream instead of silently matching nothing."""
    if bands < 1 or num_hashes % bands:
        raise ValueError(
            f"banding requires num_hashes divisible by bands, got {num_hashes}/{bands}"
        )
    r = num_hashes // bands
    sh = docs.select(F.col("doc_id"), hashed_shingles(F.col("text"), k).alias("sh"))
    sig = sh.select(
        "doc_id", minhash_signature_arr(F.col("sh"), num_hashes).alias("sig")
    )
    return sig.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"), F.xxhash64(F.slice("sig", b * r + 1, r)).alias("h")
                ),
            )
        ).alias("bh"),
    ).select(
        "doc_id",
        F.col("bh.band").alias("band"),
        F.col("bh.h").alias("h"),
        F.lit(True).alias(_BAND_MARKER),
    )


#: _bucket_pairs collects at most this many over-cap bucket keys for
#: the literal plan split; a corpus with MORE giant buckets than this
#: (mostly-degenerate input) streams everything through the spillable
#: self-join instead.  Bounds both the driver collect and the literal
#: predicate's expression size.
_MAX_LITERAL_GIANTS = 2048


def _bucket_pairs(
    df: DataFrame,
    bucket_cols: list[str],
    id_col: str = "doc_id",
    giant_bucket: int = 1 << 16,
    pin: bool = False,
) -> DataFrame:
    """Distinct (a, b) id pairs (a < b) co-occurring in any bucket —
    the shared candidate generator behind the LSH band tables
    (round 13: grouped posting-list pair generation instead of the
    bucket self-join).  ONE shuffle groups each bucket's sorted id
    list; the pairs then stream out task-locally (posexplode + slice
    — never a materialized pair array).  The self-join shape
    evaluated the upstream banding subtree once PER SIDE (no CSE
    across join inputs) and shuffled the band table twice; this shape
    computes it once and shuffles it once.

    Giant-bucket guard (round 14, r13 verdict): ``collect_list``
    holds one bucket's WHOLE id list in a single aggregation-buffer
    object, which (unlike a sort-merge join's spillable key group)
    cannot spill — a degenerate bucket (near-constant band
    signatures) of 100M ids is an 800 MB jvm object and an executor
    OOM.  Buckets with more than ``giant_bucket`` ids are therefore
    pair-generated through the old streaming self-join, whose per-key
    group buffer spills to disk; output is IDENTICAL (the same exact
    pair set, same dedup), only the execution shape differs.

    The guard decision is made DRIVER-SIDE from one count pre-pass
    (an AQE-style adaptive plan choice): giant buckets are rare by
    construction (≤ rows/giant_bucket of them can exist), so the
    count's over-cap keys collect driver-side and split the plan with
    a LITERAL predicate.  The first r14 cut kept the split IN the
    plan (broadcast anti/semi probes + a union whose streamed branch
    was always built) and regressed every caller 1.5–2.3× at sf0.1 —
    the guard machinery re-executed under every downstream consumer
    of the (pinned) candidate table.  Measured A/B is in
    OPTIMIZATION_r14.md; with the driver-side split the no-giants
    plan (the universal case) is EXACTLY the round-13 shape and the
    only added cost is the one count job (~0.2–0.4 s at sf0.1 over a
    pinned band table; one narrow aggregation of the index at scale).
    Beyond ``_MAX_LITERAL_GIANTS`` over-cap keys (a corpus that is
    mostly degenerate buckets) everything streams through the
    self-join — the always-spillable r12 shape.

    ``pin``: localCheckpoint ``df`` first — pass True when the input
    is an unpinned expensive subtree (the count pass makes ``df``
    multi-consumer, and Spark does not CSE across join inputs).

    Input contract: (id, bucket) rows must be duplicate-free (all
    callers explode each doc's bands once); a duplicated row would
    have produced an (a, a) self-pair from the sorted list — guarded
    by the explicit a != b filter below, mirroring the a < b
    exclusion the old self-join had by construction."""
    if pin:
        df = df.localCheckpoint(eager=False)
    giants = (
        df.groupBy(*bucket_cols)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > giant_bucket)
        .select(*bucket_cols)
        .limit(_MAX_LITERAL_GIANTS + 1)
        .collect()
    )

    def _grouped(src: DataFrame) -> DataFrame:
        g = (
            src.groupBy(*bucket_cols)
            .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("__ids"))
            .filter(F.size("__ids") >= 2)
        )
        return (
            g.select(F.posexplode("__ids").alias("__i", "a"), F.col("__ids"))
            .select(
                "a",
                F.explode(
                    F.slice(
                        F.col("__ids"), F.col("__i") + F.lit(2), F.size("__ids")
                    )
                ).alias("b"),
            )
            .filter(F.col("a") != F.col("b"))
        )

    def _streamed(src: DataFrame) -> DataFrame:
        l, r = src.alias("l"), src.alias("r")
        cond = F.col(f"l.{id_col}") < F.col(f"r.{id_col}")
        for c in bucket_cols:
            cond = cond & (F.col(f"l.{c}") == F.col(f"r.{c}"))
        return l.join(r, cond).select(
            F.col(f"l.{id_col}").alias("a"), F.col(f"r.{id_col}").alias("b")
        )

    if not giants:
        return _grouped(df).distinct()
    if len(giants) > _MAX_LITERAL_GIANTS:
        return _streamed(df).distinct()
    is_giant = None
    for row in giants:
        this = None
        for c in bucket_cols:
            eq = F.col(c) == F.lit(row[c])
            this = eq if this is None else (this & eq)
        is_giant = this if is_giant is None else (is_giant | this)
    return (
        _grouped(df.filter(~is_giant))
        .union(_streamed(df.filter(is_giant)))
        .distinct()
    )


def minhash_candidates(
    docs: DataFrame, k: int = 3, num_hashes: int = 32, bands: int = 8
) -> DataFrame:
    """LSH candidate pairs: docs sharing ≥1 minhash band.

    shingle → minhash(num_hashes) → bands of rows r=num_hashes/bands →
    explode (band_idx, band_hash) → grouped per-bucket pair
    generation (:func:`_bucket_pairs` — one shuffle, signature pass
    evaluated once; the old bucket self-join paid the minhash pass
    once per join side).  Returns (a, b) with a < b, distinct.

    ``pin=True``: the giant-bucket count pre-pass makes the band
    table multi-consumer, and it is an expensive unpinned subtree
    here (shingle + minhash) — pin it once instead of re-evaluating
    per consumer."""
    return _bucket_pairs(
        _band_table(docs, k, num_hashes, bands), ["band", "h"], pin=True
    )


def jaccard(sh_a: Column, sh_b: Column) -> Column:
    """Exact Jaccard of two arrays.  Deliberately array_intersect +
    array_union rather than the |A|+|B|−|A∩B| identity: the identity
    repeats the intersect subexpression inside the when() guard and
    Catalyst does not CSE it across the guard/value positions —
    measured ~15% slower on the bucketed n-gram baseline."""
    inter = F.size(F.array_intersect(sh_a, sh_b))
    union = F.size(F.array_union(sh_a, sh_b))
    return F.when(union > 0, inter / union).otherwise(0.0)


def minhash_dedup_pairs(
    docs: DataFrame,
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    reusable_cache: bool = True,
) -> DataFrame:
    """Verified near-duplicate pairs: LSH candidates filtered by true
    shingle Jaccard ≥ threshold → (a, b, jaccard).

    The candidate-pair table (ids only, ~dup-rate × |docs| rows) is
    pinned because it feeds three consumers (two id-prune sides and
    the verify join); without a pin Spark recomputes the whole LSH
    pass per reference.  Two pin modes:

    - ``reusable_cache=True`` (default): ``cache()`` — CacheManager
      plan-matching lets REPEATED invocations over the same corpus
      skip the LSH pass entirely (measured ~3× on the warm path).
      The entry lives until the caller unpersists or clears the
      cache; right for batch jobs and notebooks where the caller
      owns the session lifecycle.
    - ``reusable_cache=False``: lazy ``localCheckpoint`` — released
      by the ContextCleaner when the DataFrame is garbage-collected.
      Right for long-lived services compiling many DISTINCT queries
      (the ``dedup_minhash()`` flow method uses this): with cache()
      each distinct plan would pin a new candidate table and grow
      executor storage without bound.

    Verification then re-shingles ONLY candidate docs (semi-join
    prune before the shingle projection) — the full corpus is
    shingled once, in the signature pass, not three times; at scale
    the prune is the difference between re-shingling 100 TB twice
    and re-shingling just the near-dup slice."""
    cands = minhash_candidates(docs, k, num_hashes, bands)
    cands = (
        cands.cache() if reusable_cache else cands.localCheckpoint(eager=False)
    )
    cand_ids = (
        cands.select(F.col("a").alias("doc_id"))
        .union(cands.select(F.col("b").alias("doc_id")))
        .distinct()
    )
    sh = docs.join(cand_ids, "doc_id", "left_semi").select(
        F.col("doc_id"), shingles(F.col("text"), k).alias("sh")
    )
    return (
        cands.join(sh.withColumnsRenamed({"doc_id": "a", "sh": "sh_a"}), "a")
        .join(sh.withColumnsRenamed({"doc_id": "b", "sh": "sh_b"}), "b")
        .select("a", "b", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"))
        # the threshold predicate is pushed into the projection and
        # double-evaluates the Jaccard — tolerated HERE because the
        # candidate set is already LSH-pruned and small (the barrier
        # that pays off on the uncapped n-gram baseline measured
        # slower on this pruned path: scheduling overhead > saved eval)
        .filter(F.col("jaccard") >= threshold)
    )


def materialize_band_index(
    docs: DataFrame,
    table: str,
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    n_buckets: int = 32,
) -> None:
    """Materialize the archive's LSH band table as a managed table
    hash-bucketed on ``h`` — the 100 TB amortization for incremental
    dedup: shingle+minhash the archive ONCE, then every daily batch
    joins its own (tiny) band table against the index with NO archive
    re-shingle and NO archive-side shuffle (HashPartitioning(h)
    satisfies the (band, h) join's clustering, so only the batch side
    exchanges).  Append the batch's own bands after each run to keep
    the index current.  The (k, num_hashes, bands) triple is part of
    the index's identity: pass the SAME values to
    ``incremental_dup_pairs`` or the band hashes will never match
    (silent under-join) — bake them into the table name if multiple
    configurations coexist.

    The banding SCHEME is part of the identity too (``BAND_SCHEME``):
    whenever an engine upgrade changes hash values (as the r5
    string→hashed shingle switch did), every index persisted by this
    function must be REBUILT.  The scheme marker column written here
    makes ``incremental_dup_pairs`` reject a stale index loudly, and
    appending new-scheme bands to an old-scheme table fails on the
    schema mismatch rather than corrupting the index."""
    from .layout import write_bucketed

    write_bucketed(
        _band_table(docs, k, num_hashes, bands),
        table,
        ["h"],
        n_buckets=n_buckets,
        sort_cols=["h"],
    )


def incremental_dup_pairs(
    existing: DataFrame,
    incoming: DataFrame,
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    within_incoming: bool = True,
    archive_bands: DataFrame | None = None,
) -> DataFrame:
    """Incremental (daily-batch) near-dup detection: pairs between a
    NEW batch and the EXISTING corpus, plus (optionally) within the
    new batch — WITHOUT ever self-joining the existing corpus.  The
    growing-corpus workhorse: at 100 TB the existing side is the
    whole archive; re-running full-corpus dedup per batch is
    O(archive²)-ish, while this is banding over the archive (linear
    scan, or a pre-materialized band table) joined against the tiny
    batch's bands.

    Returns (a, b, jaccard, origin): origin='cross' → a is the
    existing doc, b the incoming doc; origin='within' → both incoming
    (a < b).  doc_ids are assumed unique across the two inputs (the
    normal append-only ingest contract).

    Plan: band tables per side; the cross candidate join is keyed on
    (band, h) with the incoming side naturally small (broadcast-able
    by AQE); verification re-shingles only candidate docs per side
    (semi-join prune), exact Jaccard ≥ threshold.

    ``archive_bands`` (from :func:`materialize_band_index`) skips the
    archive banding pass entirely — at 100 TB the difference between
    re-hashing the archive per batch and reading a bucketed index.
    ``existing`` is still needed for the verification re-shingle of
    the (few) candidate docs.
    """
    if archive_bands is not None and _BAND_MARKER not in archive_bands.columns:
        stale = [c for c in archive_bands.columns if c.startswith("scheme_v")]
        # a stale index's band hashes never equal current ones; the
        # symptom would be ZERO cross-batch candidates with no error
        raise ValueError(
            "incremental_dup_pairs: archive band index was built under "
            f"banding scheme {stale[0] if stale else 'v1 (unversioned)'} "
            f"but this engine produces {_BAND_MARKER}; a stale index "
            "silently matches nothing — rebuild it with "
            "materialize_band_index"
        )
    eb = (
        archive_bands
        if archive_bands is not None
        else _band_table(existing, k, num_hashes, bands)
    )
    # the incoming band table feeds THREE subtrees (the cross join
    # plus both sides of the within self-join); unpinned it is
    # minhashed once per subtree.  Lazy checkpoint — same ownership
    # rationale as allc below — materializes it inside the consuming
    # job and reuses the blocks.
    ib = _band_table(incoming, k, num_hashes, bands).localCheckpoint(eager=False)
    cross = (
        eb.alias("e")
        .join(
            ib.alias("i"),
            (F.col("e.band") == F.col("i.band")) & (F.col("e.h") == F.col("i.h")),
        )
        .select(F.col("e.doc_id").alias("a"), F.col("i.doc_id").alias("b"))
        .distinct()
        .withColumn("origin", F.lit("cross"))
    )
    cands = [cross]
    if within_incoming:
        cands.append(
            _bucket_pairs(ib, ["band", "h"]).withColumn("origin", F.lit("within"))
        )
    allc = cands[0] if len(cands) == 1 else cands[0].unionByName(cands[1])
    # feeds the id prunes AND the verify joins.  Eager localCheckpoint,
    # NOT .cache(): this function runs per micro-batch in the ingest
    # loop, and a CacheManager entry would outlive the call and
    # accumulate in executor storage (nobody can unpersist a cache the
    # caller never sees).  Checkpoint blocks are owned by the RDD and
    # reclaimed by the ContextCleaner once the result DataFrame is
    # unreferenced.  Tradeoff: severed lineage is not recomputable
    # after executor loss — acceptable for a small per-batch candidate
    # table whose enclosing job simply reruns.
    allc = allc.localCheckpoint(eager=False)

    def _sh(side: DataFrame, ids: DataFrame) -> DataFrame:
        return side.join(ids.distinct(), "doc_id", "left_semi").select(
            F.col("doc_id"), shingles(F.col("text"), k).alias("sh")
        )

    sh_e = _sh(existing, allc.filter(F.col("origin") == "cross").select(F.col("a").alias("doc_id")))
    i_ids = allc.filter(F.col("origin") == "cross").select(F.col("b").alias("doc_id")).union(
        allc.filter(F.col("origin") == "within").select(F.col("a").alias("doc_id"))
    ).union(allc.filter(F.col("origin") == "within").select(F.col("b").alias("doc_id")))
    sh_i = _sh(incoming, i_ids)

    def _verify(c: DataFrame, sa: DataFrame, sb: DataFrame) -> DataFrame:
        return (
            c.join(sa.withColumnsRenamed({"doc_id": "a", "sh": "sh_a"}), "a")
            .join(sb.withColumnsRenamed({"doc_id": "b", "sh": "sh_b"}), "b")
            .select(
                "a", "b",
                F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
                "origin",
            )
            # double-eval tolerated on this LSH-pruned candidate set —
            # see minhash_dedup_pairs for the measured tradeoff
            .filter(F.col("jaccard") >= threshold)
        )

    out = _verify(allc.filter(F.col("origin") == "cross"), sh_e, sh_i)
    if within_incoming:
        out = out.unionByName(
            _verify(allc.filter(F.col("origin") == "within"), sh_i, sh_i)
        )
    return out


# ----------------------------------------------------------------------
# simhash
# ----------------------------------------------------------------------
def simhash(text: Column, bits: int = 64) -> Column:
    """Sign-of-weighted-sum simhash over token hashes, 64-bit.

    Pure array algebra: per bit, count tokens whose hash has the bit
    set minus those that don't; bit set iff the sum is positive."""
    toks = F.array_distinct(_tokens(text))
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    def bit_sum(i: int) -> Column:
        return F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )
    out = F.lit(0).cast("long")
    for i in range(bits):
        out = out + F.when(
            bit_sum(i) > 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
    return out


def simhash_signatures(
    docs: DataFrame, bits: int = 64, token_hash: str = "xxhash64"
) -> DataFrame:
    """Same signature as ``simhash`` but computed in ONE pass: each
    token hash expands to a ±1 bit-vector, a single fold sums the
    vectors, and the 64 sign tests read the materialized sum array —
    vs 64 separate folds over the token array (measured ~8×).

    ``token_hash='md5'`` uses the top 60 bits of md5 instead of
    xxhash64 — slower, but bit-identical in any engine with md5, so
    the whole signature is value-checkable against a SQL oracle
    (signature bits ≥ 60 are then always 0: a zero bit count never
    satisfies 2c > n).

    r13: the per-token bit vector is the raw bit ((h >> i) & 1), not
    a ±1 ``when`` branch — pure shift/and arithmetic with no
    conditional per (token × bit).  The ±1 sum s_i relates to the
    bit count c_i by s_i = 2·c_i − n (n = token count), so the sign
    test s_i > 0 becomes 2·c_i > n: identical signature bits, ~⅓
    less per-element work in the fold (measured on the sf0.1
    signature pass)."""
    from ..operators.textstats import _gram_hash

    toks = F.array_distinct(_tokens(F.col("text")))
    hashes = F.transform(toks, lambda t: _gram_hash(t, token_hash))
    # slot bits+1 counts tokens (constant 1 per token) so n rides the
    # same fold — a second size(toks) reference would re-tokenize the
    # document (higher-order-function bodies are outside codegen CSE)
    bitvecs = F.transform(
        hashes,
        lambda h: F.array(
            *[
                F.shiftright(h, i).bitwiseAND(F.lit(1)).cast("int")
                for i in range(bits)
            ],
            F.lit(1),
        ),
    )
    counts = F.aggregate(
        bitvecs,
        F.array_repeat(F.lit(0), bits + 1),
        lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b),
    )
    d = docs.select(F.col("doc_id"), counts.alias("__bc"))
    n = F.element_at(F.col("__bc"), bits + 1)
    out = None
    for i in range(bits):
        term = F.when(
            F.element_at(F.col("__bc"), i + 1) * 2 > n,
            F.shiftleft(F.lit(1).cast("long"), i),
        ).otherwise(F.lit(0).cast("long"))
        out = term if out is None else out + term
    return d.select("doc_id", out.alias("simhash"))


def hash64_near_pairs(
    sig: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "simhash",
    max_hamming: int = 3,
) -> DataFrame:
    """Banded hamming join over ANY 64-bit signature column: 4 ×
    16-bit chunks (pigeonhole: every hamming ≤ 3 pair shares at least
    one chunk → guaranteed recall), popcount-of-xor verify.  Shared
    by text simhash and perceptual image hashes.  Returns
    (a, b, hamming)."""
    # pin the narrow (id, hash64) projection: both sides of the band
    # self-join otherwise re-derive the signature input — for image
    # perceptual hashes that is a FULL pixel decode per side, for
    # text simhash a full re-tokenization; 16 bytes/row materialized
    base = sig.select(
        F.col(id_col).alias("doc_id"), F.col(hash_col).alias("simhash")
    ).localCheckpoint(eager=False)
    chunk = base.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * 16)
                        .bitwiseAND(F.lit(65535))
                        .alias("h"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bh"),
    ).select("doc_id", "simhash", F.col("bh.band").alias("band"), F.col("bh.h").alias("h"))
    l, r = chunk.alias("l"), chunk.alias("r")
    cands = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.h") == F.col("r.h"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("a"),
            F.col("r.doc_id").alias("b"),
            F.col("l.simhash").alias("sa"),
            F.col("r.simhash").alias("sb"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return cands.select("a", "b", ham.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def simhash_near_pairs(
    docs: DataFrame, max_hamming: int = 3, token_hash: str = "xxhash64"
) -> DataFrame:
    """Near-dup pairs by simhash banding (see
    :func:`hash64_near_pairs` for the band scheme and guarantee)."""
    return hash64_near_pairs(
        simhash_signatures(docs, token_hash=token_hash),
        max_hamming=max_hamming,
    )


# ----------------------------------------------------------------------
# n-gram Jaccard (direct, bucketed)
# ----------------------------------------------------------------------
def _ngram_pruned(
    docs: DataFrame, n: int = 3, max_bucket: int = 5000
) -> DataFrame:
    """The pruned (doc_id, lang, lbucket, grams) table feeding the
    n-gram Jaccard self-join — the cheap-bucket baseline for
    comparison with LSH.

    Buckets larger than ``max_bucket`` docs are dropped before the
    self-join (the same hot-key policy as winnow_overlap_pairs'
    ``max_postings``): a single (en, one-length-band) bucket at corpus
    scale would otherwise explode O(n²) inside one join key — AQE can
    split the *partition* but not the *algorithm*.  The cap bounds the
    per-key pair fan-out at max_bucket², making worst-case cost
    #buckets·max_bucket² instead of unbounded; documents in dropped
    buckets simply produce no pairs from this baseline (minhash-LSH is
    the recall path for dense regions).  The fixture's largest bucket
    is 451 docs at sf0.1, so the default cap never fires there and the
    DuckDB oracle is the plain uncapped join."""
    # grams are hashed to int64 up front: the pairwise array_intersect
    # then compares longs, not strings — ~5× cheaper per pair, and the
    # collision probability at 64 bits is negligible for a dedup score
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.length("text") - n, F.lit(0))),
            lambda i: F.xxhash64(F.col("text").substr(i + 1, F.lit(n))),
        )
    )
    d = docs.select(
        F.col("doc_id"),
        F.col("lang"),
        (F.floor(F.length("text") / 100)).alias("lbucket"),
        grams.alias("g"),
    )
    sizes = d.groupBy("lang", "lbucket").agg(F.count("*").alias("__n"))
    return d.join(
        sizes.filter(F.col("__n") <= max_bucket), ["lang", "lbucket"]
    ).drop("__n")


def _ngram_scored_pairs(
    docs: DataFrame, n: int = 3, max_bucket: int = 5000
) -> DataFrame:
    """Self-join of :func:`_ngram_pruned` scored by gram Jaccard.
    The pruned gram table is pinned: both sides of the self-join
    otherwise re-hash every document's grams (O(total text bytes)
    each) — the pin holds only the CAP-BOUNDED bucket survivors'
    (id, lang, lbucket, grams) rows; measured 19.6 → 13.6 s at
    sf0.1.  (The prune-before-join plan shape is asserted on
    :func:`_ngram_pruned`, upstream of this pin's lineage cut.)

    Per-pair work is ONE ``array_intersect``: the gram arrays are
    distinct, so |A∪B| = |A|+|B|−|A∩B| with the per-doc sizes
    precomputed in the pinned table — the ``array_union`` pass (the
    other half of each pair's array traffic) is gone.  The division
    itself happens in :func:`ngram_jaccard_pairs` AFTER the pair
    checkpoint, so the intersect is evaluated exactly once per pair
    (inlining the |A∩B| term twice into the jaccard expression
    re-evaluates it — conditional branches are excluded from
    codegen subexpression elimination).  Output: (a, b, __i, __s) =
    ids, |A∩B|, |A|+|B|."""
    d = (
        _ngram_pruned(docs, n, max_bucket)
        .withColumn("__gn", F.size("g"))
        .localCheckpoint(eager=False)
    )
    l, r = d.alias("l"), d.alias("r")
    pairs = l.join(
        r,
        (F.col("l.lang") == F.col("r.lang"))
        & (F.col("l.lbucket") == F.col("r.lbucket"))
        & (F.col("l.doc_id") < F.col("r.doc_id")),
    )
    return pairs.select(
        F.col("l.doc_id").alias("a"),
        F.col("r.doc_id").alias("b"),
        F.size(F.array_intersect(F.col("l.g"), F.col("r.g"))).alias("__i"),
        (F.col("l.__gn") + F.col("r.__gn")).alias("__s"),
    )


def ngram_jaccard_pairs(
    docs: DataFrame, n: int = 3, threshold: float = 0.5, max_bucket: int = 5000
) -> DataFrame:
    """Pairs with character-n-gram Jaccard ≥ ``threshold`` — see
    :func:`_ngram_scored_pairs` for the bucketing/cap plan."""
    # the lazy local checkpoint materializes only the tiny
    # (a, b, |A∩B|, |A|+|B|) rows (32 bytes each — the gram arrays
    # are gone) and BOTH the jaccard projection and the threshold
    # filter then read those materialized ints: the set comparison
    # runs exactly once per pair.  (Pre-r13 shape: jaccard computed
    # before the checkpoint with intersect+union — the union pass
    # was pure overhead given distinct arrays, and without the
    # checkpoint the pushed-back filter predicate re-evaluated the
    # whole comparison in Filter AND Project, measured 2.4× — 68 s
    # vs 29 s at sf0.1.)  |A∪B| = __s − __i ≥ 1 whenever __s > 0
    # (arrays are distinct), and __s = 0 ⟺ both arrays empty — the
    # same guard the old when(union > 0) expressed.
    scored = _ngram_scored_pairs(docs, n, max_bucket)
    jac = F.when(
        F.col("__s") > 0, F.col("__i") / (F.col("__s") - F.col("__i"))
    ).otherwise(0.0)
    return (
        scored.localCheckpoint(eager=False)
        .select("a", "b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ----------------------------------------------------------------------
# embedding cosine near-dup
# ----------------------------------------------------------------------
def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def embedding_dup_pairs(
    embs: DataFrame,
    threshold: float = 0.95,
    blocks: int = 8,
    method: str = "lsh",
    bands: int = 16,
    band_bits: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Near-identical embedding pairs (cosine ≥ ``threshold``).

    Default ``method='lsh'`` is the 100 TB path — candidate-generate
    then verify, the same prune-then-verify shape as minhash:

    1. each vector gets ``bands`` independent random-hyperplane
       signatures of ``band_bits`` sign bits — one Arrow-vectorized
       GEMM per batch at the scan;
    2. vectors sharing any band bucket become candidate pairs — the
       self-join shuffles **ids + band buckets only**, never the
       vectors;
    3. candidates fetch their two vectors by id and an exact JVM-side
       cosine keeps pairs ≥ threshold.

    Detection probability for cos=t is 1-(1-p^band_bits)^bands with
    p = 1-acos(t)/π: ~0.96 at exactly t=0.95 with the 16×16 default,
    →1 as cos→1 (0.99997 at 0.99); exact clones (identical sign
    patterns) are always found.  Random-pair collision rate is
    bands·2^-band_bits ≈ 2.4e-4, so candidates ≈ 2.4e-4·n²/2 instead
    of all-pairs n²; raise ``band_bits`` as n grows to keep buckets
    bounded (AQE skew-join splits stragglers).

    ``method='exact'`` is the all-pairs **blocked GEMM** baseline:
    vectors are hashed into ``blocks`` blocks, every block *pair*
    cogroups into one Arrow batch computing a normalized numpy matmul
    — one fused BLAS op per batch (~40× a per-row array fold), with
    ``blocks`` ≈ √(cluster cores) bounding per-task memory.  O(n²)
    dot products with ``blocks``-fold replication: correct, but only
    for corpora small enough to afford exactness."""
    if method == "lsh":
        return _embedding_dup_pairs_lsh(embs, threshold, bands, band_bits, seed)
    if method != "exact":
        raise ValueError(f"unknown method {method!r} (use 'lsh' or 'exact')")
    import pandas as pd

    spark = embs.sparkSession
    e = embs.select(
        F.col("vec_id"), F.col("embedding").alias("v"), (F.col("vec_id") % blocks).alias("blk")
    )
    bids = spark.range(blocks).select(F.col("id").cast("long").alias("bi"))
    bpairs = (
        bids.crossJoin(bids.select(F.col("bi").alias("bj")))
        .filter(F.col("bi") <= F.col("bj"))
    )
    le, re_, p1, p2 = e.alias("le"), e.alias("re"), bpairs.alias("p1"), bpairs.alias("p2")
    left = le.join(p1, F.col("le.blk") == F.col("p1.bi")).select(
        F.col("p1.bi").alias("bi"), F.col("p1.bj").alias("bj"),
        F.col("le.vec_id").alias("vec_id"), F.col("le.v").alias("v"),
    )
    right = re_.join(p2, F.col("re.blk") == F.col("p2.bj")).select(
        F.col("p2.bi").alias("bi"), F.col("p2.bj").alias("bj"),
        F.col("re.vec_id").alias("vec_id"), F.col("re.v").alias("v"),
    )

    def gemm(key, l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        empty = pd.DataFrame({"a": [], "b": [], "cos": []})
        if l.empty or r.empty:
            return empty
        bi, bj = key
        A = np.vstack(l["v"].to_numpy()).astype("float64")
        B = np.vstack(r["v"].to_numpy()).astype("float64")
        ids_a = l["vec_id"].to_numpy()
        ids_b = r["vec_id"].to_numpy()
        A /= np.maximum(np.linalg.norm(A, axis=1, keepdims=True), 1e-12)
        B /= np.maximum(np.linalg.norm(B, axis=1, keepdims=True), 1e-12)
        S = A @ B.T
        ia, ib = np.where(S >= threshold)
        if bi == bj:
            keep = ids_a[ia] < ids_b[ib]
        else:  # distinct blocks: each unordered pair appears once
            keep = ids_a[ia] != ids_b[ib]
        ia, ib = ia[keep], ib[keep]
        a = np.minimum(ids_a[ia], ids_b[ib])
        b = np.maximum(ids_a[ia], ids_b[ib])
        return pd.DataFrame({"a": a, "b": b, "cos": np.round(S[ia, ib], 6)})

    return (
        left.groupby("bi", "bj")
        .cogroup(right.groupby("bi", "bj"))
        .applyInPandas(gemm, "a long, b long, cos double")
    )


def _embedding_dup_pairs_lsh(
    embs: DataFrame, threshold: float, bands: int, band_bits: int, seed: int
) -> DataFrame:
    """Banded hyperplane-LSH candidates + exact cosine verify (the
    scale path of :func:`embedding_dup_pairs`).

    Signatures are one Arrow-vectorized GEMM per batch — (batch×dim)
    @ (dim×bands·band_bits) then sign-bit packing — NOT per-plane
    Catalyst folds: ``bands·band_bits`` literal-array dot expressions
    blow the codegen budget and fall back to interpreted eval
    (measured 17.8 s vs 0.3 s for 2 k×64 vectors).  This is the
    textbook vectorized-UDF case: built-ins can't express a 256-way
    matrix product efficiently."""
    from pyspark.sql import types as T

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def band_buckets(vecs: pd.Series) -> pd.Series:
        import numpy as np

        if vecs.empty:
            return pd.Series([], dtype=object)
        M = np.vstack(vecs.to_numpy()).astype("float64")  # (n, dim)
        rng = np.random.RandomState(seed)  # deterministic per call
        planes = rng.standard_normal((M.shape[1], bands * band_bits))
        bits = (M @ planes) > 0
        weights = 1 << np.arange(band_bits, dtype=np.int64)
        bkts = (bits.reshape(len(M), bands, band_bits) * weights).sum(axis=2)
        return pd.Series(list(bkts.astype("int64")))

    keyed = embs.select(
        F.col("vec_id"), F.posexplode(band_buckets(F.col("embedding"))).alias("band", "bkt")
    )
    x, y = keyed.alias("x"), keyed.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bkt") == F.col("y.bkt"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(F.col("x.vec_id").alias("a"), F.col("y.vec_id").alias("b"))
        .distinct()
    )
    ea = embs.select(F.col("vec_id").alias("a"), F.col("embedding").alias("__va"))
    eb = embs.select(F.col("vec_id").alias("b"), F.col("embedding").alias("__vb"))
    return (
        cand.join(ea, "a")
        .join(eb, "b")
        .withColumn("__cos", cosine(F.col("__va"), F.col("__vb")))
        .filter(F.col("__cos") >= threshold)
        .select("a", "b", F.round(F.col("__cos"), 6).alias("cos"))
    )


# ----------------------------------------------------------------------
# near-dup clustering (connected components over the pair graph)
# ----------------------------------------------------------------------
def semantic_dup_pairs(
    embs: DataFrame,
    threshold: float = 0.95,
    num_cells: int = 8,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cells_from=None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas '23): cluster the
    embedding space coarsely, then emit within-cluster pairs whose
    exact cosine ≥ ``threshold``.  Complements ``embedding_dup_pairs``
    (hyperplane LSH): clustering gives *recall-by-construction inside
    a cell* and a tunable compute knob (cell count), LSH gives
    probabilistic recall across the whole space.

    Plan: one narrow argmax-over-centroids projection (codegen, no
    shuffle), then ONE shuffle keyed on ``cell`` for the within-cell
    self-join; only (id, vec, cell) flows through it.  Scale recipe
    (the published one): choose num_cells ∝ corpus_size /
    target_cell_size so per-cell pair work stays bounded — at 100 TB
    that means trained k-means centroids via ``cells_from`` (pass
    :func:`htsql_spark.operators.similarity.kmeans` output) rather
    than the seeded random cells, which exist to keep the operator
    deterministic and oracle-checkable without an iterative fit.
    Cross-cell near-dups at the cell boundary are the documented
    recall gap of the method itself (mitigated by larger threshold
    margins or multi-assignment, not implemented here).
    """
    from .similarity import _centroids, _nearest_centroid

    if cells_from is None and num_cells < 1:
        raise ValueError(f"semantic_dup_pairs: num_cells must be >= 1, got {num_cells}")
    cents = cells_from if cells_from is not None else _centroids(64, num_cells, seed)
    cells = embs.select(id_col, vec_col).withColumn(
        "cell", _nearest_centroid(F.col(vec_col), cents)
    )

    # within-cell pairs via ONE dense float64 GEMM per cell (Arrow
    # batch → numpy @ — the same kernel SemDeDup runs per cluster on
    # GPU).  An expression-level self-join computes the 64-dim cosine
    # per candidate pair in interpreted lambdas — measured 24 s vs
    # sub-second for the GEMM on the sf0.1 fixture.  Per-task memory
    # is |cell| × dim + |cell|² scores: exactly the quantity the
    # num_cells ∝ corpus/target_cell_size recipe bounds.
    def _cell_pairs(key, pdf):
        import numpy as np
        import pandas as pd

        V = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        norms = np.linalg.norm(V, axis=1)
        norms[norms == 0] = 1.0
        S = (V / norms[:, None]) @ (V / norms[:, None]).T
        ids = pdf[id_col].to_numpy()
        iu = np.triu_indices(len(ids), k=1)
        keep = S[iu] >= threshold
        ii, jj = iu[0][keep], iu[1][keep]
        return pd.DataFrame(
            {
                "a": np.minimum(ids[ii], ids[jj]),
                "b": np.maximum(ids[ii], ids[jj]),
                "cell": np.full(len(ii), key[0], dtype=np.int32),
                "cos": np.round(S[iu][keep], 6),
            }
        )

    return cells.groupBy("cell").applyInPandas(
        _cell_pairs, "a long, b long, cell int, cos double"
    )


def _cc_large_star(E: DataFrame) -> DataFrame:
    """One large-star round of the alternating-star connected
    components: (v, m) for every neighbor v > u, where
    m = min(Γ(u) ∪ u).  Output is deduped and always directed
    large→small (v > u ≥ m), which is exactly the small star's
    required orientation.

    Shape (round 14): the symmetrized edge table is repartitioned
    ONCE on the grouping node id; the min-aggregation, the rewiring
    join and the output dedup all reuse that exchange
    (HashPartitioning(u) satisfies ClusteredDistribution for any key
    set containing u).  NOTE the measured caveat: Catalyst pushes the
    ``v > u`` filter below the repartition on the probe branch, so
    the two sym exchanges are not canonically equal and AQE does NOT
    reuse them (plans/r14/cc_round_after*.txt); per-round
    localCheckpoint pins of sym and/or the large-star output were
    measured SLOWER at bench scale (the materialization barrier costs
    more than the duplicated cheap subtree), so the duplication is
    deliberately left — the measured win is the elided re-direction/
    dedup work plus the sever change in :func:`dedup_clusters`."""
    sym = E.union(
        E.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).repartition("u")
    m = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select("u", F.least("u", "mv").alias("m"))
    )
    return (
        sym.filter(F.col("v") > F.col("u"))
        .join(m, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .repartition("u")
        .dropDuplicates(["u", "v"])
    )


def _cc_small_star(E: DataFrame) -> DataFrame:
    """One small-star round: (v, m) for each small neighbor v plus
    (u, m), where m = min of u's small neighborhood.  Input must be
    directed large→small and deduped — :func:`_cc_large_star`'s
    output contract (u = a former neighbor v' > u' ≥ m' = v, so the
    r13 greatest/least re-direction is a no-op and is elided).  The
    input arrives partitioned on u from the large star, so the
    min-aggregation and the rewiring join replan no new exchange;
    only the final distinct (keyed on both columns) shuffles."""
    m = (
        E.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select("u", F.least("u", "mv").alias("m"))
    )
    return (
        E.join(m, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(m.select("u", F.col("m").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def dedup_clusters(
    pairs: DataFrame,
    left: str = "a",
    right: str = "b",
    max_iters: int = 50,
    node_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    scratch_dir: str | None = None,
) -> DataFrame:
    """Connected components over a near-dup pair graph: every node that
    appears in ``pairs`` gets ``cluster_col`` = the smallest node id
    reachable from it (the canonical survivor of its dup cluster).

    Algorithm: alternating large-star / small-star edge rewriting
    (Kiveris et al., *Connected Components in MapReduce and Beyond*,
    SoCC'14). Large-star rewires every neighbor larger than a node to
    that node's neighborhood minimum; small-star rewires the smaller
    neighbors. Each operation is one aggregation + one join keyed on
    node id, the edge set only shrinks or stays, and the alternation
    provably converges in O(log² n) rounds — in practice <15 — to a
    set of stars whose centers are the component minima. Simpler
    min-label propagation was measured O(diameter) on chains with
    randomly arranged ids, and naive star contraction O(n) on
    monotonically arranged chains; the alternation kills both
    pathologies.

    Scale posture: no driver-side graph state (the driver sees one
    row-count per round); shuffles are keyed on node ids over a
    monotonically shrinking edge set; skewed star centers are regular
    groupBy keys handled by AQE. Iteration state is severed per round
    with a lazy ``localCheckpoint`` (MEMORY_AND_DISK — spills, never
    OOMs; the same per-iteration discipline as ``analytics.pagerank``
    and the k-means loop), materialized by the convergence count so a
    steady-state round is ONE job. NOT ``checkpoint()``: Spark 4
    preserves the origin logical plan for stats/constraint rewriting
    (``LogicalRDD.rewriteStatsAndConstraints``), and a self-referential
    iteration doubles that retained chain every round — planning cost
    grows exponentially until the driver OOMs in
    ``SizeInBytesOnlyStatsPlanVisitor`` (measured). ``localCheckpoint``
    severs the lineage without retaining the origin plan.

    ``scratch_dir``: pass a (DFS) path to sever each round through a
    parquet round-trip instead (alternating scratch paths) — the
    durable choice for very long cluster jobs where re-running the
    whole iteration on an executor loss is worse than paying a
    write+read of the O(|E|) edge table per round (localCheckpoint
    blocks are not fault-tolerant: losing one fails the job).
    """
    spark = pairs.sparkSession

    if scratch_dir is None:

        def _sever(df: DataFrame, rnd: int) -> DataFrame:
            return df.localCheckpoint(eager=False)

    else:

        def _sever(df: DataFrame, rnd: int) -> DataFrame:
            path = f"{scratch_dir}/edges{rnd % 2}"
            df.write.mode("overwrite").parquet(path)
            return spark.read.parquet(path)

    # Star rounds (round 14): fused large→small orientation — the
    # large star's output is deduped and directed large→small by
    # construction, so the small star elides the r13 greatest/least
    # re-direction, and the large star's explicit repartition("u")
    # lets its output dedup replan no extra exchange (guide §2.4; see
    # _cc_large_star's docstring for the measured caveat on exchange
    # reuse). Measured with the localCheckpoint sever: lang_cluster
    # 13.4->9.5 s, op_dedup_clusters 9.1->6.2 s at sf0.1.
    # The stars live at module level (_cc_large_star/_cc_small_star)
    # so the plan-shape test and plans/r14 dump exercise the LIVE
    # per-round code, which the terminal query plan hides behind the
    # sever.

    E = _sever(
        pairs.select(
            F.col(left).cast("long").alias("u"), F.col(right).cast("long").alias("v")
        ).filter(
            F.col("u").isNotNull() & F.col("v").isNotNull() & (F.col("u") != F.col("v"))
        ),
        0,
    )

    # Convergence check (r13): the per-round probe is a metadata-speed
    # count of the just-severed parquet; only when two consecutive
    # rounds have EQUAL counts is set equality confirmed with one
    # left-anti probe.  Exact, like the old two-exceptAll check (each
    # round's output is .distinct()ed, so ``new`` is a set: |new|=|E|
    # ∧ new∖E=∅ ⟹ new=E even against a round-0 multiset, since a
    # duplicate in E would force |set(E)| < |new| while new ⊆ set(E))
    # — but the steady-state rounds pay one count job instead of two
    # full-shuffle exceptAll passes over the edge set (guide §2.4),
    # and the anti-join runs at most on count-plateau rounds.
    n_prev = E.count()
    for rnd in range(1, max_iters + 1):
        new = _sever(_cc_small_star(_cc_large_star(E)), rnd)
        n_new = new.count()
        converged = n_new == n_prev and (
            new.join(E, ["u", "v"], "left_anti").limit(1).count() == 0
        )
        E = new
        n_prev = n_new
        if converged:
            break

    # terminal state: stars (leaf → root); roots label themselves.
    # No distinct on the self-label branch: the terminal groupBy-min
    # is duplicate-insensitive, so the extra pre-union exchange the
    # distinct cost bought nothing (guide §2.4).
    labels = E.select("u", F.col("v").alias("lbl")).union(
        E.select(F.col("v").alias("u"), F.col("v").alias("lbl"))
    )
    return (
        labels.groupBy("u")
        .agg(F.min("lbl").alias("lbl"))
        .select(F.col("u").alias(node_col), F.col("lbl").alias(cluster_col))
    )


def exact_dup_pairs(docs: DataFrame) -> DataFrame:
    """(a, b) candidate pairs from exact-fingerprint groups: each
    duplicate links to its group minimum (a star per group — one
    shuffle on the fingerprint, pair count = dups, never quadratic).

    The group minimum comes from a window over the fingerprint
    partitioning rather than a groupBy + self-join back: the join
    shape evaluated the md5 fingerprint projection once per join
    input (no CSE across join inputs) and shuffled it twice; the
    window reads one shuffled pass."""
    from pyspark.sql import Window

    fp = docs.select(F.col("doc_id"), fingerprint(F.col("text")).alias("fp"))
    a = F.min("doc_id").over(Window.partitionBy("fp"))
    return (
        fp.withColumn("a", a)
        .filter(F.col("doc_id") != F.col("a"))
        .select("a", F.col("doc_id").alias("b"))
    )


def dedup_pipeline(
    docs: DataFrame,
    strategy: str = "minhash",
    threshold: float = 0.8,
    scratch_dir: str | None = None,
    survivor: str = "min_id",
) -> DataFrame:
    """End-to-end dedup: candidate pairs (chosen strategy) → connected
    components (``dedup_clusters``) → keep one document per cluster.
    Returns the surviving documents with their original schema.

    ``survivor`` picks which cluster member lives: ``'min_id'`` (the
    deterministic default — the cluster representative itself) or
    ``'quality'`` (keep the member with the highest
    :func:`~htsql_spark.operators.textstats.quality_score`, ties
    broken by min id — the policy real curation wants, since fuzzy
    duplicates differ and the best copy should survive).  The quality
    rank runs only over clustered docs (duplicate members), not the
    corpus: one row_number window partitioned by cluster_id.

    Every strategy flows through the same clustering + survivor
    selection path, so the oracle-checkable ``exact`` strategy verifies
    the exact plumbing the fuzzy (hash-based) strategies use at scale.
    The anti-join keeps the full document payload out of the pair/
    cluster shuffles — only ids and signatures move until the final
    join."""
    if strategy == "exact":
        pairs = exact_dup_pairs(docs)
    elif strategy == "minhash":
        pairs = minhash_dedup_pairs(docs, threshold=threshold).select("a", "b")
    elif strategy == "simhash":
        pairs = simhash_near_pairs(docs).select("a", "b")
    elif strategy == "ngram":
        pairs = ngram_jaccard_pairs(docs, threshold=threshold).select("a", "b")
    else:
        raise ValueError(f"unknown dedup strategy: {strategy!r}")
    clusters = dedup_clusters(pairs, scratch_dir=scratch_dir)
    if survivor == "min_id":
        drop = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    elif survivor == "quality":
        from pyspark.sql import Window

        from .textstats import quality_score

        scored = docs.join(clusters, "doc_id").select(
            "doc_id", "cluster_id", quality_score(F.col("text")).alias("__q")
        )
        w = Window.partitionBy("cluster_id").orderBy(
            F.col("__q").desc(), F.col("doc_id")
        )
        drop = (
            scored.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") > 1)
            .select("doc_id")
        )
    else:
        raise ValueError(f"unknown survivor policy: {survivor!r}")
    return docs.join(drop, "doc_id", "left_anti")


def edit_dup_pairs(
    docs: DataFrame,
    max_edits: int = 5,
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fuzzy-match dedup tier: document pairs within ``max_edits``
    Levenshtein edits of each other — the verification semantics real
    pipelines use for short near-identical records (titles, URLs,
    product names) where token-set Jaccard is too coarse to rank
    single-character variants.

    Plan: candidate pairs come from the SAME minhash banding as the
    jaccard tier (``minhash_candidates`` — small edits perturb at
    most ``edits × k`` shingles, so near-identical docs keep
    near-identical shingle sets and land in shared bands); the
    Levenshtein verify — O(len²) per pair — runs ONLY on candidates,
    JVM-side (``F.levenshtein`` with the built-in early-exit
    threshold form).  Text travels once per candidate side via a
    semi-join-pruned id→text lookup, never through the banding
    shuffle.  Returns (a, b, edits) with a < b.

    The band table is pinned (eager localCheckpoint) because the
    candidate table feeds three consumers (two id-prune sides and
    the verify join) and each re-derives the pair generation from
    the pinned blocks instead of re-running the minhash signature —
    the dominant CPU cost.  Round 13: the bucket self-join became
    grouped posting-list pair generation (:func:`_bucket_pairs`),
    dropping the second band-table shuffle and the per-join-side
    signature evaluation.
    """
    # _band_table reads the fixed (doc_id, text) shape — normalize the
    # caller's column names first so non-default id_col/text_col band
    # on the right columns instead of failing (or silently banding on
    # an unrelated doc_id/text column that happens to exist)
    normed = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    band = _band_table(normed, k, num_hashes, bands).localCheckpoint(eager=True)
    cands = _bucket_pairs(band, ["band", "h"])
    ids = (
        cands.select(F.col("a").alias(id_col))
        .union(cands.select("b"))
        .distinct()
    )
    texts = docs.join(ids, id_col, "left_semi").select(
        F.col(id_col), F.col(text_col).alias("__t")
    )
    ta = texts.select(F.col(id_col).alias("a"), F.col("__t").alias("__ta"))
    tb = texts.select(F.col(id_col).alias("b"), F.col("__t").alias("__tb"))
    return (
        cands.join(ta, "a")
        .join(tb, "b")
        # threshold form: stops the DP early once distance > max_edits
        .withColumn("edits", F.levenshtein("__ta", "__tb", max_edits))
        .filter((F.col("edits") >= 0) & (F.col("edits") <= max_edits))
        .select("a", "b", F.col("edits").cast("int").alias("edits"))
    )
