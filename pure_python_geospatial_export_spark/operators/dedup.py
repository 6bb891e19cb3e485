"""Deduplication operators for web-scale corpus curation.

All candidate generation is JVM-side column math (xxhash64, array ops) —
the classic LSH trick of turning O(n^2) similarity into equi-joins that
shuffle on band keys. Only SimHash uses an Arrow kernel (numpy bit
packing). Design notes per operator:

* exact:   md5(text) groupBy — one shuffle, map-side partial agg.
* MinHash: k universal hashes ((a*h+b) mod P) over 3-token shingles,
  banded; candidate pairs come from a self-equi-join on (band, band_hash)
  so only colliding docs ever meet; verify = exact shingle Jaccard via
  array_intersect/array_union.
* SimHash: 64-bit sign-aggregated token hashes; near-dup candidates share
  one of four 16-bit chunks (guarantees recall for Hamming distance <= 3).
* At 10^12 docs the band join is the shuffle to watch: band keys are
  uniformly distributed by construction (hash outputs), so no salting is
  needed; AQE handles stragglers from pathological near-dup clusters.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ..functions.text import tokens_col
from .fixpoint import checkpoint, fixpoint, unchanged

#: Mersenne prime 2^31-1: (a*h'+b) stays within int64 under ANSI mode
MINHASH_P = 2_147_483_647

_rng = random.Random(42)
MINHASH_A = [_rng.randrange(1, MINHASH_P) for _ in range(64)]
MINHASH_B = [_rng.randrange(0, MINHASH_P) for _ in range(64)]


def shingles_col(text, size: int = 3):
    """Distinct ``size``-token shingles; whole text when too short."""
    toks = tokens_col(text)
    n = F.size(toks)
    sh = F.transform(
        F.sequence(F.lit(1), F.greatest(n - F.lit(size - 1), F.lit(1))),
        lambda i: F.concat_ws(
            " ",
            *[F.try_element_at(toks, i + F.lit(j)) for j in range(size)],
        ),
    )
    return F.array_distinct(
        F.when(n >= size, sh).otherwise(F.array(text))
    )


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup: (text_hash, rep_id, n_dups) per duplicated content."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("rep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def minhash_signature(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    shingle_size: int = 3,
    keep_cols: tuple = (),
) -> DataFrame:
    """(id, shingle_hashes: array<long>, sig: array<long>[num_hashes])
    via one Arrow kernel.

    Spark's higher-order array functions (sequence/transform/element_at)
    execute INTERPRETED, not codegen'd — building shingles as column
    expressions measured ~18us per shingle. One mapInArrow pass doing
    tokenize -> shingle -> blake2b base hash -> vectorized (shingles x k)
    permutation-min in numpy is ~10x faster and keeps batches streaming.

    Shingles are carried as their raw 8-byte blake2b int64 values, NOT
    strings: the downstream Jaccard verify join ships both sides' full
    shingle sets, and int64 arrays shuffle several-fold fewer bytes than
    the text shingles at corpus scale. Jaccard over the hashed sets
    equals Jaccard over the string sets (distinct strings -> distinct
    64-bit hashes up to a ~2^-64 collision).

    ``keep_cols`` are carried through the kernel unchanged (e.g. the
    event-time column for the streaming near-dup operator).
    """
    if num_hashes > len(MINHASH_A):
        raise ValueError("at most %d hashes" % len(MINHASH_A))
    a = np.asarray(MINHASH_A[:num_hashes], dtype=np.int64)
    b = np.asarray(MINHASH_B[:num_hashes], dtype=np.int64)
    import hashlib

    def kernel(batches):
        # Arrow, not pandas: the id and keep_cols pass through exact
        for batch in batches:
            raws, sigs = [], []
            for text in batch.column(text_col).to_pylist():
                toks = text.strip().split() if text else []
                if len(toks) >= shingle_size:
                    sh = list({
                        " ".join(toks[i:i + shingle_size])
                        for i in range(len(toks) - shingle_size + 1)
                    })
                else:
                    sh = [text or ""]
                raw = np.frombuffer(
                    b"".join(
                        hashlib.blake2b(s.encode("utf-8"),
                                        digest_size=8).digest()
                        for s in sh
                    ),
                    dtype="<i8",
                )
                raws.append(raw)
                h = raw % MINHASH_P
                # (n_shingles, k): values < P^2 + P < 2^63, no overflow
                perm = (h[:, None] * a[None, :] + b[None, :]) % MINHASH_P
                sigs.append(perm.min(axis=0))
            none = np.empty(0, dtype=np.int64)
            sizes = np.fromiter(map(len, raws), dtype=np.int32)
            yield pa.RecordBatch.from_arrays([
                batch.column(id_col).cast(pa.int64()),
                pa.ListArray.from_arrays(
                    np.r_[0, np.cumsum(sizes, dtype=np.int32)],
                    np.concatenate([none, *raws])),
                pa.ListArray.from_arrays(
                    np.arange(len(sigs) + 1, dtype=np.int32) * num_hashes,
                    np.concatenate([none, *sigs])),
            ] + [batch.column(kc) for kc in keep_cols],
                names=[id_col, "shingle_hashes", "sig", *keep_cols])

    out_schema = (
        "%s long, shingle_hashes array<long>, sig array<long>" % id_col
    )
    if keep_cols:
        kept = df.select(*keep_cols).schema
        out_schema += ", " + ", ".join(
            "%s %s" % (f.name, f.dataType.simpleString()) for f in kept
        )
    return df.select(id_col, text_col, *keep_cols).mapInArrow(
        kernel, out_schema
    )


def banded_signatures(
    sig_df: DataFrame, id_col: str, bands: int = 16,
    num_hashes: int = 64, extra_cols: tuple = (),
) -> DataFrame:
    """Explode (id, sig) to (id, band, band_hash, *extra_cols): one row
    per band, ``band_hash`` an xxhash64 of that band's signature slice.
    Shared by the batch LSH self-join and the streaming near-dup
    operator so band keys are identical across both."""
    rows = num_hashes // bands
    return sig_df.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            *[
                                F.element_at("sig", b * rows + j + 1)
                                .cast("string")
                                for j in range(rows)
                            ],
                        )
                    ).alias("band_hash"),
                )
                for b in range(bands)
            ])
        ).alias("bh"),
    ).select(id_col, *extra_cols, "bh.band", "bh.band_hash")


def lsh_candidate_pairs(
    sig_df: DataFrame, id_col: str, bands: int = 16,
    num_hashes: int = 64,
    max_bucket: int | None = None,
    size_threshold: float | None = None,
) -> DataFrame:
    """Self-join on (band_idx, band_hash) -> distinct (id_a, id_b), a<b.

    ``max_bucket`` drops band buckets with more members than the cap
    BEFORE the self-join. A band bucket of size m contributes m^2/2
    candidate pairs, so one boilerplate shingle family shared by 10^6
    docs floods the join with 10^12 candidates; real near-dup FAMILIES
    still collide in their other, discriminative bands, so a cap well
    above the expected family size costs recall only for families
    larger than the cap (which exact dedup or a dedicated boilerplate
    pass should handle anyway). Measured here: an adversarial corpus
    with shared filler shingles ran SLOWER than a corpus with 25x more
    true pairs purely from junk-bucket candidates. Default off — the
    driver-gate fixtures need exact candidate generation.

    ``size_threshold`` applies the EXACT Jaccard size bound
    J <= min(|A|,|B|)/max(|A|,|B|) inside the band join itself:
    shingle-set sizes ride the banded relation (one long per band
    row), so subset-shaped candidates — a truncation or excerpt of a
    longer page, common on the web — are pruned for free before the
    pair ``distinct`` and before any shingle array ships in the
    verify join. Zero recall change at the given verify threshold (a
    1e-12 slack absorbs float rounding; ``sig_df`` must carry
    ``shingle_hashes``)."""
    extra = ("_nsh",) if size_threshold is not None else ()
    if size_threshold is not None:
        sig_df = sig_df.withColumn(
            "_nsh", F.size("shingle_hashes").cast("long")
        )
    banded = banded_signatures(sig_df, id_col, bands, num_hashes,
                               extra_cols=extra)
    if max_bucket is not None:
        # one aggregation pass sizes the buckets; the anti filter is an
        # equi join on the (tiny) oversized-bucket list
        big = (
            banded.groupBy("band", "band_hash")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") > max_bucket)
            .select("band", "band_hash")
        )
        # no broadcast hint: the oversized list is usually tiny (AQE
        # will broadcast it), but with an aggressive cap it can be
        # n/cap-sized and must be allowed to shuffle
        banded = banded.join(big, ["band", "band_hash"], "left_anti")
    left = banded.select(
        F.col(id_col).alias("id_a"), "band", "band_hash",
        *[F.col(c).alias(c + "_a") for c in extra],
    )
    right = banded.select(
        F.col(id_col).alias("id_b"), "band", "band_hash",
        *[F.col(c).alias(c + "_b") for c in extra],
    )
    cond = F.col("id_a") < F.col("id_b")
    if size_threshold is not None:
        cond = cond & (
            F.least("_nsh_a", "_nsh_b").cast("double")
            >= F.greatest("_nsh_a", "_nsh_b").cast("double")
            * F.lit(size_threshold - 1e-12)
        )
    return (
        left.join(right, ["band", "band_hash"])
        .where(cond)
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame,
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    shingle_size: int = 3,
    shingles_df: DataFrame | None = None,
    size_prefilter: bool = True,
    sig_df: DataFrame | None = None,
    sig_margin: float | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs -> pairs >= threshold.

    Pass ``shingles_df`` (id, sh) to reuse an already-materialized
    shingle relation instead of re-deriving it from text.

    ``size_prefilter`` (default on) prunes pairs on the EXACT size
    bound J(A,B) <= min(|A|,|B|)/max(|A|,|B|) before any shingle array
    ships: candidates whose set sizes alone rule out the threshold are
    dropped by two joins against a skinny (id, n) relation. This cuts
    the verify stage's dominant shuffle — the second array join
    re-shuffles (pair, sh_a) rows, so every pruned pair saves a full
    shingle-array transfer — with ZERO recall change (the bound is a
    theorem, not an estimate; a 1e-12 threshold slack absorbs float
    rounding so borderline pairs are never dropped, merely re-verified
    exactly).

    ``sig_df`` + ``sig_margin`` enable the SKETCH-FIRST prefilter: the
    already-computed minhash signatures (``n`` longs per doc —
    typically 10-100x smaller than a shingle array) join the
    candidate pairs first, and a pair whose signature-agreement
    fraction falls below ``threshold - sig_margin`` never ships its
    shingle arrays. Agreement is an unbiased estimate of J, so unlike
    the size bound this is APPROXIMATE: a true pair with J >= t is
    dropped with probability <= exp(-2*n*sig_margin^2) (Hoeffding,
    n = the signature length, read from the array itself so a
    mis-stated length can't skew the fraction) — ~3e-4 at n=64,
    margin=0.25; ~1e-7 at margin=0.35.
    Exactness-gated callers (the driver oracle) leave it
    off; corpus-scale jobs where the candidate pool is dominated by
    far-below-threshold junk get the dominant shuffle cut for a
    bounded, quantified recall trade (the verify-shuffle A/B is in
    BENCH/BASELINE.md, "MinHash verify-shuffle size bound")."""
    if sig_margin is not None and sig_df is None:
        raise ValueError("sig_margin requires sig_df (id, sig)")
    if shingles_df is None:
        shingles_df = df.select(
            F.col(id_col),
            shingles_col(F.col(text_col), shingle_size).alias("sh"),
        )
    sh = shingles_df
    if size_prefilter:
        sizes = sh.select(
            F.col(id_col), F.size("sh").cast("long").alias("_n")
        )
        na = sizes.select(F.col(id_col).alias("id_a"),
                          F.col("_n").alias("_na"))
        nb = sizes.select(F.col(id_col).alias("id_b"),
                          F.col("_n").alias("_nb"))
        pairs = (
            pairs.join(na, "id_a")
            .join(nb, "id_b")
            .where(
                F.least("_na", "_nb").cast("double")
                >= F.greatest("_na", "_nb").cast("double")
                * F.lit(threshold - 1e-12)
            )
            .select("id_a", "id_b")
        )
    if sig_margin is not None:
        sa = sig_df.select(F.col(id_col).alias("id_a"),
                           F.col("sig").alias("_sig_a"))
        sb = sig_df.select(F.col(id_col).alias("id_b"),
                           F.col("sig").alias("_sig_b"))
        agree = F.aggregate(
            F.zip_with(
                "_sig_a", "_sig_b",
                lambda x, y: F.when(x == y, F.lit(1)).otherwise(
                    F.lit(0)
                ),
            ),
            F.lit(0),
            lambda acc, v: acc + v,
        ).cast("double") / F.size("_sig_a").cast("double")
        pairs = (
            pairs.join(sa, "id_a")
            .join(sb, "id_b")
            .where(agree >= F.lit(float(threshold) - float(sig_margin)))
            .select("id_a", "id_b")
        )
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    joined = pairs.join(a, "id_a").join(b, "id_b")
    jac = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    ).cast("double")
    return (
        joined.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def near_duplicates_minhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    max_bucket: int | None = None,
    size_prefilter: bool = True,
    sig_margin: float | None = None,
) -> DataFrame:
    """End-to-end MinHash LSH near-dup: (id_a, id_b, jaccard).

    The (id, shingle_hashes, sig) base relation is persisted: it feeds
    both the band self-join (twice) and the verify join, and recomputing
    the shingling per consumer would triple the dominant cost. The result
    is materialized eagerly (localCheckpoint) so the base relation can be
    unpersisted before returning — long-lived sessions don't accumulate
    retained RDDs across calls.

    ``sig_margin`` (off by default — the default path stays EXACT LSH
    verify) turns on the sketch-first prefilter: candidate pairs whose
    minhash-signature agreement is below ``threshold - sig_margin``
    are pruned via a skinny signature join before any shingle array
    ships. Quantified recall trade per :func:`jaccard_verify`."""
    base = minhash_signature(df, id_col, text_col, num_hashes,
                             shingle_size).persist()
    # size bound applied IN the band join (free: sizes ride the banded
    # relation) rather than via extra pair joins in the verify stage
    cands = lsh_candidate_pairs(
        base, id_col, bands, num_hashes, max_bucket=max_bucket,
        size_threshold=threshold if size_prefilter else None,
    )
    shingles_df = base.select(
        F.col(id_col), F.col("shingle_hashes").alias("sh")
    )
    sig_df = (base.select(F.col(id_col), "sig")
              if sig_margin is not None else None)
    out = jaccard_verify(cands, df, id_col, text_col, threshold,
                         shingle_size, shingles_df=shingles_df,
                         size_prefilter=False, sig_df=sig_df,
                         sig_margin=sig_margin)
    out = out.localCheckpoint(eager=True)
    base.unpersist()
    return out


def cross_near_duplicates_minhash(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    max_bucket: int | None = None,
    size_prefilter: bool = True,
    materialize: bool = True,
) -> DataFrame:
    """MinHash LSH near-dup join BETWEEN two corpora ->
    ``(id_left, id_right, jaccard)``.

    ``materialize=False`` skips the persist/localCheckpoint discipline
    and returns the lazy plan — for plan inspection/locking only (the
    signature relations then recompute once per consumer).

    The A-vs-B twin of :func:`near_duplicates_minhash` — the fuzzy
    layer of benchmark decontamination (exact n-gram containment is
    :func:`~..operators.curate.decontaminate`): find training docs
    that are near-duplicates of any benchmark doc, not just verbatim
    n-gram carriers. Both sides shingle and sign with the SAME
    deterministic hash family, so band keys collide across corpora;
    the band join is left×right (no self-pairs, no ``a < b`` — the id
    namespaces are independent and may overlap).

    Scale shape matches the self-join operator: banded equi join with
    the exact size bound applied IN the join (sizes ride the banded
    relations), ``max_bucket`` capping either side's flooded buckets
    BEFORE the join (a boilerplate bucket with m_l x m_r members is
    the cross-corpus quadratic), exact shingle-set verify only on
    surviving candidates. At benchmark-decontamination shapes the
    right side is small — Catalyst/AQE broadcasts its banded relation
    and the left corpus never shuffles on the band key."""
    lbase = minhash_signature(left, id_col, text_col, num_hashes,
                              shingle_size)
    rbase = minhash_signature(right, id_col, text_col, num_hashes,
                              shingle_size)
    if materialize:
        lbase = lbase.persist()
        rbase = rbase.persist()
    extra = ("_nsh",) if size_prefilter else ()

    def banded(base):
        b = base
        if size_prefilter:
            b = b.withColumn(
                "_nsh", F.size("shingle_hashes").cast("long")
            )
        b = banded_signatures(b, id_col, bands, num_hashes,
                              extra_cols=extra)
        if max_bucket is not None:
            big = (
                b.groupBy("band", "band_hash")
                .agg(F.count(F.lit(1)).alias("_n"))
                .where(F.col("_n") > max_bucket)
                .select("band", "band_hash")
            )
            b = b.join(big, ["band", "band_hash"], "left_anti")
        return b

    lb = banded(lbase).select(
        F.col(id_col).alias("id_left"), "band", "band_hash",
        *[F.col(c).alias(c + "_l") for c in extra],
    )
    rb = banded(rbase).select(
        F.col(id_col).alias("id_right"), "band", "band_hash",
        *[F.col(c).alias(c + "_r") for c in extra],
    )
    joined = lb.join(rb, ["band", "band_hash"])
    if size_prefilter:
        joined = joined.where(
            F.least("_nsh_l", "_nsh_r").cast("double")
            >= F.greatest("_nsh_l", "_nsh_r").cast("double")
            * F.lit(threshold - 1e-12)
        )
    cands = joined.select("id_left", "id_right").distinct()
    sl = lbase.select(F.col(id_col).alias("id_left"),
                      F.col("shingle_hashes").alias("sh_l"))
    sr = rbase.select(F.col(id_col).alias("id_right"),
                      F.col("shingle_hashes").alias("sh_r"))
    jac = (
        F.size(F.array_intersect("sh_l", "sh_r")).cast("double")
        / F.size(F.array_union("sh_l", "sh_r")).cast("double")
    )
    out = (
        cands.join(sl, "id_left")
        .join(sr, "id_right")
        .withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select("id_left", "id_right", "jaccard")
    )
    if not materialize:
        return out
    out = out.localCheckpoint(eager=True)
    lbase.unpersist()
    rbase.unpersist()
    return out


def decontaminate_fuzzy(
    train: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Drop training docs that are MinHash near-duplicates of any
    benchmark doc: ``train`` minus the contaminated ids (left_anti on
    the :func:`cross_near_duplicates_minhash` pair relation). The
    fuzzy complement of the exact n-gram
    :func:`~..operators.curate.decontaminate` — run both: exact
    catches verbatim quote contamination inside otherwise-different
    docs (below any whole-doc Jaccard threshold), fuzzy catches
    paraphrase/suffix mutations that dodge exact n-grams."""
    pairs = cross_near_duplicates_minhash(
        train, bench, id_col, text_col, threshold, num_hashes,
        bands, shingle_size, max_bucket,
    )
    bad = pairs.select(F.col("id_left").alias(id_col)).distinct()
    return train.join(bad, id_col, "left_anti")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    shingle_size: int = 3,
    max_rows: int | None = 100_000,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard (no LSH) — the small-data oracle path
    and the verify stage's standalone form; broadcast the smaller side.

    This is an O(n^2) crossJoin BY DESIGN (it is the exact verifier the
    banded operators are checked against), so ``max_rows`` refuses
    inputs past the small-data regime instead of silently launching a
    10^24-pair join on a fact table — use
    :func:`near_duplicates_minhash` for corpus scale. Pass
    ``max_rows=None`` to disable the guard (costs one count job)."""
    if max_rows is not None:
        n = df.count()
        if n > max_rows:
            raise ValueError(
                "ngram_jaccard_pairs is an exact ALL-PAIRS crossJoin "
                "(%d rows -> ~%.2g comparisons); it exists as the "
                "small-data oracle/verify path. Use "
                "near_duplicates_minhash for corpus-scale near-dup, or "
                "pass max_rows=None if you really mean it."
                % (n, n * (n - 1) / 2)
            )
    sh = df.select(
        F.col(id_col),
        shingles_col(F.col(text_col), shingle_size).alias("sh"),
    )
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    joined = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    ).cast("double")
    return (
        joined.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per doc: token hash = first 64 bits of md5
    (big-endian), bit voting — both inside one numpy Arrow kernel.

    Tokenization stays JVM-side (one codegen'd split); the md5 hashing
    happens in the kernel via hashlib because Spark's higher-order
    ``transform(md5 -> conv)`` executes INTERPRETED (~18us/element, the
    docs/PLANS.md pitfall) and dominated the stage at scale. A per-batch
    memo exploits natural-language token repetition so each distinct
    token is hashed once per batch. ``int.from_bytes(md5[:8], 'big')``
    equals the previous ``conv(substring(md5,1,8)) << 32 | conv(
    substring(md5,9,8))`` bit-for-bit, so the cross-engine contract is
    unchanged:

    md5 (not xxhash64) so DuckDB can mirror the computation: DuckDB's
    ``md5_number_upper`` is the little-endian read of the same 8 bytes —
    a FIXED bit-position permutation of this big-endian value. A fixed
    permutation applied to every token hash permutes every doc's simhash
    identically, and xor/bit_count are permutation-invariant, so hamming
    distances (and near-pair sets) agree across engines exactly."""
    import hashlib

    hashed = df.select(
        F.col(id_col),
        tokens_col(F.col(text_col)).alias("toks"),
    )

    @F.pandas_udf(LongType())
    def _simhash(toks: pd.Series) -> pd.Series:
        out = np.zeros(len(toks), dtype=np.int64)
        shifts = np.arange(64, dtype=np.uint64)
        memo: dict = {}
        for i, tlist in enumerate(toks):
            if tlist is None or len(tlist) == 0:
                continue
            vals = np.empty(len(tlist), dtype=np.uint64)
            for j, t in enumerate(tlist):
                h = memo.get(t)
                if h is None:
                    h = int.from_bytes(
                        hashlib.md5(t.encode("utf-8")).digest()[:8],
                        "big",
                    )
                    memo[t] = h
                vals[j] = h
            bits = (vals[:, None] >> shifts) & np.uint64(1)
            votes = bits.astype(np.int64) * 2 - 1
            sign = votes.sum(axis=0) >= 0
            out[i] = np.int64(
                np.bitwise_or.reduce(
                    (sign.astype(np.uint64) << shifts)
                ).astype(np.int64)
            )
        return pd.Series(out)

    return hashed.select(
        F.col(id_col),
        _simhash(F.col("toks")).alias("simhash"),
    )


def hamming_near_pairs(
    hash_df: DataFrame, id_col: str, hash_col: str = "simhash",
    max_hamming: int = 3, n_chunks: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near pairs of 64-bit fingerprints by banded Hamming search —
    the generalized core under :func:`simhash_near_pairs` (text) and
    the perceptual image hashes (multimodal.perceptual_hash_pairs).

    Splits the 64 bits into ``n_chunks`` contiguous chunks (default
    ``max_hamming + 1`` — the pigeonhole guarantee: two values within
    ``max_hamming`` bits must agree on at least one chunk, so the
    banded equi-join is COMPLETE, not approximate), equi-joins on
    (chunk_idx, chunk), then exact-filters with bit_count(xor).
    ``max_bucket`` drops oversized chunk buckets before the self-join
    (boilerplate-flood guard; costs recall only for families larger
    than the cap). Returns (id_a, id_b, hamming)."""
    if n_chunks is None:
        n_chunks = max(2, max_hamming + 1)
    if n_chunks < max_hamming + 1:
        raise ValueError(
            "n_chunks=%d loses the pigeonhole guarantee for "
            "max_hamming=%d (need >= %d)"
            % (n_chunks, max_hamming, max_hamming + 1)
        )
    if not 2 <= n_chunks <= 64:
        raise ValueError("n_chunks must be in [2, 64]")
    base, rem = divmod(64, n_chunks)
    widths = [base + (1 if c < rem else 0) for c in range(n_chunks)]
    offs = [sum(widths[:c]) for c in range(n_chunks)]
    chunks = hash_df.select(
        F.col(id_col),
        F.col(hash_col).alias("simhash"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("chunk_idx"),
                    F.shiftrightunsigned(hash_col, offs[c])
                    .bitwiseAND(F.lit((1 << widths[c]) - 1))
                    .alias("chunk"),
                )
                for c in range(n_chunks)
            ])
        ).alias("ch"),
    ).select(id_col, "simhash", "ch.chunk_idx", "ch.chunk")
    if max_bucket is not None:
        big = (
            chunks.groupBy("chunk_idx", "chunk")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") > max_bucket)
            .select("chunk_idx", "chunk")
        )
        chunks = chunks.join(big, ["chunk_idx", "chunk"], "left_anti")
    a = chunks.select(
        F.col(id_col).alias("id_a"),
        F.col("simhash").alias("sim_a"),
        "chunk_idx",
        "chunk",
    )
    b = chunks.select(
        F.col(id_col).alias("id_b"),
        F.col("simhash").alias("sim_b"),
        "chunk_idx",
        "chunk",
    )
    return (
        a.join(b, ["chunk_idx", "chunk"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sim_a", "sim_b")
        .distinct()
        .withColumn(
            "hamming",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))),
        )
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_near_pairs(
    sim_df: DataFrame, id_col: str, max_hamming: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup candidates: docs sharing one of four 16-bit chunks
    (complete for Hamming distance <= 3), then exact Hamming filter via
    bit_count(xor) — the text-simhash instantiation of
    :func:`hamming_near_pairs` (chunk layout unchanged for the default
    max_hamming <= 3: 4 x 16 bits LSB-first; larger thresholds widen
    the chunking to keep the pigeonhole completeness the 4-chunk
    layout only guarantees up to distance 3)."""
    return hamming_near_pairs(
        sim_df, id_col, hash_col="simhash", max_hamming=max_hamming,
        n_chunks=min(64, max(4, max_hamming + 1)),
        max_bucket=max_bucket,
    )


def deduplicate_exact(df: DataFrame, id_col: str, text_col: str
                      ) -> DataFrame:
    """Filter ``df`` to one representative row (min id) per exact text;
    the user-facing corpus-cleaning form of :func:`exact_duplicates`."""
    reps = exact_duplicates(df, id_col, text_col).select(
        F.col("rep_id").alias(id_col)
    )
    return df.join(reps, id_col, "left_semi")


def deduplicate_clustered(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    **minhash_kwargs,
) -> DataFrame:
    """Filter near-duplicates via connected-components clustering: keep
    the min-id representative of every duplicate cluster (transitive
    closure of MinHash-verified pairs), unlike the greedy per-pair drop
    of :func:`deduplicate_near`."""
    pairs = near_duplicates_minhash(df, id_col, text_col, threshold,
                                    **minhash_kwargs)
    clusters = duplicate_clusters(pairs, id_col)
    drops = clusters.where(
        F.col(id_col) != F.col("cluster_id")
    ).select(id_col)
    return df.join(drops, id_col, "left_anti")


def deduplicate_near(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Filter near-duplicates: for every MinHash-verified pair above
    ``threshold``, drop the higher-id member. Greedy per-pair policy —
    one shuffle-free anti join against the set of dropped ids. (Not a
    full connected-components union: at web scale the greedy policy is
    the standard first pass; CC clustering can follow on the survivors.)
    """
    pairs = near_duplicates_minhash(
        df, id_col, text_col, threshold, num_hashes, bands, shingle_size,
        max_bucket=max_bucket,
    )
    drops = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(drops, id_col, "left_anti")


def duplicate_clusters(
    pairs: DataFrame, id_col: str = "id", max_iters: int = 20
) -> DataFrame:
    """Connected components over near-duplicate pairs -> (id, cluster_id)
    with cluster_id = min member id.

    Iterative label propagation entirely in DataFrame ops: each pass
    (a) joins every node's current label against its neighbors' and keeps
    the minimum, then (b) pointer-jumps (label := label's label), which
    halves the remaining distance to the component minimum — so the loop
    converges in O(log diameter) passes instead of O(diameter), the same
    doubling idea as the large-star/small-star MapReduce CC algorithms.
    Each pass is two shuffles on the node id; the frontier is
    checkpointed per pass via localCheckpoint to keep lineage flat.
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"),
                         F.col("id_a").alias("dst"))
        )
        .distinct()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )

    def step(labels):
        neighbor_labels = (
            edges.join(labels, edges["dst"] == labels["node"])
            .select(F.col("src").alias("node"), "label")
        )
        propagated = (
            labels.unionByName(neighbor_labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # pointer jump: follow one hop up the label tree (labels are node
        # ids, so look up the label's own label and take the min)
        parents = propagated.select(
            F.col("node").alias("label"),
            F.col("label").alias("_parent"),
        )
        return checkpoint(
            propagated.join(parents, "label", "left")
            .select(
                "node",
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("_parent"), F.col("label")),
                ).alias("label"),
            )
        )

    # returning partially-propagated labels would silently split
    # clusters (callers like deduplicate_clustered would keep
    # non-representative rows) — fail loudly instead
    return fixpoint(
        step, labels, max_iters, unchanged("label"), "duplicate_clusters",
        bound="max_iters",
        hint="a component's diameter exceeds max_iters — raise max_iters",
    ).select(
        F.col("node").alias(id_col), F.col("label").alias("cluster_id")
    )
