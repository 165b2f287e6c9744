"""Deduplication operators.

Reference parity (A3) plus the LLM-data-pipeline dedup family
(BASELINE.json north_star): exact content dedup, MinHash+LSH,
SimHash, and n-gram Jaccard near-dup.  All are shuffle-conscious:

- priority/exact dedup = ONE hash shuffle on the key + per-partition
  sort (window ``row_number``), never a global sort (SURVEY §2.4 A3).
- MinHash/LSH banding turns the O(N²) all-pairs problem into a
  shuffle on (band, band-values) — only documents that collide in
  some band are ever compared, which is what makes near-dup feasible
  on 100 TB.
- One implementation per algorithm: ONE tokenizer
  (:func:`_gram_hashes_exploded`, which replicates :func:`shingles`),
  one Arrow signer per sketch family (:func:`minhash_signatures`,
  :func:`simhash_fingerprints`), one banding function
  (:func:`lsh_candidate_pairs`) and one exact-Jaccard verify.
- All hashing is deterministic.  The signers take one ``base_hash``
  choice: ``"siphash"`` (vectorised, the production default) or
  ``"md5"``, an md5 hex prefix DuckDB replays as ``('0x' ||
  substr(md5(g), 1, k))::BIGINT`` — the oracle-checked rows run the
  production pipeline with that hash, so their twins certify it.
"""

from __future__ import annotations

import hashlib
import logging
import re
from collections.abc import Sequence

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cid_etl_spark.operators.aggregates import materialize_once

_LOG = logging.getLogger(__name__)

# ---------------------------------------------------------------------------
# Reference-parity dedup
# ---------------------------------------------------------------------------


def priority_dedup(
    df: DataFrame,
    keys: str | Sequence[str],
    order: Sequence[Column],
) -> DataFrame:
    """A3 — keep exactly one row per key, the first under *order*
    (reference: stable sort by ``fonte`` DESC + ``drop_duplicates``,
    etl_cid10.py:183-184,360-361).

    The window form is the only shuffle-safe equivalent of pandas'
    stable sort-then-drop (SURVEY §4.2.1): Spark's
    ``orderBy().dropDuplicates()`` does NOT guarantee the survivor.
    Callers must make *order* total (add a unique tiebreaker) for a
    deterministic survivor.
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def exact_dedup(
    df: DataFrame,
    content_cols: str | Sequence[str],
    tiebreak: Sequence[Column] | None = None,
) -> DataFrame:
    """Exact content dedup: one survivor per distinct content.

    Hash-groupBy semantics — the content columns are the key; the
    survivor is the minimum under *tiebreak* (deterministic) or an
    arbitrary-but-single row when no tiebreak is given.  For long text
    at scale, pre-hash the content (``xxhash64``) so the shuffle key is
    8 bytes instead of the document body.
    """
    cols = [content_cols] if isinstance(content_cols, str) else list(content_cols)
    key = F.xxhash64(*[F.col(c) for c in cols]).alias("__content_hash")
    order = list(tiebreak) if tiebreak is not None else [F.lit(1)]
    return priority_dedup(df.withColumn("__content_hash", key), "__content_hash", order).drop(
        "__content_hash"
    )


# ---------------------------------------------------------------------------
# Shingles and the one tokenizer
# ---------------------------------------------------------------------------

#: Mersenne prime 2^31-1: modulus for the universal-hash family used by
#: the MinHash permutations.  Base hashes are at most 31 bits so that
#: ``a*h + b`` stays < 2^62 and never overflows BIGINT arithmetic
#: (Spark 4 runs ANSI mode — silent wraparound is an error, and we
#: wouldn't want it anyway).  Fixed a/b parameters derive from the seed
#: so signatures are reproducible run-to-run and cluster-to-cluster.
_MERSENNE_31 = (1 << 31) - 1

#: md5 hex-prefix width per sketch family for ``base_hash="md5"``:
#: 7 digits (28 bits) keep MinHash's ``a*h + b`` inside BIGINT; 15
#: digits (60 bits) give SimHash 60 bit votes with ``1 << 59`` in range
#: in every engine.
_MD5_HEX_DIGITS = {"minhash": 7, "simhash": 15}


def _hash_params(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    # Deterministic LCG expansion of the seed — no RNG state, identical
    # on every executor and every run.
    params = []
    x = seed & 0x7FFFFFFFFFFFFFFF
    for _ in range(num_hashes):
        x = (6364136223846793005 * x + 1442695040888963407) % (1 << 63)
        a = (x % (_MERSENNE_31 - 1)) + 1
        x = (6364136223846793005 * x + 1442695040888963407) % (1 << 63)
        b = x % _MERSENNE_31
        params.append((a, b))
    return params


def shingles(text: Column | str, n: int = 5, words: bool = True) -> Column:
    """Distinct n-gram shingle array for MinHash/Jaccard.

    Word shingles (default) are robust to whitespace noise; character
    shingles (``words=False``) suit CJK / no-whitespace text.
    """
    c = F.col(text) if isinstance(text, str) else text
    c = F.lower(F.trim(c))
    if words:
        toks = F.split(c, r"\s+")
        grams = F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    else:
        grams = F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(c) - n + 1, F.lit(1))),
            lambda i: c.substr(i, F.lit(n)),
        )
    return F.array_distinct(grams)


def _md5_digits(base_hash: str, family: str) -> int | None:
    """md5 hex-prefix width for *base_hash* (``None`` = siphash)."""
    if base_hash == "siphash":
        return None
    if base_hash == "md5":
        return _MD5_HEX_DIGITS[family]
    raise ValueError(f"base_hash must be 'siphash' or 'md5', got {base_hash!r}")


#: Java regex ``\s`` (what :func:`shingles` splits on), not Python's
#: unicode ``\s``.
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _gram_hashes_exploded(texts, n: int, md5_digits: int | None = None) -> tuple:
    """Distinct word-n-gram hashes per text, replicating EXACTLY the
    tokenization of :func:`shingles` (and therefore of the DuckDB
    oracles written against it): ``lower`` → trim *spaces only* →
    split on Java ``\\s+`` keeping empty edge tokens → n-gram join with
    ``' '`` → distinct.  The only difference is that each gram leaves
    the batch as a 64-bit hash instead of a string: vectorised siphash
    (``pandas.util.hash_array``) by default, or the first *md5_digits*
    hex digits of the gram's UTF-8 md5.

    Distinctness is taken on the hashes; a prefix collision between two
    grams of one document can only shrink that document's count, which
    the MinHash minima ignore and a 60-bit SimHash vote never sees in
    practice.

    Returns ``(flat: uint64 ndarray, lens: int64 ndarray)``.
    """
    if md5_digits:
        nbytes = (md5_digits + 1) // 2
        shift = 8 * nbytes - 4 * md5_digits

        def hash_grams(grams):
            return np.fromiter(
                (
                    int.from_bytes(hashlib.md5(g.encode()).digest()[:nbytes], "big")
                    >> shift
                    for g in grams
                ),
                dtype=np.uint64,
                count=len(grams),
            )
    else:

        def hash_grams(grams):
            return pd.util.hash_array(np.asarray(grams, dtype=object))

    all_grams: list = []
    lens = np.zeros(len(texts), dtype=np.int64)
    for i, t in enumerate(texts):
        if not isinstance(t, str):
            # null text has NO grams — the DuckDB twins' empty gram
            # list.  (shingles(NULL) is [''], the same as shingles(''),
            # so this is the one input where the two differ.)
            continue
        toks = _JAVA_WS.split(t.lower().strip(" "))
        if len(toks) > n:
            grams = [" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)]
        else:
            grams = [" ".join(toks)]
        h = np.unique(hash_grams(grams))
        all_grams.append(h)
        lens[i] = len(h)
    flat = np.concatenate(all_grams) if all_grams else np.empty(0, dtype=np.uint64)
    return flat, lens


def _segment_offsets(lens: np.ndarray) -> np.ndarray:
    """Start offset of each non-empty segment of the flat gram array
    (the ``reduceat`` index for the texts with ``lens > 0``)."""
    kept = lens[lens > 0]
    offsets = np.zeros(len(kept), dtype=np.int64)
    np.cumsum(kept[:-1], out=offsets[1:])
    return offsets


def shingle_index_arrow(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    block_col: str | None = None,
) -> DataFrame:
    """Inverted shingle index: one row per ``(document, distinct
    shingle)`` with the shingle as a BIGINT hash — ``(__id[, __blk],
    __n, __g)`` where ``__n`` is the document's distinct-shingle count.

    Built in ONE vectorized ``mapInPandas`` pass (tokenize → n-gram →
    hash → unique, all numpy/siphash inside the Arrow batch), so the
    Spark plan is a bare projection: no interpreted array HOFs
    (~0.4 ms/doc measured), no string array materialization, no
    ``explode``.  Downstream joins key on the 8-byte hash instead of a
    20-30 byte gram string — roughly 3× less shuffle volume, and the
    join itself is a long-vs-long comparison.
    """
    cols = [F.col(id_col).alias("__id")]
    if block_col:
        cols.append(F.col(block_col).alias("__blk"))
    cols.append(F.col(text_col).alias("__t"))
    prepped = df.select(*cols)
    id_field = df.schema[id_col].dataType.simpleString()
    blk_field = (
        f", __blk {df.schema[block_col].dataType.simpleString()}" if block_col else ""
    )

    def expand(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            flat, lens = _gram_hashes_exploded(pdf["__t"].tolist(), n)
            rep = np.repeat(np.arange(len(pdf)), lens)
            out = {"__id": pdf["__id"].to_numpy()[rep]}
            if block_col:
                out["__blk"] = pdf["__blk"].to_numpy()[rep]
            out["__n"] = lens[rep]
            out["__g"] = flat.view(np.int64)
            yield pd.DataFrame(out)

    return prepped.mapInPandas(
        expand, schema=f"__id {id_field}{blk_field}, __n bigint, __g bigint"
    )


# ---------------------------------------------------------------------------
# Exact n-gram set similarity
# ---------------------------------------------------------------------------


def jaccard_similarity(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def _verify_jaccard(pairs: DataFrame, grams: DataFrame, threshold: float) -> DataFrame:
    """The exact-Jaccard verify: join candidate ``(id_a, id_b)`` pairs
    to their distinct-shingle arrays ``(__id, __grams)`` and keep
    ``(id_a, id_b, jaccard)`` with ``round(jaccard, 4) >= threshold`` —
    the contract of :func:`ngram_jaccard_pairs_exact` and the DuckDB
    twins.  Joins are left un-hinted: AQE broadcasts whichever side is
    actually small at runtime (candidates in the common case; never a
    blown broadcast when a pathological corpus yields huge candidate
    sets)."""
    ga = grams.select(F.col("__id").alias("id_a"), F.col("__grams").alias("__ga"))
    gb = grams.select(F.col("__id").alias("id_b"), F.col("__grams").alias("__gb"))
    return (
        pairs.join(ga, "id_a")
        .join(gb, "id_b")
        .withColumn(
            "jaccard", F.round(jaccard_similarity(F.col("__ga"), F.col("__gb")), 4)
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs_exact(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.2,
    block_col: str | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via an inverted shingle index.

    Returns ``(id_a, id_b, jaccard)`` with ``round(jaccard, 4) >=
    threshold``.  Instead of a blocked self-join that evaluates
    ``array_intersect`` on every candidate pair (O(N²) per block — 138 s
    at sf0.1, unusable at 100 TB), we explode the distinct shingles and
    self-join on the shingle itself: each output row of that join IS one
    common shingle of one pair, so ``count(*)`` grouped by the pair is
    ``|A ∩ B|`` and ``|A ∪ B| = |A| + |B| - |A ∩ B|``.  Work is
    proportional to the number of *actually shared* shingles, the
    aggregate partially combines map-side, and pairs sharing nothing are
    never materialized (correct for any ``threshold > 0``).  Hot
    shingles are the skew risk — for web-scale corpora drop shingles
    with document frequency above a cap, or use MinHash banding
    (:func:`minhash_dedup_pairs`) as the sub-quadratic path.

    *block_col* (e.g. language) additionally restricts pairs to equal
    block values, matching the blocked-join semantics.

    The index rows are built by :func:`shingle_index_arrow` (vectorized
    Arrow pass, grams as 64-bit hashes) and persisted: the self-join
    consumes the index twice, and without the barrier the whole
    tokenize+hash pipeline — i.e. the corpus scan — runs once per side.
    Intersection counts over hashed grams equal string-gram counts
    absent a 64-bit collision *within one document pair's union*
    (probability ~m²·2⁻⁶⁴ for m shared shingles — negligible even at
    100 TB corpus scale, and any collision only perturbs one pair's
    count by 1).
    """
    common = _shared_shingle_counts(df, id_col, text_col, n, block_col)
    j = F.round(
        F.col("__common") / (F.col("__na") + F.col("__nb") - F.col("__common")), 4
    )
    return (
        common.withColumn("jaccard", j)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _shared_shingle_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    block_col: str | None,
) -> DataFrame:
    """Inverted-index core shared by the exact set-similarity joins:
    ``(id_a, id_b, __na, __nb, __common)`` for every pair sharing at
    least one distinct n-gram shingle (see
    :func:`ngram_jaccard_pairs_exact` for the cost model)."""
    # localCheckpoint, not persist: both self-join sides consume the
    # index, and a persist would pin executor storage for the session
    # (the returned pair table is lazy, so there is no safe unpersist
    # point) — checkpointed blocks are released when the plan is GC'd.
    ex = shingle_index_arrow(df, id_col, text_col, n, block_col).localCheckpoint(
        eager=True
    )
    a = ex.select(
        F.col("__id").alias("id_a"),
        F.col("__n").alias("__na"),
        *([F.col("__blk").alias("__blk")] if block_col else []),
        "__g",
    )
    b = ex.select(
        F.col("__id").alias("id_b"),
        F.col("__n").alias("__nb"),
        *([F.col("__blk")] if block_col else []),
        "__g",
    )
    keys = (["__blk"] if block_col else []) + ["__g"]
    return (
        a.join(b, keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "__na", "__nb")
        .agg(F.count(F.lit(1)).alias("__common"))
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
    block_col: str | None = None,
) -> DataFrame:
    """Exact n-gram CONTAINMENT pairs via the same inverted shingle
    index as :func:`ngram_jaccard_pairs_exact`.

    Containment ``|A ∩ B| / min(|A|, |B|)`` is the asymmetric
    near-dup measure: a short document quoted or wholly embedded
    inside a long one scores near 1.0 here while its Jaccard stays
    tiny (the union is dominated by the long side) — the
    boilerplate-wrapper / quote-farm / subset-page case Jaccard
    misses entirely.  Same cost model as the Jaccard variant: work ∝
    shingles actually shared, map-side partial aggregation, no pair
    materialized without a common shingle (correct for any
    ``threshold > 0``).  Emits ``(id_a, id_b, containment,
    len_ratio)`` with ``round(containment, 4) >= threshold``;
    ``len_ratio = min/max`` shingle-count ratio separates true
    near-dups (ratio ≈ 1) from subset relations (ratio ≪ 1).
    """
    common = _shared_shingle_counts(df, id_col, text_col, n, block_col)
    c = F.round(F.col("__common") / F.least("__na", "__nb"), 4)
    r = F.round(
        F.least("__na", "__nb") / F.greatest("__na", "__nb"), 4
    )
    return (
        common.withColumn("containment", c)
        .withColumn("len_ratio", r)
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment", "len_ratio")
    )


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.2,
    block_col: str | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via PPJoin-style prefix filtering
    (Xiao et al., "Efficient Similarity Joins for Near Duplicate
    Detection", WWW'08) — the exact-similarity-join scale path.

    Same contract as :func:`ngram_jaccard_pairs_exact` (``(id_a, id_b,
    jaccard)`` with ``round(jaccard, 4) >= threshold``), different cost
    model.  The inverted-index variant pays |df|² join rows for a
    shingle of document frequency |df| — quadratic in the hottest
    shingle ("the", " th" appear in nearly every document), which is
    exactly the skew that kills a web-scale corpus.  Prefix filtering
    instead orders each document's shingles rarest-first (global
    document frequency ascending, shingle as tie-break — any total
    order is correct) and indexes only the first
    ``floor((1 - t)·|A|) + 1`` of them: two sets with Jaccard ≥ t MUST
    share at least one prefix shingle, so joining on prefix shingles
    alone loses no pairs, and prefix shingles are by construction the
    RARE ones.  Candidates then pass a size filter
    (``t·|A| ≤ |B| ≤ |A|/t``) and an exact ``array_intersect`` verify.

    Shuffle profile: one groupBy for document frequencies, one window
    per document to rank shingles, the candidate join on rare shingles,
    and a verify join back to the shingle arrays — every stage
    partition-parallel with map-side combine, no stage quadratic in a
    hot key.
    """
    blk = [F.col(block_col).alias("__blk")] if block_col else []
    bkeys = ["__blk"] if block_col else []
    sized = df.select(
        F.col(id_col).alias("__id"), *blk, shingles(text_col, n).alias("__grams")
    ).withColumn("__n", F.size("__grams"))
    ex = sized.select("__id", *bkeys, "__n", F.explode("__grams").alias("__g"))
    dftab = ex.groupBy(*bkeys, "__g").agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy("__id").orderBy("__df", "__g")
    # prefix length floor((1-t)*n)+1 == n - ceil(t*n) + 1; the 1e-9
    # guards against fp under-rounding, which would drop true pairs
    prefix_len = (
        F.floor(F.lit(1.0 - threshold) * F.col("__n") + F.lit(1e-9)).cast("int") + 1
    )
    pref = (
        ex.join(dftab, bkeys + ["__g"])
        .withColumn("__pos", F.row_number().over(w))
        .filter(F.col("__pos") <= prefix_len)
        .select(*bkeys, "__g", "__id", "__n")
    )
    a = pref.select(
        *bkeys, "__g", F.col("__id").alias("id_a"), F.col("__n").alias("__na")
    )
    b = pref.select(
        *bkeys, "__g", F.col("__id").alias("id_b"), F.col("__n").alias("__nb")
    )
    cand = (
        a.join(b, bkeys + ["__g"])
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("__nb") >= F.lit(threshold) * F.col("__na") - F.lit(1e-9))
            & (F.col("__na") >= F.lit(threshold) * F.col("__nb") - F.lit(1e-9))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    return _verify_jaccard(cand, sized, threshold)


# ---------------------------------------------------------------------------
# Near-duplicate dedup: MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 5,
    num_hashes: int = 64,
    seed: int = 42,
    base_hash: str = "siphash",
) -> DataFrame:
    """MinHash signatures ``(__id, __sig array<bigint>)``: tokenize,
    shingle, hash and take *num_hashes* universal-hash minima
    ``min((a*h + b) mod 2^31-1)`` inside ONE vectorised ``mapInPandas``
    pass over the raw text.

    - **No shuffle**: each signature is computed where its document
      lives.
    - **No interpreted HOFs**: Spark's array lambdas evaluate per
      element outside codegen (~0.4 ms/doc for shingling alone,
      measured); numpy hashes one flat array per batch and takes
      segment minima with ``np.minimum.reduceat``.
    - **No codegen bomb**: ``k`` separate ``min()`` aggregates compile
      a huge Janino function (~9 s cold at k=32, measured).

    *base_hash* ``"siphash"`` truncates the 64-bit gram hash to 31
    bits; ``"md5"`` takes a 28-bit md5 prefix that DuckDB replays.
    Null text has no shingles and gets NO row, so it is never a
    candidate.
    """
    md5_digits = _md5_digits(base_hash, "minhash")
    params = _hash_params(num_hashes, seed)
    a_vec = np.array([a for a, _ in params], dtype=np.int64)[:, None]
    b_vec = np.array([b for _, b in params], dtype=np.int64)[:, None]
    p = np.int64(_MERSENNE_31)
    prepped = df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t"))
    id_field = df.schema[id_col].dataType.simpleString()

    def sign(batches):
        for pdf in batches:
            flat, lens = _gram_hashes_exploded(pdf["__t"].tolist(), shingle_n, md5_digits)
            keep = lens > 0
            if not keep.any():
                continue
            if md5_digits is None:
                flat = flat & np.uint64(_MERSENNE_31)
            perm = (a_vec * flat.astype(np.int64)[None, :] + b_vec) % p
            sig = np.minimum.reduceat(perm, _segment_offsets(lens), axis=1).T
            yield pd.DataFrame(
                {"__id": pdf["__id"].to_numpy()[keep], "__sig": list(sig)}
            )

    return prepped.mapInPandas(sign, schema=f"__id {id_field}, __sig array<bigint>")


def _drop_hot_buckets(
    banded: DataFrame, max_bucket_size: int | None
) -> DataFrame:
    """Hot-bucket guard of :func:`lsh_candidate_pairs`: drop ``(band,
    bucket)`` groups larger than *max_bucket_size* — NEVER silently
    (counts logged at WARNING) — so one degenerate bucket can't become
    a single quadratic straggler task.  The membership table stays LAZY
    on purpose: banding is cheap map work over the (usually
    checkpointed) signature table, so the guard costs one extra banding
    pass for the bucket-count check; the anti-join is added only when a
    hot bucket actually exists.  ``None`` disables the guard (and its
    one eager count job).
    """
    if max_bucket_size is None:
        return banded
    hot = (
        banded.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > max_bucket_size)
    )
    stats = hot.agg(
        F.count(F.lit(1)).alias("n_buckets"), F.sum("__n").alias("n_rows")
    ).first()
    if stats["n_buckets"]:
        _LOG.warning(
            "LSH hot-bucket guard: dropped %d bucket(s) totalling %d banded "
            "rows (> max_bucket_size=%d); members still pair via their "
            "other bands",
            stats["n_buckets"],
            stats["n_rows"],
            max_bucket_size,
        )
        banded = banded.join(
            hot.select("band", "bucket"), ["band", "bucket"], "left_anti"
        )
    return banded


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    signature_col: str,
    num_bands: int = 16,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Band the signatures and emit candidate duplicate pairs
    ``(id_a, id_b)`` with ``id_a < id_b``.

    Band ``b`` is the slice of ``rows_per_band = size // num_bands``
    signature values starting at ``b * rows_per_band``; rows agreeing
    on ALL of them land in the same bucket.  The bucket key IS that
    slice of values — exact in every engine (the DuckDB twins compare
    the same values as a joined string), with no bucket-hash
    collisions.  The self-join shuffles on (band, band values) only.
    Output is distinct pairs — verify downstream.

    **Hot-bucket guard.**  The within-bucket self-join is quadratic in
    bucket size, so ONE degenerate band bucket (boilerplate-heavy
    corpus: thousands of docs agreeing on a band) turns into a single
    straggler task emitting billions of pairs.  With *max_bucket_size*
    set, buckets larger than the cap are DROPPED before the join by
    :func:`_drop_hot_buckets`, with the dropped bucket/row counts
    logged at WARNING.  Docs in a dropped bucket still pair through
    their other ``num_bands - 1`` bands, and a bucket that hot is a
    near-clone family the EXACT dedup stage upstream already
    collapses.

    The DEFAULT is ``None`` (no cap): oracle-checked callers get the
    exact uncapped semantics their SQL twins model.  Scale-oriented
    callers pass an explicit cap (2000 → ≤2M pairs per bucket bounds
    the worst single task at 100 TB; far above anything a healthy
    corpus produces at test SF, so fixtures never trip it and any
    firing is attributable via the WARNING log).
    """
    sig = F.col(signature_col)
    rows_per_band = F.floor(F.size(sig) / num_bands).cast("int")
    bands = F.array(
        *[
            F.slice(sig, F.lit(b) * rows_per_band + 1, rows_per_band)
            for b in range(num_bands)
        ]
    )
    banded = df.select(
        F.col(id_col).alias("__id"), F.posexplode(bands).alias("band", "bucket")
    )
    banded = _drop_hot_buckets(banded, max_bucket_size)
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.__id") < F.col("r.__id")),
        )
        .select(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
        .distinct()
    )


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 5,
    num_hashes: int = 64,
    num_bands: int = 16,
    seed: int = 42,
    base_hash: str = "siphash",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """The candidate stage of :func:`minhash_dedup_pairs`: sign with
    :func:`minhash_signatures`, band with :func:`lsh_candidate_pairs`,
    and return the unverified ``(id_a, id_b)`` collisions.

    The signature table is k×8 bytes per DOCUMENT (thousands of times
    smaller than the corpus) but the banding consumes it up to three
    times (the hot-bucket check and both self-join sides); without a
    barrier each consumer re-reads and re-signs the corpus, so it is
    materialized once (``materialize_once``: released on GC, never
    pinned, and skipped when only the plan is wanted).
    """
    signed = materialize_once(
        minhash_signatures(
            df, id_col, text_col, shingle_n, num_hashes, seed, base_hash
        )
    )
    return lsh_candidate_pairs(signed, "__id", "__sig", num_bands, max_bucket_size)


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 5,
    num_hashes: int = 64,
    num_bands: int = 16,
    threshold: float = 0.8,
    seed: int = 42,
    base_hash: str = "siphash",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """End-to-end MinHash near-dup: shingle → sign → band → candidate
    pairs → exact-Jaccard verify.

    Returns ``(id_a, id_b, jaccard)`` with ``round(jaccard, 4) >=
    threshold``.  Candidates come from :func:`minhash_candidate_pairs`;
    the verify join then builds :func:`shingles` arrays for candidate
    rows only — at 100 TB that's the difference between feasible and
    not.  With *max_bucket_size* set (scale-oriented callers pass
    2000; the default ``None`` keeps oracle-exact uncapped semantics)
    the band self-join runs behind the hot-bucket guard — see
    :func:`lsh_candidate_pairs`.  ``base_hash="md5"`` is the
    engine-replicable variant the DuckDB twins replay.
    """
    # the candidate list is tiny (bucket collisions only) but consumed
    # three times below — materialize it so each consumer doesn't
    # replay the band self-join
    pairs = materialize_once(
        minhash_candidate_pairs(
            df, id_col, text_col, shingle_n, num_hashes, num_bands, seed,
            base_hash, max_bucket_size,
        )
    )
    # shingle ONLY candidate rows: semi-join the corpus against the
    # candidate ids first, so the (expensive) shingle arrays are built
    # for collision rows, never the whole corpus
    cand_ids = (
        pairs.select(F.col("id_a").alias("__id"))
        .union(pairs.select(F.col("id_b").alias("__id")))
        .distinct()
    )
    grams = (
        df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
        .join(cand_ids, "__id", "left_semi")
        .select("__id", shingles("__text", shingle_n).alias("__grams"))
    )
    return _verify_jaccard(pairs, grams, threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _simhash_bits(base_hash: str) -> int:
    md5_digits = _md5_digits(base_hash, "simhash")
    return 64 if md5_digits is None else 4 * md5_digits


def simhash_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    base_hash: str = "siphash",
) -> DataFrame:
    """SimHash fingerprints ``(__id, __fp bigint)``: tokenize, shingle,
    hash and take per-bit strict-majority votes (bit ``i`` is 1 iff
    more than half of the distinct shingles' hashes have it) inside ONE
    vectorised ``mapInPandas`` pass, like :func:`minhash_signatures`.

    The fingerprint width follows from *base_hash*: 64 bits of siphash,
    or 60 bits of md5 prefix (``1 << 59`` stays in BIGINT in every
    engine) for DuckDB replay.  Null text has no shingles, so every
    vote is lost and its fingerprint is 0 — what the twin computes.
    """
    md5_digits = _md5_digits(base_hash, "simhash")
    shifts = np.arange(_simhash_bits(base_hash), dtype=np.uint64)
    prepped = df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t"))
    id_field = df.schema[id_col].dataType.simpleString()

    def sign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            flat, lens = _gram_hashes_exploded(pdf["__t"].tolist(), n, md5_digits)
            fps = np.zeros(len(pdf), dtype=np.uint64)
            keep = lens > 0
            if keep.any():
                bitmat = ((flat[:, None] >> shifts[None, :]) & np.uint64(1)).astype(
                    np.int64
                )
                counts = np.add.reduceat(bitmat, _segment_offsets(lens), axis=0)
                maj = (counts * 2 > lens[keep][:, None]).astype(np.uint64)
                fps[keep] = (maj << shifts[None, :]).sum(axis=1, dtype=np.uint64)
            yield pd.DataFrame(
                {"__id": pdf["__id"].to_numpy(), "__fp": fps.view(np.int64)}
            )

    return prepped.mapInPandas(sign, schema=f"__id {id_field}, __fp bigint")


def hamming_distance64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit fingerprints via bit_count."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    n: int = 3,
    base_hash: str = "siphash",
) -> DataFrame:
    """SimHash near-dup pairs ``(id_a, id_b, hamming)``: fingerprints
    from :func:`simhash_fingerprints`, pigeonhole-banded by
    :func:`hamming_pairs_from_fingerprints` over the fingerprint width
    *base_hash* implies (64 bits siphash, 60 bits md5)."""
    fp = simhash_fingerprints(df, id_col, text_col, n, base_hash)
    return hamming_pairs_from_fingerprints(
        fp, bits=_simhash_bits(base_hash), max_hamming=max_hamming
    )


def hamming_pairs_from_fingerprints(
    fp: DataFrame,
    id_col: str = "__id",
    fp_col: str = "__fp",
    bits: int = 64,
    max_hamming: int = 3,
) -> DataFrame:
    """Pigeonhole-banded Hamming pairs over PRECOMPUTED fingerprints.

    Shared blocking core for any fixed-width fingerprint family —
    SimHash over text shingles, perceptual hashes over decoded media,
    quantized embedding sign patterns.  The *bits*-wide fingerprint is
    split into ``max_hamming + 1`` chunks: two fingerprints within the
    Hamming budget MUST agree on at least one chunk (pigeonhole), so
    the self-join shuffles on (chunk_index, chunk_value) only — never
    all-pairs — with guaranteed recall.  Emits ``(id_a, id_b,
    hamming)`` with ``id_a < id_b``.
    """
    n_chunks = min(max_hamming + 1, 32)
    bounds = [round(i * bits / n_chunks) for i in range(n_chunks + 1)]
    fp = fp.select(F.col(id_col).alias("__id"), F.col(fp_col).alias("__fp"))
    # 16 bytes per document — materialize so the chunk self-join's two
    # sides and the Hamming verify all reuse it instead of re-scanning
    # the corpus (same rationale as minhash_candidate_pairs)
    fp = materialize_once(fp)
    chunk_exprs = [
        F.shiftrightunsigned(F.col("__fp"), lo).bitwiseAND(
            F.lit((1 << (hi - lo)) - 1).cast("bigint")
        )
        for lo, hi in zip(bounds, bounds[1:])
    ]
    chunks = fp.select(
        "__id",
        "__fp",
        F.posexplode(F.array(*chunk_exprs)).alias("chunk_idx", "chunk_val"),
    )
    l, r = chunks.alias("l"), chunks.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.chunk_idx") == F.col("r.chunk_idx"))
            & (F.col("l.chunk_val") == F.col("r.chunk_val"))
            & (F.col("l.__id") < F.col("r.__id")),
        )
        .select(
            F.col("l.__id").alias("id_a"),
            F.col("r.__id").alias("id_b"),
            F.col("l.__fp").alias("fp_a"),
            F.col("r.__fp").alias("fp_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", hamming_distance64(F.col("fp_a"), F.col("fp_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
