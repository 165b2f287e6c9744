"""Property-based tests (hypothesis): the Column-expression scalar
functions must agree with pure-Python models transcribed from the
reference's row-wise originals (etl_cid10.py:11-21,249-258) on
arbitrary strings, and the dedup/window operators must hold their
invariants on arbitrary key/priority multisets.

Strategy note: hypothesis drives the INPUT GENERATION; each property
runs ONE Spark job over the whole generated batch (settings keep
example counts small — Spark round-trips are the expensive part).
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from cid_etl_spark.functions.strings import (
    extract_root_category,
    format_subcat,
    normalize_code,
)

# code-ish strings: ASCII printable + the whitespace chars on which
# Python str.strip() and Java \s agree (exotic unicode whitespace like
# \xa0/\x1c diverges between the runtimes by design — out of domain
# for ICD codes)
_codes = st.text(
    alphabet=st.sampled_from(
        list("ABCXYZabcxyz0123456789 .\t\r\n-_:;ÁÉÍàéíñü")
    ),
    max_size=12,
)


def _model_normalize(x: str | None) -> str | None:
    # etl_cid10.py:11-14
    return None if x is None else str(x).strip().upper()


def _model_root(x: str | None) -> str | None:
    # etl_cid10.py:17-21
    n = _model_normalize(x)
    return None if n is None else n.split(".")[0]


def _model_format_subcat(x: str | None) -> str | None:
    # etl_cid10.py:249-258
    s = _model_normalize(x)
    if s is None:
        return None
    if len(s) >= 4 and s[3].strip() != "":
        return s[:3] + "." + s[3:]
    return s[:3]


def _run_batch(spark, values, expr):
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], "i long, s string")
    rows = df.select("i", expr("s").alias("out")).collect()
    return [r["out"] for r in sorted(rows, key=lambda r: r["i"])]


@settings(max_examples=10, deadline=None)
@given(st.lists(st.one_of(st.none(), _codes), min_size=1, max_size=50))
def test_normalize_matches_model(spark, values):
    got = _run_batch(spark, values, normalize_code)
    want = [_model_normalize(v) for v in values]
    # Spark trim removes ASCII space only; the model's str.strip() eats
    # all unicode whitespace — normalize comparisons on that subset
    assert [
        g for g, v in zip(got, values) if v is None or v == v.strip() or v.strip(" ") == v.strip()
    ] == [
        w for w, v in zip(want, values) if v is None or v == v.strip() or v.strip(" ") == v.strip()
    ]


@settings(max_examples=10, deadline=None)
@given(st.lists(st.one_of(st.none(), _codes), min_size=1, max_size=50))
def test_root_category_matches_model(spark, values):
    vals = [v for v in values if v is None or v.strip(" ") == v.strip()]
    if not vals:
        return
    got = _run_batch(spark, vals, extract_root_category)
    assert got == [_model_root(v) for v in vals]


@settings(max_examples=10, deadline=None)
@given(st.lists(st.one_of(st.none(), _codes), min_size=1, max_size=50))
def test_format_subcat_matches_model(spark, values):
    vals = [v for v in values if v is None or v.strip(" ") == v.strip()]
    if not vals:
        return
    got = _run_batch(spark, vals, format_subcat)
    assert got == [_model_format_subcat(v) for v in vals]


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.sampled_from(["Estruturada", "DATASUS"])),
        min_size=1,
        max_size=60,
    )
)
def test_priority_dedup_invariants(spark, rows):
    """One survivor per key; survivor has the max priority present for
    its key; survivor set is independent of input order."""
    from cid_etl_spark.operators.dedup import priority_dedup

    df = spark.createDataFrame(
        [(k, f, i) for i, (k, f) in enumerate(rows)], "cid int, fonte string, ord long"
    )
    out = priority_dedup(df, "cid", [F.desc("fonte"), F.asc("ord")])
    got = {(r["cid"], r["fonte"]) for r in out.collect()}
    # unique per key
    assert len({k for k, _ in got}) == len(got)
    best = {}
    for k, f in rows:
        best[k] = max(best.get(k, ""), f)
    assert got == {(k, f) for k, f in best.items()}


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                blacklist_categories=("Cs",), max_codepoint=0x2FF
            ),
            max_size=60,
        ),
        min_size=1,
        max_size=12,
    )
)
def test_text_normalization_is_idempotent(spark, values):
    """clean(clean(x)) == clean(x): the cleaning pass must be a
    projection onto its own image, or re-running a pipeline would keep
    changing bytes (and content hashes) forever."""
    df = spark.createDataFrame([(v,) for v in values], "text string")
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), r"[\x00-\x1f\x7f]", " "), r"\s+", " "
        )
    )
    once = df.select(clean.alias("text"))
    twice = once.select(clean.alias("text"))
    assert [r.text for r in once.collect()] == [r.text for r in twice.collect()]


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.text(alphabet="ab cd\n\t", min_size=0, max_size=120),
        min_size=1,
        max_size=8,
    )
)
def test_chunking_covers_every_token_exactly_once_at_stride_eq_size(spark, values):
    """With stride == chunk size the windows tile the token stream:
    re-concatenating each doc's chunks in offset order must reproduce
    its full token sequence (no token lost, none duplicated)."""
    from cid_etl_spark.functions.text import tokens

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], "doc_id long, text string"
    )
    toks = df.select("doc_id", tokens("text").alias("toks")).filter(
        F.size("toks") > 0
    )
    starts = F.sequence(F.lit(1), F.size("toks"), F.lit(32))
    chunks = toks.select(
        "doc_id",
        F.explode(starts).alias("s"),
        F.col("toks"),
    ).select(
        "doc_id", "s", F.array_join(F.slice("toks", F.col("s"), 32), " ").alias("c")
    )
    rebuilt = (
        chunks.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("s"), F.col("c")))
                    ),
                    lambda x: x.c,
                ),
                " ",
            ).alias("joined")
        )
    )
    expect = {
        r.doc_id: " ".join(r.toks)
        for r in toks.select("doc_id", "toks").collect()
    }
    got = {r.doc_id: r.joined for r in rebuilt.collect()}
    assert got == expect


# Whitespace-adversarial text: every Java ``\s`` character (tab, LF,
# VT, FF, CR, space) plus NBSP, which Java's ``\s`` and Spark's
# space-only ``trim`` both treat as a word character.
_ws_text = st.text(
    alphabet=st.sampled_from(list("abAZ \t\n\x0b\x0c\r\xa0")), max_size=24
)
_WS_EDGES = [
    "", " ", "\t", "\n", "a", "a b", "  a  b  ", "\ta b\n", "a\t\tb\n\nc",
    " \t ", "\n\nx", "x y z w v", "A  B\r\nC",
]


@settings(max_examples=10, deadline=None)
@given(st.lists(_ws_text, min_size=1, max_size=25), st.integers(1, 4))
def test_tokenizer_matches_shingles(spark, values, n):
    """The one sketch tokenizer (``_gram_hashes_exploded``) must yield,
    per text, exactly the hash set of the strings ``shingles()`` builds
    in Spark — for both base hashes the signers use."""
    import hashlib

    import numpy as np
    import pandas as pd

    from cid_etl_spark.operators.dedup import _gram_hashes_exploded, shingles

    texts = values + _WS_EDGES
    rows = (
        spark.createDataFrame(list(enumerate(texts)), "i long, s string")
        .select("i", shingles("s", n).alias("g"))
        .collect()
    )
    grams = [r["g"] for r in sorted(rows, key=lambda r: r["i"])]
    hashers = {
        None: lambda g: pd.util.hash_array(np.asarray(g, dtype=object)).tolist(),
        7: lambda g: [int(hashlib.md5(x.encode()).hexdigest()[:7], 16) for x in g],
        15: lambda g: [int(hashlib.md5(x.encode()).hexdigest()[:15], 16) for x in g],
    }
    for digits, hasher in hashers.items():
        flat, lens = _gram_hashes_exploded(texts, n, digits)
        got = np.split(flat, np.cumsum(lens)[:-1])
        for t, g, h in zip(texts, grams, got):
            assert set(h.tolist()) == set(hasher(g)), (repr(t), n, digits)
