"""Seeded input generator for the benchmark.

Writes, into one directory:

- the ten star-schema / corpus tables as single-row-group parquet files,
  with the footer schemas, value domains and key referential integrity
  of the repository's fixture family (see FIXTURES.md §B);
- a CID-10 catalog in both dialects: the five combined-mode CSVs
  (``,``-separated UTF-8) and the four official DataSUS CSVs
  (``;``-separated latin1), planting the reference's traps;
- ``manifest.json``: row counts and file bytes per input (the bases of
  ``rows_per_s`` and ``sources.scan_amplification``) plus the CID
  ground truth the output checks compare against.

The same seed gives identical bytes; a different seed gives different
rows.  Only numpy, pyarrow and the standard library are used, so
generation needs no Spark.
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import json
import os
import random
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Star-schema scale factor: lineitem has 6,000,000 × SF rows.
SF = 0.01

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "fr", "es", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
_EMBED_DIM = 64

_DAY_US = 86_400_000_000
_EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return int((d - _EPOCH).total_seconds()) * 1_000_000


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), type=pa.timestamp("us"))


def star_tables(seed: int) -> dict[str, pa.Table]:
    """The ten fixture tables at scale :data:`SF`, drawn from *seed*."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n_cust = int(150_000 * SF)
    n_supp = int(10_000 * SF)
    n_part = int(200_000 * SF)
    n_ord = int(1_500_000 * SF)
    n_line = int(6_000_000 * SF)
    n_evt = int(1_000_000 * SF)
    n_user = int(15_000 * SF)
    n_doc = max(250, int(25_000 * SF))
    n_vec = max(500, int(20_000 * SF))
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adj = rng.choice(_PART_ADJ, n_part)
    noun = rng.choice(_PART_NOUN, n_part)
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    o_lo, o_hi = _us(dt.datetime(1995, 1, 1)) // _DAY_US, _us(dt.datetime(2001, 8, 1)) // _DAY_US
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ts(rng.integers(o_lo, o_hi + 1, n_ord) * _DAY_US),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    l_lo, l_hi = _us(dt.datetime(1995, 1, 2)) // _DAY_US, _us(dt.datetime(2001, 11, 4)) // _DAY_US
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(rng.integers(l_lo, l_hi + 1, n_line) * _DAY_US),
    })
    e_lo = _us(dt.datetime(2024, 1, 1))
    ts = np.sort(rng.integers(e_lo, e_lo + 30 * _DAY_US, n_evt))
    t["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype="int64"),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_user, n_evt).astype("int64"),
        "event_type": rng.choice(_EVENT_TYPES, n_evt),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_evt), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    t["documents"] = _documents(rng, n_doc)
    vec = rng.standard_normal((n_vec, _EMBED_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype="int64"),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype("int32"),
    })
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random-word documents; about 5% are near-duplicates (another
    document's text plus a trailing ``dup`` token) and about 1% are
    exact copies, so the dedup pipelines have pairs to find."""
    texts = [
        " ".join(rng.choice(_VOCAB, int(k))) for k in rng.integers(10, 101, n)
    ]
    kind = rng.random(n)
    other = rng.integers(0, n, n)
    for i in range(n):
        if kind[i] < 0.05:
            texts[i] = texts[other[i]] + " dup"
        elif kind[i] < 0.06:
            texts[i] = texts[other[i]]
    return pa.table({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype="int64"),
    })


# ---------------------------------------------------------------------------
# CID-10 catalog
# ---------------------------------------------------------------------------

_WORDS_PT = (
    "doença infecção neoplasia lesão transtorno síndrome fratura "
    "intoxicação malformação hepatite diarréia pneumonia anemia "
    "crônica aguda não especificada outras localização órgão"
).split()
_LETTERS = string.ascii_uppercase


def _cat_code(i: int) -> str:
    return f"{_LETTERS[i // 100]}{i % 100:02d}"


def _title(r: random.Random, n: int = 3) -> str:
    return " ".join(r.choice(_WORDS_PT) for _ in range(n)).capitalize()


def _ascii(s: str) -> str:
    return s.encode("ascii", "ignore").decode()


def _messy(r: random.Random, code: str) -> str:
    """Mixed case and surrounding spaces: the normalize_code trap."""
    c = code.lower() if r.random() < 0.5 else code
    return " " * r.randint(0, 2) + c + " " * r.randint(1, 2)


def _format_subcat(raw: str) -> str:
    """Reference rule: upper(trim(code)); dot after the 3rd character
    when a non-blank 4th character follows, else the 3-char code."""
    s = raw.strip(" ").upper()
    if len(s) >= 4 and not s[3].isspace():
        return s[:3] + "." + s[3:]
    return s[:3]


def cid_catalog(seed: int) -> dict:
    """Draw one CID-10-shaped catalog: 22 chapters, nested blocks,
    categories and subcategories, plus the DATASUS flat list.  Returns
    the raw rows of both dialects and the expected outputs."""
    r = random.Random(seed * 7919 + 17)
    space = 26 * 100
    # 22 chapters tile the code space; blocks tile each chapter except
    # for small planted gaps (categories there have no block).
    cuts = sorted(r.sample(range(1, space), 21))
    chap_bounds = list(zip([0] + cuts, [c - 1 for c in cuts] + [space - 1]))
    chapters, blocks = [], []
    for lo, hi in chap_bounds:
        chapters.append((lo, hi, _title(r, 4)))
        n_blk = max(1, min(hi - lo + 1, r.randint(8, 16)))
        inner = sorted(r.sample(range(lo + 1, hi + 1), n_blk - 1)) if n_blk > 1 else []
        for blo, bhi in zip([lo] + inner, [c - 1 for c in inner] + [hi]):
            if bhi > blo and r.random() < 0.04:
                bhi -= 1  # leave the last code of this block uncovered
            blocks.append((blo, bhi, _title(r, 3)))
    block_of = {}
    for blo, bhi, _ in blocks:
        for c in range(blo, bhi + 1):
            block_of[c] = (blo, bhi)
    chapter_of = {c: (lo, hi) for lo, hi, _ in chapters for c in range(lo, hi + 1)}
    cats = sorted(r.sample(range(space), int(space * 0.8)))
    cat_set = set(cats)
    rid = lambda lo, hi: f"{_cat_code(lo)}-{_cat_code(hi)}"  # noqa: E731

    # ---- combined mode (structured CSVs + DATASUS list) ----------------
    c_chapters = [[rid(lo, hi), _ascii(t)] for lo, hi, t in chapters]
    c_blocks = [[rid(lo, hi), _ascii(t), rid(*chapter_of[lo])] for lo, hi, t in blocks]
    c_categories = []
    for c in cats:  # a category in a block gap has an empty block_id
        blk = block_of.get(c)
        c_categories.append([
            _cat_code(c), _ascii(_title(r)), rid(*blk) if blk else "", rid(*chapter_of[c]),
        ])
    has_hier = {c: c in block_of for c in cats}
    orphan_cats = [c for c in range(space) if c not in cat_set]
    c_subs, structured = [], {}
    for c in cats:
        for d in sorted(r.sample(range(10), r.randint(3, 10))):
            code = f"{_cat_code(c)}.{d}"
            raw = _messy(r, code) if r.random() < 0.05 else code
            c_subs.append([raw, _ascii(_title(r)), _cat_code(c)])
            structured[code] = has_hier[c]
    for c in r.sample(orphan_cats, 40):  # category missing from categories.csv
        code = f"{_cat_code(c)}.{r.randint(0, 9)}"
        if code not in structured:
            c_subs.append([code, _ascii(_title(r)), _cat_code(c)])
            structured[code] = False
    r.shuffle(c_subs)
    datasus, ds_codes = [], {}
    s_codes = list(structured)
    for code in r.sample(s_codes, len(s_codes) // 3):  # cross-source duplicates
        datasus.append([_messy(r, code) if r.random() < 0.3 else code, _ascii(_title(r))])
        ds_codes[code] = structured[code]
    for c in r.sample(cats, len(cats) // 2):  # DATASUS-only, hierarchy via map
        code = f"{_cat_code(c)}.{r.randint(0, 9)}" if r.random() < 0.7 else _cat_code(c)
        if code not in structured:
            datasus.append([_messy(r, code) if r.random() < 0.3 else code, _ascii(_title(r))])
            ds_codes[code] = has_hier[c]
    for c in r.sample(orphan_cats, 60):  # no hierarchy anywhere
        code = f"{_cat_code(c)}.{r.randint(0, 9)}"
        if code not in structured:
            datasus.append([code, _ascii(_title(r))])
            ds_codes[code] = False
    for row in r.sample(datasus, 20):  # same-source duplicates
        datasus.append([row[0].strip(), _ascii(_title(r))])
    r.shuffle(datasus)
    merged = dict(ds_codes)
    merged.update(structured)
    combined_truth = {
        "total": len(merged),
        "missing_hierarchy": sum(1 for ok in merged.values() if not ok),
        "both_sources": sorted(set(structured) & set(ds_codes)),
    }

    # ---- official mode (DataSUS ;/latin1 CSVs) -------------------------
    o_chapters = [[_cat_code(lo), _cat_code(hi), t] for lo, hi, t in chapters]
    o_blocks = [[_cat_code(lo), _cat_code(hi), t] for lo, hi, t in blocks]
    o_categories = [[_cat_code(c), _title(r)] for c in cats]
    o_subs = []
    official: dict[str, bool] = {}
    for c in cats:
        if r.random() < 0.15:  # 3-char SUBCAT, half of them with a blank 4th char
            raws = [_cat_code(c) + (" " if r.random() < 0.5 else "")]
        else:
            raws = [f"{_cat_code(c)}{d}" for d in sorted(r.sample(range(10), r.randint(3, 10)))]
            raws = [_messy(r, x) if r.random() < 0.05 else x for x in raws]
        for raw in raws:
            o_subs.append([raw, _title(r)])
            official[_format_subcat(raw)] = has_hier[c]
    for c in r.sample(orphan_cats, 30):  # SUBCAT whose category is absent
        raw = f"{_cat_code(c)}{r.randint(0, 9)}"
        o_subs.append([raw, _title(r)])
        official[_format_subcat(raw)] = False
    r.shuffle(o_subs)
    official_truth = {
        "total": len(official),
        "missing_hierarchy": sum(1 for ok in official.values() if not ok),
        "both_sources": sorted(official),
    }
    return {
        "combined": {
            "chapters": (["chapter_code", "chapter_title"], c_chapters),
            "blocks": (["block_id", "block_title", "chapter_code"], c_blocks),
            "categories": (
                ["category_code", "category_title", "block_id", "chapter_code"], c_categories,
            ),
            "subcategories": (
                ["subcategory_code", "subcategory_title", "category_code"], c_subs,
            ),
            "datasus": (["codigo", "descricao"], datasus),
        },
        "official": {
            "CID-10-CAPITULOS": (["CATINIC", "CATFIM", "DESCRICAO"], o_chapters),
            "CID-10-GRUPOS": (["CATINIC", "CATFIM", "DESCRICAO"], o_blocks),
            "CID-10-CATEGORIAS": (["CAT", "DESCRICAO"], o_categories),
            "CID-10-SUBCATEGORIAS": (["SUBCAT", "DESCRICAO"], o_subs),
        },
        "truth": {"combined": combined_truth, "official": official_truth},
    }


def _csv_bytes(header: list[str], rows: list[list[str]], sep: str, encoding: str) -> bytes:
    buf = io.StringIO(newline="")
    w = csv.writer(buf, delimiter=sep, lineterminator="\n")
    w.writerow(header)
    w.writerows(rows)
    return buf.getvalue().encode(encoding)


def _write(path: str, data: bytes) -> int:
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def generate(out_dir: str, seed: int) -> dict:
    """Write every input for *seed* into *out_dir* and return the
    manifest (also written as ``manifest.json``)."""
    os.makedirs(out_dir, exist_ok=True)
    inputs: dict[str, dict] = {}
    for name, table in star_tables(seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=len(table) or 1, compression="snappy")
        inputs[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    cat = cid_catalog(seed)
    os.makedirs(os.path.join(out_dir, "cid_official"), exist_ok=True)
    for name, (header, rows) in cat["combined"].items():
        n = _write(os.path.join(out_dir, f"{name}.csv"), _csv_bytes(header, rows, ",", "utf-8"))
        inputs[f"{name}.csv"] = {"rows": len(rows), "bytes": n}
    for name, (header, rows) in cat["official"].items():
        path = os.path.join(out_dir, "cid_official", f"{name}.csv")
        n = _write(path, _csv_bytes(header, rows, ";", "latin-1"))
        inputs[f"cid_official/{name}.csv"] = {"rows": len(rows), "bytes": n}
    manifest = {"seed": seed, "sf": SF, "inputs": inputs, "cid_truth": cat["truth"]}
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest

