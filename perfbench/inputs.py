"""Seeded benchmark inputs.

Everything the program under test reads is generated here from the
workload seed, so the same seed always gives byte-identical inputs and two
seeds give different ones:

- ``doc_window`` picks the ``datagen.doc_row`` index range a KG build
  reads. Ids stay monotone (``doc-%08d``), so windows never overlap
  within one seed and the fold contract of the engine holds.
- ``write_docs`` writes that window as a partitioned parquet table, the
  shape ``bench.py`` gives the build.
- ``write_suite_tables`` writes the ten tables the suite queries register
  with the shapes of the suite's sf0.1 tables (row ratios, key and value
  distributions, document text, embeddings), scaled to ``sf``.
- ``write_documents`` writes a corpus for the dedup operators, whose
  vocabulary keeps unrelated documents apart (see its docstring).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# doc_row index space: ids are "doc-%08d", so keep every window below 1e8
_WINDOW_SLOTS = 10_007


def doc_window(seed: int, n_docs: int) -> tuple[int, int]:
    """[lo, hi) doc_row indexes for ``seed``: a seed-picked slot of the id
    space, disjoint from every other slot."""
    lo = (seed % _WINDOW_SLOTS) * n_docs
    if lo + n_docs >= 10**8:
        raise ValueError("doc window leaves the 8-digit doc id space")
    return lo, lo + n_docs


def write_docs(path: str, lo: int, hi: int, n_entities: int, n_files: int) -> None:
    """Interleaved-documents table (datagen.doc_row rows lo..hi-1) as
    ``n_files`` parquet files under directory ``path``, consecutive id
    slices, so the build scans it as ``n_files`` partitions."""
    from chatvector_ai_spark.datagen import doc_row

    os.makedirs(path, exist_ok=True)
    schema = pa.schema([
        ("doc_id", pa.string()),
        ("spans", pa.list_(pa.struct([
            ("kind", pa.string()), ("text", pa.string()),
            ("media_ref", pa.string()), ("offset", pa.int32()),
        ]))),
        ("tenant_id", pa.string()),
    ])
    bounds = np.linspace(lo, hi, n_files + 1).astype(int)
    for k in range(n_files):
        rows = [doc_row(i, n_entities) for i in range(bounds[k], bounds[k + 1])]
        pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                       os.path.join(path, f"part-{k:05d}.parquet"))


# --- suite tables -------------------------------------------------------------

# the 30 words of the sf0.1 documents, drawn uniformly
_WORDS = ("key agg row scan slow fast table value part hash merge batch spark "
          "line sort window join small big order query column data stream "
          "filter group vector customer the a").split()
_PART_ADJ = "small red blue hot old large cold new".split()
_PART_NOUN = "ring widget bolt gear gizmo plate anvil rod".split()
_SEGMENTS = "AUTOMOBILE BUILDING FURNITURE HOUSEHOLD MACHINERY".split()
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
_PART_TYPES = ["ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO"]
_DUP_FRAC = 0.05  # share of documents that copy another one plus " dup"


def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    micros = (seconds * 1e6).astype("int64")
    base_us = int(base.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    return pa.array(base_us + micros, type=pa.timestamp("us"))


def _suite_documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Documents shaped like the sf0.1 table: 10-100 words drawn uniformly
    from 30, source ``src<doc_id mod 20>``, 41% ``en``; 5% are an earlier
    document's text plus " dup" (so a few are exact duplicates of each
    other, and chains give " dup dup")."""
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < _DUP_FRAC:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_tok = int(rng.integers(10, 101))
            texts.append(" ".join(_WORDS[k] for k in rng.integers(0, len(_WORDS), n_tok)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array([_LANGS[k] for k in rng.choice(len(_LANGS), size=n, p=_LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    })


def write_suite_tables(sf_dir: str, seed: int, sf: float) -> None:
    """The ten suite tables at scale factor ``sf``, seeded, with the row
    ratios and column distributions measured on the suite's sf0.1 tables:
    uniform foreign keys, 6M·sf lineitems, 15k·sf customers, 1M·sf events
    over 30 days by 15k·sf users, 50k·sf documents, and unit-length 64-d
    embeddings (2,000 at sf0.1, 500 at sf0.01)."""
    rng = np.random.default_rng(seed)
    os.makedirs(sf_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs, n_emb = max(10, int(15_000 * sf)), int(50_000 * sf), max(500, int(20_000 * sf))

    def money(lo, hi, size):
        return np.round(rng.uniform(lo, hi, size), 2)

    emb = rng.normal(0.0, 1.0, (n_emb, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype="int32")),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype="int32")),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype="int32") % 5),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
            "s_acctbal": money(-999, 9999, n_supp),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
            "c_acctbal": money(-999, 9999, n_cust),
            "c_mktsegment": [_SEGMENTS[k] for k in rng.integers(0, 5, n_cust)],
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part, dtype="int64")),
            "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in
                       zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
            "p_type": [_PART_TYPES[k] for k in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
            "p_retailprice": money(900, 1000, n_part),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype("int64")),
            "o_orderstatus": [("F", "O", "P")[k] for k in rng.integers(0, 3, n_ord)],
            "o_totalprice": money(1000, 500000, n_ord),
            "o_orderdate": _ts(dt.datetime(1995, 1, 1), rng.integers(0, 2404, n_ord) * 86400.0),
            "o_orderpriority": [_PRIORITIES[k] for k in rng.integers(0, 5, n_ord)],
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype("int64")),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype("int64")),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype("int64")),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype("int32")),
            "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
            "l_extendedprice": money(900, 105000, n_line),
            "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
            "l_returnflag": [("A", "N", "R")[k] for k in rng.integers(0, 3, n_line)],
            "l_linestatus": [("F", "O")[k] for k in rng.integers(0, 2, n_line)],
            "l_shipdate": _ts(dt.datetime(1995, 1, 2), rng.integers(0, 2498, n_line) * 86400.0),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev, dtype="int64")),
            "ts": _ts(dt.datetime(2024, 1, 1),
                      np.cumsum(rng.exponential(30 * 86400 / n_ev, n_ev))),
            "user_id": pa.array(rng.integers(0, n_users, n_ev).astype("int64")),
            "event_type": [_EVENT_TYPES[k] for k in rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }),
        "documents": _suite_documents(rng, n_docs),
        "embeddings": pa.table({
            "vec_id": pa.array(np.arange(n_emb, dtype="int64")),
            "embedding": pa.array(list(emb.astype("float32")), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb).astype("int32")),
        }),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))


# --- dedup corpus -------------------------------------------------------------


def write_documents(path: str, seed: int, n_docs: int) -> None:
    """A corpus for ``dedup_corpus``/``dedup_fold``, as
    ``<path>/documents.parquet``: ~8% exact and ~12% near duplicates (one
    or two token edits) of earlier docs in the same source; the rest draw
    30-90 tokens from a 3,000-word Zipf(0.6) vocabulary. The suite's
    30-word documents do not serve here: dedup compares token *sets*, and
    any two of those documents longer than ~60 words share nearly all 30
    words, so a dedup pass would keep one long document per source."""
    rng = np.random.default_rng(seed)
    vocab = _WORDS + [f"w{i}" for i in range(3000)]
    p = 1.0 / np.arange(1, len(vocab) + 1) ** 0.6
    p /= p.sum()
    texts: list[str] = []
    sources: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i >= 20 and r < 0.20:
            j = int(rng.integers(0, i))
            src = sources[j]
            toks = texts[j].split()
            if r >= 0.08:  # near duplicate: one or two token edits
                for _ in range(1 + int(rng.integers(0, 2))):
                    toks[int(rng.integers(0, len(toks)))] = vocab[int(rng.choice(len(vocab), p=p))]
            text = " ".join(toks)
        else:
            src = f"src{int(rng.integers(0, 20))}"
            n_tok = int(rng.integers(30, 90))
            text = " ".join(vocab[k] for k in rng.choice(len(vocab), size=n_tok, p=p))
        texts.append(text)
        sources.append(src)
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array([_LANGS[k] for k in rng.integers(0, len(_LANGS), n_docs)]),
        "source": pa.array(sources),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    }), os.path.join(path, "documents.parquet"))
