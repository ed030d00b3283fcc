"""Seeded input generators for the benchmark workloads.

Every table is written with pyarrow in the layout of the engine's
testdata (one row group per file, ``timestamp[us]`` without a zone), so
``readers.load_table`` and the DuckDB oracle read the files exactly as
they read the testdata. The same seed gives byte-identical files; the
engine only ever sees the files.

Each workload directory holds all ten testdata tables, because
``oracle.run_oracle`` binds a view over every one of them; the tables a
workload does not query are kept tiny.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("text_corpus", "vector_index")

# Token vocabulary of the engine's sf0.1 ``documents`` table.
SF_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]

# text_corpus shape: originals, near-duplicate copies with a fixed share
# of their tokens substituted, and exact copies. The exact copies keep
# the distinct share near 0.8, well under the 0.95 gate of
# ``dedup.collapse_identical_pairs`` whose HyperLogLog estimate would
# otherwise pick a different plan for different seeds.
TEXT_ORIGINALS = 320
TEXT_NEAR_DUPS = 80
TEXT_EXACT_DUPS = 100
NEAR_DUP_TOKEN_FRACTION = 0.1

# vector_index shape.
VEC_DIM = 32
VEC_CLUSTERS = 16
VEC_BASE = 10_000
VEC_QUERIES = 200
VEC_APPEND = 500
VEC_APPEND_BATCHES = 64
QUERY_ID_BASE = 1_000_000_000

# Rows of each table no workload queries (only the oracle binds them).
SIDE_ROWS = 50

_EPOCH_1995 = datetime.datetime(1995, 1, 1)
_EPOCH_2024 = datetime.datetime(2024, 1, 1)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _days(rng, base: datetime.datetime, lo: int, hi: int, n: int) -> pa.Array:
    us = (base - datetime.datetime(1970, 1, 1)) // datetime.timedelta(microseconds=1)
    d = rng.integers(lo, hi, n).astype(np.int64)
    return pa.array(us + d * 86_400_000_000, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def side_tables(rng, n: int) -> dict[str, pa.Table]:
    """The testdata's TPC-H-ish star schema plus its ``events`` stream
    table, ``n`` rows each (the fixed ``region`` and ``nation`` aside)."""
    n_c = n_s = n_p = n_o = n_l = n_e = n
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
    }
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_c
        ).tolist(),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_s),
    })
    adj = rng.choice(["blue", "cold", "hot", "large", "new", "old", "red", "small"], n_p)
    noun = rng.choice(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"], n_p)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_p), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_p)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_p
        ).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_p) % 1000) / 10.0, 2),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_o).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_o),
        "o_orderdate": _days(rng, _EPOCH_1995, 0, 2404, n_o),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_o
        ).tolist(),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_o, n_l), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_p, n_l), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_s, n_l), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_l),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_l).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_l).tolist(),
        "l_shipdate": _days(rng, _EPOCH_1995, 1, 2500, n_l),
    })
    start_us = (_EPOCH_2024 - datetime.datetime(1970, 1, 1)) // datetime.timedelta(
        microseconds=1
    )
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_e)) + start_us
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_e), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_e), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_e).tolist(),
        "value": _money(rng, 0.01, 490.02, n_e),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)],
    })
    return out


def corpus_vocab() -> list[str]:
    """sf0.1 vocabulary plus every entity alias the graph queries match."""
    from bigdataproject_spark.queries_graph import DOC_ALIASES

    return sorted(set(SF_VOCAB) | set(DOC_ALIASES))


def documents_table(
    rng, vocab: list[str], originals: int, near_dups: int, exact_dups: int
) -> pa.Table:
    """``originals`` documents of uniform random tokens whose lengths
    step evenly through 10-100; each near-duplicate copies an evenly
    spaced original with exactly ``NEAR_DUP_TOKEN_FRACTION`` of its
    tokens replaced by other words; exact copies repeat other evenly
    spaced originals. The seed picks the tokens, the substitutions and
    the order of languages and documents; the corpus shape (lengths,
    copy structure, language counts) is the same for every seed, so a
    seed changes the content but not the amount of work."""
    words = np.array(vocab)
    lengths = 10 + (np.arange(originals) * 91) // originals
    cum = np.cumsum(LANG_P)
    langs = np.array(LANGS)[np.searchsorted(cum, (np.arange(originals) + 0.5) / originals)]
    docs = [
        (words[rng.integers(0, len(words), n)], str(lang))
        for n, lang in zip(lengths, rng.permutation(langs))
    ]
    for j in range(near_dups):
        toks, lang = docs[j * originals // near_dups]
        toks = toks.copy()
        k = max(1, round(NEAR_DUP_TOKEN_FRACTION * len(toks)))
        for pos in rng.choice(len(toks), k, replace=False):
            others = words[words != toks[pos]]
            toks[pos] = others[rng.integers(0, len(others))]
        docs.append((toks, lang))
    for j in range(exact_dups):
        docs.append(docs[j * originals // exact_dups + 1])
    order = rng.permutation(len(docs))
    texts = [" ".join(docs[i][0]) for i in order]
    return pa.table({
        "doc_id": pa.array(np.arange(len(texts)), pa.int64()),
        "text": texts,
        "lang": [docs[i][1] for i in order],
        "source": [f"src{i % 20}" for i in range(len(texts))],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def vectors_table(rng, centers: np.ndarray, n: int, first_id: int) -> pa.Table:
    """``n`` vectors spread evenly over ``centers`` (Gaussian noise),
    in random order."""
    labels = rng.permutation(np.arange(n) % len(centers))
    v = centers[labels] + 0.3 * rng.standard_normal((n, centers.shape[1]))
    v = v.astype(np.float32)
    flat = pa.array(v.ravel(), pa.float32())
    offsets = pa.array(np.arange(0, v.size + 1, v.shape[1], dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels, pa.int32()),
    })


def generate(workload: str, seed: int, out_dir: str) -> dict[str, int]:
    """Write ``workload``'s inputs for ``seed`` under ``out_dir``;
    returns the row count of every file written."""
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    os.makedirs(out_dir, exist_ok=True)
    tables = side_tables(rng, SIDE_ROWS)
    vocab = corpus_vocab()
    if workload == "text_corpus":
        tables["documents"] = documents_table(
            rng, vocab, TEXT_ORIGINALS, TEXT_NEAR_DUPS, TEXT_EXACT_DUPS
        )
    else:
        tables["documents"] = documents_table(rng, vocab, SIDE_ROWS, 0, 0)
    centers = rng.standard_normal((VEC_CLUSTERS, VEC_DIM))
    n_base = VEC_BASE if workload == "vector_index" else SIDE_ROWS
    tables["embeddings"] = vectors_table(rng, centers, n_base, 0)
    if workload == "vector_index":
        tables["queries"] = vectors_table(rng, centers, VEC_QUERIES, QUERY_ID_BASE)
        for b in range(VEC_APPEND_BATCHES):
            tables[f"append_{b:03d}"] = vectors_table(
                rng, centers, VEC_APPEND, n_base + b * VEC_APPEND
            )
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}

