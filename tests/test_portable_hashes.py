"""Bit-for-bit parity of the PORTABLE (md5-derived) hash families against
plain-Python references computed with hashlib — the property that makes the
minhash-LSH and simhash registry queries cross-engine hash-checkable.

MinHash has one member family, ``(A_i·(sh mod P) + B_i) mod P``; only the
shingle kernel differs (portable md5 shingles, xxhash64 shingles, or
string shingles hashed to a long first), and all three are pinned to the
brute-force Jaccard pairs here. SimHash has one family too, 60 bits
parsed from md5. These tests pin the portable arithmetic so a refactor
can't silently diverge from the DuckDB oracles (which share the same
generator, bigdataproject_spark.operators.dedup).
"""

from __future__ import annotations

import hashlib
import itertools
import random

import pytest

from pyspark.sql import functions as F

from bigdataproject_spark.operators.dedup import (
    MINHASH_P,
    hashed_word_shingles,
    lsh_band_rows,
    minhash_coefficients,
    minhash_lsh_dedup_pairs,
    portable_hash48,
    portable_hashed_shingles,
    simhash_neardup_pairs,
    simhash_table,
)
from string_shingles import word_shingles

DOCS = [
    (1, ["the", "quick", "brown", "fox", "jumps"]),
    (2, ["the", "quick", "brown", "fox", "jumped"]),
    (3, []),  # zero tokens: fingerprint must be 0, no crash
    (4, ["completely", "different", "tokens", "here", "now"]),
    (5, ["the", "quick", "brown", "fox", "jumps"]),  # exact dup of 1
    (6, ["solo"]),  # < shingle width: empty shingle set
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "id bigint, tokens array<string>")


def _py_simhash60(tokens: list[str]) -> int:
    votes = [0] * 60
    for tok in tokens:
        h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
        for b in range(60):
            votes[b] += 1 if (h >> b) & 1 else -1
    return sum((1 << b) for b in range(60) if votes[b] > 0)


def test_simhash_md5_matches_python_reference(docs_df):
    got = {
        r["id"]: r["fp"]
        for r in simhash_table(docs_df, id_col="id", tokens="tokens").collect()
    }
    for doc_id, tokens in DOCS:
        assert got[doc_id] == _py_simhash60(tokens), doc_id
    assert got[3] == 0  # empty docs keep the empty fingerprint
    assert all(0 <= fp < (1 << 60) for fp in got.values())


def test_simhash_md5_neardup_finds_exact_dups(docs_df):
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_neardup_pairs(
            docs_df, id_col="id", tokens="tokens", max_hamming=3, bands=4
        ).collect()
    }
    assert pairs[(1, 5)] == 0
    assert all(h <= 3 for h in pairs.values())


def _py_h48(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)


def test_portable_shingle_hashes_match_python_reference(docs_df):
    str_sh = {r["id"]: r["sh"] for r in docs_df.select(
        "id", word_shingles("tokens", 3).alias("sh")).collect()}
    hashed = {r["id"]: r["sh"] for r in docs_df.select(
        "id", portable_hashed_shingles("tokens", 3).alias("sh")).collect()}
    for doc_id, shingles in str_sh.items():
        assert sorted(hashed[doc_id]) == sorted({_py_h48(s) for s in shingles})


def test_minhash_md5_band_keys_match_python_reference(docs_df):
    coeffs = minhash_coefficients(8)
    sh_docs = docs_df.select(
        "id", portable_hashed_shingles("tokens", 3).alias("sh")
    )
    sh_map = {r["id"]: r["sh"] for r in sh_docs.collect()}
    rows = lsh_band_rows(
        sh_docs, id_col="id", shingles_col="sh", num_hashes=8, bands=2,
    ).collect()
    assert rows, "non-empty docs must emit band rows"
    for r in rows:
        sig = [
            min((a * (s % MINHASH_P) + b) % MINHASH_P for s in sh_map[r["id"]])
            for a, b in coeffs
        ]
        expect = "|".join(
            str(v) for v in sig[r["band_id"] * 4 : (r["band_id"] + 1) * 4]
        )
        assert r["band_hash"] == expect, (r["id"], r["band_id"])
    # docs with no shingles (3: zero tokens, 6: < n tokens) emit nothing
    assert {r["id"] for r in rows} == {1, 2, 4, 5}


def test_minhash_md5_pipeline_verifies_jaccard(docs_df):
    sh_docs = docs_df.select(
        "id", portable_hashed_shingles("tokens", 3).alias("sh")
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_lsh_dedup_pairs(
            sh_docs, id_col="id", shingles_col="sh", threshold=0.5,
            num_hashes=32, bands=8,
        ).collect()
    }
    assert pairs[(1, 5)] == 1.0
    assert all(j >= 0.5 for j in pairs.values())


def test_shingle_kernels_find_the_same_verified_pairs(spark):
    """The one MinHash family serves every shingle kernel, so pin that
    they agree. Both hashed kernels stay (sf10-class receipt in ROADMAP:
    the portable shingle kernel costs ~4x the xxhash64 one), and string
    shingles enter through an xxhash64 base. On exact copies, one-token
    edits (Jaccard 27/29) and unrelated docs, each kernel's verified
    pairs equal the brute-force Jaccard pairs. A pair at J = 27/29
    misses all 8 bands of 4 rows with probability (1 - J^4)^8 < 2e-5."""
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(50)]
    rows = []
    for base in range(12):
        toks = [rng.choice(vocab) for _ in range(30)]
        rows += [
            (base * 10 + 1, toks),
            (base * 10 + 2, list(toks)),  # exact copy
            (base * 10 + 3, toks[:-1] + ["edited"]),  # one-token edit
        ]
    df = spark.createDataFrame(rows, "id bigint, tokens array<string>")

    def shingles(t):
        return {" ".join(t[i : i + 3]) for i in range(len(t) - 2)}

    expect = {}
    for (a, ta), (b, tb) in itertools.combinations(rows, 2):
        sa, sb = shingles(ta), shingles(tb)
        if len(sa & sb) / len(sa | sb) >= 0.8:
            expect[(a, b)] = len(sa & sb) / len(sa | sb)
    assert len(expect) == 36  # 3 pairs per base doc
    for kernel in (hashed_word_shingles, portable_hashed_shingles, word_shingles):
        sh = df.select("id", kernel("tokens", 3).alias("sh"))
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in minhash_lsh_dedup_pairs(
                sh, id_col="id", shingles_col="sh", threshold=0.8,
            ).collect()
        }
        assert got == pytest.approx(expect), kernel.__name__


def test_minhash_coefficients_deterministic_and_in_field():
    a = minhash_coefficients(32)
    b = minhash_coefficients(32)
    assert a == b
    assert len(set(a)) == 32
    for A, B in a:
        assert 1 <= A < MINHASH_P
        assert 0 <= B < MINHASH_P


def test_portable_hll_raw_branch_parity_high_cardinality(spark):
    """Cross-engine parity of the HLL's RAW-estimate branch (e_raw, the
    1.04/sqrt(m) regime) — every repo dataset stays under the 2.5·m
    linear-counting switch-over, so without this test the isum fold /
    shiftleft / bin()-rank arithmetic would ship unexercised. 60k
    distinct values forces the raw branch in both engines; the two
    estimates must agree EXACTLY (that is the portability claim), and
    both must sit within the sketch's nominal error of the truth."""
    import duckdb

    from bigdataproject_spark.operators.sketches import (
        HLL_M,
        hll_count_distinct,
        hll_oracle_cte,
    )

    n = 60_000
    df = spark.range(n).select(F.lit("k").alias("k"), F.col("id").alias("v"))
    spark_est = hll_count_distinct(df, key="k", value_col="v").collect()[0][
        "approx_users"
    ]
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW t AS SELECT 'k' AS k, CAST(range AS BIGINT) AS v"
        f" FROM range({n})"
    )
    duck_est = con.sql(
        hll_oracle_cte(table="t", key="k", value_col="v")
    ).fetchall()[0][1]
    assert spark_est == duck_est, (spark_est, duck_est)
    assert spark_est > 2.5 * HLL_M  # genuinely the raw branch
    assert abs(spark_est - n) / n <= 0.05
