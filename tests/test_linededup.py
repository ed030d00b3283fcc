"""Corpus-level line dedup (operators/linededup.py): unit semantics,
keep-first convention, whitespace preservation, DuckDB oracle parity."""

from __future__ import annotations

import duckdb

from pyspark.sql import functions as F

from bigdataproject_spark.operators import spandedup
from bigdataproject_spark.operators.linededup import _hot_stats, dedup_lines

ROWS = [
    (1, "COOKIE BANNER\nreal content one\n\nfooter text"),
    (2, "cookie banner\nreal content two\nfooter text"),
    (3, "unique document\nwith its own lines"),
    (4, "footer text"),
    (5, ""),
]


def _docs(spark):
    return spark.createDataFrame(ROWS, "doc_id long, text string")


def test_drop_all_occurrences(spark):
    out = {r["doc_id"]: r["text"] for r in dedup_lines(_docs(spark)).collect()}
    # 'cookie banner' (case-normalized) ×2 and 'footer text' ×3 are hot;
    # blank lines survive; original casing survives on kept lines
    assert out[1] == "real content one\n"
    assert out[2] == "real content two"
    assert out[3] == "unique document\nwith its own lines"
    assert out[4] == ""
    assert out[5] == ""
    assert set(out) == {1, 2, 3, 4, 5}


def test_keep_first_occurrence(spark):
    out = {
        r["doc_id"]: r["text"]
        for r in dedup_lines(_docs(spark), keep_first=True).collect()
    }
    # globally-first occurrence survives: doc 1's banner and footer
    assert out[1] == "COOKIE BANNER\nreal content one\n\nfooter text"
    assert out[2] == "real content two"
    assert out[4] == ""


def test_hot_lines_audit(spark):
    hot = _hot_stats(
        _docs(spark), id_col="doc_id", text_col="text", min_count=2
    ).collect()
    assert sorted(r["_n"] for r in hot) == [2, 3]


def test_min_count_threshold(spark):
    out = {
        r["doc_id"]: r["text"]
        for r in dedup_lines(_docs(spark), min_count=3).collect()
    }
    # only 'footer text' (×3) is hot at min_count=3
    assert out[1] == "COOKIE BANNER\nreal content one\n"
    assert out[2] == "cookie banner\nreal content two"


def test_other_columns_pass_through(spark):
    docs = _docs(spark).withColumn("lang", __import__("pyspark").sql.functions.lit("en"))
    out = dedup_lines(docs)
    assert out.columns == docs.columns
    assert out.count() == 5


def test_crlf_normalized(spark):
    """CRLF corpora: counting pools CRLF/LF variants of one line, and
    rebuilt documents come back LF-normalized with no stray '\\r'."""
    docs = spark.createDataFrame(
        [
            (1, "banner\r\nkeep one\r\ntail"),
            (2, "banner\nkeep two\ntail"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["text"] for r in dedup_lines(docs).collect()}
    # 'banner' and 'tail' are hot across the CRLF/LF variants
    assert out[1] == "keep one"
    assert out[2] == "keep two"
    assert "\r" not in out[1]


def test_lone_cr_normalized(spark):
    """Classic-Mac (lone \\r) and trailing-CR-without-LF variants pool
    with their LF twins in counting, and no bare '\\r' survives into
    rebuilt text."""
    docs = spark.createDataFrame(
        [
            (1, "banner\rkeep one\rtail"),        # lone-CR line endings
            (2, "banner\nkeep two\ntail\r"),      # trailing CR, no LF
            (3, "banner\r\nkeep three"),          # CRLF control
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["text"] for r in dedup_lines(docs).collect()}
    # 'banner' ×3 and 'tail' ×2 pool across \r / \n / \r\n variants
    assert out[1] == "keep one"
    assert out[2] == "keep two\n"  # trailing CR became an empty last line
    assert out[3] == "keep three"
    assert all("\r" not in t for t in out.values())


def test_zipf_hot_line_stress(spark):
    """Skew-shape stress: one boilerplate line in EVERY document (the
    cookie-banner case). keep_first must survive without a per-key
    window — the first global occurrence is kept, all others dropped,
    and unique lines pass through untouched."""
    n = 2000
    docs = spark.createDataFrame(
        [(i, f"COOKIE BANNER\nunique line {i}") for i in range(n)],
        "doc_id long, text string",
    ).repartition(8)
    out = {
        r["doc_id"]: r["text"]
        for r in dedup_lines(docs, keep_first=True).collect()
    }
    assert out[0] == "COOKIE BANNER\nunique line 0"
    survivors = [i for i in range(1, n) if "COOKIE" in out[i]]
    assert survivors == []
    assert all(out[i].endswith(f"unique line {i}") for i in range(n))


def test_duckdb_oracle_parity(spark):
    got = {
        r["doc_id"]: r["text"] for r in dedup_lines(_docs(spark)).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE docs AS SELECT * FROM (VALUES "
        + ",".join(f"({i}, '{t}')" for i, t in
                   [(i, t.replace("\n", "' || chr(10) || '")) for i, t in ROWS])
        + ") v(doc_id, text)"
    )
    oracle = dict(con.execute("""
        WITH l AS (
          SELECT doc_id,
                 unnest(ls) AS line,
                 unnest(generate_series(1, len(ls))) AS pos
          FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM docs)
        ),
        k AS (SELECT *, CASE WHEN trim(line) != '' THEN lower(trim(line)) END AS key FROM l),
        hot AS (SELECT key FROM k WHERE key IS NOT NULL
                GROUP BY key HAVING count(*) >= 2),
        kept AS (SELECT doc_id, pos, line FROM k
                 WHERE key IS NULL OR key NOT IN (SELECT key FROM hot))
        SELECT d.doc_id,
               coalesce(string_agg(kept.line, chr(10) ORDER BY kept.pos), '') AS text
        FROM docs d LEFT JOIN kept USING (doc_id) GROUP BY d.doc_id
    """).fetchall())
    assert got == oracle


def test_guard_fallback_equals_broadcast_path(spark):
    """The measured broadcast guard changes only the physical join
    strategy: output under guard-on (hot set fits, broadcast hint),
    guard-forced-fallback (budget too small, shuffle join), and
    guard-off (r5 lazy shape) must be row-identical."""
    docs = _docs(spark)
    for kf in (False, True):
        base = sorted(
            map(tuple, dedup_lines(docs, keep_first=kf).collect())
        )
        fallback = sorted(
            map(
                tuple,
                dedup_lines(
                    docs, keep_first=kf, hot_broadcast_max_bytes=1
                ).collect(),
            )
        )
        lazy = sorted(
            map(
                tuple,
                dedup_lines(
                    docs, keep_first=kf, hot_broadcast_max_bytes=0
                ).collect(),
            )
        )
        assert base == fallback == lazy


def _aggregated_hot_bytes(docs) -> int:
    """The measurement the guard's observation replaced, kept here as
    its reference: one aggregate over the checkpointed hot set summing
    the per-row width (40B fixed part + the _first._id slot: 8B for a
    fixed-width id, the 8B-aligned UTF-8 length + 8B for a string)."""
    from pyspark.sql.types import StringType

    hot = _hot_stats(
        docs, id_col="doc_id", text_col="text", min_count=2
    ).select("_key", "_first").localCheckpoint()
    idc = F.col("_first._id")
    if isinstance(docs.schema["doc_id"].dataType, StringType):
        b = F.coalesce(F.octet_length(idc), F.lit(0)).cast("long")
        term = F.shiftleft(F.shiftright(b + F.lit(7), 3), 3) + F.lit(8)
    else:
        term = F.lit(8).cast("long")
    return int(hot.agg(F.sum(F.lit(40).cast("long") + term)).collect()[0][0] or 0)


def test_hot_set_bytes_measures_wide_string_ids(spark, monkeypatch):
    """r7 ADVICE fix: the broadcast guard's row width is MEASURED from
    the actual id column type. Long ids stay near the old fixed 40B/row;
    a wide STRING doc id multiplies the estimate — the pre-r7 constant
    under-estimated it ~100x and could pin an over-budget broadcast.
    The bytes are observed on the hot set's checkpoint job and equal the
    aggregate over the checkpoint that the observation replaced."""
    observed = []
    real = spandedup._observed_bytes

    def record(obs):
        observed.append(real(obs))
        return observed[-1]

    monkeypatch.setattr(spandedup, "_observed_bytes", record)

    def measure(docs):
        dedup_lines(docs)
        assert observed[-1] == _aggregated_hot_bytes(docs)
        return observed[-1]

    long_docs = spark.createDataFrame(
        [(i, "nav bar\ncontent " + str(i)) for i in range(20)],
        "doc_id long, text string",
    )
    n = _hot_stats(long_docs, id_col="doc_id", text_col="text", min_count=2).count()
    b_long = measure(long_docs)
    assert n == 1 and 40 <= b_long <= 64  # one hot line, long-id row

    wide = "x" * 2000
    str_docs = spark.createDataFrame(
        [(wide + str(i), "nav bar\ncontent " + str(i)) for i in range(20)],
        "doc_id string, text string",
    )
    b_str = measure(str_docs)
    assert b_str > 2000  # the measured width sees the string bytes

    # r8 ADVICE fix: octet_length, not length — a CJK id is 3 UTF-8
    # bytes per char, so the measurement must be >= the true UnsafeRow
    # payload bytes (chars*2 was 0.67x of actual for pure-CJK ids).
    cjk = "漢字测" * 400  # 1200 chars, 3600 UTF-8 bytes
    cjk_docs = spark.createDataFrame(
        [(cjk + str(i), "nav bar\ncontent " + str(i)) for i in range(20)],
        "doc_id string, text string",
    )
    b_cjk = measure(cjk_docs)
    true_id_bytes = len((cjk + "0").encode("utf-8"))
    assert b_cjk >= true_id_bytes  # measured >= true UnsafeRow bytes


def test_guard_build_job_budget(spark, count_jobs):
    """The guard's checkpoint job carries its byte measurement: building
    dedup_lines runs the hot aggregation's map stage and the checkpoint
    job, and no aggregate over the checkpoint after it (which cost two
    more jobs); the guard-off build runs none."""
    docs = _docs(spark)
    for budget, jobs in ((64 << 20, 2), (1, 2), (0, 0)):
        _, build = count_jobs(
            lambda: dedup_lines(docs, hot_broadcast_max_bytes=budget)
        )
        assert build == jobs, budget


def test_string_id_guard_correctness_all_paths(spark):
    """dedup_lines with a STRING id column: guard-on, guard-forced
    -fallback, and guard-off outputs are row-identical (the width fix
    changes only the physical join choice, never the result)."""
    docs = spark.createDataFrame(
        [
            (f"doc-{i}", "© footer 2024\nBODY line " + str(i))
            for i in range(12)
        ],
        "doc_id string, text string",
    )
    outs = []
    for budget in (64 * 1024 * 1024, 1, 0):
        outs.append(
            sorted(
                map(
                    tuple,
                    dedup_lines(
                        docs, hot_broadcast_max_bytes=budget
                    ).collect(),
                )
            )
        )
    assert outs[0] == outs[1] == outs[2]
    assert all("© footer 2024" not in t for _, t in outs[0])
