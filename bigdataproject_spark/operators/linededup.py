"""Corpus-level line deduplication (boilerplate removal).

Web corpora repeat navigation chrome, cookie banners, and footers
across millions of pages; C4 and RefinedWeb-style pipelines drop the
repeated SPANS while keeping the documents. This operator counts
exact-normalized line occurrences across the whole corpus and rewrites
each document without its over-represented lines. The reference has no
counterpart (danmaku are single lines); north-star op per
BASELINE.json.

Scale shape: explode lines → ONE map-side-combinable aggregation on
the 8-byte line hash (count + min(struct(doc, pos)) — both partial-agg
friendly, so a line occurring 10^9 times costs its combiner-reduced
count, never a 10^9-row task) → join of the hot-line set back onto the
exploded lines → per-document reassembly via
collect_list(struct(pos, line)) + array_sort. The hot-set join is
MEASURED-byte-guarded (r6): the hot set is an aggregate output, so
Catalyst's static estimate for it is the (corpus-sized) child estimate
— past the autoBroadcastJoinThreshold the static plan sort-merges,
shuffling the ENTIRE exploded corpus WITH line text against a hot set
that is typically a few thousand rows (measured at the 10x rehearsal:
4.4 MB -> 809 MB shuffle for 10x docs, a plan transition that is
guaranteed at 100 TB). AQE cannot rescue it: by the time runtime stats
exist, the corpus-side shuffle write has happened. So ``dedup_lines``
localCheckpoints the hot set (its aggregation runs exactly once either
way; the checkpoint stores the output instead of re-deriving it),
MEASURES its bytes as an ``Observation`` on that same checkpoint job
(``spandedup._measured_broadcast``, the span guards' protocol) — the
per-row width derived from the caller's actual id type, since a
string/wide doc id must not ride a long-sized estimate into a pinned
broadcast (r7, was a fixed 40B/row) — and broadcast-hints the join
only when that fits ``hot_broadcast_max_bytes``. An UNconditioned pin
stays banned (r3 hazard: with ``min_count=2`` a web-scale hot set can
be billions of rows — the guard falls back to the shuffle join
exactly there). The reassembly buffer is bounded by document size
(same bound as the document itself), unlike the unbounded timeline
case.

Semantics:
  * lines are split on ``\\r\\n?|\\n`` and rejoined with ``\\n`` — CRLF,
    LF, AND lone-CR (classic-Mac) corpora all come back LF-normalized,
    and a CR-delimited variant of a line pools with its LF twin in
    counting (the alternative, preserving a stray ``\\r``, poisons
    downstream exact-hash dedup);
  * counting normalizes (trim + casefold) so formatting variants of
    one boilerplate line pool together, but the ORIGINAL line text is
    what survives into the rebuilt document;
  * whitespace-only lines are never counted and never dropped — they
    are formatting, not content, and dropping them would corrupt
    documents that merely share blank lines;
  * ``keep_first=False`` (default): every occurrence of a line seen
    ≥ min_count times is dropped (boilerplate removal);
    ``keep_first=True``: the single globally-first occurrence (by
    (doc id, position)) survives — C4's "all but one" convention. The
    first occurrence is ``min(struct(doc, pos))`` computed inside the
    same count aggregation: no per-key window, so a single hot line
    never serializes into one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdataproject_spark.operators import spandedup


def _lines(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), r"\r\n?|\n")).alias(
            "_pos", "_line"
        ),
    ).withColumn(
        "_key",
        F.when(
            F.trim("_line") != "",
            F.xxhash64(F.lower(F.trim("_line"))),
        ),
    )


def _hot_stats(
    docs: DataFrame, *, id_col: str, text_col: str, min_count: int
) -> DataFrame:
    """(_key, _n, _first) for normalized lines appearing ≥ min_count
    times — one combinable shuffle (partial count + partial min)."""
    return (
        _lines(docs, id_col, text_col)
        .filter(F.col("_key").isNotNull())
        .groupBy("_key")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.min(F.struct("_id", "_pos")).alias("_first"),
        )
        .filter(F.col("_n") >= min_count)
    )


def dedup_lines(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
    keep_first: bool = False,
    hot_broadcast_max_bytes: int = 64 * 1024 * 1024,
) -> DataFrame:
    """Rewrite ``text_col`` with over-represented lines removed; other
    columns pass through. Documents whose every line is dropped come
    back with empty text (they stay accounted for — filter downstream).

    ``hot_broadcast_max_bytes`` caps the measured-size broadcast of the
    hot-line set (see module docstring); ``0`` disables the guard (no
    checkpoint, no hint — the pure-lazy r5 plan shape).
    """
    others = [c for c in docs.columns if c != text_col]
    lines = _lines(docs, id_col, text_col)
    hot = _hot_stats(
        docs, id_col=id_col, text_col=text_col, min_count=min_count
    ).select("_key", "_first")
    # The width of one hot row: 8B null bitmap + 8B _key + 8B struct
    # offset/size word + the struct's 8B bitmap and 8B _pos = 40B, plus
    # the _first._id slot sized from the caller's id type (a string id
    # counts its UTF-8 bytes).
    hot = spandedup._measured_broadcast(
        hot,
        F.lit(40)
        + spandedup._unsafe_row_slot(
            F.col("_first._id"), docs.schema[id_col].dataType
        ),
        hot_broadcast_max_bytes,
    )

    marked = lines.join(hot, "_key", "left")
    if keep_first:
        # globally-first occurrence of a hot line survives; the keep
        # mark is an equality against the pre-aggregated min struct —
        # no window, no per-key ordering task.
        drop = F.col("_first").isNotNull() & ~(
            (F.col("_id") == F.col("_first._id"))
            & (F.col("_pos") == F.col("_first._pos"))
        )
    else:
        drop = F.col("_first").isNotNull()
    marked = marked.withColumn("_drop", drop)

    rebuilt = (
        marked.filter(~F.col("_drop"))
        .groupBy("_id")
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("_pos", "_line"))
                    ),
                    lambda s: s["_line"],
                ),
            ).alias("_new_text")
        )
    )
    out = docs.join(
        rebuilt.withColumnRenamed("_id", id_col), id_col, "left"
    )
    return out.select(
        *others,
        F.coalesce(F.col("_new_text"), F.lit("")).alias(text_col),
    ).select(*docs.columns)
