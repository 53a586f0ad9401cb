"""Postings build — SURVEY.md §2.E (LibraryBuffer + PageCallBack.finish,
Spider.java:707-716, LibraryBuffer.java:111-153, index/TermPageEntry.java).

One hash aggregate replaces the reference's TreeMap buffer:
  E1 per-page term dedup      — groupBy(doc, term)
  E2 position-set merge       — array_sort(collect_set(position))
  E3 relevance                — float32(|positions|) / float32(totalWords)
                                (Spider.java:714; float32 division for
                                bit parity with the Java float math)
  E6 sorted emission          — orderBy(term asc, rel desc, doc asc)
                                (index/TermEntry.java:68-76) — only needed
                                for byte-identical sink parity

Spark's hash aggregate gives partial (map-side) aggregation for free;
no sort-based agg is needed because positions are collected as a set and
sorted per group, not globally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

POSTINGS_COLUMNS = ["term", "doc_id", "rel", "title", "positions",
                    "pos_fragments"]


def build_postings(indexable: DataFrame, meta: DataFrame) -> DataFrame:
    """indexable: (id, term, position); meta: (id, url, total_words,
    title).  Returns the round's postings delta."""
    grouped = indexable.groupBy("id", "term").agg(
        F.array_sort(F.collect_set("position")).alias("positions")
    )
    # meta is per-doc (≤ K rows/round) → broadcast; url/title/totals are
    # re-attached here instead of riding every token row through the agg
    return (
        grouped.join(
            F.broadcast(meta.select("id", "url", "total_words", "title")), "id"
        )
        .select(
            "term",
            F.col("url").alias("doc_id"),
            # Java computes rel as float32 division (Spider.java:714).
            # Spark promotes float/float to double; rounding that double
            # quotient to float32 is bit-identical to direct float32
            # division (p_double=53 >= 2*p_float+2), so this cast gives
            # exact parity.
            (
                F.size("positions").cast("double")
                / F.col("total_words").cast("double")
            ).cast("float").alias("rel"),
            "title",
            "positions",
            # posFragments (index/TermPageEntry.java:33): kept for
            # format fidelity — Spider never fills it (always empty),
            # but the sink reads it rather than hardcoding emptiness
            F.map_from_arrays(
                F.array().cast("array<int>"), F.array().cast("array<string>")
            ).alias("pos_fragments"),
        )
    )
