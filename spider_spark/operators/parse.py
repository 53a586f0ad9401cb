"""Parse / extraction — SURVEY.md §2.D (PageCallBack, Spider.java:624-755).

Declarative re-expression of the reference's per-page SAX-callback parse
as DataFrame operators over exploded spans:

  D1 dispatch      — span-kind routing (title/text/media); redirect docs
                     (single '__redirect__' media span) split off first
  D3 title capture — LAST valid (non-empty, single-line) title span wins
                     (page.setPageTitle overwrites, Spider.java:672-681)
  D4 tokenizer     — Arrow-batched UDF: C-regex fast path for ASCII
                     rows (the web-scale common case), exact automaton
                     for the rest.  A JVM expression twin exists but is
                     >30x slower on real span lengths (interpreted
                     higher-order functions) — see udfs.tokens_col
  D5 positions     — title tokens at INT32_MIN+i; body tokens at a
                     per-doc running counter starting at 1 that SKIPS
                     title spans (Spider.java:686-704) — a window
                     cumulative sum over prior body-span token counts
  D6 word count    — totalWords counts every token of every span,
                     stop words and title words included (Spider.java:628,690)
  D2 link extract  — media_ref of media spans + URL-pattern scan of text
                     spans (ordinal = occurrence order)

Everything after the tokenize UDF is JVM-side (windows, posexplode,
filters) and stays inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.links import extract_urls_col
from ..functions.udfs import keep_token, tokens_col
from ..oracle.simulator import INT32_MIN, REDIRECT_MARK


def flag_docs(matched: DataFrame, safe_mime_types: tuple[str, ...]) -> DataFrame:
    """Single-pass fetch-outcome flags: ``_redir`` (redirect convention
    per sources/corpus.py, the FetchException.newURI analog) and
    ``_unsafe`` (B6 MIME gate, Spider.java:457-464: declared type not in
    the whitelist → SUCCEEDED-but-not-indexed).  One cacheable pass so
    the fetch join materializes once for all three outcome classes."""
    is_redirect = (
        (F.size("spans") == 1)
        & (F.col("spans")[0]["kind"] == "media")
        & (F.col("spans")[0]["text"] == REDIRECT_MARK)
    )
    # try_element_at: docs with no mime span filter to an empty array,
    # which must read as null (ANSI element_at would throw)
    mime = F.try_element_at(
        F.filter("spans", lambda s: s["kind"] == F.lit("mime")), F.lit(1)
    )["text"]
    if safe_mime_types:
        is_unsafe = mime.isNotNull() & ~mime.isin(*safe_mime_types)
    else:  # no whitelist configured → every declared type is safe
        is_unsafe = F.lit(False)
    return (
        matched.withColumn("_redir", is_redirect)
        .withColumn("_unsafe", ~is_redirect & is_unsafe)
    )


def split_flagged(
    flagged: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(normal, redirects, unsafe) views over a flag_docs() result."""
    normal = flagged.filter(~F.col("_redir") & ~F.col("_unsafe")) \
        .drop("_redir", "_unsafe")
    redirects = (
        flagged.filter("_redir")
        .select("id", "url", F.col("spans")[0]["media_ref"].alias("target"))
    )
    unsafe = flagged.filter("_unsafe").select("id", "url")
    return normal, redirects, unsafe


def exploded_spans(docs: DataFrame) -> DataFrame:
    """One row per span, offset order preserved via the offset column.

    Repartitioned by doc id: the fetch-join output inherits the
    documents-scan partitioning (often just a handful of partitions),
    which would cap the parallelism of every downstream Arrow UDF
    (tokenize, URL extraction).  The position window partitions by id
    anyway, so this shuffle replaces that one rather than adding one.

    The partition count is pinned to the session's shuffle-partition
    setting EXPLICITLY: a bare ``repartition("id")`` is adjustable by
    AQE, and size-based partition coalescing would fuse this stage to a
    handful of tasks — its shuffle is small in compressed BYTES but it
    feeds the round's dominant CPU cost (the Arrow tokenize hop), where
    underparallelizing is a 4-10x wall regression at high core counts."""
    nparts = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return docs.select(
        "id", "url", F.explode("spans").alias("s")
    ).select(
        "id", "url",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    ).repartition(nparts, "id")


def tokenized_spans(spans: DataFrame) -> DataFrame:
    """Text-bearing spans with token arrays and the position bookkeeping
    columns.  ``is_title`` is the VALIDITY test — an empty or multi-line
    title span falls through to body handling (Spider.java:672-681)."""
    text_spans = spans.filter(
        F.col("kind").isin("title", "text") & F.col("text").isNotNull()
    )
    is_title = (
        (F.col("kind") == "title")
        & (F.length("text") > 0)
        & ~F.col("text").contains("\n")
    )
    ts = (
        text_spans.withColumn("is_title", is_title)
        .withColumn("tokens", tokens_col(F.col("text")))
        .withColumn("n_tok", F.size("tokens"))
    )
    # body position base: 1 + tokens of PRIOR body spans (title spans do
    # not advance lastPosition, Spider.java:702-704)
    w_prior = (
        Window.partitionBy("id")
        .orderBy("offset")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ts = ts.withColumn(
        "pos_base",
        F.lit(1)
        + F.coalesce(
            F.sum(F.when(F.col("is_title"), 0).otherwise(F.col("n_tok"))).over(w_prior),
            F.lit(0),
        ),
    )
    # project away the raw text (and other span columns) — this result
    # is cached and fans out to heavy consumers; keeping the source text
    # alongside the token arrays would double the cached string volume.
    # Retain title text only on valid title spans (doc_meta needs it).
    return ts.select(
        "id", "url", "offset", "is_title", "tokens", "n_tok", "pos_base",
        F.when(F.col("is_title"), F.col("text")).alias("title_text"),
    )


def doc_meta(tok_spans: DataFrame, docs: DataFrame) -> DataFrame:
    """Per-doc aggregates: total_words (D6) and title (D3, last valid
    title span wins).  ``docs`` supplies rows with no text spans."""
    agg = tok_spans.groupBy("id", "url").agg(
        F.sum("n_tok").alias("total_words"),
        F.max_by(
            "title_text",
            F.when(F.col("is_title"), F.col("offset")),
        ).alias("title"),
    )
    return (
        docs.select("id", "url")
        .join(agg.select("id", "total_words", "title"), "id", "left")
        .fillna({"total_words": 0})
    )


def token_positions(tok_spans: DataFrame) -> DataFrame:
    """posexplode → one row per token occurrence with its position
    (stop words still occupy positions; they are filtered AFTER)."""
    ex = tok_spans.select(
        # url intentionally dropped: the postings aggregate keys on id
        # and re-attaches url/title from the (small) doc_meta join —
        # carrying a ~40-byte url string on every token row would
        # multiply the aggregation's memory/shuffle volume
        "id", "is_title", "pos_base",
        F.posexplode("tokens").alias("i", "term"),
    )
    return ex.withColumn(
        "position",
        F.when(F.col("is_title"), F.lit(INT32_MIN) + F.col("i"))
        .otherwise(F.col("pos_base") + F.col("i"))
        .cast("int"),
    )


def indexable_tokens(positions: DataFrame) -> DataFrame:
    """Stop-word filter (B7) — applied after position assignment so the
    positional gaps match the reference exactly."""
    return positions.filter(keep_token(F.col("term")))


def outlinks(spans: DataFrame) -> DataFrame:
    """D2: candidate links as (discoverer_id, span_offset, ordinal,
    raw_url, comment, force=false)."""
    media = spans.filter(
        (F.col("kind") == "media") & F.col("media_ref").isNotNull()
    ).select(
        F.col("id").alias("discoverer_id"),
        F.col("offset").alias("span_offset"),
        F.lit(0).alias("ordinal"),
        F.col("media_ref").alias("raw_url"),
        F.concat(F.lit("Added from "), F.col("url")).alias("comment"),
        F.lit(False).alias("force"),
    )
    text_urls = (
        spans.filter((F.col("kind") == "text") & F.col("text").isNotNull())
        .withColumn("_urls", extract_urls_col(F.col("text")))
        .select(
            F.col("id").alias("discoverer_id"),
            F.col("offset").alias("span_offset"),
            F.col("url"),
            F.posexplode("_urls").alias("ordinal", "raw_url"),
        )
        .select(
            "discoverer_id", "span_offset", "ordinal", "raw_url",
            F.concat(F.lit("Added from "), F.col("url")).alias("comment"),
            F.lit(False).alias("force"),
        )
    )
    return media.unionByName(text_urls)
