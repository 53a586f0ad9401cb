"""Seeded input generators for the benchmark.

Everything here is a pure function of its arguments: the same seed
gives the same parquet files, byte for byte.  No Spark session is
needed, so set-up time measures the engine, not the generator.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from spider_spark.sources.corpus import TOKEN_POOL

# The analytics tables' word list: the latin vocabulary of the
# documents tables the queries were written against (their DuckDB
# twins tokenize with [a-z0-9']+, so analytics text stays latin).
LATIN_WORDS: tuple[str, ...] = (
    "join", "hash", "row", "batch", "scan", "column", "customer",
    "filter", "small", "slow", "merge", "order", "vector", "line",
    "table", "data", "agg", "value", "key", "stream", "window", "a",
    "spark", "part", "group", "big", "sort", "query", "fast", "the",
    "crawl", "spider", "index", "frontier", "search", "engine",
)
CJK_TOKENS: tuple[str, ...] = tuple(t for t in TOKEN_POOL if not t.isascii())
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)

DOC_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64()),
])


def documents(seed: int, n_docs: int, n_sources: int = 20,
              cjk: bool = True, dup_frac: float = 0.03) -> pa.Table:
    """A documents table shaped like the project's test data
    (doc_id, text, lang, source, n_chars).  With ``cjk`` set, text of
    ``zh`` documents mixes CJK runs into the latin words, so the
    tokenizer takes its per-codepoint path on ~15% of the corpus.  A
    ``dup_frac`` share of documents repeats an earlier text verbatim."""
    rng = np.random.default_rng([seed, n_docs, 1])
    langs = rng.choice(len(LANGS), size=n_docs, p=LANG_P)
    lengths = rng.integers(8, 90, size=n_docs)
    dup_of = np.where(rng.random(n_docs) < dup_frac,
                      rng.integers(0, np.arange(n_docs) + 1), -1)
    words = np.array(LATIN_WORDS, dtype=object)
    cjk_words = np.array(CJK_TOKENS, dtype=object)
    texts: list[str] = []
    for i in range(n_docs):
        j = int(dup_of[i])
        if 0 <= j < i:
            texts.append(texts[j])
            continue
        toks = words[rng.integers(0, len(words), size=int(lengths[i]))]
        if cjk and LANGS[langs[i]] == "zh":
            mask = rng.random(len(toks)) < 0.3
            toks[mask] = cjk_words[rng.integers(0, len(cjk_words),
                                                size=int(mask.sum()))]
        texts.append(" ".join(toks))
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[k] for k in langs], pa.string()),
        "source": pa.array([f"src{i % n_sources}" for i in range(n_docs)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }, schema=DOC_SCHEMA)


def write_documents(out_dir: str, table: pa.Table) -> str:
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(table, path)
    return path


def strided_seeds(docs: pa.Table, seed: int, n_hosts: int,
                  per_host: int) -> list[str]:
    """``per_host`` seed URLs for each of the first ``n_hosts`` sources,
    spread evenly over each host's documents.  The seed picks the
    offset of the stride, so each seed starts the crawl elsewhere."""
    rng = np.random.default_rng([seed, 2])
    ids = docs.column("doc_id").to_numpy()
    src = np.array(docs.column("source").to_pylist(), dtype=object)
    out: list[str] = []
    for host in sorted(set(src))[:n_hosts]:
        host_ids = np.sort(ids[src == host])
        stride = max(1, len(host_ids) // per_host)
        off = int(rng.integers(0, stride))
        picks = host_ids[off::stride][:per_host]
        out.extend(f"http://{host}.example/d/{d}" for d in picks)
    return out


def frontier_seeds(seed: int, n_docs: int, n_hosts: int,
                   n_seeds: int) -> list[str]:
    """A dense seed list over ``build_bench_corpus``'s id space:
    ``n_seeds`` document ids drawn by the seed, in id order, as URLs
    (the id -> (host, doc number) arithmetic of ``bench_seed_urls``)."""
    import math

    hh = n_hosts * n_hosts
    ids = np.sort(np.random.default_rng([seed, 3]).choice(
        n_docs, size=n_seeds, replace=False))
    urls = []
    for i in ids.tolist():
        q, r = divmod(i, hh)
        h = math.isqrt(r)
        urls.append(f"http://bench{h}.example/d/{q * (2 * h + 1) + (r - h * h)}")
    return urls
