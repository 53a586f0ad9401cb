"""Output checks, run after the timed window.

Crawl: the engine is compared with the sequential oracle
(``spider_spark.oracle.simulator``) replayed on the same corpus, seeds
and configuration, round by round: crawl order, the postings of the
documents fetched in the round (digest), the consumer reads' results,
and at the end the URL-seen set with every page's status.

Analytics: every query result is compared with its DuckDB twin from
``queries.oracle_sql()``, normalised as the project's correctness
script does (columns by name, floats to 6 places, rows sorted).
"""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow.parquet as pq


def _postings_digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(repr(r).encode())
    return h.hexdigest()[:16]


class CrawlOracle:
    """The oracle crawler replayed next to the engine, one round at a
    time, keeping what each round's checks need."""

    def __init__(self, setup):
        from spider_spark.oracle.simulator import OracleCrawler

        table = pq.read_table(setup.corpus_path, columns=["doc_id", "spans"])
        docs = dict(zip(table.column("doc_id").to_pylist(),
                        table.column("spans").to_pylist()))
        self.sim = OracleCrawler(docs, setup.seeds, setup.config)
        if setup.enqueued:
            # engine.enqueue commits as its own round with a fresh
            # sequence space (rnd + 1, seq_start 0)
            self.sim.state.round += 1
            self.sim._admit([(-1, 0, i, u, "manually", False)
                             for i, u in enumerate(setup.enqueued)],
                            rnd=self.sim.state.round, seq_start=0)
        self.rounds: dict[int, dict] = {}

    def run_round(self) -> None:
        st = self.sim.state
        log_start, post_start = len(st.crawl_log), len(st.postings)
        self.sim.run_round()
        new_posts = st.postings[post_start:]
        self.rounds[st.round] = {
            "log": st.crawl_log[log_start:],
            "postings": _postings_digest(
                (p.term, p.doc_id, p.rel, tuple(p.positions), p.title)
                for p in new_posts),
            "n_postings": len(new_posts),
            "status": dict(sorted(self.sim.status_counts().items())),
        }


def check_crawl(setup, oracle: CrawlOracle, observed: dict[int, dict]
                ) -> dict[int, list[str]]:
    """Per round, the list of failed checks (empty when the round
    matches).  ``observed[round]`` holds the consumer reads' results:
    ``push`` (row counts) and ``status`` (dicts of status -> n)."""
    eng = setup.engine
    log = eng.crawl_log().toPandas()
    posts = eng.postings().toPandas()
    url_round = {u: int(r) for u, r in zip(log["url"], log["round"])}
    by_round: dict[int, list] = {}
    for r in posts.itertuples(index=False):
        by_round.setdefault(url_round.get(r.doc_id), []).append(
            (r.term, r.doc_id, float(r.rel), tuple(int(p) for p in r.positions),
             r.title if isinstance(r.title, str) else None))
    failures: dict[int, list[str]] = {}
    for rnd, want in oracle.rounds.items():
        bad = []
        got_log = sorted((int(a), int(b), c) for a, b, c in
                         log[log["round"] == rnd][["round", "rank", "url"]]
                         .itertuples(index=False))
        if got_log != want["log"]:
            bad.append("crawl_order")
        rows = by_round.get(rnd, [])
        if _postings_digest(rows) != want["postings"]:
            bad.append("postings_digest")
        seen = observed.get(rnd, {})
        if any(n != want["n_postings"] for n in seen.get("push", [])):
            bad.append("push_read")
        if any(s != want["status"] for s in seen.get("status", [])):
            bad.append("status_read")
        failures[rnd] = bad
    frontier = eng.frontier().select("url", "status").toPandas()
    got = dict(zip(frontier["url"], frontier["status"]))
    want = {u: p.status for u, p in oracle.sim.state.pages.items()}
    if got != want and oracle.rounds:
        failures[max(oracle.rounds)].append("seen_set")
    return failures


def _norm_hash(df) -> str:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(6)
    rows = sorted(df.astype(str).values.tolist())
    return hashlib.sha256(json.dumps(rows).encode()).hexdigest()[:16]


def check_queries(analytics_dir: str, results: dict) -> dict[str, str | None]:
    """Query name -> None when its result matches the DuckDB twin, else
    the reason it does not."""
    import duckdb

    from spider_spark import queries as Q

    oracles = Q.oracle_sql()
    con = duckdb.connect()
    try:
        path = os.path.join(analytics_dir, "documents.parquet")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        out: dict[str, str | None] = {}
        for name, got in results.items():
            if name not in oracles:
                out[name] = "no DuckDB twin"
                continue
            want = con.execute(oracles[name]).df()
            if sorted(got.columns) != sorted(want.columns):
                out[name] = "columns differ"
            elif len(got) != len(want):
                out[name] = f"rows {len(got)} != {len(want)}"
            elif _norm_hash(got) != _norm_hash(want):
                out[name] = "values differ"
            else:
                out[name] = None
        return out
    finally:
        con.close()
