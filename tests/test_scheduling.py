"""Scheduling unit tests: skip-running exclusion hook (Spider.java:227)
and the salted-vs-unsalted ranking equivalence."""

from pyspark.sql import functions as F

from spider_spark.config import CrawlConfig
from spider_spark.operators import scheduling


def _queued(spark, n=40):
    rows = [
        (i, f"http://h{i % 4}.example/d/{i}", f"h{i % 4}.example",
         "QUEUED", 0, None, i)
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows,
        "id long, url string, host string, status string, priority int, "
        "edition long, last_change long",
    )


def test_exclude_skips_running(spark):
    q = _queued(spark)
    cfg = CrawlConfig(default_host_quota=100)
    full = scheduling.select_batch(q, None, cfg, budget=10)
    first = [r.url for r in full.orderBy("rank").collect()]
    running = spark.createDataFrame([(u,) for u in first[:5]], "url string")
    out = scheduling.select_batch(q, None, cfg, budget=10, exclude=running)
    got = [r.url for r in out.orderBy("rank").collect()]
    assert set(got) & set(first[:5]) == set()
    # the next-best pages take the freed slots, same deterministic order
    assert got == first[5:] + [u for u in
                               [r.url for r in
                                scheduling.select_batch(q, None, cfg, budget=15)
                                .orderBy("rank").collect()]
                               if u not in first][:0 + 5]


def test_salted_matches_unsalted(spark):
    q = _queued(spark, n=60)
    cfg = CrawlConfig(default_host_quota=3)
    a = scheduling.select_batch(q, None, cfg, budget=10, salted=True)
    b = scheduling.select_batch(q, None, cfg, budget=10, salted=False)
    assert [tuple(r) for r in a.orderBy("rank").collect()] == \
           [tuple(r) for r in b.orderBy("rank").collect()]


def test_empty_extension_badlist_admits_everything(spark):
    """badlisted_extensions=() must mean 'no extension badlist' — the
    unguarded alternation regex '()$' matches every URL and silently
    drops all candidates (review finding, 2026-08-19)."""
    from spider_spark.operators.admission import filter_and_canonicalize

    cand = spark.createDataFrame(
        [(-1, 0, 0, "http://h0.example/a", "seed", False),
         (-1, 0, 1, "http://h0.example/b.gif", "seed", False)],
        "discoverer_id long, span_offset int, ordinal int, "
        "raw_url string, comment string, force boolean")
    none_cfg = CrawlConfig(badlisted_extensions=(), respect_robots=False)
    got = {r["url"] for r in
           filter_and_canonicalize(cand, none_cfg, None).collect()}
    assert got == {"http://h0.example/a", "http://h0.example/b.gif"}
    some_cfg = CrawlConfig(badlisted_extensions=(".gif",),
                           respect_robots=False)
    got = {r["url"] for r in
           filter_and_canonicalize(cand, some_cfg, None).collect()}
    assert got == {"http://h0.example/a"}


def test_engine_ui_views_on_fresh_store(spark, tmp_path):
    """status_counts/top_pages on a never-bootstrapped store return
    empty frames instead of crashing on frontier() == None."""
    from spider_spark.engine import CrawlEngine
    from spider_spark.state.store import SnapshotStore

    eng = CrawlEngine(spark, SnapshotStore(str(tmp_path / "s")),
                      documents_path="/nonexistent.parquet",
                      config=CrawlConfig())
    assert eng.status_counts().count() == 0
    top = eng.top_pages()
    assert top.count() == 0
    assert "status" in top.columns and "url" in top.columns
