"""Bucketed frontier commits (SURVEY.md §7 / VERDICT r1 item 1).

The frontier is stored as pmod(url_hash, n_buckets) bucket dirs; a
round's commit rewrites ONLY buckets containing that round's status
updates or admissions (Iceberg partition-overwrite analog).  These
tests pin the scale property directly: untouched bucket dirs are
byte-identical (same immutable path) across commits, so commit cost
tracks the round's update volume, not frontier size.
"""

import os

import pytest
from pyspark.sql import functions as F

from spider_spark.engine import CrawlEngine
from spider_spark.operators import admission, seenfilter
from spider_spark.state.store import SnapshotStore


def _mk_engine(spark, corpus_dir, crawl_config, root):
    return CrawlEngine(
        spark, SnapshotStore(root), corpus_dir + "/documents.parquet",
        crawl_config,
        robots=spark.read.parquet(corpus_dir + "/robots.parquet"),
        hosts=spark.read.parquet(corpus_dir + "/hosts.parquet"),
    )


def _bucket_dirs(store):
    return dict(store.read_catalog()["buckets"]["frontier"]["dirs"])


def test_frontier_is_bucketed(spark, corpus_dir, corpus, crawl_config, tmp_path):
    eng = _mk_engine(spark, corpus_dir, crawl_config, str(tmp_path / "b1"))
    eng.bootstrap(corpus["seeds"])
    eng.run(2)
    store = eng.store
    assert store.is_bucketed("frontier")
    assert store.bucket_count("frontier") == crawl_config.frontier_buckets
    # every row lands in the bucket dir matching pmod(url_hash, nb)
    nb = crawl_config.frontier_buckets
    dirs = _bucket_dirs(store)
    for b, rel in dirs.items():
        df = spark.read.parquet(os.path.join(store.root, rel))
        bad = df.filter(
            F.pmod(F.xxhash64("url"), F.lit(nb)).cast("int") != int(b)
        ).count()
        assert bad == 0, f"bucket {b} holds foreign rows"


def test_untouched_buckets_stay_immutable(spark, corpus_dir, corpus,
                                          crawl_config, tmp_path):
    """An enqueue of a single URL must re-point at most the few buckets
    that URL (and nothing else) hashes into — everything else keeps its
    previous immutable dir."""
    eng = _mk_engine(spark, corpus_dir, crawl_config, str(tmp_path / "b2"))
    eng.bootstrap(corpus["seeds"])
    eng.run(3)
    before = _bucket_dirs(eng.store)
    assert len(before) > 2  # the crawl populated several buckets

    n = eng.enqueue(["http://bucket-probe.example/only-one"], force=False)
    assert n == 1
    after = _bucket_dirs(eng.store)
    changed = {b for b in after if before.get(b) != after[b]}
    assert len(changed) <= 1, f"single-URL enqueue rewrote buckets {changed}"
    # the untouched dirs are the SAME paths (no rewrite happened)
    for b in after:
        if b not in changed:
            assert after[b] == before[b]


def test_round_commits_only_touched_buckets(spark, corpus_dir, corpus,
                                            crawl_config, tmp_path):
    """Across consecutive rounds the set of live bucket dirs spans
    multiple snapshot generations — proof that rounds do not rewrite
    the whole frontier."""
    eng = _mk_engine(spark, corpus_dir, crawl_config, str(tmp_path / "b3"))
    eng.bootstrap(corpus["seeds"])
    eng.run(4)
    dirs = _bucket_dirs(eng.store).values()
    generations = {p.split("/")[1] for p in dirs}  # snap-00000N
    assert len(generations) >= 2, (
        f"all buckets point at one snapshot generation {generations} — "
        "rounds are rewriting the full frontier")


def test_gc_preserves_live_buckets(spark, corpus_dir, corpus, crawl_config,
                                   tmp_path):
    eng = _mk_engine(spark, corpus_dir, crawl_config, str(tmp_path / "b4"))
    eng.bootstrap(corpus["seeds"])
    eng.run(3)
    frontier_before = sorted(
        map(tuple, eng.frontier().toPandas().fillna(-1).values.tolist()))
    removed = eng.store.gc_orphans()
    # dead bucket generations are collected, live ones survive
    live = set(_bucket_dirs(eng.store).values())
    assert not live & set(removed)
    frontier_after = sorted(
        map(tuple, eng.frontier().toPandas().fillna(-1).values.tolist()))
    assert frontier_before == frontier_after


def test_additive_schema_evolution(spark, tmp_path):
    """Schema-on-catalog (Iceberg analog): a commit that adds a
    nullable column rewrites ONLY its touched buckets; every read path
    applies the committed schema, so untouched old-schema buckets
    project with nulls instead of whatever name-based inference sampled.
    as_of keeps each round's own schema; read_changes diffs across the
    boundary under the to-side schema."""
    store = SnapshotStore(str(tmp_path / "evo"))
    df1 = spark.createDataFrame(
        [(i, f"u{i}", i % 4) for i in range(16)],
        "id long, url string, bucket int")
    store.commit_round(1, {}, {}, bucket_updates={"t": (df1, 4)})
    # evolution commit: adds `score`, touches only buckets 0 and 1
    df2 = spark.createDataFrame(
        [(i, f"u{i}", i % 4, float(i)) for i in range(16) if i % 4 < 2],
        "id long, url string, bucket int, score double")
    store.commit_round(2, {}, {}, bucket_updates={"t": (df2, 4)})

    cur = store.read(spark, "t")
    assert set(cur.columns) == {"id", "url", "score"}
    got = {r["id"]: r["score"] for r in cur.collect()}
    assert len(got) == 16
    for i in range(16):
        assert got[i] == (float(i) if i % 4 < 2 else None)

    # time travel resolves the PRE-evolution schema
    assert set(store.read(spark, "t", as_of=1).columns) == {"id", "url"}

    # incremental scan across the boundary: old side projected into the
    # new schema, so the delta is exactly the rewritten buckets' rows
    delta = store.read_changes(spark, "t", since=1, as_of=2)
    assert set(delta.columns) == {"id", "url", "score"}
    assert sorted(r["id"] for r in delta.collect()) == \
        [i for i in range(16) if i % 4 < 2]


def test_lookup_url_point_read(spark, corpus_dir, corpus, crawl_config,
                               tmp_path):
    """engine.lookup_url prunes to the ONE bucket dir the driver-side
    hash twin names (Perst unique-index get analog): the row comes back
    exactly, and every file the query opened lives under that bucket."""
    eng = _mk_engine(spark, corpus_dir, crawl_config, str(tmp_path / "pt"))
    eng.bootstrap(corpus["seeds"])
    eng.run(2)
    nb = crawl_config.frontier_buckets
    rows = eng.frontier().select("url", "url_hash", "status").collect()
    assert rows
    for r in rows[:5]:
        got = eng.lookup_url(r["url"])
        hit = got.collect()
        assert len(hit) == 1 and hit[0]["url"] == r["url"] \
            and hit[0]["status"] == r["status"]
        # the driver-side twin reproduced the JVM hash → right bucket
        b = r["url_hash"] % nb
        assert all(f"bucket={b}/" in f or f.endswith(f"bucket={b}")
                   for f in got.inputFiles()), got.inputFiles()
    # a URL that was never admitted: empty, still one-bucket scan
    assert eng.lookup_url(rows[0]["url"] + "/nonexistent").count() == 0
    # a URL that does not canonicalize
    assert eng.lookup_url("not a url ::") is None


def test_unsupported_frontier_layout_raises(spark, corpus_dir, crawl_config,
                                            tmp_path):
    """A bucketed frontier without the ``_pstatus`` sub-partition is not
    a layout the engine writes.  Its status-pruned QUEUED read would be
    empty, so a round would silently commit nothing: run_round and
    enqueue must refuse it by name and commit nothing."""
    root = str(tmp_path / "nopstatus")
    store = SnapshotStore(root)
    nb = crawl_config.frontier_buckets
    rows = spark.createDataFrame(
        [(0, "http://a.example/x", 1, "a.example", "QUEUED", 0, None, 0,
          None, "seed")],
        "id long, url string, url_hash long, host string, status string, "
        "priority int, edition long, last_change long, title string, "
        "comment string",
    ).select(*admission.FRONTIER_COLUMNS)
    store.commit_round(
        0, rewrites={}, appends={},
        bucket_updates={"frontier": (
            rows.withColumn("bucket", seenfilter.bucket_of(F.col("url"), nb)),
            nb)},
        metrics={"next_id": 1, "fetched": 0, "admitted": 1},
    )
    assert store.is_bucketed("frontier")
    assert store.bucket_sub("frontier") is None

    eng = _mk_engine(spark, corpus_dir, crawl_config, root)
    with pytest.raises(ValueError, match="frontier layout"):
        eng.run_round()
    with pytest.raises(ValueError, match="frontier layout"):
        eng.enqueue(["http://b.example/y"])
    assert store.current_round == 0
