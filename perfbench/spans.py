"""Layer spans and Spark job attribution for the traced run.

The tracer lives entirely in the benchmark: it wraps the public
functions of the program's layers (module attributes and class
methods) while a traced run is in progress and restores them after.
Nothing in ``spider_spark`` knows it is being traced.

Spans.  Every wrapped call opens a span (name, layer, start, end,
parent, op).  ``op`` is the shared id of one measured operation: the
crawl round number, a consumer read, or a query name.  Spans are kept
in memory and written out with the run record at the end.

Jobs.  Each span sets the Spark job group of its thread to ``pb-<id>``.
The engine and the store run Spark actions on ``ThreadPoolExecutor``
threads, which do not inherit Spark's thread-local properties, so the
tracer swaps ``concurrent.futures.ThreadPoolExecutor`` for a subclass
that hands each task the submitting thread's span stack and job group.
Spark itself carries the group into the threads it starts for a query
(broadcasts, subqueries).  A job whose group is not a span's is counted
in ``engine.unattributed_jobs``.

Lazy layers.  Most layer functions only build a DataFrame; the Spark
jobs run later when the engine calls ``count``/``collect`` on it.  Their
outputs are therefore tagged with a ``SubqueryAlias`` named after the
layer (no physical plan change, no extra job), and an action the
engine runs directly is charged to the layer whose tagged output it
materializes: the tracer follows the analyzed plan from its root
through single-child nodes to the first tag.  A plan that branches
before any tag (a union of two layers' outputs) stays with the engine.

Counts.  Row counts are taken with ``DataFrame.observe`` on layer
inputs and outputs: the aggregate rides along the job that computes the
rows anyway, so it adds no Spark job.  Executor run time, shuffle bytes
and task counts come from Spark's status store; the Python-worker
traffic of the Arrow UDFs comes from the SQL plan metrics.
"""

from __future__ import annotations

import concurrent.futures
import concurrent.futures.thread
import importlib
import inspect
import itertools
import os
import re
import threading
import time
from contextlib import contextmanager
from typing import Any, Callable

import numpy as np
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

TAG = "pb__"

# (module path, attribute, layer, kind).  kind: "lazy" returns a
# DataFrame that gets the layer tag; "eager" runs Spark jobs itself.
LAYER_FUNCTIONS: tuple[tuple[str, str, str, str], ...] = (
    ("spider_spark.operators.scheduling", "select_batch", "scheduling", "lazy"),
    ("spider_spark.operators.parse", "flag_docs", "parse", "lazy"),
    ("spider_spark.operators.parse", "exploded_spans", "parse", "lazy"),
    ("spider_spark.operators.parse", "tokenized_spans", "parse", "lazy"),
    ("spider_spark.operators.parse", "doc_meta", "parse", "lazy"),
    ("spider_spark.operators.parse", "token_positions", "parse", "lazy"),
    ("spider_spark.operators.parse", "indexable_tokens", "parse", "lazy"),
    ("spider_spark.operators.parse", "outlinks", "parse", "lazy"),
    ("spider_spark.operators.postings", "build_postings", "postings", "lazy"),
    ("spider_spark.operators.admission", "admit", "admission", "eager"),
    ("spider_spark.operators.seenfilter", "probe_blooms", "seenfilter", "lazy"),
    ("spider_spark.operators.seenfilter", "probe_cuckoos", "seenfilter", "lazy"),
    ("spider_spark.operators.seenfilter", "update_bucket_blooms", "seenfilter", "lazy"),
    ("spider_spark.operators.seenfilter", "update_bucket_cuckoos", "seenfilter", "lazy"),
    ("spider_spark.operators.seenfilter", "build_bucket_blooms", "seenfilter", "lazy"),
    ("spider_spark.operators.seenfilter", "build_bucket_cuckoos", "seenfilter", "lazy"),
)
LAYER_METHODS: tuple[tuple[str, str, str, str], ...] = (
    ("spider_spark.engine.CrawlEngine", "run_round", "engine", "eager"),
    ("spider_spark.engine.CrawlEngine", "_filter_updates", "seenfilter", "eager"),
    ("spider_spark.engine.CrawlEngine", "_maybe_compact", "store", "eager"),
    ("spider_spark.state.store.SnapshotStore", "commit_round", "store", "eager"),
    ("spider_spark.state.store.SnapshotStore", "read", "store", "eager"),
    ("spider_spark.state.store.SnapshotStore", "read_buckets", "store", "eager"),
    ("spider_spark.state.store.SnapshotStore", "read_status", "store", "eager"),
    ("spider_spark.state.store.SnapshotStore", "read_changes", "store", "eager"),
)
ACTIONS = ("count", "collect", "toPandas")


def _resolve(path: str) -> Any:
    """A module, or a class given as ``module.Class``."""
    try:
        return importlib.import_module(path)
    except ImportError:
        mod, _, attr = path.rpartition(".")
        return getattr(importlib.import_module(mod), attr)


class Tracer:
    """Spans, observations and job attribution for one traced run."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.counts: dict[tuple[str, str], float] = {}
        self.op: str | None = None
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._seq = itertools.count(1)  # unique observation and tag names
        self._lock = threading.Lock()
        self._observations: list[tuple[str, str, Observation]] = []
        self._restore: list[tuple[Any, str, Any]] = []
        self._span_layer: dict[str, str] = {}
        self.problems: list[str] = []  # wrappers or hooks that did not fit

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> dict | None:
        stack = self._stack()
        return stack[-1] if stack else None

    @contextmanager
    def span(self, name: str, layer: str):
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        group = f"pb-{sid}"
        rec = {"id": sid, "name": name, "layer": layer,
               "parent": parent["id"] if parent else None,
               "op": self.op, "start": time.perf_counter(), "end": None}
        with self._lock:
            self._span_layer[group] = layer
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            with self._lock:
                self.spans.append(rec)

    def add(self, key: str, value: float) -> None:
        with self._lock:
            k = (self.op, key)
            self.counts[k] = self.counts.get(k, 0.0) + float(value)

    def observe(self, df: DataFrame, key: str, *exprs) -> DataFrame:
        """``df`` with an observation whose values land in ``counts``
        under ``key.<alias>`` for the current op once a job runs it."""
        obs = Observation(f"pb_obs_{next(self._seq)}")
        with self._lock:
            self._observations.append((self.op, key, obs))
        return df.observe(obs, *(exprs or (F.count(F.lit(1)).alias("rows"),)))

    def harvest_observations(self) -> None:
        with self._lock:
            pending, self._observations = self._observations, []
        for op, key, obs in pending:
            if obs._jo is not None and obs._jo.future().isCompleted():
                for name, value in obs.get.items():
                    with self._lock:
                        k = (op, f"{key}.{name}")
                        self.counts[k] = self.counts.get(k, 0.0) + float(value or 0)

    # -- wrapping ------------------------------------------------------------

    def _tagged(self, df, layer: str):
        if isinstance(df, DataFrame):
            return df.alias(f"{TAG}{layer}__{next(self._seq)}")
        return df

    def _wrap(self, fn: Callable, name: str, layer: str, kind: str,
              before: Callable | None, after: Callable | None) -> Callable:
        tracer = self
        sig = inspect.signature(fn)

        def wrapper(*args, **kwargs):
            with tracer.span(name, layer):
                bound = None
                if before or after:
                    try:
                        bound = sig.bind(*args, **kwargs)
                    except TypeError:  # let the call itself report it
                        pass
                if bound is not None and before:
                    tracer._guarded(name, before, bound.arguments)
                    args, kwargs = bound.args, bound.kwargs
                out = fn(*args, **kwargs)
                if bound is not None and after:
                    bound.apply_defaults()
                    out = tracer._guarded(name, after, bound.arguments, out)
                if kind == "lazy":
                    out = tracer._tagged(out, layer)
                elif isinstance(out, tuple) and out and isinstance(out[0], DataFrame):
                    out = (tracer._tagged(out[0], layer),) + out[1:]
                return out

        wrapper.__wrapped__ = fn
        return wrapper

    def _guarded(self, name: str, hook: Callable, arguments, *out):
        """Run a count hook; a hook that no longer fits the function it
        wraps is recorded and skipped, never allowed to fail the call."""
        try:
            return hook(arguments, *out)
        except (KeyError, TypeError, AttributeError, IndexError, ValueError) as e:
            with self._lock:
                self.problems.append(f"{name}: {type(e).__name__}: {e}")
            return out[0] if out else None

    def _patch(self, owner: Any, attr: str, value: Any) -> None:
        self._restore.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def _original(self, owner: Any, attr: str) -> Any:
        getattr(owner, attr)  # resolves a module's lazily imported names
        return owner.__dict__[attr]

    def install(self) -> None:
        """Wrap the layer functions, the DataFrame actions and the
        thread pool.  ``uninstall`` restores every original."""
        hooks = _Hooks(self)
        for path, attr, layer, kind in LAYER_FUNCTIONS + LAYER_METHODS:
            owner = _resolve(path)
            try:
                fn = self._original(owner, attr)
            except (AttributeError, KeyError):
                # the layer no longer has this function: its calls go
                # untraced (their jobs fall to the caller's span)
                self.problems.append(f"{path}.{attr}: not found, not traced")
                continue
            self._patch(owner, attr, self._wrap(
                fn, f"{layer}.{attr}", layer, kind,
                getattr(hooks, f"before_{attr}", None),
                getattr(hooks, f"after_{attr}", None)))
        from pyspark.sql.classic.dataframe import DataFrame as Classic
        for action in ACTIONS:
            self._patch(Classic, action, self._wrap_action(
                Classic.__dict__[action], action))
        self._original(concurrent.futures, "ThreadPoolExecutor")
        self._patch(concurrent.futures, "ThreadPoolExecutor",
                    _propagating_pool(self))

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, value = self._restore.pop()
            setattr(owner, attr, value)

    def _wrap_action(self, fn: Callable, action: str) -> Callable:
        tracer = self

        def action_wrapper(df, *args, **kwargs):
            top = tracer.current()
            layer = _plan_layer(df) if top and top["layer"] == "engine" else None
            if layer is None:
                return fn(df, *args, **kwargs)
            with tracer.span(f"{layer}.{action}", layer):
                return fn(df, *args, **kwargs)

        return action_wrapper

    # -- Spark status ---------------------------------------------------------

    def job_stats(self, first: int, last: int) -> dict[str, Any]:
        """Per-layer job, stage and task figures for jobs ``first`` to
        ``last - 1``.  A job in no span's group counts as unattributed
        (and as the engine's)."""
        store = self.sc._jsc.sc().statusStore()
        per: dict[str, dict[str, float]] = {}
        seen_stages: set[int] = set()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "unattributed": 0,
               "layers": per}
        for jid in range(first, last):
            try:
                job = store.job(jid)
            except Py4JJavaError:  # evicted from the status store
                continue
            group = job.jobGroup()
            group = group.get() if group.isDefined() else None
            layer = self._span_layer.get(group) if group else None
            if layer is None:
                out["unattributed"] += 1
                layer = "engine"
            agg = per.setdefault(layer, {"jobs": 0, "run_ms": 0.0,
                                         "shuffle_bytes": 0.0})
            agg["jobs"] += 1
            out["jobs"] += 1
            sids = job.stageIds()
            out["stages"] += sids.size()
            for i in range(sids.size()):
                sid = int(sids.apply(i))
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue
                if st.status().toString() != "COMPLETE":
                    continue
                out["tasks"] += st.numTasks()
                agg["run_ms"] += st.executorRunTime()
                agg["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
        return out

    def python_udf_stats(self, job_ids: set[int]) -> dict[str, float]:
        """Rows, bytes and time through the Arrow UDF nodes of the SQL
        executions that ran ``job_ids``."""
        sq = self.spark._jsparkSession.sharedState().statusStore()
        execs = sq.executionsList()
        rows = nbytes = secs = 0.0
        for i in range(execs.size()):
            e = execs.apply(i)
            jobs = e.jobs().keySet()
            it = jobs.iterator()
            mine = False
            while it.hasNext():
                if int(it.next()) in job_ids:
                    mine = True
                    break
            if not mine:
                continue
            eid = e.executionId()
            values = sq.executionMetrics(eid)
            nodes = sq.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                if not node.name().startswith(("ArrowEvalPython", "BatchEvalPython")):
                    continue
                ms = node.metrics()
                for m in range(ms.size()):
                    metric = ms.apply(m)
                    v = values.get(metric.accumulatorId())
                    if not v.isDefined():
                        continue
                    name, text = metric.name(), v.get()
                    if name == "number of output rows":
                        rows += parse_metric(text)
                    elif name in ("data sent to Python workers",
                                  "data returned from Python workers"):
                        nbytes += parse_metric(text)
                    elif name == "time to run Python workers":
                        secs += parse_metric(text)
        return {"python_rows": rows, "python_bytes": nbytes, "python_s": secs}


class _Hooks:
    """Counts taken at layer calls.  A ``before_<function>`` hook sees
    the call's arguments by name and may replace them (with observed
    DataFrames); an ``after_<function>`` hook also sees the result and
    returns it, or its replacement."""

    def __init__(self, tracer: Tracer):
        self.t = tracer

    def before_select_batch(self, a):
        a["queued"] = self.t.observe(a["queued"], "scheduling.queued")

    def before_admit(self, a):
        a["candidates"] = self.t.observe(a["candidates"], "admission.candidates")

    def before__filter_updates(self, a):
        # a maintained filter with no table yet is built in full: those
        # builds are not overflow rebuilds
        fs = a["fs"]
        self.t.add("seenfilter.full_builds",
                   (fs["bloom_maintain"] and a["bloom_df"] is None)
                   + (fs["cuckoo_maintain"] and a["done_df"] is None))

    def after_select_batch(self, a, out):
        return self.t.observe(out, "scheduling.selected")

    def after_exploded_spans(self, a, out):
        return self.t.observe(out, "parse.spans")

    def after_token_positions(self, a, out):
        return self.t.observe(out, "parse.tokens")

    def after_build_postings(self, a, out):
        return self.t.observe(out, "postings.out")

    def after_admit(self, a, out):
        new_rows, forced = out
        return self.t.observe(new_rows, "admission.admitted"), forced

    def after_probe_blooms(self, a, out):
        return self.t.observe(
            out, "seenfilter.probe", F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("_maybe").cast("long")).alias("maybe"))

    def after_build_bucket_blooms(self, a, out):
        self.t.add("seenfilter.rebuilds", 1)
        return out

    after_build_bucket_cuckoos = after_build_bucket_blooms

    def after_read(self, a, out):
        if out is not None:
            self.t.add("store.files_read", len(out.inputFiles()))
        return out

    after_read_status = after_read_changes = after_read

    def after_read_buckets(self, a, out):
        # a bucket read under admission is the Bloom confirm join's
        stack = self.t._stack()
        if len(stack) > 1 and stack[-2]["layer"] == "admission":
            self.t.add("seenfilter.confirm_buckets", len(a["bucket_ids"]))
        return self.after_read(a, out)

    def after_commit_round(self, a, out):
        root, rnd = a["self"].root, a["rnd"]
        rels = [f"{t}/snap-{rnd:06d}" for t in a["rewrites"]]
        rels += [f"{t}/seg-{rnd:06d}" for t, df in a["appends"].items()
                 if df is not None]
        rels += [f"{t}/snap-{rnd:06d}" for t in a.get("bucket_updates") or {}]
        files = nbytes = 0
        for rel in rels:
            for d, _, fnames in os.walk(os.path.join(root, rel)):
                for f in fnames:
                    if f.endswith(".parquet"):
                        files += 1
                        nbytes += os.path.getsize(os.path.join(d, f))
        self.t.add("store.files_written", files)
        self.t.add("store.bytes_written", nbytes)
        if "frontier" in (a.get("bucket_updates") or {}):
            fdir = os.path.join(root, f"frontier/snap-{rnd:06d}")
            buckets = [d for d in os.listdir(fdir) if d.startswith("bucket=")] \
                if os.path.isdir(fdir) else []
            self.t.add("store.buckets_rewritten", len(buckets))
            self.t.add("store.frontier_rows_written", parquet_rows(fdir))
            m = a.get("metrics") or {}
            self.t.add("store.rows_changed",
                       int(m.get("fetched", 0)) + int(m.get("admitted", 0)))
        return out


def _propagating_pool(tracer: Tracer):
    base = concurrent.futures.thread.ThreadPoolExecutor

    class PropagatingThreadPoolExecutor(base):
        """Runs each task under the submitting thread's spans."""

        def submit(self, fn, /, *args, **kwargs):
            ctx = list(tracer._stack())

            def run():
                tracer._local.stack = list(ctx)
                group = f"pb-{ctx[-1]['id']}" if ctx else None
                tracer.sc.setLocalProperty("spark.jobGroup.id", group)
                try:
                    return fn(*args, **kwargs)
                finally:
                    tracer._local.stack = []
                    tracer.sc.setLocalProperty("spark.jobGroup.id", None)

            return super().submit(run)

    return PropagatingThreadPoolExecutor


def _plan_layer(df: DataFrame) -> str | None:
    """The layer tag reached from the analyzed plan's root through
    single-child nodes, or None when the plan branches first."""
    plan = df._jdf.queryExecution().analyzed()
    for _ in range(256):
        if plan.nodeName() == "SubqueryAlias":
            name = plan.alias()
            if name.startswith(TAG):
                return name[len(TAG):].split("__")[0]
        children = plan.children()
        if children.size() != 1:
            return None
        plan = children.apply(0)
    return None


def next_job_id(sc) -> int:
    return int(sc._jsc.sc().dagScheduler().nextJobId())


def parquet_rows(root: str) -> int:
    import pyarrow.parquet as pq

    n = 0
    for d, _, fnames in os.walk(root):
        for f in fnames:
            if f.endswith(".parquet"):
                n += pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
    return n


_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3,
          "TiB": 1024 ** 4, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "ns": 1e-9, "us": 1e-6}


def parse_metric(text: str) -> float:
    """A Spark SQL metric's display string as a number in bytes,
    seconds or rows.  Aggregated metrics print "total (min, med, max
    ...)" on the first line and the values on the second."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def covered(intervals: list[tuple[float, float]], lo: float | None = None,
            hi: float | None = None) -> float:
    """Length of the union of ``intervals``, clipped to [lo, hi]."""
    iv = sorted((max(a, lo) if lo is not None else a,
                 min(b, hi) if hi is not None else b) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# -- Bloom false positives, measured on the round's new keys ---------------

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P5 = np.uint64(0x27D4EB2F165667C5)


def xxhash64_int_after(seed: np.ndarray, value: int) -> np.ndarray:
    """Spark's ``xxhash64(<prefix>, <int value>)`` given the hash of the
    prefix (``seed``): XXH64.hashInt chained on the running hash."""
    with np.errstate(over="ignore"):
        h = seed.astype(np.uint64) + _P5 + np.uint64(4)
        h ^= np.uint64(value & 0xFFFFFFFF) * _P1
        h = ((h << np.uint64(23)) | (h >> np.uint64(41))) * _P2 + _P3
        h ^= h >> np.uint64(33)
        h *= _P2
        h ^= h >> np.uint64(29)
        h *= _P3
        h ^= h >> np.uint64(32)
    return h


def bloom_maybe(store_root: str, bloom_dirs: dict[str, str], nb: int,
                url_hash: np.ndarray) -> np.ndarray:
    """Which keys (by their ``xxhash64(url)``) the per-bucket Bloom
    tables under ``bloom_dirs`` report as maybe-seen — the engine's
    probe, replayed from the committed filter files."""
    import pyarrow.parquet as pq

    from spider_spark.functions.filters import BloomFilter

    h1 = url_hash.astype(np.int64).view(np.uint64)
    h2 = xxhash64_int_after(h1, 1)
    bucket = np.mod(url_hash.astype(np.int64), nb)
    out = np.zeros(len(url_hash), dtype=bool)
    for b, rel in bloom_dirs.items():
        sel = bucket == int(b)
        if not sel.any():
            continue
        path = os.path.join(store_root, rel)
        for row in pq.read_table(path, columns=["m", "k", "bits"]).to_pylist():
            bf = BloomFilter.__new__(BloomFilter)
            bf.m, bf.k = int(row["m"]), int(row["k"])
            bf.bits = np.frombuffer(row["bits"], dtype=np.uint64)
            out[sel] |= bf.contains_hash_arrays(h1[sel], h2[sel])
    return out
