#!/usr/bin/env python3
"""spider_spark benchmark: crawl rounds, consumer reads and analytics
queries on ``local[nproc]``, with output checks.

    python3 perfbench/run.py --workload crawl_sf01 --seed 1 --seconds 20 --trace 0

Run it from the repository root.  The last line of standard output is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end ones; ``--trace 1``
runs the same workload with layer spans (``spans.py``) and prints the
per-layer ones.  A run record with the host state, every op's timing
and (traced) the spans is written to ``.perfbench/records/``.
``--scale tiny`` shrinks every input for the smoke test.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
# set-ups per run: the first, cold one (JIT, first Python workers) is
# discarded and ``setup_s`` is the median of the warm ones
SETUP_REPS = 5
# consumer reads after every round: one of each in an untraced run,
# which is all the output check needs; the traced run reports their
# latency (``store.*_read_s_p50``) and a run measures one round, so
# there it polls each read several times and reports the median
TRACED_POLLS = 5
METRIC_UNITS = {
    "crawl_urls_per_s": "URLs/s", "round_s_p50": "s", "setup_s": "s",
    "peak_rss_mb": "MB",
}


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:6.1f}s] {msg}",
          file=sys.stderr, flush=True)


# -- host state and memory ---------------------------------------------------

def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def _steal_pct(t0: list[int], t1: list[int]) -> float:
    d = [b - a for a, b in zip(t0, t1)]
    return round(100.0 * d[7] / sum(d), 3) if len(d) > 7 and sum(d) else -1.0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident memory with pages shared between
    processes (the forked Python workers share the daemon's) split among
    them, so a sum over a process tree counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class MemorySampler(threading.Thread):
    """Peak resident memory (PSS) of a process tree — the driver JVM and
    its Python workers — sampled every ``period`` seconds; the tree
    itself is listed every ``tree_every`` samples, which keeps the
    sampler's own CPU use small."""

    def __init__(self, pid: int, period: float = 0.2, tree_every: int = 5):
        super().__init__(daemon=True)
        self.pid, self.period, self.tree_every, self.peak = pid, period, tree_every, 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        n, pids = 0, []
        while not self._stop_evt.is_set():
            if n % self.tree_every == 0:
                pids = descendants(self.pid)
            n += 1
            self.peak = max(self.peak, sum(_pss_bytes(p) for p in pids))
            self._stop_evt.wait(self.period)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join(timeout=5)
        return self.peak / 2 ** 20


# -- environment and session ---------------------------------------------------

def prepare_env(tmp: str) -> None:
    """Keep every file the run writes inside the checkout and make the
    package importable by Spark's Python workers."""
    os.makedirs(os.path.join(tmp, "spark"), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    # a 2g heap cap instead of the session's 8g default: under 8g the
    # JVM's committed heap follows GC timing and peak_rss_mb spreads
    # about twice as wide from run to run (see README.md)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell")
    import tempfile
    tempfile.tempdir = tmp


def warm_tokenizer(spark) -> None:
    """Run the tokenizer once on the warm session, so the first
    measured round does not pay the Python workers' first import of it
    (the set-ups already ran the JVM side and the admission UDF)."""
    from pyspark.sql import functions as F

    from spider_spark.functions.udfs import tokens_col

    spark.createDataFrame([("hello 世界 crawl",)], "t string").repartition(1) \
        .select(F.size(tokens_col(F.col("t")))).collect()


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM and its workers to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    try:
        proc.stdin.close()
    except OSError:
        pass
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    for pid in pids[1:]:
        for _ in range(50):
            if not os.path.exists(f"/proc/{pid}"):
                break
            time.sleep(0.1)
        else:
            try:
                os.kill(pid, 9)
            except OSError:
                pass


# -- the measured run --------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


class Run:
    def __init__(self, args):
        self.args = args
        self.record: dict = {"workload": args.workload, "seed": args.seed,
                             "trace": args.trace, "scale": args.scale}
        self.ops: list[dict] = []  # every op: kind, wall, ok
        self.tracer = None
        self.sampler = None  # MemorySampler, stopped when measuring ends
        self.peak_mb = 0.0

    def op(self, kind: str, fn, **info):
        t0 = time.perf_counter()
        try:
            out = fn()
            ok = True
        except Exception:  # an op that raises counts as failed
            log(f"{kind} failed:\n{traceback.format_exc()}")
            out, ok = None, False
        rec = dict(kind=kind, wall=time.perf_counter() - t0, ok=ok, **info)
        self.ops.append(rec)
        return out, rec

    def main(self, spark) -> dict:
        import workloads as W
        from spans import Tracer, next_job_id

        args = self.args
        scale = W.SCALES[(args.workload, args.scale)]
        setup, setup_walls, setup_parts = None, [], []
        for rep in range(SETUP_REPS):
            if setup is not None:
                setup.close()
            root = os.path.join(WORK, "work", f"{os.getpid()}-{rep}")
            t0 = time.perf_counter()
            setup = W.CrawlSetup(spark, args.workload, scale, args.seed, root)
            setup_walls.append(time.perf_counter() - t0)
            setup_parts.append(setup.parts)
        t0 = time.perf_counter()
        setup.activate()
        warm_tokenizer(spark)
        self.record["setup_walls"] = setup_walls
        self.record["setup_parts"] = setup_parts
        self.record["activate_and_warm_wall"] = time.perf_counter() - t0
        log(f"set-up {[round(s, 2) for s in setup_walls]}, "
            f"activate {self.record['activate_and_warm_wall']:.2f}")

        if args.trace:
            self.tracer = Tracer(spark)
            self.tracer.install()
        try:
            measured = self.measure(spark, setup, scale, next_job_id)
        finally:
            if self.tracer is not None:
                self.tracer.uninstall()
            # the output check below collects whole tables into the
            # driver; peak memory covers set-up and the measured rounds
            if self.sampler is not None:
                self.peak_mb = self.sampler.stop()
        log(f"measured {len(measured['rounds'])} rounds, {len(measured['results'])} queries")
        checks = self.check(setup, measured)
        log("checked")
        setup.close()
        return {"setup_s": median(setup_walls[1:]), "checks": checks, **measured}

    def measure(self, spark, setup, scale, next_job_id) -> dict:
        import layers
        import workloads as W
        from spider_spark import queries as Q

        args, eng, t = self.args, setup.engine, self.tracer
        sc = spark.sparkContext
        rounds, reads, results = [], {}, {}
        registry = Q.queries()
        order = W.query_order(args.seed, scale.queries)
        # closed loop, one client: a crawl round, then the consumer
        # reads; rounds repeat until --seconds have passed (one round
        # outlasts it on a 4-core host)
        t_start = time.perf_counter()
        while not rounds or (rounds[-1]["ok"]
                             and time.perf_counter() - t_start < args.seconds):
            j0 = next_job_id(sc)
            if t is not None:
                t.op = f"round{len(rounds) + 1}"
            k, rec = self.op("round", eng.run_round)
            rnd = eng.store.read_catalog()["round"]
            rec.update(round=rnd, fetched=k or 0, jobs=next_job_id(sc) - j0,
                       job_range=(j0, next_job_id(sc)),
                       path=setup.path_check(rnd) if rec["ok"] else None)
            rounds.append(rec)
            self.consumer_reads(eng, rnd, reads.setdefault(
                rnd, {"push": [], "status": []}))
            if t is not None:
                rec["job_range_reads"] = (rec["job_range"][1], next_job_id(sc))
                rec["false_positives"] = layers.false_positives(eng, rnd)
        # the analytics pass runs in traced runs only: its queries are
        # the ``queries`` layer, and a pass (~10 s of cold queries) would
        # make every untraced run a fifth longer
        for name in order if t is not None else ():
            t.op = f"q:{name}"
            j0 = next_job_id(sc)
            pdf, rec = self.op("query", lambda: self._query(
                name, lambda: registry[name](spark, setup.analytics_dir).toPandas()),
                name=name)
            rec["job_range"] = (j0, next_job_id(sc))
            results[name] = pdf
        return {"rounds": rounds, "reads": reads, "results": results}

    def consumer_reads(self, eng, rnd: int, seen: dict) -> None:
        """The index consumer after a round: the push of the round's
        postings (LibraryBuffer analog), then the UI status view."""
        for _ in range(TRACED_POLLS if self.tracer is not None else 1):
            n, _ = self.op("push_read", lambda: self._read(
                "push", lambda: eng.postings_delta(since_round=rnd - 1).count()),
                round=rnd)
            seen["push"].append(n)
            rows, _ = self.op("status_read", lambda: self._read(
                "status", lambda: eng.status_counts().collect()), round=rnd)
            seen["status"].append(
                dict(sorted((r["status"], r["n"]) for r in rows or [])))

    def _read(self, kind, fn):
        if self.tracer is None:
            return fn()
        with self.tracer.span(f"store.consumer_{kind}_read", "store"):
            return fn()

    def _query(self, name, fn):
        if self.tracer is None:
            return fn()
        with self.tracer.span(f"queries.{name}", "queries"):
            return fn()

    def check(self, setup, measured) -> dict:
        from checks import CrawlOracle, check_crawl, check_queries

        oracle = CrawlOracle(setup)
        for _ in measured["rounds"]:
            oracle.run_round()
        crawl = check_crawl(setup, oracle, measured["reads"])
        results = {n: r for n, r in measured["results"].items() if r is not None}
        queries = check_queries(setup.analytics_dir, results) if results else {}
        for rec in self.ops:
            if rec["kind"] == "query":
                reason = queries.get(rec["name"], "raised")
                rec["ok"] = rec["ok"] and reason is None
            elif rec["kind"] == "round":
                # a traced round whose Bloom replay disagrees with the
                # committed filters has no trustworthy false-positive rate
                fp = rec.get("false_positives") or {}
                rec["ok"] = (rec["ok"] and rec["path"]["ok"]
                             and fp.get("replay_ok", True)
                             and not crawl.get(rec["round"], ["unchecked"]))
            else:
                bad = crawl.get(rec["round"], ["unchecked"])
                rec["ok"] = rec["ok"] and not any(
                    b.startswith(rec["kind"]) for b in bad)
        return {"crawl": {str(k): v for k, v in crawl.items()}, "queries": queries}


def end_to_end(run: Run, out: dict) -> dict:
    rounds = [r for r in out["rounds"] if r["ok"]]
    walls = [r["wall"] for r in rounds]
    fetched = sum(r["fetched"] for r in rounds)
    return {
        "crawl_urls_per_s": fetched / sum(walls) if walls else 0.0,
        "round_s_p50": median(walls),
        "setup_s": out["setup_s"],
        "peak_rss_mb": run.peak_mb,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full")
    args = p.parse_args(argv)
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    try:
        import spider_spark  # noqa: F401
        import workloads as W
    except ImportError as e:
        log(f"cannot import the program: {e}")
        return 2
    if args.workload not in W.WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {W.WORKLOADS}")
        return 2

    from spider_spark.hostprobe import alu_probe

    tmp = os.path.join(WORK, "tmp", str(os.getpid()))
    prepare_env(tmp)
    ncpu = os.cpu_count() or 1
    host = {"nproc": ncpu, "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "alu_mops_pre": alu_probe(nproc=min(4, ncpu), seconds=0.25)}
    cpu0 = _cpu_times()

    from spider_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="spider_spark_perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    host["session_start_s"] = time.perf_counter() - t0
    host["spark.driver.memory"] = spark.conf.get("spark.driver.memory")
    log(f"session up in {host['session_start_s']:.1f}s")
    from pyspark import SparkContext
    run = Run(args)
    run.sampler = MemorySampler(SparkContext._gateway.proc.pid)
    run.sampler.start()
    try:
        out = run.main(spark)
        layer_metrics = None
        if run.tracer is not None:
            import layers
            layer_metrics = layers.per_layer(run, out)
            # a wrapper or count hook that no longer fits the function it
            # wraps leaves per-layer metrics reading 0: the run fails
            run.ops.append(dict(kind="trace_hooks", wall=0.0,
                                ok=not run.tracer.problems))
    finally:
        run.sampler.stop()
        stop_session(spark)
    host["steal_pct_run"] = _steal_pct(cpu0, _cpu_times())
    host["alu_mops_post"] = alu_probe(nproc=min(4, ncpu), seconds=0.25)
    log("stopped")

    metrics = layer_metrics if run.tracer is not None else end_to_end(run, out)
    failed = sum(not o["ok"] for o in run.ops)
    result = {
        "correct": failed == 0,
        "attempted": len(run.ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units_of(k)} for k, v in metrics.items()},
    }
    run.record.update(host=host, ops=run.ops, checks=out["checks"], result=result)
    if run.tracer is not None:
        run.record["spans"] = run.tracer.spans
        run.record["trace_problems"] = run.tracer.problems
    rec_dir = os.path.join(WORK, "records")
    os.makedirs(rec_dir, exist_ok=True)
    name = f"{args.workload}-{args.scale}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(rec_dir, name), "w") as f:
        json.dump(run.record, f, indent=1, default=str)
    shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result))
    return 0


def units_of(name: str) -> str:
    if name in METRIC_UNITS:
        return METRIC_UNITS[name]
    import layers
    return layers.unit_of(name)


if __name__ == "__main__":
    sys.exit(main())
