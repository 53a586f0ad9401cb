#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at tiny scale.

    python3 perfbench/smoke.py            # ~5 minutes on a 4-core host

For each workload it runs ``run.py --scale tiny`` untraced and traced
on one seed and checks that

* every end-to-end metric of BENCHMARK.json prints with its unit, and
  every per-layer metric does in the traced run;
* the outputs checked out (``correct``, no failed op);
* the trace schema holds: every span has a name, layer, start <= end,
  an op id, and a parent that is another span of the run, and every
  layer function the tracer wraps was found and counted;
* the traced run issued as many Spark jobs per round as the untraced
  one (tracing adds no job), and no job went unattributed;

and, without Spark, that the seed argument changes the generated
inputs while the same seed reproduces them.  It also prints the
tracing overhead (traced minus untraced round wall).  Exits non-zero
on the first failed check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
           "--scale", "tiny"]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                         stderr=subprocess.DEVNULL, text=True, timeout=600)
    if out.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {out.returncode}")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    rec_path = os.path.join(ROOT, ".perfbench", "records",
                            f"{workload}-tiny-seed{seed}-trace{trace}.json")
    with open(rec_path) as f:
        return result, json.load(f)


def check(cond: bool, what: str) -> None:
    if not cond:
        raise AssertionError(what)
    print(f"ok  {what}")


def check_metrics(result: dict, wanted: list[dict], label: str) -> None:
    got = result["metrics"]
    check(set(got) == {m["name"] for m in wanted}, f"{label}: {len(got)} metric names")
    bad = [m["name"] for m in wanted
           if got[m["name"]]["unit"] != m["unit"]
           or not isinstance(got[m["name"]]["value"], (int, float))]
    check(not bad, f"{label}: every value a number in its unit {bad or ''}")
    check(result["correct"] and result["failed"] == 0 and result["attempted"] > 0,
          f"{label}: outputs correct")


def check_spans(spans: list[dict], label: str) -> None:
    ids = {s["id"] for s in spans}
    for s in spans:
        ok = (s["name"] and s["layer"] and s["op"] is not None
              and s["start"] <= s["end"]
              and (s["parent"] is None or s["parent"] in ids))
        if not ok:
            raise AssertionError(f"{label}: bad span {s}")
    check(bool(spans), f"{label}: {len(spans)} spans well formed")


def check_seed_changes_inputs() -> None:
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import datagen
    import workloads

    a, b = datagen.documents(1, 300), datagen.documents(2, 300)
    check(a.equals(datagen.documents(1, 300)), "same seed, same documents")
    check(not a.equals(b), "another seed, other documents")
    check(datagen.strided_seeds(a, 1, 5, 4) != datagen.strided_seeds(a, 2, 5, 4),
          "another seed, other crawl seeds")
    check(datagen.frontier_seeds(1, 600, 6, 200) != datagen.frontier_seeds(2, 600, 6, 200),
          "another seed, other frontier seeds")
    check(workloads.query_order(1, workloads.QUERIES)
          != workloads.query_order(2, workloads.QUERIES),
          "another seed, another query order")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    check_seed_changes_inputs()
    for w in (x["name"] for x in bench["workloads"]):
        plain, plain_rec = run(w, 1, 0)
        check_metrics(plain, bench["end_to_end"], f"{w} untraced")
        traced, traced_rec = run(w, 1, 1)
        check_metrics(traced, bench["per_layer"], f"{w} traced")
        check_spans(traced_rec["spans"], w)
        check(not traced_rec["trace_problems"],
              f"{w}: every wrapper and count hook fit {traced_rec['trace_problems']}")
        jobs = [[o["jobs"] for o in r["ops"] if o["kind"] == "round"]
                for r in (plain_rec, traced_rec)]
        check(jobs[0] == jobs[1], f"{w}: jobs per round {jobs[0]} traced and untraced")
        m = traced["metrics"]
        check(m["engine.unattributed_jobs"]["value"] == 0, f"{w}: every job attributed")
        over = m["trace.round_s_p50"]["value"] - plain["metrics"]["round_s_p50"]["value"]
        print(f"    {w}: tracing overhead {over:+.2f}s per round")
    return 0


if __name__ == "__main__":
    sys.exit(main())
