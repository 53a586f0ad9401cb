"""Per-layer metrics of a traced run, assembled from the spans, the
observed row counts and Spark's status store (see ``spans.py``).

Crawl-layer metrics are per measured round, reported as the median
over rounds; ``queries.*`` are per query or summed over the pass.  A layer that did no work in a workload reads 0 — the seen-filter
on ``crawl_sf01``, for one.
"""

from __future__ import annotations

import os
import statistics

import numpy as np

import workloads

LAYER_STATS = ("wall_s", "run_ms", "shuffle_bytes", "jobs")
PER_LAYER: tuple[str, ...] = (
    "engine.jobs_per_round", "engine.stages_per_round", "engine.tasks_per_round",
    "engine.round_self_s", "engine.unattributed_jobs",
    "engine.jobs", "engine.run_ms", "engine.shuffle_bytes",
    *(f"scheduling.{s}" for s in LAYER_STATS),
    "scheduling.queued_rows", "scheduling.selected_rows",
    *(f"parse.{s}" for s in LAYER_STATS),
    "parse.spans_rows", "parse.tokens_rows",
    "udfs.python_rows", "udfs.python_bytes", "udfs.python_s",
    *(f"admission.{s}" for s in LAYER_STATS),
    "admission.candidates", "admission.admitted", "admission.admit_ratio",
    *(f"seenfilter.{s}" for s in LAYER_STATS),
    "seenfilter.maybe_seen_frac", "seenfilter.false_positive_frac",
    "seenfilter.confirm_buckets_read", "seenfilter.overflow_rebuilds",
    *(f"postings.{s}" for s in LAYER_STATS),
    "postings.rows_out",
    "store.commit_wall_s", "store.read_wall_s", "store.push_read_s_p50",
    "store.status_read_s_p50", "store.run_ms",
    "store.shuffle_bytes", "store.jobs", "store.bytes_written",
    "store.files_written", "store.buckets_rewritten", "store.write_amp",
    "store.files_read",
    *(f"queries.{q}_s" for q in workloads.QUERIES),
    "queries.run_ms", "queries.shuffle_bytes", "queries.jobs",
    "trace.round_s_p50", "trace.queries_total_s",
)


def unit_of(name: str) -> str:
    leaf = name.split(".", 1)[1]
    if leaf.endswith("_s") or leaf.endswith("_s_p50"):
        return "s"
    if leaf.endswith("_ms"):
        return "ms"
    if "bytes" in leaf:
        return "B"
    if leaf.endswith(("_frac", "_ratio", "_amp")):
        return "ratio"
    return "count"


def false_positives(engine, rnd: int) -> dict | None:
    """The Bloom filter's false positives on the round's new URLs: every
    URL admitted in round ``rnd`` was unseen, so the share of them the
    pre-round filter reports as maybe-seen is its false-positive rate.
    Replayed from the committed filter files; no Spark job."""
    import pyarrow.parquet as pq

    from spans import bloom_maybe

    store = engine.store
    before = store.read_catalog(as_of=rnd - 1)
    bloom = before.get("buckets", {}).get("bloom")
    if not bloom or not bloom.get("dirs"):
        return None
    next_id = before["lineage"][-1]["metrics"]["next_id"]
    hashes = []
    for d, _, files in os.walk(os.path.join(store.root, f"frontier/snap-{rnd:06d}")):
        if "_pstatus=QUEUED" not in d:
            continue
        for f in files:
            if f.endswith(".parquet"):
                t = pq.read_table(os.path.join(d, f), columns=["id", "url_hash"])
                ids = t.column("id").to_numpy()
                hashes.append(t.column("url_hash").to_numpy()[ids >= next_id])
    if not hashes:
        return None
    url_hash = np.concatenate(hashes)
    after = store.read_catalog()["buckets"]["bloom"]
    maybe = bloom_maybe(store.root, bloom["dirs"], bloom["n"], url_hash)
    # the replayed probe must find every new URL in the updated filter
    # (Bloom filters have no false negatives) or the replay is wrong
    found = bloom_maybe(store.root, after["dirs"], after["n"], url_hash)
    return {"new": int(len(url_hash)), "maybe": int(maybe.sum()),
            "replay_ok": bool(found.all())}


def _covered(spans, lo=None, hi=None) -> float:
    from spans import covered
    return covered([(s["start"], s["end"]) for s in spans], lo, hi)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def per_layer(run, out) -> dict[str, float]:
    t = run.tracer
    t.harvest_observations()
    by_op: dict[str, list[dict]] = {}
    for s in t.spans:
        by_op.setdefault(s["op"], []).append(s)
    per_round: list[dict[str, float]] = []
    for i, rec in enumerate(out["rounds"], start=1):
        op = f"round{i}"
        spans = by_op.get(op, [])
        c = {k: v for (o, k), v in t.counts.items() if o == op}
        m: dict[str, float] = {}
        root = next(s for s in spans if s["name"] == "engine.run_round")
        kids = [s for s in spans if s["parent"] == root["id"]]
        wall = root["end"] - root["start"]
        m["engine.round_self_s"] = wall - _covered(kids, root["start"], root["end"])
        js = t.job_stats(*rec["job_range"])
        rs = t.job_stats(*rec["job_range_reads"])
        m["engine.jobs_per_round"] = js["jobs"]
        m["engine.stages_per_round"] = js["stages"]
        m["engine.tasks_per_round"] = js["tasks"]
        m["engine.unattributed_jobs"] = js["unattributed"] + rs["unattributed"]
        for layer in ("engine", "scheduling", "parse", "admission",
                      "seenfilter", "postings", "store"):
            agg = {k: js["layers"].get(layer, {}).get(k, 0.0)
                   + rs["layers"].get(layer, {}).get(k, 0.0)
                   for k in ("jobs", "run_ms", "shuffle_bytes")}
            for k, v in agg.items():
                m[f"{layer}.{k}"] = v
            if layer not in ("engine", "store"):
                m[f"{layer}.wall_s"] = _covered(
                    [s for s in spans if s["layer"] == layer])
        m["store.commit_wall_s"] = _covered(
            [s for s in spans if s["name"] == "store.commit_round"])
        m["store.read_wall_s"] = _covered(
            [s for s in spans if s["name"].startswith(("store.read", "store.consumer"))])
        udf = t.python_udf_stats(set(range(*rec["job_range"])))
        m.update({f"udfs.{k}": v for k, v in udf.items()})
        m["scheduling.queued_rows"] = c.get("scheduling.queued.rows", 0.0)
        m["scheduling.selected_rows"] = c.get("scheduling.selected.rows", 0.0)
        m["parse.spans_rows"] = c.get("parse.spans.rows", 0.0)
        m["parse.tokens_rows"] = c.get("parse.tokens.rows", 0.0)
        cand = c.get("admission.candidates.rows", 0.0)
        m["admission.candidates"] = cand
        m["admission.admitted"] = c.get("admission.admitted.rows", 0.0)
        m["admission.admit_ratio"] = m["admission.admitted"] / cand if cand else 0.0
        probed = c.get("seenfilter.probe.rows", 0.0)
        m["seenfilter.maybe_seen_frac"] = (
            c.get("seenfilter.probe.maybe", 0.0) / probed if probed else 0.0)
        fp = rec.get("false_positives")
        m["seenfilter.false_positive_frac"] = (
            fp["maybe"] / fp["new"] if fp and fp["new"] else 0.0)
        if run.args.workload == "crawl_frontier" and rec["path"]:
            # the Bloom probe must have run on this round's candidates
            rec["path"]["maybe_seen_frac"] = m["seenfilter.maybe_seen_frac"]
            rec["ok"] = rec["ok"] and m["seenfilter.maybe_seen_frac"] > 0
        m["seenfilter.confirm_buckets_read"] = c.get("seenfilter.confirm_buckets", 0.0)
        m["seenfilter.overflow_rebuilds"] = (
            c.get("seenfilter.rebuilds", 0.0) - c.get("seenfilter.full_builds", 0.0))
        m["postings.rows_out"] = c.get("postings.out.rows", 0.0)
        for k in ("bytes_written", "files_written", "buckets_rewritten", "files_read"):
            m[f"store.{k}"] = c.get(f"store.{k}", 0.0)
        changed = c.get("store.rows_changed", 0.0)
        m["store.write_amp"] = (
            c.get("store.frontier_rows_written", 0.0) / changed if changed else 0.0)
        per_round.append(m)

    metrics = {name: 0.0 for name in PER_LAYER}
    for name in metrics:
        vals = [m[name] for m in per_round if name in m]
        if vals:
            metrics[name] = float(_median(vals))
    metrics["trace.round_s_p50"] = _median([r["wall"] for r in out["rounds"]])

    for kind in ("push_read", "status_read"):
        metrics[f"store.{kind}_s_p50"] = _median(
            [o["wall"] for o in run.ops if o["kind"] == kind])
    queries = [o for o in run.ops if o["kind"] == "query"]
    for q in queries:
        metrics[f"queries.{q['name']}_s"] = q["wall"]
        js = t.job_stats(*q["job_range"])
        for k in ("run_ms", "shuffle_bytes", "jobs"):
            metrics[f"queries.{k}"] += sum(v.get(k, 0.0) for v in js["layers"].values())
    metrics["trace.queries_total_s"] = sum(q["wall"] for q in queries)
    return metrics
