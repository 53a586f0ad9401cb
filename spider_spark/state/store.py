"""Snapshot-versioned table store with an atomic multi-table commit.

Stands in for an Iceberg catalog (the sandbox has no Iceberg runtime
jars; the commit semantics are what matter).  Parity target: Perst's
exclusive transactions + rollback (Spider.java:181,427,493-501,
org/garret/perst/Storage.java:114-139) → one atomic commit per round
covering every table the round touched; a failed round commits nothing
and is replayed, which is exactly the reference's NOT_PUSHED→QUEUED
crash-recovery rule (LibraryBuffer.java:97-102, db/Status.java:7-11).

Mechanics:
  * every table version is an immutable directory of parquet files
    (``<root>/<table>/snap-<round>-<n>/``)
  * a single JSON catalog file maps table → current version (rewrite
    tables), → ordered list of segment dirs (append tables), or →
    per-bucket current dirs (bucketed tables: the frontier, hashed by
    ``pmod(url_hash, n_buckets)``).  A bucketed commit writes ONLY the
    touched buckets (one ``partitionBy`` job) and re-points just those
    entries — untouched buckets keep their immutable dirs, so commit
    cost scales with the round's update volume, not the frontier size
    (the Iceberg MERGE-on-read analog; at 10^10 URLs this is the
    difference between rewriting ~GBs and rewriting ~TBs per round)
  * a bucketed table may additionally be SUB-PARTITIONED by a second
    column (the frontier uses ``_pstatus``, a copy of ``status``): each
    bucket dir then holds ``_pstatus=QUEUED/ _pstatus=INDEXED/ ...``
    leaf dirs, and ``read_status`` lists only the matching leaves.
    This is the analog of PerstRoot's five per-status B-trees
    (db/PerstRoot.java:33-37): the round's QUEUED scan prunes to the
    queued files instead of reading the whole frontier — at 10^10 rows
    that is the difference between scanning ~10^5-row files and ~TBs.
  * commit = write all new dirs, then ``os.replace`` the catalog —
    the one atomic step.  A crash before the replace leaves the old
    catalog intact; orphan dirs are ignored.
  * append tables are COMPACTED when their segment list grows past a
    threshold (``compact``): all current segments merge into one rollup
    dir via a normal commit, so a 10^4-round crawl does not end up with
    a 10^4-dir ``postings`` read (the LibraryBuffer flush/merge analog,
    LibraryBuffer.java:160-188; on Iceberg this is rewrite_data_files).
  * per-round lineage records (FIXTURES.md §6) ride inside the catalog
    (capped to the most recent ``LINEAGE_KEEP`` entries, with cumulative
    ``totals`` rolled up so the catalog stays O(1) over rounds) and in
    an append-only ``lineage.jsonl`` audit log (readable with
    ``spark.read.json``; the catalog is authoritative — a crash between
    the log append and the catalog swap leaves a harmless extra line,
    and the replayed round's line supersedes it: last line per round
    wins).

On a real cluster this maps 1:1 onto Iceberg: rewrite tables →
copy-on-write MERGE, append tables → snapshot append, the catalog swap →
Iceberg's atomic metadata pointer swap, the existence checks below →
manifest-file lookups (no filesystem listing on the hot path).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

CATALOG = "_catalog.json"
CATALOG_DIR = "_catalogs"  # archived per-round catalogs (time travel)
PENDING = "_pending.json"
LINEAGE_LOG = "lineage.jsonl"
LINEAGE_KEEP = 64  # catalog keeps this many recent entries; totals roll up
SNAPSHOT_KEEP = 8  # archived round catalogs retained (Iceberg
#                    snapshot-retention analog; also the gc grace set)


class SnapshotStore:
    def __init__(self, root: str, snapshot_keep: int = SNAPSHOT_KEEP):
        self.root = root
        self.snapshot_keep = snapshot_keep
        os.makedirs(root, exist_ok=True)

    # -- catalog -----------------------------------------------------------

    def _catalog_path(self) -> str:
        return os.path.join(self.root, CATALOG)

    def _archive_path(self, rnd: int) -> str:
        return os.path.join(self.root, CATALOG_DIR, f"r{rnd:06d}.json")

    def read_catalog(self, as_of: int | None = None) -> dict[str, Any]:
        """The live catalog, or (``as_of=N``) the archived catalog of
        round N — the Iceberg time-travel entry point.  The live round
        is always resolvable even if its archive copy is missing (a
        crash between the swap and the archive write loses only the
        copy).  Raises ``KeyError`` for a round outside the retained
        window, listing what IS retained."""
        if as_of is not None:
            live = self.read_catalog()
            if live["round"] == as_of:
                return live
            p = self._archive_path(as_of)
            # the > live guard keeps an abandoned rollback timeline's
            # leftover archives (crash between rollback's swap and its
            # unlink loop) from resolving — snapshots() already
            # excludes them, and their dirs carry no gc grace
            if as_of < live["round"] and os.path.exists(p):
                with open(p) as f:
                    return json.load(f)
            raise KeyError(
                f"round {as_of} not retained; snapshots: {self.snapshots()}")
        p = self._catalog_path()
        if not os.path.exists(p):
            return {"round": 0, "tables": {}, "appends": {},
                    "lineage": [], "totals": {}}
        with open(p) as f:
            return json.load(f)

    def _archived_rounds(self) -> set[int]:
        d = os.path.join(self.root, CATALOG_DIR)
        if not os.path.isdir(d):
            return set()
        return {int(n[1:-5]) for n in os.listdir(d)
                if n.startswith("r") and n.endswith(".json")}

    def snapshots(self) -> list[int]:
        """Rounds readable via ``as_of`` (archived + the live round).
        Archives BEYOND the live round are ignored — they can only be
        residue of a crash inside :meth:`rollback` (an abandoned
        timeline), never valid history."""
        rounds = self._archived_rounds()
        p = self._catalog_path()
        if os.path.exists(p):
            live = self.read_catalog()["round"]
            rounds = {r for r in rounds if r <= live} | {live}
        return sorted(rounds)

    def _table_schema(self, cat: dict[str, Any],
                      table: str) -> StructType | None:
        """The schema committed for ``table`` in this catalog (data
        columns only — partition columns are dir-encoded), or None for
        catalogs written before schema tracking.  Reads apply it
        explicitly, which is what makes ADDITIVE SCHEMA EVOLUTION safe
        on a partial-rewrite table (Iceberg schema-on-catalog analog):
        a commit that adds a nullable column rewrites only its touched
        buckets; untouched buckets keep old-schema files, and the
        explicit read schema projects them with nulls instead of
        leaving the result to name-based inference over mixed files
        (which samples one file and drops or mistypes the rest).  At
        10^10 rows this is the difference between evolving in one
        commit and rewriting the whole table."""
        s = cat.get("schemas", {}).get(table)
        return StructType.fromJson(s) if s is not None else None

    def _reader(self, spark: SparkSession, cat: dict[str, Any],
                table: str, recursive: bool = False):
        """DataFrameReader with the catalog's committed schema applied
        (see :meth:`_table_schema`) — the ONE place the schema-or-
        inference decision lives, shared by every read path.
        ``recursive`` sets recursiveFileLookup for bucketed dirs whose
        sub-partition (``_pstatus=``) leaves would otherwise trip
        partition-column inference across many roots."""
        r = spark.read
        schema = self._table_schema(cat, table)
        if schema is not None:
            r = r.schema(schema)
        if recursive:
            r = r.option("recursiveFileLookup", "true")
        return r

    def _swap_catalog(self, cat: dict[str, Any]) -> None:
        self._atomic_write_json(self._catalog_path(), cat, indent=1)

    def _atomic_write_json(self, path: str, obj: dict, indent=None) -> None:
        """Crash-durable atomic JSON replace: fsync the temp file's DATA
        before the rename and the DIRECTORY after it, so a power loss
        can never persist the rename ahead of the contents (ext4/xfs
        allow that ordering without the fsyncs) — the rename is the
        atomic commit point and must land all-or-nothing."""
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(obj, f, indent=indent)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
        dfd = os.open(os.path.dirname(path) or ".", os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)

    @property
    def current_round(self) -> int:
        return self.read_catalog()["round"]

    # -- reads -------------------------------------------------------------

    def read(self, spark: SparkSession, table: str,
             as_of: int | None = None) -> DataFrame | None:
        """Current contents, or None for a missing/empty table (an empty
        bucketed commit — e.g. a bootstrap over an empty seed list —
        legitimately produces a buckets entry with no dirs).

        ``as_of=N`` reads the table as of round N's commit (Iceberg
        time travel) — valid for any round in :meth:`snapshots`, whose
        files gc_orphans retains."""
        cat = self.read_catalog(as_of=as_of)
        if table in cat["tables"]:
            return self._reader(spark, cat, table).parquet(
                os.path.join(self.root, cat["tables"][table]))
        bucketed = cat.get("buckets", {}).get(table)
        if bucketed is not None:
            paths = [os.path.join(self.root, p) for p in bucketed["dirs"].values()]
            if not paths:
                return None
            # path-level pruning: we hand the reader the bucket dirs
            # ourselves (status stays a data column)
            return self._reader(spark, cat, table,
                                recursive=True).parquet(*paths)
        segs = cat["appends"].get(table)
        if segs:
            return self._reader(spark, cat, table).parquet(
                *[os.path.join(self.root, s) for s in segs])
        return None

    def read_changes(
        self, spark: SparkSession, table: str, since: int,
        as_of: int | None = None,
    ) -> DataFrame | None:
        """Incremental scan (Iceberg incremental-append-read analog):
        rows present in ``table`` as of round ``as_of`` (default: the
        live round) that were NOT present as of round ``since`` — the
        net-added rows.  Updated rows appear as their new version;
        deletions are not reported.  Both rounds must be in
        :meth:`snapshots` (KeyError otherwise).  Returns None when
        nothing changed.

        This is the store-level analog of the reference's push loop
        (LibraryBuffer.java:160-188 sends only the postings accumulated
        since the last push): a downstream consumer reads exactly the
        delta, never the whole table.

        Scale shape — no path reads the full table:

        * append tables: pure segment pruning — the union of the
          retained window catalogs' segment lists names the in-window
          ``seg-`` dirs (compaction rollups never enter the delta;
          every in-window segment is pinned by a retained archive and
          because segment lists accumulate until compaction, a single
          archive lost to a crash between the swap and the archive
          write is healed by its successor's list);
        * bucketed tables: only buckets whose dir pointer changed are
          read, on both sides, then multiset-subtracted
          (``exceptAll``) — cost is proportional to the window's write
          volume, not table size (a rebucket migration or a
          rewrite→bucketed layout change in the window degrades to
          all-buckets vs the full old version: every row moved);
        * rewrite tables: version-pointer compare, then subtract.
        """
        live = self.read_catalog()["round"]
        if as_of is None:
            as_of = live
        if since > as_of:
            raise ValueError(f"since={since} > as_of={as_of}")
        to_cat = self.read_catalog(as_of=as_of)
        from_cat = self.read_catalog(as_of=since)
        if since == as_of:
            return None

        # both sides of the diff read under the TO-side schema, so a
        # delta across an additive-evolution boundary compares the old
        # version projected into the new schema (nulls for new cols)
        # instead of failing on a column-count mismatch in exceptAll
        def _read(paths, recursive=False):
            if not paths:
                return None
            # both sides of the diff read under the TO-side schema, so
            # a delta across an additive-evolution boundary compares
            # the old version projected into the new schema (nulls for
            # new cols) instead of failing on a column-count mismatch
            return self._reader(spark, to_cat, table, recursive).parquet(
                *[os.path.join(self.root, p) for p in paths])

        # append table: the delta is exactly the in-window segments.
        # Collect them from the UNION of the window's retained segment
        # lists (not one archive per round): lists accumulate until
        # compaction, so seg-R also appears in round R+1's archive and
        # the live catalog — a single archive lost to a crash between
        # the catalog swap and the archive write cannot silently drop
        # round R's segment from the delta
        if table in to_cat["appends"] or table in from_cat.get(
                "appends", {}):
            listed = set(to_cat["appends"].get(table, []))
            for r in self.snapshots():
                if since <= r <= as_of:
                    listed.update(self.read_catalog(as_of=r)["appends"]
                                  .get(table, []))
            segs = []
            for rel in sorted(listed):
                name = rel.rsplit("/", 1)[-1]
                if name.startswith("seg-") and name[4:].isdigit() \
                        and since < int(name[4:]) <= as_of:
                    segs.append(rel)
            return _read(segs)

        tb = to_cat.get("buckets", {}).get(table)
        fb = from_cat.get("buckets", {}).get(table)
        if tb is not None:
            if fb is None or fb["n"] != tb["n"]:
                # migration/new: every row moved — diff ALL new buckets
                # against the ENTIRE old version (its buckets under the
                # old modulus, or the legacy rewrite dir a bucketing
                # layout change superseded)
                changed = set(tb["dirs"])
                old_paths = (list(fb["dirs"].values()) if fb
                             else [from_cat["tables"][table]]
                             if table in from_cat.get("tables", {}) else [])
            else:
                changed = {b for b, rel in tb["dirs"].items()
                           if fb["dirs"].get(b) != rel}
                old_paths = [fb["dirs"][b] for b in sorted(changed)
                             if b in fb["dirs"]]
            new_df = _read([tb["dirs"][b] for b in sorted(changed)],
                           recursive=True)
            old_df = _read(old_paths, recursive=True)
            if new_df is None:
                return None
            return new_df.exceptAll(old_df) if old_df is not None \
                else new_df

        if table in to_cat["tables"]:
            if from_cat["tables"].get(table) == to_cat["tables"][table]:
                return None
            new_df = _read([to_cat["tables"][table]])
            old_rel = from_cat["tables"].get(table)
            old_df = _read([old_rel]) if old_rel else None
            return new_df.exceptAll(old_df) if old_df is not None \
                else new_df
        return None

    def read_buckets(
        self, spark: SparkSession, table: str, bucket_ids
    ) -> DataFrame | None:
        """Read only the given buckets of a bucketed table (the commit
        path's working set — never the full table)."""
        cat = self.read_catalog()
        bucketed = cat.get("buckets", {}).get(table)
        if not bucketed:
            return None
        dirs = bucketed["dirs"]
        paths = [
            os.path.join(self.root, dirs[str(b)])
            for b in bucket_ids if str(b) in dirs
        ]
        if not paths:
            return None
        return self._reader(spark, cat, table,
                            recursive=True).parquet(*paths)

    def read_status(
        self, spark: SparkSession, table: str, value: str
    ) -> DataFrame | None:
        """Status-pruned read of a sub-partitioned bucketed table: lists
        only the ``<sub>=<value>`` leaf dirs, so e.g. the per-round
        QUEUED scan never opens a non-queued file (PerstRoot's
        per-status B-trees, db/PerstRoot.java:33-37).  On Iceberg the
        same pruning comes from the partition spec + manifest filters."""
        cat = self.read_catalog()
        bucketed = cat.get("buckets", {}).get(table)
        if not bucketed or not bucketed.get("sub"):
            return None
        sub = bucketed["sub"]
        paths = []
        for rel in bucketed["dirs"].values():
            leaf = os.path.join(self.root, rel, f"{sub}={value}")
            if os.path.isdir(leaf):
                paths.append(leaf)
        if not paths:
            return None
        return self._reader(spark, cat, table,
                            recursive=True).parquet(*paths)

    def is_bucketed(self, table: str) -> bool:
        return table in self.read_catalog().get("buckets", {})

    def bucket_count(self, table: str) -> int | None:
        b = self.read_catalog().get("buckets", {}).get(table)
        return b["n"] if b else None

    def bucket_sub(self, table: str) -> str | None:
        """The sub-partition column of a bucketed table, if any."""
        b = self.read_catalog().get("buckets", {}).get(table)
        return b.get("sub") if b else None

    def populated_buckets(self, table: str) -> list[int]:
        b = self.read_catalog().get("buckets", {}).get(table)
        return sorted(int(k) for k in b["dirs"]) if b else []

    def exists(self, table: str) -> bool:
        cat = self.read_catalog()
        return (
            table in cat["tables"]
            or table in cat.get("buckets", {})
            or bool(cat["appends"].get(table))
        )

    # -- round commit ------------------------------------------------------

    def commit_round(
        self,
        rnd: int,
        rewrites: dict[str, DataFrame],
        appends: dict[str, DataFrame],
        metrics: dict[str, Any] | None = None,
        bucket_updates: dict[str, tuple[DataFrame, int]] | None = None,
        rebucket: set[str] | frozenset[str] = frozenset(),
    ) -> None:
        """Write all round outputs, then swap the catalog atomically.

        ``rewrites`` replace a table's current version (frontier MERGE
        analog); ``appends`` add a segment (postings/crawl-log sink);
        ``bucket_updates`` maps table -> (df, n_buckets) where df holds
        the full new contents of ONLY the touched buckets and carries an
        int ``bucket`` column — one partitioned write re-points just
        those buckets (Iceberg partition-overwrite analog).  If df also
        carries a ``_pstatus`` column the write sub-partitions each
        bucket by it (status-pruned layout; a table switching layouts
        must rewrite ALL of its current buckets in that commit).

        ``rebucket`` names bucketed tables whose bucket COUNT this
        commit intentionally changes (engine.rebucket migration): their
        df must hold the table's FULL contents re-hashed to the new
        count, and the previous dirs are dropped wholesale (they are
        hashed by the old modulus and would mis-route reads).  Without
        the flag a count mismatch still raises — it is always a bug
        outside a migration."""
        cat = self.read_catalog()
        new_tables = dict(cat["tables"])
        new_schemas = dict(cat.get("schemas", {}))
        new_appends = {k: list(v) for k, v in cat["appends"].items()}
        new_buckets = {
            t: {k: (dict(v) if isinstance(v, dict) else v)
                for k, v in b.items()}
            for t, b in cat.get("buckets", {}).items()
        }

        # the per-table writes are independent Spark jobs — run them
        # concurrently so their stages overlap (Spark's scheduler is
        # thread-safe; on a cluster this fills otherwise-idle executors
        # while e.g. the postings shuffle's tail finishes)
        jobs: list[tuple[str, str, DataFrame, str]] = []
        for table, df in rewrites.items():
            jobs.append((table, f"{table}/snap-{rnd:06d}", df, "rewrite"))
        for table, df in appends.items():
            if df is not None:
                jobs.append((table, f"{table}/seg-{rnd:06d}", df, "append"))
        for table, (df, nb) in (bucket_updates or {}).items():
            prev = new_buckets.get(table)
            if prev is not None and prev["n"] != nb:
                if table not in rebucket:
                    raise ValueError(
                        f"{table}: bucket count {nb} != catalog {prev['n']}")
                # migration: the new write is the whole table under the
                # new modulus — forget every old-modulus dir
                new_buckets[table] = {"n": nb, "dirs": {}}
            jobs.append((table, f"{table}/snap-{rnd:06d}", df, "bucket"))

        def _write(job):
            _, rel, df, kind = job
            w = df.write.mode("overwrite")
            if kind == "bucket":
                cols = ["bucket"]
                if "_pstatus" in df.columns:
                    cols.append("_pstatus")
                w = w.partitionBy(*cols)
            w.parquet(os.path.join(self.root, rel))

        if len(jobs) > 1:
            from concurrent.futures import ThreadPoolExecutor
            with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
                list(pool.map(_write, jobs))
        else:
            for job in jobs:
                _write(job)
        for table, rel, df, kind in jobs:
            # committed data schema (partition cols are dir-encoded):
            # the catalog, not file sampling, is the schema authority —
            # see _table_schema for the evolution rule
            part = {"bucket", "_pstatus"} if kind == "bucket" else set()
            fields = [f for f in df.schema.fields if f.name not in part]
            if kind == "append" and table in new_schemas:
                # append segments are immutable history: a narrower
                # append must not hide (and, via compaction, then
                # destroy) columns earlier segments carry — union with
                # the prior committed schema, new definition winning
                # on a name collision (explicit type evolution)
                names = {f.name for f in fields}
                fields += [f for f in
                           StructType.fromJson(new_schemas[table]).fields
                           if f.name not in names]
            new_schemas[table] = json.loads(StructType(fields).json())
            if kind == "rewrite":
                new_tables[table] = rel
            elif kind == "append":
                new_appends.setdefault(table, []).append(rel)
            else:  # bucket: re-point only the buckets the write produced
                sub = "_pstatus" if "_pstatus" in df.columns else None
                ent = new_buckets.setdefault(
                    table, {"n": bucket_updates[table][1], "dirs": {}})
                prev_sub = ent.get("sub")
                out_dir = os.path.join(self.root, rel)
                written = set()
                if os.path.isdir(out_dir):
                    for d in os.listdir(out_dir):
                        if d.startswith("bucket="):
                            written.add(d.split("=", 1)[1])
                            ent["dirs"][d.split("=", 1)[1]] = f"{rel}/{d}"
                if prev_sub != sub:
                    # layout change: every surviving dir must come from
                    # THIS write, or reads would mix flat and
                    # sub-partitioned dirs (partition-discovery conflict)
                    stale = set(ent["dirs"]) - written
                    if stale:
                        raise ValueError(
                            f"{table}: sub-partition layout changed to "
                            f"{sub!r} but buckets {sorted(stale)} were not "
                            "rewritten — a layout migration must rewrite "
                            "all current buckets")
                if sub:
                    ent["sub"] = sub
                else:
                    ent.pop("sub", None)
                new_tables.pop(table, None)  # supersedes any legacy version

        # phase-1 marker (NOT_PUSHED fidelity, db/Status.java:7-11 +
        # LibraryBuffer.java:97-102): every round output is now durably
        # on disk but the catalog still points at the previous round —
        # the exact window where the reference holds pages NOT_PUSHED.
        # A crash here leaves the marker + orphan dirs; the replayed
        # round overwrites both.  Observers (status_counts) surface the
        # window as a NOT_PUSHED row; the swap below closes it.
        pending = {
            "round": rnd,
            "dirs": [rel for _, rel, _, _ in jobs],
            "metrics": metrics or {},
        }
        self._atomic_write_json(os.path.join(self.root, PENDING), pending)

        entry = {
            "round": rnd,
            "tables": sorted(list(rewrites) + list(appends)),
            "metrics": metrics or {},
            "committed_at": time.time(),  # informational only, not semantic
        }
        lineage = list(cat.get("lineage", []))
        lineage.append(entry)
        totals = dict(cat.get("totals", {}))
        totals["rounds_committed"] = totals.get("rounds_committed", 0) + 1
        for key in ("fetched", "admitted"):
            if key in (metrics or {}):
                totals[key] = totals.get(key, 0) + metrics[key]
        # audit log append (non-atomic by design — see module docstring)
        with open(os.path.join(self.root, LINEAGE_LOG), "a") as f:
            f.write(json.dumps(entry) + "\n")
        new_cat = {
            "round": rnd,
            "tables": new_tables,
            "schemas": new_schemas,
            "appends": new_appends,
            "buckets": new_buckets,
            "lineage": lineage[-LINEAGE_KEEP:],
            "totals": totals,
        }
        self._swap_catalog(new_cat)
        # archive the committed catalog for as_of reads (AFTER the
        # swap: a crash in between loses only the archive copy, never
        # creates a phantom round) and prune beyond the retention
        # window — gc_orphans keeps every dir a retained archive
        # references, so an as_of reader's files outlive the round
        if self.snapshot_keep > 0:
            os.makedirs(os.path.join(self.root, CATALOG_DIR), exist_ok=True)
            self._atomic_write_json(self._archive_path(rnd), new_cat,
                                    indent=1)
            for old in self.snapshots():
                if old <= rnd - self.snapshot_keep:
                    try:
                        os.unlink(self._archive_path(old))
                    except FileNotFoundError:
                        pass
        # phase 2 complete: the NOT_PUSHED window is closed.  A crash
        # BETWEEN the swap and this unlink leaves a marker whose round
        # equals the committed round — pending_round() ignores it.
        try:
            os.unlink(os.path.join(self.root, PENDING))
        except FileNotFoundError:
            pass

    def pending_round(self) -> dict[str, Any] | None:
        """The phase-1 marker of a torn commit, if one is open: round
        outputs written durably but not yet visible in the catalog (the
        reference's NOT_PUSHED state).  Returns None when the marker is
        stale (its round already committed — crash between swap and
        marker unlink) or its dirs are gone (gc'd)."""
        p = os.path.join(self.root, PENDING)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            pending = json.load(f)
        if pending["round"] <= self.read_catalog()["round"]:
            return None
        if not all(os.path.isdir(os.path.join(self.root, d))
                   for d in pending["dirs"]):
            return None
        return pending

    # -- maintenance -------------------------------------------------------

    def rollback(self, to_round: int) -> None:
        """Restore the live catalog to a retained archived round
        (Iceberg ``rollback_to_snapshot`` analog) — the recovery op for
        a poisoned round, e.g. a spam flood admitted by a bad badlist
        change: the crawl resumes from ``to_round`` exactly as if the
        later rounds never committed, and because the engine is
        deterministic the replayed rounds reproduce the timeline
        bit-identically (under the same config/corpus).  Raises
        ``KeyError`` if ``to_round`` is outside the retained window.

        Crash-safe ordering: (1) swap the live catalog to the archive
        copy — the commit point; (2) unlink the abandoned timeline's
        archives (rounds > ``to_round``).  A crash between the two
        leaves stale future archives that :meth:`snapshots` already
        ignores and the next commits overwrite/prune.  An open
        phase-1 marker belongs to the abandoned timeline and is
        cleared; the abandoned rounds' snapshot dirs are overwritten
        by the replayed rounds (same round-encoded names) and any
        never-replayed residue past the torn-commit window is
        collected by ``gc_orphans``."""
        if to_round == self.read_catalog()["round"]:
            return
        cat = self.read_catalog(as_of=to_round)  # KeyError if pruned
        self._swap_catalog(cat)
        for rnd in self._archived_rounds():
            if rnd > to_round:
                try:
                    os.unlink(self._archive_path(rnd))
                except FileNotFoundError:
                    pass
        try:
            os.unlink(os.path.join(self.root, PENDING))
        except FileNotFoundError:
            pass

    def compact_appends(self, spark: SparkSession, table: str,
                        min_segments: int = 2) -> bool:
        """Merge ALL of an append table's segments into one rollup dir
        and atomically re-point the catalog (LibraryBuffer.java:160-188
        flush/merge analog; Iceberg rewrite_data_files).  Bounded read
        amplification: with the engine triggering at ``K`` segments,
        each row is rewritten once per K rounds.  Returns True if a
        compaction ran.  Readers of the OLD catalog keep working (their
        dirs stay on disk until gc_orphans)."""
        cat = self.read_catalog()
        segs = cat["appends"].get(table, [])
        if len(segs) < min_segments:
            return False
        # the committed schema MUST drive the rollup read: inference
        # samples one file, and if that file predates an additive
        # evolution the rollup would be written without the new column
        # — silent, permanent loss once gc prunes the originals
        df = self._reader(spark, cat, table).parquet(
            *[os.path.join(self.root, s) for s in segs])
        rel = f"{table}/rollup-{cat['round']:06d}-{len(segs)}"
        df.write.mode("overwrite").parquet(os.path.join(self.root, rel))
        # single-writer store (one driver owns the catalog, like one
        # Iceberg committer with the lock): re-reading here only guards
        # against THIS process having committed a new segment between
        # the read above and the rollup write finishing (the engine
        # does not, but API callers may) — it is NOT a concurrent-
        # multi-process protocol; the read-modify-swap below is not
        # serialized against another writer process
        cat2 = self.read_catalog()
        tail = [s for s in cat2["appends"].get(table, []) if s not in segs]
        cat2["appends"][table] = [rel] + tail
        self._swap_catalog(cat2)
        return True

    def gc_orphans(self, keep_recent: int = 0) -> list[str]:
        """Remove snapshot dirs not referenced by the catalog (the
        Iceberg expire_snapshots analog; post-crash cleanup is the
        degenerate case).  Safe because the catalog swap is the commit
        point: anything unreferenced can never become referenced again.

        ``keep_recent`` retains unreferenced dirs whose encoded round is
        within that many rounds of the current round — a grace window so
        a concurrent reader that opened the PREVIOUS catalog (e.g. a
        dashboard query mid-commit) never has its files deleted out from
        under it.  Dirs are named ``snap-/seg-/rollup-<round>...``, so
        the round is recoverable from the name alone."""
        cat = self.read_catalog()
        current = cat["round"]

        def _dir_round(name: str) -> int:
            # snap-000012, seg-000012, rollup-000012-5 → 12; unknown → -1
            for part in name.split("-")[1:2]:
                if part.isdigit():
                    return int(part)
            return -1

        cats = [cat]
        # retained archived catalogs pin their referenced dirs: an
        # as_of reader (or one that opened a previous catalog mid-
        # commit) must never lose files within the retention window
        for rnd in self.snapshots():
            if rnd != current:
                try:
                    cats.append(self.read_catalog(as_of=rnd))
                except (KeyError, json.JSONDecodeError):
                    continue
        live: set[str] = set()
        for c in cats:
            live.update(c["tables"].values())
            for segs in c["appends"].values():
                live.update(segs)
            for b in c.get("buckets", {}).values():
                live.update(b["dirs"].values())  # leaf bucket=N dirs
        removed = []
        for table in os.listdir(self.root):
            tdir = os.path.join(self.root, table)
            if not os.path.isdir(tdir) or table == CATALOG_DIR:
                continue  # control files/dirs are not snapshot tables
            for snap in os.listdir(tdir):
                rel = f"{table}/{snap}"
                if rel in live or not os.path.isdir(os.path.join(tdir, snap)):
                    continue
                # grace window: recent rounds for concurrent readers of
                # the previous catalog, plus current+1 (an open torn-
                # commit's outputs).  Dirs encoding rounds further in
                # the future can only be an abandoned rollback timeline
                # — no grace for those
                if keep_recent and \
                        current - keep_recent < _dir_round(snap) <= current + 1:
                    continue
                snap_dir = os.path.join(tdir, snap)
                live_leaves = {p for p in live if p.startswith(rel + "/")}
                if live_leaves:
                    # mixed snap dir of a bucketed table: remove only
                    # the dead bucket subdirs, keep the live ones
                    for sub in os.listdir(snap_dir):
                        leaf = f"{rel}/{sub}"
                        sub_path = os.path.join(snap_dir, sub)
                        if leaf not in live_leaves and os.path.isdir(sub_path):
                            shutil.rmtree(sub_path)
                            removed.append(leaf)
                else:
                    shutil.rmtree(snap_dir)
                    removed.append(rel)
        return removed
