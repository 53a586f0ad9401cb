"""Crawl configuration — parity with the reference's Config record
(db/Config.java:15-64) plus the web-scale graft knobs (politeness,
robots, salting) from SURVEY.md §0.1/§7.

All time-dependent behavior is driven by an injected ``round_hour``
(not wall-clock) so runs are bit-identically reproducible.
"""

from __future__ import annotations

from dataclasses import dataclass

# last_change = (round << SEQ_SHIFT) | seq, computed in 64-bit: 32 bits
# of per-round sequence leaves 31 bits of round — a round admitting
# >2^32 URLs would overflow, which the engine guards loudly against.
SEQ_SHIFT = 32

# Default badlisted extensions, db/Config.java:48-56.
DEFAULT_BADLISTED_EXTENSIONS: tuple[str, ...] = (
    ".ico", ".bmp", ".png", ".jpg", ".jpeg", ".gif", ".tif", ".tiff",
    ".ani", ".raw", ".svg",
    ".zip", ".jar", ".gz", ".bz2", ".rar", ".sit",
    ".7z", ".tar", ".arj", ".rpm", ".deb",
    ".xpi", ".ace", ".cab", ".lza", ".lzh",
    ".exe", ".iso", ".bin", ".dll", ".nrg", ".dmg", ".drv", ".img",
    ".msi", ".nds", ".vcd",
    ".mpg", ".ogg", ".ogv", ".mp3", ".avi", ".wv", ".swf", ".wmv",
    ".mkv", ".flac", ".ogm", ".divx", ".mpeg", ".rm", ".wma", ".asf",
    ".rmvb", ".mov", ".flv", ".mp4", ".m4v", ".wav", ".aac", ".cda",
    ".fla", ".m4a", ".midi", ".vob",
    ".css", ".sig", ".gml", ".df", ".cbr", ".gf", ".pdf", ".db",
    ".dbf", ".accdb", ".dat", ".docx", ".dwg", ".mdf", ".odg", ".odt",
    ".ods", ".pps", ".wdb", ".xls", ".xlsx",
)


@dataclass(frozen=True)
class CrawlConfig:
    # --- reference-parity knobs (db/Config.java:37-64) ---
    badlisted_extensions: tuple[str, ...] = DEFAULT_BADLISTED_EXTENSIONS
    badlisted_keywords: tuple[str, ...] = ()
    # maxParallelRequests working / non-working; reference defaults are 0/0
    # ("crawl disabled until configured") — we default to a usable budget.
    max_parallel_working: int = 100
    max_parallel_non_working: int = 200
    begin_working_period: int = 23   # db/Config.java:45
    end_working_period: int = 7      # db/Config.java:46
    max_shown_uris: int = 50         # db/Config.java:41
    # Request priority classes (db/Config.java:194-201 RequestStarter
    # ladder, 0=MAXIMUM .. 6=MINIMUM; the reference schedules editioned
    # USK refetches ahead of normal pages).  The frontier's priority
    # column accepts any configured ladder value; scheduling ranks
    # (priority asc, last_change, id).
    edition_priority: int = -1
    default_priority: int = 0
    # B6 MIME gate (Spider.java:457-464,590-594): a fetched page whose
    # declared content type is not whitelisted is marked SUCCEEDED but
    # NOT parsed/indexed — no postings, no outlinks, no title.  Pages
    # with no declared type (no 'mime' span) are treated as safe text.
    safe_mime_types: tuple[str, ...] = ("text/html", "text/plain")

    # --- graft knobs (SURVEY.md §0.1 axes A+B) ---
    default_host_quota: int = 8      # per-host max fetches per round (politeness)
    # bucket(url_hash) partition count.  SIZING RULE (VERDICT r3 #4):
    # pick nb = ceil(expected_frontier_keys / target_keys_per_bucket)
    # at bootstrap, targeting ~4M keys/bucket — each bucket's Bloom
    # bitmap is then keys·functions.filters.BITS_PER_KEY·4x-headroom
    # ≈ 4M·10·4 bits ≈ 20 MB, built inside ONE task comfortably.  At
    # 10^10 URLs that is nb ≈ 2500 (≫ cores, so commit/filter writes
    # stay parallel); the default 32 suits the ≤10^8-key test/bench
    # scale.  A frontier that outgrows its sizing moves to a new count
    # with engine.rebucket(new_nb) (one O(frontier) job, filters
    # rebuilt, one atomic swap).
    frontier_buckets: int = 32
    # id/seq assignment parallelism: >1 → two-pass range-partitioned
    # sequence (per-partition counts → offsets → partition-local
    # row_number); 1 → single global window (tiny rounds only)
    seq_partitions: int = 8
    # the sharded Bloom/cuckoo prefilters only pay for themselves once
    # the frontier outgrows what the exact anti-join handles trivially;
    # below this row count the engine runs no filter jobs at all
    # (tests set 0 to force the filter path on tiny corpora)
    filter_min_keys: int = 100_000
    # per-bucket cuckoo "done" table (deletion-capable queued-or-done
    # view backing force-requeue, Spider.java:185-188)
    use_cuckoo: bool = True
    # rounds whose total working set is below this coalesce their
    # commit writes to one task — partitioned writes otherwise pay
    # ~n_buckets empty tasks per tiny round
    small_round_rows: int = 20_000
    # append tables (postings / crawl_log) compact into one rollup
    # segment when their segment list reaches this length, bounding
    # read fan-out at ~10^4 rounds (store.compact_appends)
    max_append_segments: int = 48
    # snapshot expiry (Iceberg expire_snapshots analog): when an append
    # compaction runs, unreferenced snapshot dirs older than this many
    # rounds are removed (store.gc_orphans keep_recent).  Superseded
    # bucket dirs otherwise accumulate forever.  Doubles as the store's
    # snapshot-retention window (engine sets store.snapshot_keep to it):
    # as_of / read_changes resolve exactly this many trailing rounds,
    # and gc pins every dir a retained archive references — one
    # coherent policy, like Iceberg's expire_snapshots retain-last.
    # 0 disables both expiry and catalog archiving (time travel then
    # resolves only the live round).
    gc_retain_rounds: int = 2
    respect_robots: bool = True

    def max_parallel(self, round_hour: int) -> int:
        """Working/non-working budget switch (db/Config.java:132-153),
        driven by an injected hour for determinism.  Both half-open
        interval orientations handled, midnight wrap included."""
        b, e = self.begin_working_period, self.end_working_period
        if b < e:
            working = b < round_hour < e
        else:
            working = round_hour > b or round_hour < e
        return self.max_parallel_working if working else self.max_parallel_non_working
