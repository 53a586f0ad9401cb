"""Binary postings sink — format parity with the reference's
TermEntryWriter stream (index/TermEntryWriter.java:33-67) and the
writeToPush metadata header (LibraryBuffer.java:190-211).

Per entry (all big-endian, Java DataOutputStream conventions):
    long   serialVersionUID = 0xF23194B7F015560C   (TermEntry.java:21)
    int    entryType ordinal (PAGE = 2; TermEntry.java:23-25)
    UTF    subj (term)            [Java modified-UTF8, 2-byte length]
    float  rel
    bytes  page key               [graft: UTF url — the reference writes
                                   a Freenet binary key here; URLs are
                                   the graft's key space]
    int    |positions|  (bit-inverted ~size iff title set, then UTF title)
    per position: int position, UTF "" (empty fragment)

Entries are emitted in the reference's TreeMap order
(term asc, rel desc, page asc — index/TermEntry.java:68-76) via
sortWithinPartitions after a range repartition on term, so each output
part file is internally ordered and part files are ordered by range.

Executed as mapInArrow — Arrow batches in, binary chunks out — so the
encoder is distributed and never collects postings to the driver.
"""

from __future__ import annotations

import io
import struct
from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SERIAL_VERSION_UID = 0xF23194B7F015560C
ENTRY_TYPE_PAGE = 2


def _write_java_utf(out: io.BytesIO, s: str) -> None:
    """Java DataOutputStream.writeUTF: 2-byte length + modified UTF-8
    (codepoints > U+FFFF as surrogate pairs, NUL as 0xC0 0x80)."""
    buf = bytearray()
    for ch in s:
        cp = ord(ch)
        if 1 <= cp <= 0x7F:
            buf.append(cp)
        elif cp == 0 or cp <= 0x7FF:
            buf.append(0xC0 | (cp >> 6))
            buf.append(0x80 | (cp & 0x3F))
        elif cp <= 0xFFFF:
            buf.append(0xE0 | (cp >> 12))
            buf.append(0x80 | ((cp >> 6) & 0x3F))
            buf.append(0x80 | (cp & 0x3F))
        else:  # surrogate pair, each half as 3-byte sequence
            cp -= 0x10000
            for half in (0xD800 | (cp >> 10), 0xDC00 | (cp & 0x3FF)):
                buf.append(0xE0 | (half >> 12))
                buf.append(0x80 | ((half >> 6) & 0x3F))
                buf.append(0x80 | (half & 0x3F))
    if len(buf) > 0xFFFF:
        raise ValueError("writeUTF string too long")
    out.write(struct.pack(">H", len(buf)))
    out.write(bytes(buf))


def encode_entry(term: str, doc_id: str, rel: float, title: str | None,
                 positions: list[int],
                 pos_fragments: dict[int, str] | None = None) -> bytes:
    """Byte-parity note (fragment-bearing entries): the reference's
    TermEntryWriter iterates positionsMap().entrySet() — HashMap
    iteration order — while this writer walks the sorted ``positions``
    list and looks each fragment up.  Spider itself never populates
    posFragments (TermPageEntry.java:33), so every entry it produces is
    byte-identical here; an entry that DOES carry fragments matches the
    reference content-wise (same position→fragment pairs) but not
    necessarily in the reference's hash order, which is
    JVM-capacity-dependent and not a stable contract to mirror."""
    out = io.BytesIO()
    out.write(struct.pack(">q", SERIAL_VERSION_UID - (1 << 64)
                          if SERIAL_VERSION_UID >= (1 << 63) else SERIAL_VERSION_UID))
    out.write(struct.pack(">i", ENTRY_TYPE_PAGE))
    _write_java_utf(out, term)
    out.write(struct.pack(">f", rel))
    _write_java_utf(out, doc_id)  # graft key serialization (see module doc)
    size = len(positions) if positions else 0
    if title is None:
        out.write(struct.pack(">i", size))
    else:
        out.write(struct.pack(">i", ~size))
        _write_java_utf(out, title)
    frags = pos_fragments or {}
    for p in positions or ():
        out.write(struct.pack(">i", p))
        # posFragments lookup (TermPageEntry.java:33; Spider leaves the
        # map empty, so this is "" in practice — but the column decides)
        _write_java_utf(out, frags.get(p) or "")
    return out.getvalue()


def metadata_header(title: str, owner_name: str, owner_email: str,
                    total_pages: int) -> bytes:
    """SimpleFieldSet text header (LibraryBuffer.java:192-203):
    key=value lines terminated by 'End'."""
    lines = [
        f"index.title={title}",
        f"index.owner.name={owner_name}",
        f"index.owner.email={owner_email}",
        f"totalPages={total_pages}",
        "End",
        "",
    ]
    return "\n".join(lines).encode("utf-8")


def write_binary_postings(postings: DataFrame, out_dir: str,
                          partitions: int = 8) -> None:
    """Distributed binary emission: range-partition by the TreeMap sort
    key, sort within partitions, encode via mapInArrow."""
    ordered = (
        postings.repartitionByRange(partitions, F.col("term"))
        .sortWithinPartitions(F.col("term").asc(), F.col("rel").desc(),
                              F.col("doc_id").asc())
    )

    def encode_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            d = batch.to_pydict()
            frags = d.get("pos_fragments")
            blobs = [
                encode_entry(d["term"][i], d["doc_id"][i], d["rel"][i],
                             d["title"][i], d["positions"][i],
                             dict(frags[i]) if frags and frags[i] else None)
                for i in range(batch.num_rows)
            ]
            yield pa.RecordBatch.from_pydict({"entry": pa.array(blobs, pa.binary())})

    ordered.mapInArrow(encode_batches, "entry binary").write.mode(
        "overwrite"
    ).parquet(out_dir)


def binary_stream(postings_rows: list, header: bytes = b"") -> bytes:
    """Driver-side stream assembly for small outputs / tests — the
    byte-for-byte analog of writeToPush's single Bucket."""
    out = io.BytesIO()
    out.write(header)
    for r in postings_rows:
        pf = r["pos_fragments"] if "pos_fragments" in r else None
        out.write(encode_entry(r["term"], r["doc_id"], r["rel"],
                               r["title"], list(r["positions"]),
                               dict(pf) if pf else None))
    return out.getvalue()
