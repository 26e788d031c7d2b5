"""WARC (ISO 28500) crawl-archive source — raw-crawl ingestion for the
Common-Crawl-style pipeline.

This is the missing first metre of the webtext story: real corpora do
not start as a parquet ``documents`` table, they start as WARC archive
files. This source turns them into exactly the engine's input-hint shape
``(url, warc_ts, html, text, lang)`` so the existing tiers compose
unchanged: WARC files -> ``warc_pages`` -> per-URL recrawl dedup
(operators/recrawl.py) -> content dedup -> everything else.

Format knowledge is the PUBLIC WARC 1.0 / ISO 28500 specification and
Common Crawl's published archive layout (each record its own gzip
member, members concatenated into one ``.warc.gz``). The reference repo
has no crawl-file reader at all — it starts from in-memory vectors
(nlsh/indexer.py builds over already-loaded arrays) — so this is an
engine addition in the SURVEY §2.12 N-series.

Spark shape, sized for 100 TB: a crawl is tens of thousands of ~1 GB
archive files. ``spark.read.format("binaryFile")`` yields one row per
file and ``mapInPandas`` parses records inside each payload, so the
parallelism IS the file count: one task per archive, ZERO shuffles (the
physical plan is scan -> mapInPandas, asserted in tests). Gzip is
decompressed in fixed-size chunks (linear offset-walked multi-member zlib)
with a carry-over scanner, so peak decompressed memory is ~one chunk +
one in-flight record, never the whole archive.

Totality contract (same as the codec family): a malformed, truncated,
or hostile record is SKIPPED — the parser resynchronizes on the next
``WARC/1.0\\r\\n`` magic and never raises on arbitrary bytes
(fuzz-tested in tests/test_warc.py).
"""

from __future__ import annotations

import zlib
from datetime import datetime, timezone
from typing import Iterable, Iterator

_WARC_MAGIC = b"WARC/1.0\r\n"
_GZIP_MAGIC = b"\x1f\x8b"

# Spark-facing schema of the raw record reader. html stays BINARY here
# (bytes are the ground truth; charset decode is downstream's choice) —
# warc_pages() casts to string inside extract_text, matching the planted
# crawls table where html = encode(text).
WARC_SCHEMA = (
    "path string, seq long, url string, warc_ts timestamp, html binary"
)

# WET (Common Crawl's extracted-text distribution): same WARC container,
# records are WARC-Type: conversion with a text/plain payload — the
# pipeline's `text` column directly, no html and no HTTP envelope.
WET_SCHEMA = (
    "path string, seq long, url string, warc_ts timestamp, text string"
)


# ---------------------------------------------------------------------------
# encode (the test/datagen inverse of the reader)
# ---------------------------------------------------------------------------


def _format_date(date: datetime) -> str:
    """Spec second-resolution form, or the fractional form when the
    datetime carries sub-second precision — so read -> write -> read
    round-trips warc_ts exactly for warcio/wget-style inputs too."""
    base = date.strftime("%Y-%m-%dT%H:%M:%S")
    if date.microsecond:
        return f"{base}.{date.microsecond:06d}Z"
    return base + "Z"


def encode_warc(
    records: Iterable[dict],
    gzip_members: bool = True,
    id_offset: int = 0,
) -> bytes:
    """WARC/1.0 bytes for an iterable of ``{"url", "date", "html"}``
    dicts (``date``: aware-or-naive UTC datetime; ``html``: bytes).

    Writes Common-Crawl-layout *response* records: the WARC content
    block is an HTTP/1.1 response head + CRLFCRLF + body, and with
    ``gzip_members=True`` (the CC default) each record is its own gzip
    member so readers can stream member-at-a-time."""
    out = []
    for i, rec in enumerate(records, start=id_offset):
        body: bytes = rec["html"]
        http = (
            b"HTTP/1.1 200 OK\r\n"
            b"Content-Type: text/html\r\n"
            + b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n"
            + body
        )
        date = rec["date"]
        if date.tzinfo is not None:
            date = date.astimezone(timezone.utc).replace(tzinfo=None)
        headers = (
            _WARC_MAGIC
            + b"WARC-Type: response\r\n"
            + b"WARC-Record-ID: <urn:uuid:00000000-0000-0000-0000-%012d>\r\n" % i
            + b"WARC-Date: " + _format_date(date).encode() + b"\r\n"
            + b"WARC-Target-URI: " + rec["url"].encode() + b"\r\n"
            + b"Content-Type: application/http; msgtype=response\r\n"
            + b"Content-Length: " + str(len(http)).encode() + b"\r\n"
            + b"\r\n"
        )
        record = headers + http + b"\r\n\r\n"
        if gzip_members:
            co = zlib.compressobj(6, zlib.DEFLATED, 31)  # 31 = gzip wrapper
            record = co.compress(record) + co.flush()
        out.append(record)
    return b"".join(out)


def encode_wet(
    records: Iterable[dict],
    gzip_members: bool = True,
    id_offset: int = 0,
) -> bytes:
    """WET bytes (Common Crawl's extracted-text layout) for an iterable
    of ``{"url", "date", "text"}`` dicts: the same WARC/1.0 container as
    :func:`encode_warc` but ``WARC-Type: conversion`` records whose
    content block is the UTF-8 text/plain payload directly — no HTTP
    envelope. Reference tie-in: the scan/sink contract is S1/S4's
    "load = exactly what was written" (reference ``nlsh/data.py:23-49``),
    here over CC's text distribution instead of the raw crawl."""
    out = []
    for i, rec in enumerate(records, start=id_offset):
        body: bytes = rec["text"].encode("utf-8")
        date = rec["date"]
        if date.tzinfo is not None:
            date = date.astimezone(timezone.utc).replace(tzinfo=None)
        headers = (
            _WARC_MAGIC
            + b"WARC-Type: conversion\r\n"
            + b"WARC-Record-ID: <urn:uuid:00000000-0000-0000-0001-%012d>\r\n" % i
            + b"WARC-Date: " + _format_date(date).encode() + b"\r\n"
            + b"WARC-Target-URI: " + rec["url"].encode() + b"\r\n"
            + b"Content-Type: text/plain\r\n"
            + b"Content-Length: " + str(len(body)).encode() + b"\r\n"
            + b"\r\n"
        )
        record = headers + body + b"\r\n\r\n"
        if gzip_members:
            co = zlib.compressobj(6, zlib.DEFLATED, 31)  # 31 = gzip wrapper
            record = co.compress(record) + co.flush()
        out.append(record)
    return b"".join(out)


# ---------------------------------------------------------------------------
# decode (total)
# ---------------------------------------------------------------------------


_MAGIC_LEN = len(_WARC_MAGIC)  # "WARC/1.x\r\n" is always 10 bytes
# spec header blocks are well under a KB; past this an unterminated
# header is treated as malformed, bounding carry-over memory and rescans
# on hostile never-terminating input
_MAX_HEADER = 1 << 20
# carry-over cap for one record's content: a hostile/corrupt
# Content-Length past this is treated as malformed instead of buffering
# the rest of the archive waiting for bytes that never suffice (CC caps
# response records well below this)
_MAX_RECORD = 1 << 28


def _find_magic(buf: bytes, start: int) -> int:
    """Next WARC record magic at or after ``start`` — accepts both
    ``WARC/1.0`` and ``WARC/1.1`` (the two published revisions; CC ships
    1.0, warcio/wget emit 1.1)."""
    pos = buf.find(b"WARC/1.", start)
    while pos >= 0:
        if buf[pos + 7 : pos + 10] in (b"0\r\n", b"1\r\n"):
            return pos
        pos = buf.find(b"WARC/1.", pos + 1)
    return -1


_GZIP_CHUNK = 1 << 22  # 4 MB decompressed chunks


_GZIP_FEED = 1 << 16  # compressed bytes fed to zlib per step


def _iter_gzip_chunks(buf: bytes) -> Iterator[bytes]:
    """Decompressed chunks of a (multi-member) gzip stream, LINEAR in
    the archive: the compressed buffer is walked by OFFSET with bounded
    64 KB feeds, so per member at most one feed-sized tail is re-fed —
    never the `d.unused_data` whole-remaining-buffer copy (O(members ×
    size) memcpy on Common Crawl's member-per-record layout), and never
    gzip.GzipFile's behavior of discarding cleanly-decompressed data
    when a LATER member is corrupt. Member boundaries are irrelevant to
    the caller: the record scanner carries partial records across any
    chunking. A truncated or corrupt tail yields what decompressed
    cleanly, then stops — never raises."""
    mv = memoryview(buf)
    off = 0
    n = len(buf)
    while off < n and buf[off : off + 2] == _GZIP_MAGIC:
        d = zlib.decompressobj(47)  # 47 = auto-detect gzip wrapper
        try:
            while not d.eof and off < n:
                fed = bytes(mv[off : off + _GZIP_FEED])
                off += len(fed)
                # max_length bounds every yielded chunk at _GZIP_CHUNK
                # even for extreme deflate ratios (64 KB can legally
                # inflate to ~66 MB); unconsumed_tail drains the rest
                chunk = d.decompress(fed, _GZIP_CHUNK)
                if chunk:
                    yield chunk
                while d.unconsumed_tail and not d.eof:
                    chunk = d.decompress(d.unconsumed_tail, _GZIP_CHUNK)
                    if chunk:
                        yield chunk
        except zlib.error:
            return
        if not d.eof:  # ran out of bytes mid-member: truncated tail
            return
        off -= len(d.unused_data)  # return the overfed tail (<= one feed)


def _parse_headers(block: bytes) -> dict[str, str]:
    headers: dict[str, str] = {}
    for line in block.split(b"\r\n"):
        k, sep, v = line.partition(b":")
        if sep:
            headers[k.strip().lower().decode("ascii", "replace")] = (
                v.strip().decode("utf-8", "replace")
            )
    return headers


def _parse_date(value: str) -> datetime | None:
    # the spec's second-resolution form plus the fractional-second form
    # real writers (warcio, wget) emit; truncated to microseconds by %f
    for fmt in ("%Y-%m-%dT%H:%M:%SZ", "%Y-%m-%dT%H:%M:%S.%fZ"):
        try:
            return datetime.strptime(value, fmt)
        except ValueError:
            continue
    return None


def _scan_records(buf: bytes, final: bool) -> tuple[list[dict], int, int]:
    """(complete records in ``buf``, consumed-byte offset, need-hint).
    With ``final=False`` a record that RUNS PAST the buffer end is left
    unconsumed (its bytes continue in the next chunk); with
    ``final=True`` it is dropped as truncated. Every search is bounded
    by the NEXT magic, so a malformed region costs one bounded scan —
    not a rescan to end-of-buffer per resync (that was quadratic).

    The third element is a progress hint for the incremental driver: the
    minimum ``len(buf)`` at which rescanning can make progress (0 = no
    in-flight record). A giant record spanning many chunks is rescanned
    once when enough bytes have arrived, not once per chunk. Headers are
    capped at ``_MAX_HEADER`` bytes — past that an unterminated header
    block is malformed, which bounds carry-over memory on hostile
    never-terminating input."""
    tail_keep = _MAGIC_LEN - 1  # a magic can straddle chunk boundaries
    recs: list[dict] = []
    consumed = 0
    pos = _find_magic(buf, 0)
    while pos >= 0:
        nxt = _find_magic(buf, pos + _MAGIC_LEN)
        bound = nxt if nxt >= 0 else len(buf)
        hdr_end = buf.find(b"\r\n\r\n", pos, bound)
        if hdr_end < 0:
            if nxt < 0:
                if not final and len(buf) - pos <= _MAX_HEADER:
                    # header may continue in the next chunk: need at
                    # least one more byte past what we have (post-slice)
                    return recs, pos, len(buf) - pos + 1
                # truncated (final) or implausibly long header: malformed
                return recs, max(consumed, len(buf) - tail_keep), 0
            consumed = pos = nxt  # header never terminated: resync
            continue
        headers = _parse_headers(buf[pos + _MAGIC_LEN : hdr_end])
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            length = -1
        if length < 0:  # headers complete but unusable: malformed, skip
            if nxt < 0:
                return recs, max(consumed, len(buf) - tail_keep), 0
            consumed = pos = nxt
            continue
        content_start = hdr_end + 4
        content_end = content_start + length
        if content_end > len(buf):
            if not final:
                if content_end - pos > _MAX_RECORD:
                    # implausible Content-Length: malformed — do NOT
                    # buffer the rest of the archive waiting for it
                    if nxt < 0:
                        return recs, max(consumed, len(buf) - tail_keep), 0
                    consumed = pos = nxt
                    continue
                # content continues in the next chunk: no rescan until
                # the record's full span is present (post-slice length)
                return recs, pos, content_end - pos
            if nxt < 0:
                return recs, max(consumed, len(buf) - tail_keep), 0
            consumed = pos = nxt  # truncated: resync
            continue
        content = buf[content_start:content_end]
        body = content
        if headers.get("content-type", "").startswith("application/http"):
            split = content.find(b"\r\n\r\n")
            body = content[split + 4 :] if split >= 0 else b""
        date = _parse_date(headers.get("warc-date", ""))
        if date is not None:
            recs.append(
                {
                    "warc_type": headers.get("warc-type", ""),
                    "url": headers.get("warc-target-uri", ""),
                    "date": date,
                    "body": body,
                }
            )
        consumed = content_end
        # next record begins after the content block's CRLFCRLF separator,
        # but resync on magic regardless (tolerates a missing separator)
        pos = _find_magic(buf, max(content_end, pos + _MAGIC_LEN))
    if final:
        return recs, len(buf), 0
    # keep a magic-prefix-sized tail: a record magic can straddle chunks
    return recs, max(consumed, len(buf) - tail_keep), 0


def iter_warc_records(buf: bytes) -> Iterator[dict]:
    """Yield ``{"warc_type", "url", "date", "body"}`` per parseable WARC
    1.0/1.1 record in ``buf`` (plain or concatenated-gzip). TOTAL: any
    byte string yields zero or more records and never raises; malformed
    records are skipped with magic-resync, every scan bounded by the
    next magic (linear in input, even on hostile bytes).

    Gzip archives are decompressed in fixed-size chunks (linear-time
    multi-member GzipFile walk) with a carry-over buffer for records
    that straddle chunks, so peak memory is ~one chunk + one in-flight
    record — not the whole decompressed archive. The scanner's
    need-hint skips rescans until a straddling record can be complete,
    and its header cap bounds carry-over on hostile never-terminating
    input."""
    if buf[:2] == _GZIP_MAGIC:
        pending = b""
        need = 0
        for chunk in _iter_gzip_chunks(buf):
            pending += chunk
            if len(pending) < need:
                continue  # in-flight record still incomplete: no rescan
            recs, consumed, need = _scan_records(pending, final=False)
            yield from recs
            pending = pending[consumed:]
        recs, _, _ = _scan_records(pending, final=True)
        yield from recs
    else:
        recs, _, _ = _scan_records(buf, final=True)
        yield from recs


# ---------------------------------------------------------------------------
# Spark readers
# ---------------------------------------------------------------------------


def _parse_partitions(batches):
    """mapInPandas kernel of :func:`read_warc`: only *response* records
    with a target URI become rows — warcinfo / request / metadata records
    are crawl bookkeeping, not pages."""
    import pandas as pd

    cols = ["path", "seq", "url", "warc_ts", "html"]
    # bound task memory — flush by BYTES (big pages) or rows (small
    # pages), never holding a whole archive's decoded bodies at once;
    # byte-aware so 8k tiny rows and 32 one-MB pages both stay ~32 MB
    max_bytes, max_rows = 32 << 20, 8192
    rows, pending_bytes = [], 0
    for pdf in batches:
        for file_path, content in zip(pdf["path"], pdf["content"]):
            # seq = parse-order ordinal within the file: (path, seq)
            # uniquely names a record even when one URL is fetched twice
            # in the same second (WARC-Date is second-resolution), and
            # is deterministic across runs, retries, and replays
            for seq, rec in enumerate(iter_warc_records(bytes(content))):
                if rec["warc_type"] == "response" and rec["url"]:
                    rows.append(
                        (file_path, seq, rec["url"], rec["date"], rec["body"])
                    )
                    pending_bytes += len(rec["body"])
                    if len(rows) >= max_rows or pending_bytes >= max_bytes:
                        yield pd.DataFrame(rows, columns=cols)
                        rows, pending_bytes = [], 0
    yield pd.DataFrame(rows, columns=cols)


def _parse_wet_partitions(batches):
    """mapInPandas kernel for WET archives: the SAME certified record
    walk (iter_warc_records — linear gzip, magic-resync, header/record
    caps), selecting *conversion* records with a target URI and decoding
    their text/plain payload as UTF-8 (replacement on malformed bytes,
    total). Response/warcinfo/metadata records in a mixed archive are
    skipped, mirroring _parse_partitions' response-only filter."""
    import pandas as pd

    cols = ["path", "seq", "url", "warc_ts", "text"]
    max_bytes, max_rows = 32 << 20, 8192  # same flush bounds as WARC
    rows, pending_bytes = [], 0
    for pdf in batches:
        for file_path, content in zip(pdf["path"], pdf["content"]):
            for seq, rec in enumerate(iter_warc_records(bytes(content))):
                if rec["warc_type"] == "conversion" and rec["url"]:
                    text = rec["body"].decode("utf-8", "replace")
                    rows.append(
                        (file_path, seq, rec["url"], rec["date"], text)
                    )
                    pending_bytes += len(rec["body"])
                    if len(rows) >= max_rows or pending_bytes >= max_bytes:
                        yield pd.DataFrame(rows, columns=cols)
                        rows, pending_bytes = [], 0
    yield pd.DataFrame(rows, columns=cols)


def _is_utc_zone(tz: str) -> bool:
    """True iff zone id `tz` is fixed at UTC+0. Offset-checked via
    zoneinfo (accepts 'Etc/GMT', 'GMT0', 'Etc/Universal', ...) rather
    than a spelling whitelist, so a correctly-UTC external session is
    never refused; literal-offset spellings zoneinfo can't parse
    ('Z', '+00:00') are matched directly. Probed at two instants six
    months apart to exclude DST zones that merely pass through UTC+0."""
    if tz in ("UTC", "Z", "+00:00", "-00:00", "GMT"):
        return True
    try:
        from datetime import datetime, timedelta
        from zoneinfo import ZoneInfo

        z = ZoneInfo(tz)
        return all(
            z.utcoffset(datetime(2026, m, 1)) == timedelta(0) for m in (1, 7)
        )
    except Exception:
        return False


def _require_utc_session(spark) -> None:
    """WARC-Date is ALWAYS UTC (ISO 28500 §5.4), but the parse kernel
    hands Spark naive datetimes and the sink labels naive timestamps
    'Z' — both correct only when the session interprets naive values as
    UTC. session.py pins that for the engine's own sessions; an
    externally built non-UTC session would silently shift every warc_ts,
    so the boundary is asserted here instead of assumed."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    if not _is_utc_zone(tz):
        raise ValueError(
            f"WARC timestamps are UTC per ISO 28500, but "
            f"spark.sql.session.timeZone={tz!r}: naive warc_ts values "
            f"would be reinterpreted in that zone. Set the session "
            f"timezone to UTC (spark.conf.set('spark.sql.session."
            f"timeZone', 'UTC')) before reading or writing WARC."
        )


def read_warc(spark, path: str):
    """``(path, seq, url, warc_ts, html)`` DataFrame over WARC archive
    files (``seq`` = the record's parse-order ordinal within its file).

    One binaryFile row per archive -> mapInPandas record parse. ZERO
    shuffles: the plan is scan -> mapInPandas (tests assert 0
    exchanges). Requires a UTC session timezone (asserted): WARC-Date
    is UTC by spec and the parsed timestamps are naive."""
    _require_utc_session(spark)
    files = spark.read.format("binaryFile").load(path).select("path", "content")
    return files.mapInPandas(_parse_partitions, WARC_SCHEMA)


def read_wet(spark, path: str):
    """``(path, seq, url, warc_ts, text)`` DataFrame over WET archive
    files (Common Crawl's extracted-text distribution; ``seq`` = the
    record's parse-order ordinal within its file, counted over ALL
    records so it stays aligned with read_warc on mixed archives).

    Identical Spark shape to :func:`read_warc` — one binaryFile row per
    archive -> mapInPandas, ZERO shuffles, parallelism = archive count —
    over the same hardened record walk; only the record-type filter and
    payload decode differ. Requires a UTC session timezone (asserted)."""
    _require_utc_session(spark)
    files = spark.read.format("binaryFile").load(path).select("path", "content")
    return files.mapInPandas(_parse_wet_partitions, WET_SCHEMA)


def warc_pages(spark, path: str):
    """WARC archives -> the engine's input-hint page shape
    ``(crawl_id, url, warc_ts, html, text, lang)``, ready for the
    recrawl tier and content dedup. text/lang are the NATIVE Catalyst
    kernels (functions/text.py) — the only Python in the whole read is
    the record parse itself.

    ``crawl_id = xxhash64(path, seq)`` (seq = the record parse-order
    ordinal within its file) is content-derived and collision-free on
    the natural key — same-URL-same-second re-fetches collide on
    (url, warc_ts) but never on (path, seq). The 64-bit hash itself is
    probabilistically unique (~3% chance of ANY collision at 10^9
    records); past that scale derive a 128-bit id or key on the
    retained (path, seq) columns directly. run_dedup_job --from-warc
    asserts distinctness before building on it — so
    downstream tie-breaks (``latest_crawl_per_url(id_col="crawl_id")``)
    and doc ids are DETERMINISTIC across runs, task retries, and
    replays — never an arrival counter."""
    from pyspark.sql import functions as F

    from neural_locality_sensitive_hashing_spark.functions.text import (
        extract_text,
        lang_id,
    )

    pages = read_warc(spark, path)
    return pages.select(
        F.xxhash64("path", "seq").alias("crawl_id"),
        "url",
        "warc_ts",
        "html",
        extract_text(F.col("html")).alias("text"),
    ).withColumn("lang", lang_id(F.col("text")))


def wet_pages(spark, path: str):
    """WET archives -> ``(crawl_id, url, warc_ts, text, lang)``: the
    engine's page shape minus html (WET is text-only — extraction
    already happened upstream), ready for the recrawl tier and content
    dedup directly. Same content-derived ``crawl_id = xxhash64(path,
    seq)`` contract as :func:`warc_pages` (deterministic across runs,
    retries, replays; collision-checked by the job before building on
    it); lang is the native Catalyst kernel over the shipped text."""
    from pyspark.sql import functions as F

    from neural_locality_sensitive_hashing_spark.functions.text import lang_id

    pages = read_wet(spark, path)
    return pages.select(
        F.xxhash64("path", "seq").alias("crawl_id"),
        "url",
        "warc_ts",
        "text",
    ).withColumn("lang", lang_id(F.col("text")))


# ---------------------------------------------------------------------------
# Spark sink
# ---------------------------------------------------------------------------


def write_warc(pages, out_dir: str, gzip_members: bool = True):
    """Distributed WARC sink — the inverse of :func:`read_warc`: a
    ``(url, warc_ts, html)`` DataFrame becomes one Common-Crawl-layout
    archive per partition (``part-NNNNN.warc[.gz]``), so dedup survivors
    / keep-list output can be re-shipped to WARC-consuming tooling
    without a collect.

    Spark shape: each task streams ITS OWN partition through
    ``encode_warc`` and writes one file — no shuffle is introduced
    (repartition upstream if you want to choose the archive count), no
    driver materialization, and the write is task-retry-safe: bytes go
    to ``.tmp-<uuid>`` first and are atomically renamed, so a retried
    task never leaves a half archive with the final name.

    Rows with a null url, warc_ts, or html are FILTERED (WARC cannot
    represent them), and stale ``part-*``/``.tmp-*`` archives from a
    previous run into the same directory are cleared at call time, so a
    narrower re-run never leaves a mixed directory.

    ``out_dir`` must be a SHARED filesystem visible to driver and every
    executor (local mode, NFS/fuse mounts): tasks write with plain
    POSIX open/rename, which an object store does not provide — for
    S3/HDFS output ship the keep-list as parquet instead and convert at
    the edge, or front this with a Hadoop-FS writer.

    Returns a ``(file, records)`` manifest DataFrame (one row per
    written archive; the action that triggers the write is the caller's
    — e.g. ``.collect()`` on the manifest)."""
    return _archive_sink(
        pages, out_dir, "html", ".warc", gzip_members, encode_warc, bytes
    )


def write_wet(pages, out_dir: str, gzip_members: bool = True):
    """Distributed WET sink — the inverse of :func:`read_wet`: a
    ``(url, warc_ts, text)`` DataFrame becomes one Common-Crawl-layout
    extracted-text archive per partition (``part-NNNNN.wet[.gz]``), so
    dedup survivors re-ship to WET-consuming tooling WITHOUT their html
    payloads — typically several times smaller than the WARC form of
    the same keep-list. Identical Spark shape, retry-safety (tmp +
    atomic rename), null filtering, stale-output clearing, and
    ``(file, records)`` manifest contract as :func:`write_warc`."""
    return _archive_sink(
        pages, out_dir, "text", ".wet", gzip_members, encode_wet, str
    )


def _archive_sink(pages, out_dir, payload_col, ext_base, gzip_members,
                  encode_fn, payload_py):
    """Shared partition-per-archive sink core (see write_warc's contract
    docs): each task streams ITS OWN partition through ``encode_fn`` and
    atomically renames one ``part-NNNNN{ext}`` file; no shuffle, no
    driver materialization. ``payload_py`` coerces the pandas cell to
    the encoder's payload type (bytes for html, str for text)."""
    import os as _os
    import uuid as _uuid

    import pandas as pd
    from pyspark import TaskContext

    # naive session timestamps are written with a 'Z' suffix — only
    # correct when the session already interprets them as UTC
    _require_utc_session(pages.sparkSession)
    _os.makedirs(out_dir, exist_ok=True)
    # clear stale output OF THIS FAMILY: a re-run with FEWER partitions
    # must not leave part files from a previous, wider run mixed in
    for stale in _os.listdir(out_dir):
        if stale.startswith(("part-", ".tmp-")) and ext_base in stale:
            _os.unlink(_os.path.join(out_dir, stale))
    ext = ext_base + (".gz" if gzip_members else "")

    def write_partition(batches):
        # stream the partition's batches into one archive
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        _os.makedirs(out_dir, exist_ok=True)  # executor-side, shared FS
        final = _os.path.join(out_dir, f"part-{pid:05d}{ext}")
        tmp = _os.path.join(out_dir, f".tmp-{_uuid.uuid4().hex}{ext}")
        n = 0
        with open(tmp, "wb") as fh:
            for pdf in batches:
                recs = [
                    {
                        "url": u,
                        "date": t.to_pydatetime(),
                        payload_col: payload_py(p),
                    }
                    for u, t, p in zip(
                        pdf["url"], pdf["warc_ts"], pdf[payload_col]
                    )
                ]
                fh.write(
                    encode_fn(
                        recs, gzip_members=gzip_members, id_offset=n
                    )
                )
                n += len(recs)
        _os.replace(tmp, final)  # atomic: retries never leave half files
        yield pd.DataFrame({"file": [final], "records": [n]})

    from pyspark.sql import functions as F

    # an archive cannot represent a record without a URI, a date, or a
    # payload: null rows are filtered (documented), not crashed on
    cleaned = pages.select("url", "warc_ts", payload_col).where(
        F.col("url").isNotNull()
        & F.col("warc_ts").isNotNull()
        & F.col(payload_col).isNotNull()
    )
    return cleaned.mapInPandas(write_partition, "file string, records long")
