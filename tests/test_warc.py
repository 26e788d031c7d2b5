"""WARC crawl-archive source: roundtrip, gzip-member walk, totality on
hostile bytes, the zero-shuffle Spark read, and the end-to-end
WARC -> recrawl-tier composition (construction-time truth as oracle)."""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from neural_locality_sensitive_hashing_spark.sources.warc import (
    encode_warc,
    iter_warc_records,
    read_warc,
    warc_pages,
)


def _records(n: int, seed: int = 5) -> list[dict]:
    rng = np.random.default_rng(seed)
    return [
        {
            "url": f"https://example{i % 3}.com/page/{i}?q={i}",
            "date": datetime(2024, 1, 1 + i % 27, i % 24, 0, 0),
            "html": b"<html><main>" + rng.bytes(int(rng.integers(10, 400)))
            .replace(b"WARC/1.0\r\n", b"........")  # keep bodies magic-free
            + b"</main></html>",
        }
        for i in range(n)
    ]


@pytest.mark.parametrize("gz", [False, True])
def test_roundtrip(gz):
    recs = _records(7)
    got = list(iter_warc_records(encode_warc(recs, gzip_members=gz)))
    assert len(got) == len(recs)
    for want, have in zip(recs, got):
        assert have["warc_type"] == "response"
        assert have["url"] == want["url"]
        assert have["date"] == want["date"]
        assert have["body"] == want["html"]


def test_embedded_magic_in_body():
    """A body that QUOTES a WARC record header must not split the
    enclosing record (content-length wins over magic-scan)."""
    recs = [
        {
            "url": "https://example.com/a",
            "date": datetime(2024, 2, 1, 12, 0, 0),
            "html": b"look: WARC/1.0\r\nWARC-Type: response\r\n\r\n fake!",
        },
        {
            "url": "https://example.com/b",
            "date": datetime(2024, 2, 2, 12, 0, 0),
            "html": b"<html>second real page</html>",
        },
    ]
    got = list(iter_warc_records(encode_warc(recs, gzip_members=False)))
    assert [g["url"] for g in got] == [r["url"] for r in recs]
    assert got[0]["body"] == recs[0]["html"]


def test_resync_past_garbage_and_truncation():
    """Garbage between records and a truncated final record: the parser
    keeps every intact record and never raises."""
    recs = _records(4, seed=9)
    blobs = [encode_warc([r], gzip_members=False) for r in recs]
    spliced = (
        b"\x00garbage\xff" + blobs[0] + b"noise WARC/ not-magic" + blobs[1]
        + blobs[2] + blobs[3][: len(blobs[3]) // 2]  # truncated mid-content
    )
    got = list(iter_warc_records(spliced))
    assert [g["url"] for g in got] == [r["url"] for r in recs[:3]]
    # gzip flavour: corrupt tail member yields the clean prefix members
    gz = encode_warc(recs[:2], gzip_members=True)
    assert len(list(iter_warc_records(gz + b"\x1f\x8b\x08trunc"))) == 2


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=600))
def test_total_on_arbitrary_bytes(payload):
    out = list(iter_warc_records(payload))
    assert isinstance(out, list)


@settings(max_examples=60, deadline=None)
@given(st.binary(max_size=200), st.integers(0, 400))
def test_total_on_corrupted_real_archive(tail, cut):
    base = encode_warc(_records(3, seed=2), gzip_members=False)
    out = list(iter_warc_records(base[: min(cut, len(base))] + tail))
    assert isinstance(out, list)


def test_spark_read_matches_construction_truth(spark, tmp_path):
    """Three archive files (two gzip-membered, one plain) through the
    binaryFile -> mapInPandas read: every constructed record comes back
    with its url/ts/html, and the plan has ZERO shuffle exchanges —
    parallelism is the file count, exactly the 100 TB shape."""
    from tools.plan_audit import audit

    recs = _records(12, seed=11)
    chunks = [recs[0:5], recs[5:9], recs[9:12]]
    for i, chunk in enumerate(chunks):
        gz = i < 2
        name = f"part{i}.warc" + (".gz" if gz else "")
        (tmp_path / name).write_bytes(encode_warc(chunk, gzip_members=gz))

    df = read_warc(spark, str(tmp_path))
    assert audit(df)["exchanges"] == 0
    rows = {r.url: r for r in df.collect()}
    assert len(rows) == len(recs)
    for want in recs:
        have = rows[want["url"]]
        assert bytes(have.html) == want["html"]
        assert have.warc_ts == want["date"]
        assert os.path.basename(have.path).startswith("part")


def test_warc_to_recrawl_tier_end_to_end(spark, tmp_path):
    """The full first metre: WARC archives of the SAME page crawled
    under tracking-param/fragment URL variants on different days ->
    warc_pages -> latest_crawl_per_url keeps exactly the newest crawl
    per canonical URL (construction-time truth, not parser output)."""
    from neural_locality_sensitive_hashing_spark.operators.recrawl import (
        latest_crawl_per_url,
    )

    variants = [
        ("https://Example.com/article?utm_source=x", 1),
        ("https://example.com/article#frag", 2),
        ("https://example.com:443/article", 3),  # newest crawl wins
    ]
    recs = [
        {
            "url": url,
            "date": datetime(2024, 3, day, 0, 0, 0),
            "html": b"<html><main>The article, crawl %d</main></html>" % day,
        }
        for url, day in variants
    ] + [
        {
            "url": "https://other.com/page",
            "date": datetime(2024, 3, 1, 0, 0, 0),
            "html": b"<html><main>hello other page</main></html>",
        }
    ]
    (tmp_path / "crawl.warc.gz").write_bytes(encode_warc(recs))

    pages = warc_pages(spark, str(tmp_path))
    assert set(pages.columns) == {
        "crawl_id", "url", "warc_ts", "html", "text", "lang"
    }
    latest = {
        r.canonical_url: r
        for r in latest_crawl_per_url(pages, id_col="crawl_id").collect()
    }
    assert len(latest) == 2
    art = latest["https://example.com/article"]
    assert art.n_crawls == 3
    assert art.warc_ts == datetime(2024, 3, 3, 0, 0, 0)
    assert b"crawl 3" in bytes(art.html)
    assert latest["https://other.com/page"].n_crawls == 1


def test_job_tool_from_warc_end_to_end(tmp_path):
    """`run_dedup_job --from-warc --recrawl-dedup` over raw crawl
    archives: the whole pipeline (WARC parse -> recrawl tier -> MinHash
    dedup -> clusters) in a fresh spark-submit-style process, checked
    against construction-time truth — 50 unique pages + 5 exact-text
    copies of page 0 + recrawl variants collapse to exactly 55 docs and
    50 clusters."""
    import json
    import subprocess
    import sys

    rng = np.random.default_rng(23)
    # vocabulary must be wide enough that random texts share ~no shingles
    # (a tiny vocab makes every page a genuine near-dup of every other)
    words = np.array([f"w{i:03d}" for i in range(1000)])

    def page_text(r):
        return " ".join(r.choice(words, size=120))

    base_texts = [page_text(rng) for _ in range(50)]
    recs = []
    for i, txt in enumerate(base_texts):
        recs.append({
            "url": f"https://site.com/p/{i}",
            "date": datetime(2024, 4, 1, i % 24, 0, 0),
            "html": b"<html><main>" + txt.encode() + b"</main></html>",
        })
        if i % 10 == 0:  # 5 recrawl variants: collapsed BEFORE dedup
            recs.append({
                "url": f"https://site.com/p/{i}?utm_medium=y",
                "date": datetime(2024, 4, 2, i % 24, 0, 0),
                "html": recs[-1]["html"],
            })
    for j in range(5):  # 5 exact-text copies of page 0 at DISTINCT urls
        recs.append({
            "url": f"https://mirror{j}.org/copy",
            "date": datetime(2024, 4, 3, j, 0, 0),
            "html": b"<html><main>" + base_texts[0].encode() + b"</main></html>",
        })
    (tmp_path / "crawl.warc.gz").write_bytes(encode_warc(recs))

    out = tmp_path / "report.json"
    survivors_dir = tmp_path / "survivors"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "run_dedup_job.py"),
         "--pages", str(tmp_path), "--from-warc", "--recrawl-dedup",
         "--survivors-warc-out", str(survivors_dir),
         "--shuffle-partitions", "8", "--json-out", str(out)],
        check=True, cwd=repo, timeout=420,
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        env={**os.environ, "SPARK_GRAFT_CPUS": "8", "PYTHONPATH": repo},
    )
    rep = json.loads(out.read_text())
    assert rep["docs"] == 60              # 55 pages + 5 recrawl variants
    assert rep["clusters"] == 50          # page0's 6 copies -> one cluster
    assert rep["dup_pairs"] >= 5
    # archives in -> deduplicated archives out: the survivor WARC holds
    # exactly one page per cluster, re-readable by the same source
    assert rep["survivors_warc"]["records"] == 50
    input_urls = {r["url"] for r in recs}
    survivor_rows = []
    for f in os.listdir(survivors_dir):
        survivor_rows += list(iter_warc_records(
            (survivors_dir / f).read_bytes()
        ))
    assert len(survivor_rows) == 50
    assert {r["url"] for r in survivor_rows} <= input_urls


def test_warc_11_and_fractional_dates():
    """WARC/1.1 archives and fractional-second WARC-Date (what warcio /
    wget emit) must parse — a version or date-format mismatch must not
    silently drop every record."""
    rec = encode_warc(
        [{"url": "https://v.com/p", "date": datetime(2024, 6, 1, 8, 0, 0),
          "html": b"<html><main>v</main></html>"}],
        gzip_members=False,
    )
    as11 = rec.replace(b"WARC/1.0\r\n", b"WARC/1.1\r\n", 1)
    got = list(iter_warc_records(as11))
    assert len(got) == 1 and got[0]["url"] == "https://v.com/p"

    frac = rec.replace(
        b"WARC-Date: 2024-06-01T08:00:00Z",
        b"WARC-Date: 2024-06-01T08:00:00.123456Z",
    )
    # same byte length not guaranteed -> fix Content-Length is NOT needed:
    # WARC-Date is a header, content-length covers only the content block
    got = list(iter_warc_records(frac))
    assert len(got) == 1
    assert got[0]["date"] == datetime(2024, 6, 1, 8, 0, 0, 123456)


def test_hostile_magic_flood_parses_in_linear_time():
    """A region of back-to-back record magics with no header terminator
    used to cost a rescan-to-EOF per magic (quadratic: ~minutes at 128k
    magics). Bounded resync makes it linear; generous wall canary."""
    import time

    flood = b"WARC/1.0\r\n" * 131072  # 1.3 MB of pure magic
    t0 = time.perf_counter()
    out = list(iter_warc_records(flood + b"garbage tail"))
    dt = time.perf_counter() - t0
    assert out == []
    assert dt < 10.0, f"magic flood took {dt:.1f}s — resync regressed to quadratic?"


def test_record_straddling_gzip_members():
    """A record whose bytes are split across TWO gzip members must still
    parse: the member-at-a-time walk carries the partial record over
    instead of dropping it (and never holds the whole archive
    decompressed)."""
    import zlib

    recs = _records(3, seed=31)
    raw = encode_warc(recs, gzip_members=False)
    # split mid-record-2: find the second magic and cut 40 bytes past it
    second = raw.index(b"WARC/1.0\r\n", 10)
    cut = second + 40
    members = b""
    for part in (raw[:cut], raw[cut:]):
        co = zlib.compressobj(6, zlib.DEFLATED, 31)
        members += co.compress(part) + co.flush()
    got = list(iter_warc_records(members))
    assert [g["url"] for g in got] == [r["url"] for r in recs]
    assert [g["body"] for g in got] == [r["html"] for r in recs]


def test_warc_sink_roundtrip(spark, tmp_path):
    """Distributed sink inverse: pages -> write_warc (one archive per
    partition, no shuffle in the plan) -> read_warc recovers every
    (url, warc_ts, html) exactly; the manifest's per-file record counts
    sum to the input."""
    from tools.plan_audit import audit

    from neural_locality_sensitive_hashing_spark.sources.warc import write_warc

    recs = _records(17, seed=41)
    pages = spark.createDataFrame(
        [(r["url"], r["date"], bytearray(r["html"])) for r in recs],
        "url string, warc_ts timestamp, html binary",
    ).repartition(3)

    out_dir = tmp_path / "sunk"
    manifest_df = write_warc(pages, str(out_dir))
    assert audit(manifest_df)["exchanges"] <= 1  # the explicit repartition only
    manifest = manifest_df.collect()
    assert sum(m.records for m in manifest) == len(recs)
    assert len(manifest) == 3
    for m in manifest:
        assert os.path.basename(m.file).startswith("part-")
    assert not [f for f in os.listdir(out_dir) if f.startswith(".tmp-")]

    back = {r.url: r for r in read_warc(spark, str(out_dir)).collect()}
    assert len(back) == len(recs)
    for want in recs:
        assert bytes(back[want["url"]].html) == want["html"]
        assert back[want["url"]].warc_ts == want["date"]


def test_carryover_with_tiny_chunks(monkeypatch):
    """Force 64-byte decompression chunks so every record straddles
    chunk boundaries: the carry-over scanner + need-hint must still
    yield every record exactly once, in order."""
    from neural_locality_sensitive_hashing_spark.sources import warc as w

    monkeypatch.setattr(w, "_GZIP_CHUNK", 64)
    recs = _records(5, seed=51)
    got = list(w.iter_warc_records(w.encode_warc(recs)))
    assert [g["url"] for g in got] == [r["url"] for r in recs]
    assert [g["body"] for g in got] == [r["html"] for r in recs]


def test_malformed_record_then_valid_across_chunks(monkeypatch):
    """A record whose headers terminate but lack Content-Length, with
    the NEXT valid record's magic arriving in a later chunk: the
    malformed-skip path must keep the magic-prefix tail so the valid
    record still parses (it used to be silently consumed)."""
    import zlib as _zlib

    from neural_locality_sensitive_hashing_spark.sources import warc as w

    monkeypatch.setattr(w, "_GZIP_CHUNK", 32)
    bad = (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        b"WARC-Date: 2024-07-01T00:00:00Z\r\n"
        b"WARC-Target-URI: https://bad.com/x\r\n"
        b"\r\n"  # headers end; no Content-Length at all
    )
    good_rec = {
        "url": "https://good.com/y",
        "date": datetime(2024, 7, 2, 0, 0, 0),
        "html": b"<html><main>fine</main></html>",
    }
    raw = bad + w.encode_warc([good_rec], gzip_members=False)
    co = _zlib.compressobj(6, _zlib.DEFLATED, 31)
    gz = co.compress(raw) + co.flush()
    got = list(w.iter_warc_records(gz))
    assert [g["url"] for g in got] == ["https://good.com/y"]


def test_hostile_unterminated_header_is_capped(monkeypatch):
    """A never-terminating 2 MB header block must not grow the
    carry-over buffer unboundedly: past _MAX_HEADER it is declared
    malformed and a valid record after it still parses."""
    from neural_locality_sensitive_hashing_spark.sources import warc as w

    monkeypatch.setattr(w, "_GZIP_CHUNK", 1 << 16)
    hostile = b"WARC/1.0\r\nX-Key: " + b"a" * (2 << 20)  # no CRLFCRLF ever
    good_rec = {
        "url": "https://after.com/z",
        "date": datetime(2024, 7, 3, 0, 0, 0),
        "html": b"<html><main>after the flood</main></html>",
    }
    import zlib as _zlib

    raw = hostile + w.encode_warc([good_rec], gzip_members=False)
    co = _zlib.compressobj(6, _zlib.DEFLATED, 31)
    got = list(w.iter_warc_records(co.compress(raw) + co.flush()))
    assert [g["url"] for g in got] == ["https://after.com/z"]


def test_hostile_content_length_is_capped(monkeypatch):
    """A corrupt/hostile Content-Length far past _MAX_RECORD must not
    make the carry-over buffer the rest of the archive waiting for
    bytes that never suffice: the record is dropped as malformed and a
    valid record after it still parses."""
    import zlib as _zlib

    from neural_locality_sensitive_hashing_spark.sources import warc as w

    monkeypatch.setattr(w, "_GZIP_CHUNK", 256)
    hostile = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Date: 2024-08-01T00:00:00Z\r\n"
        b"WARC-Target-URI: https://evil.com/\r\n"
        b"Content-Length: 1000000000000000\r\n\r\n"
    )
    good = {
        "url": "https://ok.com/page",
        "date": datetime(2024, 8, 2, 0, 0, 0),
        "html": b"<html><main>still here</main></html>",
    }
    raw = hostile + w.encode_warc([good], gzip_members=False)
    co = _zlib.compressobj(6, _zlib.DEFLATED, 31)
    got = list(w.iter_warc_records(co.compress(raw) + co.flush()))
    assert [g["url"] for g in got] == ["https://ok.com/page"]


def test_fractional_date_roundtrip_through_encode():
    """read -> write -> read keeps sub-second warc_ts exactly (the
    encoder emits the fractional WARC-Date form when needed)."""
    rec = {
        "url": "https://frac.com/p",
        "date": datetime(2024, 8, 3, 1, 2, 3, 123456),
        "html": b"<html><main>f</main></html>",
    }
    got = list(iter_warc_records(encode_warc([rec])))
    assert got[0]["date"] == rec["date"]


def test_is_utc_zone_accepts_fixed_utc_aliases_only():
    """The UTC-session guard must accept every fixed-UTC+0 zone id (not
    just a spelling whitelist) and reject anything with a nonzero or
    DST-varying offset — including zones that merely pass through UTC+0
    part of the year (Europe/London in winter)."""
    from neural_locality_sensitive_hashing_spark.sources.warc import _is_utc_zone

    for tz in ["UTC", "Etc/UTC", "GMT", "Z", "+00:00", "Etc/GMT", "GMT0",
               "Etc/Universal", "Etc/Zulu", "Etc/Greenwich"]:
        assert _is_utc_zone(tz), tz
    for tz in ["America/New_York", "Europe/London", "Asia/Tokyo",
               "Etc/GMT-1", "Etc/GMT+1", "+01:00", "not-a-zone", ""]:
        assert not _is_utc_zone(tz), tz


# ---------------------------------------------------------------------------
# WET (Common Crawl extracted-text distribution)
# ---------------------------------------------------------------------------


def _wet_records(n: int, seed: int = 9) -> list[dict]:
    rng = np.random.default_rng(seed)
    return [
        {
            "url": f"https://example{i % 3}.com/page/{i}",
            "date": datetime(2024, 2, 1 + i % 27, i % 24, 30, i % 60),
            "text": " ".join(
                f"tok{int(x)}"
                for x in rng.integers(0, 5000, int(rng.integers(5, 80)))
            )
            + (" déjà-vu ✓" if i % 4 == 0 else ""),
        }
        for i in range(n)
    ]


@pytest.mark.parametrize("gz", [False, True])
def test_wet_roundtrip(gz):
    """encode_wet -> the SAME certified record walk: conversion records
    with the exact url/date/utf-8 text back (incl. non-ASCII)."""
    from neural_locality_sensitive_hashing_spark.sources.warc import encode_wet

    recs = _wet_records(9)
    got = list(iter_warc_records(encode_wet(recs, gzip_members=gz)))
    assert len(got) == len(recs)
    for want, have in zip(recs, got):
        assert have["warc_type"] == "conversion"
        assert have["url"] == want["url"]
        assert have["date"] == want["date"]
        assert have["body"].decode("utf-8") == want["text"]


def test_read_wet_mixed_archive_zero_exchange(spark, tmp_path):
    """On a MIXED archive, read_wet returns exactly the conversion
    records and read_warc exactly the response records, with seq counted
    over ALL records so the two readers' ordinals stay aligned (a
    (path, seq) id names the same record whichever reader sees it);
    read_wet's plan has ZERO exchanges like read_warc's."""
    from tools.plan_audit import audit

    from neural_locality_sensitive_hashing_spark.sources.warc import (
        encode_wet,
        read_wet,
    )

    wet = _wet_records(5, seed=13)
    warc = _records(4, seed=14)
    blob, order, wi, ci = b"", [], 0, 0
    for k in range(9):
        if k % 2 == 0 and wi < len(warc):
            blob += encode_warc([warc[wi]], id_offset=k)
            wi += 1
            order.append("response")
        else:
            blob += encode_wet([wet[ci]], id_offset=k)
            ci += 1
            order.append("conversion")
    path = tmp_path / "mixed.warc.gz"
    path.write_bytes(blob)

    wdf = read_wet(spark, str(path))
    assert audit(wdf)["exchanges"] == 0
    rows = sorted(wdf.collect(), key=lambda r: r.seq)
    assert [r.url for r in rows] == [w["url"] for w in wet]
    assert [r.text for r in rows] == [w["text"] for w in wet]
    assert [r.seq for r in rows] == [
        i for i, o in enumerate(order) if o == "conversion"
    ]
    rrows = read_warc(spark, str(path)).collect()
    assert sorted(r.url for r in rrows) == sorted(w["url"] for w in warc)
    assert sorted(r.seq for r in rrows) == [
        i for i, o in enumerate(order) if o == "response"
    ]


def test_wet_sink_roundtrip_and_family_scoped_clear(spark, tmp_path):
    """write_wet: one archive per partition, manifest counts, no tmp
    residue, exact roundtrip through read_wet — and its stale-output
    clearing is FAMILY-scoped (a .warc archive already in the directory
    survives a WET write)."""
    from tools.plan_audit import audit

    from neural_locality_sensitive_hashing_spark.sources.warc import (
        read_wet,
        write_wet,
    )

    recs = _wet_records(15, seed=43)
    pages = spark.createDataFrame(
        [(r["url"], r["date"], r["text"]) for r in recs],
        "url string, warc_ts timestamp, text string",
    ).repartition(3)
    out_dir = tmp_path / "sunk_wet"
    out_dir.mkdir()
    (out_dir / "part-99999.warc.gz").write_bytes(encode_warc(_records(1)))

    manifest_df = write_wet(pages, str(out_dir))
    assert audit(manifest_df)["exchanges"] <= 1  # the explicit repartition only
    manifest = manifest_df.collect()
    assert sum(m.records for m in manifest) == len(recs)
    assert len(manifest) == 3
    assert not [f for f in os.listdir(out_dir) if f.startswith(".tmp-")]
    assert (out_dir / "part-99999.warc.gz").exists()

    back = {r.url: r for r in read_wet(spark, str(out_dir)).collect()}
    assert len(back) == len(recs)
    for want in recs:
        assert back[want["url"]].text == want["text"]
        assert back[want["url"]].warc_ts == want["date"]


def test_wet_pages_matches_native_lang_kernel(spark, tmp_path):
    """wet_pages ships the WET text straight into the page shape with
    lang from the SAME native kernel the parquet corpus uses, and the
    content-derived crawl_id is distinct per record."""
    from neural_locality_sensitive_hashing_spark.functions.text import lang_id
    from neural_locality_sensitive_hashing_spark.sources.warc import (
        encode_wet,
        wet_pages,
    )

    recs = _wet_records(12, seed=77)
    (tmp_path / "a.wet.gz").write_bytes(encode_wet(recs[:7]))
    (tmp_path / "b.wet.gz").write_bytes(encode_wet(recs[7:], id_offset=7))

    got = wet_pages(spark, str(tmp_path) + "/*.wet.gz")
    assert got.columns == ["crawl_id", "url", "warc_ts", "text", "lang"]
    rows = got.collect()
    assert len(rows) == len(recs)
    assert len({r.crawl_id for r in rows}) == len(recs)
    import pyspark.sql.functions as F

    want_lang = {
        r.text: r.lang
        for r in spark.createDataFrame(
            [(x["text"],) for x in recs], "text string"
        ).select("text", lang_id(F.col("text")).alias("lang")).collect()
    }
    for r in rows:
        assert r.lang == want_lang[r.text]


def test_job_tool_from_wet_end_to_end(tmp_path):
    """`run_dedup_job --from-wet --recrawl-dedup --survivors-wet-out`:
    the whole pipeline from WET extracted-text archives in a fresh
    spark-submit-style process, checked against construction truth —
    same planted shape as the WARC job test (50 unique pages + recrawl
    variants + 5 exact copies of page 0), and the survivors re-ship as
    WET: text archives in, deduplicated text archives out."""
    import json
    import subprocess
    import sys

    from neural_locality_sensitive_hashing_spark.sources.warc import encode_wet

    rng = np.random.default_rng(29)
    words = np.array([f"w{i:03d}" for i in range(1000)])

    def page_text(r):
        return " ".join(r.choice(words, size=120))

    base_texts = [page_text(rng) for _ in range(50)]
    recs = []
    for i, txt in enumerate(base_texts):
        recs.append({
            "url": f"https://site.com/p/{i}",
            "date": datetime(2024, 5, 1, i % 24, 0, 0),
            "text": txt,
        })
        if i % 10 == 0:  # 5 recrawl variants: collapsed BEFORE dedup
            recs.append({
                "url": f"https://site.com/p/{i}?utm_medium=y",
                "date": datetime(2024, 5, 2, i % 24, 0, 0),
                "text": txt,
            })
    for j in range(5):  # 5 exact-text copies of page 0 at DISTINCT urls
        recs.append({
            "url": f"https://mirror{j}.org/copy",
            "date": datetime(2024, 5, 3, j, 0, 0),
            "text": base_texts[0],
        })
    (tmp_path / "crawl.wet.gz").write_bytes(encode_wet(recs))

    out = tmp_path / "report.json"
    survivors_dir = tmp_path / "survivors_wet"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "run_dedup_job.py"),
         "--pages", str(tmp_path), "--from-wet", "--recrawl-dedup",
         "--survivors-wet-out", str(survivors_dir),
         "--shuffle-partitions", "8", "--json-out", str(out)],
        check=True, cwd=repo, timeout=420,
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        env={**os.environ, "SPARK_GRAFT_CPUS": "8", "PYTHONPATH": repo},
    )
    rep = json.loads(out.read_text())
    assert rep["docs"] == 60              # 55 pages + 5 recrawl variants
    assert rep["clusters"] == 50          # page0's 6 copies -> one cluster
    assert rep["dup_pairs"] >= 5
    assert rep["survivors_wet"]["records"] == 50
    input_urls = {r["url"] for r in recs}
    survivor_rows = []
    for f in os.listdir(survivors_dir):
        survivor_rows += list(iter_warc_records(
            (survivors_dir / f).read_bytes()
        ))
    assert len(survivor_rows) == 50
    assert all(r["warc_type"] == "conversion" for r in survivor_rows)
    assert {r["url"] for r in survivor_rows} <= input_urls
    # the survivor texts are the keep-list texts, byte-exact
    survivor_texts = {r["body"].decode("utf-8") for r in survivor_rows}
    assert survivor_texts <= {r["text"] for r in recs}
    assert base_texts[0] in survivor_texts
