"""WARC/1.0 container source: spec-inverse roundtrips against the forward
encoder (ISO 28500 record framing, Common-Crawl per-record gzip members,
RFC 9112 chunked decoding, RFC 9110 Content-Encoding), skip semantics for
non-response records, loud-fail error paths, and the Spark binaryFile →
mapInPandas read surface."""

from __future__ import annotations

import datetime
import os
import zlib

import pytest
from hypothesis import given, settings, strategies as st

from spiderspark.warc import (
    build_http_response,
    build_warc,
    build_warc_record,
    parse_http_response,
    parse_warc,
    synthetic_warc_bytes,
    warc_pages,
)

UTC = datetime.timezone.utc


@settings(max_examples=40, deadline=None)
@given(
    body=st.binary(max_size=4096),
    status=st.sampled_from([200, 301, 404, 500]),
    chunked=st.booleans(),
    gzip_body=st.booleans(),
    gzip_member=st.booleans(),
    day=st.integers(1, 28),
)
def test_response_roundtrip(body, status, chunked, gzip_body, gzip_member, day):
    url = "http://example.test/p/1?q=2"
    date = f"2026-03-{day:02d}T12:34:56Z"
    http = build_http_response(
        status, "X", headers=[("Content-Type", "text/html; charset=utf-8")],
        body=body, chunked=chunked, gzip_body=gzip_body,
    )
    rec = build_warc_record(
        "response", http, url=url, date=date, gzip_member=gzip_member
    )
    (out,) = parse_warc(rec)
    assert out["warc_type"] == "response"
    assert out["url"] == url
    assert out["http_status"] == status
    assert out["content_type"] == "text/html; charset=utf-8"
    assert out["html"] == body
    assert out["warc_ts"] == datetime.datetime(2026, 3, day, 12, 34, 56, tzinfo=UTC)


def test_multi_record_and_skip_types():
    recs = [
        build_warc_record(
            "warcinfo", b"software: x\r\n",
            content_type="application/warc-fields",
        ),
        build_warc_record(
            "request", b"GET / HTTP/1.1\r\n\r\n", url="http://a/",
            content_type="application/http; msgtype=request",
        ),
        build_warc_record(
            "response", build_http_response(body=b"hi"), url="http://a/"
        ),
        build_warc_record(
            "metadata", b"via: http://b/\r\n", url="http://a/",
            content_type="application/warc-fields",
        ),
    ]
    out = parse_warc(build_warc(recs))
    assert [r["warc_type"] for r in out] == [
        "warcinfo", "request", "response", "metadata"
    ]
    # non-HTTP blocks keep raw bytes; only the response is HTTP-decoded
    assert out[0]["html"] == b"software: x\r\n"
    assert out[2]["html"] == b"hi"


def test_http_content_length_truncates_trailing_bytes():
    # stored block may carry bytes past Content-Length (e.g. peer junk);
    # the decoded body must honor the header
    http = build_http_response(body=b"abcdef")
    status, headers, body = parse_http_response(http + b"JUNK")
    assert (status, body) == (200, b"abcdef")


def test_deflate_content_encoding():
    payload = b"x" * 300
    http = (
        b"HTTP/1.1 200 OK\r\nContent-Encoding: deflate\r\n"
        + b"Content-Length: %d\r\n\r\n" % len(zlib.compress(payload))
        + zlib.compress(payload)
    )
    assert parse_http_response(http)[2] == payload


@pytest.mark.parametrize(
    "mutate",
    [
        lambda b: b[:-2],                       # missing record terminator
        lambda b: b"XARC" + b[4:],              # bad magic
        lambda b: zlib.compress(b, 6, wbits=31)[:-4],  # truncated gzip member
    ],
)
def test_malformed_warc_raises(mutate):
    rec = build_warc_record(
        "response", build_http_response(body=b"hi"), url="http://a/"
    )
    with pytest.raises((ValueError, zlib.error)):
        parse_warc(mutate(rec))


def test_bad_chunk_terminator_raises():
    http = (
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
        b"3\r\nabcXX0\r\n\r\n"
    )
    with pytest.raises(ValueError):
        parse_http_response(http)


def _record_id(rec: bytes) -> bytes:
    start = rec.index(b"WARC-Record-ID: <urn:uuid:") + 26
    return rec[start : rec.index(b">", start)]


def test_record_ids_distinct():
    """Two captures of one URL in the same second differ by block; a '|'
    inside a field must not let two field tuples share an id."""

    def rid(block, url, date="2026-03-01T12:00:00Z"):
        return _record_id(build_warc_record("response", block, url, date))

    a, b = rid(b"body one", "http://x.test/"), rid(b"body two", "http://x.test/")
    assert len(a) == len(b) == 32
    assert a != b
    assert rid(b"same", "a|b", "c") != rid(b"same", "a", "b|c")
    # still a pure function of its inputs
    assert a == rid(b"body one", "http://x.test/")


def test_synthetic_fixture_contract():
    """Every response record of the driver fixture decodes to its
    closed-form fields (the same facts the scan_snapshot oracle states)."""
    recs = parse_warc(synthetic_warc_bytes(48))
    responses = [r for r in recs if r["warc_type"] == "response"]
    assert len(responses) == 48
    assert sum(r["warc_type"] == "request" for r in recs) == 8
    for i, r in enumerate(responses):
        assert r["url"] == f"http://w{i % 7}.example/p/{i}"
        assert r["http_status"] == (404 if i % 11 == 10 else 200)
        assert r["html"] == f"<html>page {i}</html>".encode() + b"!" * (i % 5)
        assert r["warc_ts"] == datetime.datetime(2026, 1, 1 + i % 28, tzinfo=UTC)


def test_warc_pages_spark_read(spark, tmp_path):
    """binaryFile → mapInPandas surface: responses only, both plain .warc
    and .warc.gz files in one glob, schema stable."""
    gz = synthetic_warc_bytes(12)
    plain = build_warc(
        [
            build_warc_record(
                "response",
                build_http_response(body=b"plainfile"),
                url="http://plain.example/p/999",
                date="2026-02-02T00:00:00Z",
            )
        ]
    )
    (tmp_path / "a.warc.gz").write_bytes(gz)
    (tmp_path / "b.warc").write_bytes(plain)
    df = warc_pages(spark, os.path.join(str(tmp_path), "*.warc*"))
    rows = {r["url"]: r for r in df.collect()}
    assert len(rows) == 13  # 12 responses + 1 plain; requests/warcinfo skipped
    assert bytes(rows["http://plain.example/p/999"]["html"]) == b"plainfile"
    assert bytes(rows["http://w3.example/p/3"]["html"]) == (
        b"<html>page 3</html>" + b"!" * 3
    )
    assert rows["http://w0.example/p/0"]["http_status"] == 200


def test_warc_corpus_full_schema(spark, tmp_path):
    """warc_corpus emits the input-hint pages schema with the SAME pinned
    text kernel the crawl uses (byte-identity invariant) and a lang
    prediction; non-2xx responses are dropped."""
    from spiderspark.canon import extract_text_series
    from spiderspark.warc import warc_corpus
    import pandas as pd

    (tmp_path / "c.warc.gz").write_bytes(synthetic_warc_bytes(24))
    df = warc_corpus(spark, os.path.join(str(tmp_path), "*.warc.gz"))
    assert [f.name for f in df.schema.fields] == [
        "url", "warc_ts", "html", "text", "lang"
    ]
    rows = df.collect()
    dropped = {10, 21}  # the i % 11 == 10 rows are 404s in range(24)
    assert len(rows) == 24 - len(dropped)
    by_url = {r["url"]: r for r in rows}
    for i in range(24):
        url = f"http://w{i % 7}.example/p/{i}"
        if i in dropped:
            assert url not in by_url
            continue
        html = f"<html>page {i}</html>".encode() + b"!" * (i % 5)
        want_text = extract_text_series(pd.Series([html]))[0]
        assert by_url[url]["text"] == want_text
        assert isinstance(by_url[url]["lang"], str)


def test_wet_roundtrip(spark, tmp_path):
    """write_wet → wet_texts restores (url, warc_ts, text) byte-identically,
    one .warc.gz per non-empty partition, manifest counts exact."""
    from spiderspark.warc import warc_corpus, wet_texts, write_wet

    (tmp_path / "in.warc.gz").write_bytes(synthetic_warc_bytes(24))
    corpus = warc_corpus(spark, os.path.join(str(tmp_path), "*.warc.gz"))
    corpus = corpus.repartition(3, "url")
    out_dir = str(tmp_path / "wet")
    manifest = write_wet(corpus, out_dir)
    m = manifest.collect()
    assert sum(r["n_records"] for r in m) == 22  # 24 minus two 404s
    assert all(r["path"].endswith(".warc.gz") for r in m)
    assert len(m) <= 3 and len(set(r["partition_id"] for r in m)) == len(m)
    back = wet_texts(spark, os.path.join(out_dir, "*.warc.gz"))
    want = {
        (r["url"], r["warc_ts"], r["text"]) for r in corpus.select(
            "url", "warc_ts", "text"
        ).collect()
    }
    got = {(r["url"], r["warc_ts"], r["text"]) for r in back.collect()}
    assert got == want


def test_iter_warc_spans_random_access():
    """Every span of the gzip fixture re-reads to the SAME record by plain
    seek+read — the CDX access pattern — for .warc.gz AND plain .warc."""
    from spiderspark.warc import iter_warc_spans, read_warc_record

    for as_gz in (True, False):
        if as_gz:
            buf = synthetic_warc_bytes(12)
        else:
            buf = build_warc(
                [
                    build_warc_record(
                        "response",
                        build_http_response(body=b"b%d" % i),
                        url=f"http://p.example/{i}",
                    )
                    for i in range(5)
                ]
            )
        import tempfile

        with tempfile.NamedTemporaryFile(suffix=".warc", delete=False) as f:
            f.write(buf)
            path = f.name
        spans = list(iter_warc_spans(buf))
        assert spans[-1][0] + spans[-1][1] == len(buf)  # spans tile the file
        seq = parse_warc(buf)
        flat = [r for _, _, recs in spans for r in recs]
        assert [r["url"] for r in flat] == [r["url"] for r in seq]
        for off, length, recs in spans:
            got = read_warc_record(path, off, length)
            assert got["url"] == recs[0]["url"]
            assert got["html"] == recs[0]["html"]
        os.unlink(path)


def test_warc_index_spark(spark, tmp_path):
    """Distributed CDX build: spans fetch back the right records, digests
    are the payload SHA-1 (base-32), and the index lands in the engine's
    canonical key space (url_norm/url_hash/host)."""
    import base64
    import hashlib

    from spiderspark.warc import read_warc_record, warc_index

    (tmp_path / "seg.warc.gz").write_bytes(synthetic_warc_bytes(24))
    idx = warc_index(spark, os.path.join(str(tmp_path), "*.warc.gz"))
    rows = idx.collect()
    assert len(rows) == 24
    for r in rows:
        rec = read_warc_record(r["warc_file"].replace("file:", ""),
                               r["record_offset"], r["record_length"])
        assert rec["url"] == r["url"]
        want = base64.b32encode(hashlib.sha1(rec["html"]).digest()).decode()
        assert r["digest"] == want
        assert r["host"].startswith("w") and r["url_norm"].startswith("http://")
        assert r["url_hash"] is not None
    # the canonical key space joins against the frontier's: xxhash64(url_norm)
    from pyspark.sql import functions as F

    chk = idx.withColumn("h2", F.xxhash64("url_norm")).filter(
        F.col("h2") != F.col("url_hash")
    )
    assert chk.count() == 0


def test_robots_from_warc_and_crawl_over_warc_corpus(spark, tmp_path):
    """End-to-end: a WARC archive becomes BOTH the pages corpus
    (warc_corpus → keyed_pages) and the politeness bootstrap
    (robots_from_warc), and the real crawl loop runs over them — proving
    the ingest path plugs into the engine with no adapters."""
    from spiderspark.crawl import CrawlConfig, keyed_pages
    from spiderspark.politeness import HostPolicy
    from spiderspark.schemas import SEEDS
    from spiderspark.warc import robots_from_warc, warc_corpus

    # archive = the synthetic fixture + one robots.txt response per host w0/w1
    recs_gz = synthetic_warc_bytes(24)
    robots_recs = build_warc(
        [
            build_warc_record(
                "response",
                build_http_response(
                    200, "OK", headers=[("Content-Type", "text/plain")],
                    body=b"User-agent: *\nDisallow: /p/7\n",
                ),
                url="http://w0.example/robots.txt",
                gzip_member=True,
            ),
            build_warc_record(
                "response",
                build_http_response(404, "NF", body=b"absent"),
                url="http://w1.example/robots.txt",
                gzip_member=True,
            ),
        ]
    )
    (tmp_path / "a.warc.gz").write_bytes(recs_gz)
    (tmp_path / "b.warc.gz").write_bytes(robots_recs)
    glob = os.path.join(str(tmp_path), "*.warc.gz")

    robots = robots_from_warc(spark, glob)
    rows = {r["host"]: r["body"] for r in robots.collect()}
    assert rows == {"w0.example": "User-agent: *\nDisallow: /p/7\n"}  # 404 absent

    corpus = warc_corpus(spark, glob)
    pk = keyed_pages(corpus, n_parts=4)
    # seeds: every archived page url (the continuation-crawl shape)
    seeds = spark.createDataFrame(
        [(f"http://w{i % 7}.example/p/{i}", 1.0) for i in range(24)],
        schema=SEEDS,
    )
    config = CrawlConfig(policy=HostPolicy(default_budget=1e9), state_buckets=4)
    from spiderspark.crawl import crawl_round, init_state

    state = init_state(spark, seeds, robots, config)
    state, sched, log = crawl_round(spark, state, pk, config)
    urls = {r["url"] for r in sched.collect()}
    assert "http://w0.example/p/7" not in urls  # robots-disallowed
    assert "http://w0.example/p/0" in urls
    fetched = {
        r["url_hash"] for r in log.filter("status = 'fetched'").collect()
    }
    assert fetched, "WARC-derived corpus must satisfy the fetch join"


def test_iter_warc_spans_body_containing_warc_magic():
    """A record whose BODY contains b'WARC/1.0' must not split the span
    walk (Content-Length framing, not byte scanning)."""
    from spiderspark.warc import iter_warc_spans

    tricky = b"see WARC/1.0\r\n\r\nWARC/1.0 spec text"
    buf = build_warc(
        [
            build_warc_record(
                "response", build_http_response(body=tricky), url="http://a/"
            ),
            build_warc_record(
                "response", build_http_response(body=b"next"), url="http://b/"
            ),
        ]
    )
    spans = list(iter_warc_spans(buf))
    assert len(spans) == 2
    assert spans[0][2][0]["html"] == tricky
    assert spans[1][2][0]["url"] == "http://b/"
    assert spans[1][0] + spans[1][1] == len(buf)


def test_warc_pages_split_matches_whole_file(spark, tmp_path):
    """Byte-range split ingest == one-task-per-file ingest, row for row,
    across many chunk boundaries (4 KB splits over a ~60 KB archive whose
    bodies embed gzip magic bytes to stress the resync verifier)."""
    from spiderspark.warc import warc_pages_split

    recs = []
    for i in range(150):
        body = (b"\x1f\x8b\x08 fake magic " * (i % 4)) + (
            f"<html>big {i}</html>".encode() * (1 + i % 7)
        )
        recs.append(
            build_warc_record(
                "response",
                build_http_response(
                    body=body, chunked=i % 3 == 0, gzip_body=i % 5 == 0
                ),
                url=f"http://big.example/p/{i}",
                gzip_member=True,
            )
        )
    buf = build_warc(recs)
    p = tmp_path / "big.warc.gz"
    p.write_bytes(buf)
    whole = warc_pages(spark, str(p)).select("url", "html").collect()
    split = warc_pages_split(spark, str(p), split_bytes=4096).select(
        "url", "html"
    ).collect()
    key = lambda r: (r["url"], bytes(r["html"]))  # noqa: E731
    assert sorted(map(key, split)) == sorted(map(key, whole))
    assert len(split) == 150


def test_warc_pages_split_rejects_plain_warc(spark, tmp_path):
    from spiderspark.warc import warc_pages_split

    p = tmp_path / "plain.warc"
    p.write_bytes(
        build_warc_record(
            "response", build_http_response(body=b"x"), url="http://a/"
        )
    )
    with pytest.raises(ValueError, match="resync"):
        warc_pages_split(spark, str(p))
