"""WARC read/write (sources/warc.py, ISO 28500)."""

from __future__ import annotations

import gzip
import os

from rippledb_engine.sources import warc as W


def _record(uri: str, payload: bytes, extra: bytes = b"") -> bytes:
    return (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        b"WARC-Record-ID: <urn:uuid:x>\r\n"
        b"WARC-Target-URI: " + uri.encode() + b"\r\n"
        b"WARC-Date: 2024-01-01T00:00:00Z\r\n"
        b"Content-Type: text/plain\r\n" + extra +
        b"Content-Length: " + str(len(payload)).encode() + b"\r\n"
        b"\r\n" + payload + b"\r\n\r\n"
    )


def test_parse_content_length_framing():
    # the payload CONTAINS a fake record header — framing must not split it
    tricky = b"decoy\r\n\r\nWARC/1.0\r\nContent-Length: 0\r\n\r\nreal tail"
    data = _record("http://a", tricky) + _record("http://b", "caf\xe9".encode())
    rows = W.parse_warc_bytes(data)
    assert [r[2] for r in rows] == ["http://a", "http://b"]
    assert rows[0][6] == tricky
    assert rows[1][6].decode() == "caf\xe9"
    assert rows[1][5] == 5  # octet count, not character count


def test_parse_skips_malformed_records():
    bad = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: http://bad\r\n\r\nno content length\r\n\r\n"
    )
    data = bad + _record("http://good", b"ok")
    uris = [r[2] for r in W.parse_warc_bytes(data)]
    assert uris == ["http://good"]


def test_parse_truncated_final_record_dropped():
    whole = _record("http://a", b"full")
    cut = _record("http://b", b"this payload is cut")[:-12]
    rows = W.parse_warc_bytes(whole + cut)
    assert [r[2] for r in rows] == ["http://a"]


def test_roundtrip_distributed(spark, tmp_path):
    docs = spark.createDataFrame(
        [
            ("http://x/1", "2024-01-01T00:00:00Z", "alpha beta"),
            ("http://x/2", "2024-01-01T00:00:00Z", "caf\xe9 ☃"),
            ("http://y/3", "2024-01-02T00:00:00Z", ""),
        ],
        "target_uri string, warc_date string, payload string",
    )
    out = os.path.join(str(tmp_path), "w")
    W.write_warc(docs, out)
    back = W.read_warc(spark, out)
    got = {
        r["target_uri"]: (
            r["warc_type"],
            bytes(r["payload"]).decode(),
            r["content_length"],
        )
        for r in back.collect()
    }
    assert got == {
        "http://x/1": ("response", "alpha beta", 10),
        "http://x/2": ("response", "caf\xe9 ☃", 9),
        "http://y/3": ("response", "", 0),
    }
    # deterministic record ids: re-serialization is byte-stable
    ids = {r["target_uri"]: r["record_id"] for r in back.collect()}
    W.write_warc(docs, out + "2")
    ids2 = {
        r["target_uri"]: r["record_id"]
        for r in W.read_warc(spark, out + "2").collect()
    }
    assert ids == ids2


def test_gzip_member(spark, tmp_path):
    raw = _record("http://gz/1", b"zipped payload")
    p = os.path.join(str(tmp_path), "one.warc.gz")
    with open(p, "wb") as f:
        f.write(gzip.compress(raw))
    rows = W.read_warc(spark, p).collect()
    assert len(rows) == 1 and bytes(rows[0]["payload"]) == b"zipped payload"


def test_corrupt_length_resyncs_not_aborts():
    # an overdeclared Content-Length mid-member must lose only that
    # record; the scanner resyncs at the next marker
    bad = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: http://corrupt\r\n"
        b"Content-Length: 999999\r\n\r\nshort\r\n\r\n"
    )
    data = _record("http://a", b"one") + bad + _record("http://b", b"two")
    assert [r[2] for r in W.parse_warc_bytes(data)] == ["http://a", "http://b"]


def test_bare_lf_record_before_crlf_record():
    # a bare-\n header block must use ITS terminator, not a later CRLF
    # record's: both records survive
    bare = (
        b"WARC/1.0\nWARC-Type: response\n"
        b"WARC-Target-URI: http://bare\nContent-Length: 4\n\nbody\n\n"
    )
    data = bare + _record("http://crlf", b"tail")
    rows = W.parse_warc_bytes(data)
    assert [(r[2], bytes(r[6])) for r in rows] == [
        ("http://bare", b"body"),
        ("http://crlf", b"tail"),
    ]


def test_malformed_resync_skips_header_block():
    # a marker-looking header VALUE inside a malformed record is never
    # re-scanned: resync starts after the declared header block (r6
    # ADVICE), and the next real record is still recovered
    bad = (
        b"WARC/1.0\r\n"
        b"X-Echo: WARC/1.0\r\n"
        b"WARC-Target-URI: http://bad\r\n\r\npayload without framing "
    )
    data = bad + _record("http://good", b"ok")
    assert [r[2] for r in W.parse_warc_bytes(data)] == ["http://good"]


def test_malformed_payload_phantom_is_documented_residual():
    # once framing is lost (no Content-Length), a complete record spelled
    # inside the bad record's payload DOES surface — the documented
    # residual of skip-mode resync — and scanning still recovers the next
    # real record afterwards; well-framed payloads remain immune (see
    # test_parse_content_length_framing)
    embedded = _record("http://phantom", b"xyz")
    bad = (
        b"WARC/1.0\r\nWARC-Target-URI: http://bad\r\n\r\n" + embedded + b"tail "
    )
    data = bad + _record("http://good", b"ok")
    uris = [r[2] for r in W.parse_warc_bytes(data)]
    assert uris == ["http://phantom", "http://good"]
