"""WARC Python DataSource (sources/warc.py): framing parser, gzip
member concatenation, record-type filtering, payload truncation, and
the spark.read.format('warc') integration."""

import gzip

import pytest

from pyspark_data_quality_spark.sources.warc import (
    WARC_SCHEMA,
    register_warc_source,
)


def _record(rtype, uri, payload: bytes, extra=()):
    head = [
        b"WARC/1.0",
        b"WARC-Type: " + rtype.encode(),
        b"WARC-Date: 2024-01-01T00:00:00Z",
        b"Content-Length: " + str(len(payload)).encode(),
    ]
    if uri is not None:
        head.append(b"WARC-Target-URI: " + uri.encode())
    head.extend(extra)
    return b"\r\n".join(head) + b"\r\n\r\n" + payload + b"\r\n\r\n"


def _sample_records():
    return [
        _record(
            "warcinfo", None, b"software: test\r\n",
            (b"Content-Type: application/warc-fields",),
        ),
        _record(
            "response", "http://example.com/a",
            b"HTTP/1.1 200 OK\r\n\r\nhello world",
            (b"Content-Type: application/http; msgtype=response",),
        ),
        _record("request", "http://example.com/a", b"GET /a HTTP/1.1\r\n"),
        _record(
            "response", "http://example.com/b",
            b"HTTP/1.1 200 OK\r\n\r\n" + b"x" * 100,
            (b"Content-Type: application/http; msgtype=response",),
        ),
    ]


@pytest.fixture()
def warc_dir(tmp_path):
    recs = _sample_records()
    plain = tmp_path / "a.warc"
    plain.write_bytes(b"".join(recs[:2]))
    # member-per-record gzip concatenation, the Common Crawl layout
    gz = tmp_path / "b.warc.gz"
    gz.write_bytes(b"".join(gzip.compress(r) for r in recs[2:]))
    return str(tmp_path)


def test_warc_reads_responses_by_default(spark, warc_dir):
    register_warc_source(spark)
    df = spark.read.format("warc").load(warc_dir)
    assert df.schema.simpleString() == (
        "struct<" + WARC_SCHEMA.replace(" string", ":string")
        .replace(" long", ":bigint").replace(" binary", ":binary")
        .replace(" boolean", ":boolean").replace(", ", ",") + ">"
    )
    rows = df.collect()
    assert {r.record_type for r in rows} == {"response"}
    by_url = {r.url: r for r in rows}
    assert set(by_url) == {"http://example.com/a", "http://example.com/b"}
    assert bytes(by_url["http://example.com/a"].payload).endswith(
        b"hello world"
    )
    assert {r.warc_file for r in rows} == {"a.warc", "b.warc.gz"}
    assert not any(r.payload_truncated for r in rows)


def test_warc_file_uri_single_and_directory(spark, warc_dir):
    """scheme:// paths route through pyarrow.fs: a file:// URI to one
    file and to a directory both read identically to the local path —
    including the concatenated-gzip .warc.gz member layout."""
    register_warc_source(spark)
    local = spark.read.format("warc").load(warc_dir).collect()
    via_dir = spark.read.format("warc").load("file://" + warc_dir).collect()
    assert sorted(r.url for r in via_dir) == sorted(r.url for r in local)
    one_gz = spark.read.format("warc").load(
        "file://" + warc_dir + "/b.warc.gz"
    ).collect()
    assert [r.url for r in one_gz] == ["http://example.com/b"]
    assert bytes(one_gz[0].payload).endswith(b"x" * 100)


def test_warc_remote_missing_path_fails_on_driver(spark, tmp_path):
    register_warc_source(spark)
    with pytest.raises(Exception, match="no files match"):
        spark.read.format("warc").load(
            "file://" + str(tmp_path / "no-such-dir")
        ).collect()


def test_warc_record_type_filter_and_wildcard(spark, warc_dir):
    register_warc_source(spark)
    req = (
        spark.read.format("warc")
        .option("record_types", "request")
        .load(warc_dir)
        .collect()
    )
    assert [r.record_type for r in req] == ["request"]
    everything = (
        spark.read.format("warc")
        .option("record_types", "*")
        .load(warc_dir)
        .collect()
    )
    assert len(everything) == 4
    assert {r.record_type for r in everything} == {
        "warcinfo", "response", "request",
    }


def test_warc_payload_truncation(spark, warc_dir):
    register_warc_source(spark)
    rows = (
        spark.read.format("warc")
        .option("max_payload_bytes", "30")
        .load(warc_dir)
        .collect()
    )
    by_url = {r.url: r for r in rows}
    big = by_url["http://example.com/b"]
    assert big.payload_truncated
    assert len(bytes(big.payload)) == 30
    assert big.content_length > 30  # original length preserved
    small = by_url["http://example.com/a"]
    assert not small.payload_truncated


def test_warc_glob_and_missing(spark, tmp_path, warc_dir):
    register_warc_source(spark)
    one = spark.read.format("warc").load(f"{warc_dir}/a.warc")
    assert one.count() == 1  # only the response in a.warc
    with pytest.raises(Exception):
        spark.read.format("warc").load(str(tmp_path / "nope")).collect()


def test_warc_malformed_raises(spark, tmp_path):
    register_warc_source(spark)
    bad = tmp_path / "bad.warc"
    bad.write_bytes(b"NOT-A-WARC\r\n\r\n")
    with pytest.raises(Exception, match="version line|WARC"):
        spark.read.format("warc").load(str(bad)).collect()


def test_warc_documents_wet_extraction(spark, tmp_path):
    from pyspark_data_quality_spark.sources.warc import warc_documents

    html = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
        b"<!DOCTYPE html><html><head><title>T</title>"
        b"<style>p{color:red}</style>"
        b"<script>var x = '<evil>';</script></head>"
        b"<body><p>Hello &amp; welcome</p><!-- note -->"
        b"<div>second   line</div></body></html>"
    )
    plain = b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\njust text"
    f = tmp_path / "c.warc"
    f.write_bytes(
        _record(
            "response", "http://h.com/page", html,
            (b"Content-Type: application/http; msgtype=response",),
        )
        + _record(
            "response", "http://h.com/plain", plain,
            (b"Content-Type: application/http; msgtype=response",),
        )
    )
    register_warc_source(spark)
    raw = spark.read.format("warc").load(str(f))

    docs = warc_documents(raw).collect()
    assert len(docs) == 1  # html_only drops the text/plain record
    d = docs[0]
    assert d.url == "http://h.com/page"
    # headers, tags, script/style bodies, and comments are gone;
    # entities unescaped; whitespace collapsed
    assert d.text == "T Hello & welcome second line"

    everything = warc_documents(raw, html_only=False).collect()
    assert {r.text for r in everything} == {
        "T Hello & welcome second line", "just text",
    }


def test_warc_to_curation_end_to_end(spark, tmp_path):
    """Full ingestion path: WARC archive -> warc_documents -> the
    curation pipeline. Exact duplicates across pages are caught on the
    EXTRACTED text (tracking markup differences collapse)."""
    from pyspark.sql import functions as F

    from pyspark_data_quality_spark.pipelines import curate_corpus
    from pyspark_data_quality_spark.sources.warc import warc_documents

    def page(body_html):
        payload = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
            b"<html><body>" + body_html + b"</body></html>"
        )
        return payload

    body = (
        b"<p>the quick brown fox jumps over the lazy dog and then "
        b"the dog jumps back over the fox for good measure</p>"
    )
    f = tmp_path / "crawl.warc"
    f.write_bytes(
        _record("response", "http://a.com/1", page(body),
                (b"Content-Type: application/http; msgtype=response",))
        + _record("response", "http://b.com/copy",
                  page(b"<div>" + body + b"</div>"),  # same text, new markup
                  (b"Content-Type: application/http; msgtype=response",))
        + _record("response", "http://c.com/other",
                  page(b"<p>an entirely different page about completely "
                       b"other topics with its own words</p>"),
                  (b"Content-Type: application/http; msgtype=response",))
    )
    register_warc_source(spark)
    docs = warc_documents(
        spark.read.format("warc").load(str(f))
    ).withColumn("doc_id", F.xxhash64("url"))

    out = curate_corpus(
        docs, id_col="doc_id", languages=None, min_quality=0.0,
        near_dup_threshold=0.99,
    )
    by_url = {r["url"]: r["curation_status"] for r in out.collect()}
    assert by_url["http://c.com/other"] == "kept"
    # markup differs but extracted text is identical -> one survives,
    # one drops as exact_dup (which one depends on the hashed ids)
    pair = {by_url["http://a.com/1"], by_url["http://b.com/copy"]}
    assert pair == {"kept", "exact_dup"}


def test_warc_unsupported_scheme_fails_loud(spark):
    """A scheme pyarrow has no filesystem for must fail with a pointed
    error on the driver (s3/gs/hdfs work where the pyarrow build and
    credentials allow; unreachable is a loud ValueError, never an empty
    frame)."""
    register_warc_source(spark)
    with pytest.raises(Exception, match="cannot open filesystem"):
        spark.read.format("warc").load(
            "notascheme://bucket/x.warc.gz"
        ).collect()


def test_html_to_text_escaped_entities_not_double_unescaped(spark):
    from pyspark_data_quality_spark.functions.text import html_to_text

    # page whose VISIBLE text is: use &lt;br&gt; to break — stored with
    # &amp;-escaped entities in the HTML source
    df = spark.createDataFrame(
        [("<p>use &amp;lt;br&amp;gt; to break</p>",)], "h string"
    )
    got = df.select(html_to_text("h").alias("t")).first()["t"]
    assert got == "use &lt;br&gt; to break"


def test_normalize_url_lowercases_authority_only(spark):
    from pyspark_data_quality_spark.functions.text import normalize_url

    df = spark.createDataFrame(
        [
            ("https://Example.com/mirror/Example.com/File",),
            ("HTTPS://HOST.IO",),  # no path at all
            # query but NO path: the authority ends at '?', and the
            # case-sensitive query value must be preserved
            ("http://HOST.com?Next=CaseSensitive",),
        ],
        "u string",
    )
    got = [r["n"] for r in df.select(normalize_url("u").alias("n")).collect()]
    # the case-sensitive path segment is preserved
    assert got[0] == "https://example.com/mirror/Example.com/File"
    assert got[1] == "https://host.io"
    assert got[2] == "http://host.com?Next=CaseSensitive"


def test_warc_missing_literal_path_fails_on_driver(spark, tmp_path):
    register_warc_source(spark)
    with pytest.raises(Exception, match="no files match"):
        spark.read.format("warc").load(
            str(tmp_path / "no-such.warc.gz")
        ).collect()


def test_warc_documents_http_content_type_and_case(spark, tmp_path):
    """content_type is the HTTP header's MIME type (not the WARC framing
    type); declared text/html keeps fragment-only pages; record_type
    matches case-insensitively."""
    from pyspark_data_quality_spark.sources.warc import warc_documents

    frag = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n"
        b"<div>fragment only page</div>"  # no <html>/<p>/doctype
    )
    f = tmp_path / "d.warc"
    f.write_bytes(
        _record("Response", "http://h.com/frag", frag,
                (b"Content-Type: application/http; msgtype=response",))
    )
    register_warc_source(spark)
    raw = spark.read.format("warc").option("record_types", "response").load(
        str(f)
    )
    assert raw.count() == 1  # reader filter is case-insensitive
    docs = warc_documents(raw).collect()
    assert len(docs) == 1  # HTTP-declared text/html keeps the fragment
    assert docs[0].content_type == "text/html; charset=utf-8"
    assert docs[0].text == "fragment only page"
