"""WARC / WET container round trip — Common Crawl's transport format
as a DataFrame-native source and sink.

The reference ingests its corpus from per-article files in a bulk
archive store (pmc.py:75-95 downloads AccessionId.xml objects from the
PMC open-data bucket; 02_Articles_Ingest.py:28-44 lands the raw files
in a table). The web-scale analog of that transport is ISO 28500
WARC: Common Crawl publishes each crawl as ``*.warc.gz`` (raw HTTP
responses) and ``*.warc.wet.gz`` (extracted-text "conversion"
records), with **one gzip member per record** so any single record is
independently decompressible from a byte offset.

Spark-first shape (SURVEY §2.1 S5/S6 purity rule — no executor-side
filesystem effects):

* **serialize**: ``wet_files`` shards records by a cross-engine md5
  key and builds one WET container per shard with
  ``applyInPandas`` — the container is a *binary column*, so the
  whole sink stays inside the DataFrame (the caller lands the bytes
  with a normal parquet/table write or a driver-side dump in tests).
  Gzip mtime is pinned to 0 → byte-deterministic output.
* **parse**: ``parse_wet`` walks the gzip members of each container
  with ``zlib.decompressobj`` (O(member) memory, no whole-file
  inflate) inside ``mapInPandas``; ``read_wet`` rides the
  ``binaryFile`` source so disk ingestion parallelizes exactly the
  way real Common Crawl jobs do — one ~100 MB ``.wet.gz`` per task,
  the file being the split unit (gzip is unsplittable; members
  stream).

At 100 TB the scan unit is the file listing: ``binaryFile`` plans one
partition per file (maxPartitionBytes batches small ones), the parse
is embarrassingly parallel, and no shuffle exists anywhere in the
ingest path.
"""

from __future__ import annotations

import gzip
import zlib
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

WARC_VERSION = b"WARC/1.0"
_CRLF = b"\r\n"

WET_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("length", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)

WARC_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("status", T.IntegerType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("html", T.BinaryType()),
    ]
)

FILES_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType()),
        T.StructField("content", T.BinaryType()),
        T.StructField("n_records", T.LongType()),
    ]
)


# ------------------------------------------------------------------ write side


def _gzip_member(data: bytes) -> bytes:
    """One deterministic gzip member (mtime pinned — archive bytes
    must not depend on when the job ran)."""
    return gzip.compress(data, compresslevel=6, mtime=0)


def _record(warc_type: str, url: str | None, date_iso: str, body: bytes,
            content_type: str) -> bytes:
    headers = [WARC_VERSION, b"WARC-Type: " + warc_type.encode()]
    if url is not None:
        headers.append(b"WARC-Target-URI: " + url.encode())
    headers += [
        b"WARC-Date: " + date_iso.encode(),
        b"Content-Type: " + content_type.encode(),
        b"Content-Length: " + str(len(body)).encode(),
    ]
    # Content-Length frames the body exactly: bodies containing CRLFs
    # or even a literal "WARC/1.0" line round-trip untouched.
    return _CRLF.join(headers) + _CRLF * 2 + body + _CRLF * 2


def _warcinfo(filename: str, date_iso: str) -> bytes:
    body = (f"software: webfilter-synth\r\nisPartOf: {filename}\r\n").encode()
    return _record("warcinfo", None, date_iso, body,
                   "application/warc-fields")


def _date_iso(ts) -> str:
    # NULL/NaT dates serialize as the epoch instead of crashing the
    # per-shard writer (code-review r4c7 finding #5)
    t = pd.Timestamp(ts)
    if pd.isna(t):
        t = pd.Timestamp(0)
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def shard_expr(url, n_shards: int):
    """Cross-engine shard key (the repo's md5-prefix idiom, ONE
    definition: sketches.md5_prefix_hash): DuckDB replays it as
    ('0x' || substr(md5(url),1,4))::BIGINT % n.  NULL urls shard by
    '' (md5 of NULL is NULL, which would crash the per-shard int()
    in the writers — code-review r4c7 finding #5)."""
    from .sketches import md5_prefix_hash

    return md5_prefix_hash(F.coalesce(url, F.lit("")), n_hex=4) % n_shards


def _parse_warc_date(h: dict, strict: bool):
    """WARC-Date of one record, or None for quarantine: a missing or
    garbage date must not escape strict=False as a raw
    KeyError/ValueError and kill the task (code-review r4c7 finding
    #1)."""
    raw = h.get("warc-date")
    try:
        if raw is None:
            raise ValueError("missing WARC-Date")
        return pd.Timestamp(raw.rstrip("Z"))
    except ValueError:
        if strict:
            raise
        return None


def wet_files(records: DataFrame, n_shards: int = 8,
              prefix: str = "SYNTH-WET") -> DataFrame:
    """records(url, warc_ts, text) -> one WET container per shard:
    (file, content binary, n_records).

    Records are md5-sharded (uniform keys — no skew at any corpus
    size) and sorted by url inside the shard so container bytes are a
    pure function of shard membership. One applyInPandas group per
    shard; shard count is the write-parallelism knob, exactly like
    real WET segment files."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("url", kind="mergesort")
        shard = int(pdf["shard"].iloc[0])
        name = f"{prefix}-{shard:05d}.warc.wet.gz"
        first_date = _date_iso(pdf["warc_ts"].iloc[0])
        parts = [_gzip_member(_warcinfo(name, first_date))]
        for url, ts, text in zip(pdf["url"], pdf["warc_ts"], pdf["text"]):
            body = ("" if text is None else text).encode("utf-8")
            parts.append(
                _gzip_member(
                    _record("conversion", url, _date_iso(ts), body,
                            "text/plain")
                )
            )
        return pd.DataFrame(
            {
                "file": [name],
                "content": [b"".join(parts)],
                "n_records": [len(pdf)],
            }
        )

    return (
        records.withColumn("shard", shard_expr(F.col("url"), n_shards))
        .groupBy("shard")
        .applyInPandas(build, schema=FILES_SCHEMA)
    )


def warc_files(pages: DataFrame, n_shards: int = 8) -> DataFrame:
    """pages(url, warc_ts, html binary) -> response-record WARC
    containers with a minimal HTTP/1.1 header block per record (the
    ``application/http`` payload real crawls carry)."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("url", kind="mergesort")
        shard = int(pdf["shard"].iloc[0])
        name = f"SYNTH-WARC-{shard:05d}.warc.gz"
        first_date = _date_iso(pdf["warc_ts"].iloc[0])
        parts = [_gzip_member(_warcinfo(name, first_date))]
        for url, ts, html in zip(pdf["url"], pdf["warc_ts"], pdf["html"]):
            payload = bytes(html or b"")
            http = (
                b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                + b"Content-Length: " + str(len(payload)).encode()
                + _CRLF * 2 + payload
            )
            parts.append(
                _gzip_member(
                    _record("response", url, _date_iso(ts), http,
                            'application/http; msgtype=response')
                )
            )
        return pd.DataFrame(
            {
                "file": [name],
                "content": [b"".join(parts)],
                "n_records": [len(pdf)],
            }
        )

    return (
        pages.withColumn("shard", shard_expr(F.col("url"), n_shards))
        .groupBy("shard")
        .applyInPandas(build, schema=FILES_SCHEMA)
    )


# ------------------------------------------------------------------ parse side


def iter_members(data: bytes) -> Iterator[bytes]:
    """Decompress a multi-member gzip stream one member at a time
    (O(largest member) memory — never inflate the whole container)."""
    while data:
        d = zlib.decompressobj(wbits=31)
        try:
            chunk = d.decompress(data) + d.flush()
        except zlib.error as exc:
            raise ValueError(f"bad gzip member: {exc}") from None
        yield chunk
        if not d.eof:  # truncated final member
            raise ValueError("truncated gzip member")
        data = d.unused_data


def parse_record(raw: bytes) -> dict | None:
    """One decompressed WARC record -> header dict + exact body bytes
    (None for records without the mandatory framing headers)."""
    if not raw.startswith(b"WARC/"):
        return None
    split = raw.find(_CRLF * 2)
    if split < 0:
        return None
    headers: dict[str, str] = {}
    for line in raw[:split].split(_CRLF)[1:]:
        k, _, v = line.partition(b":")
        headers[k.strip().lower().decode()] = v.strip().decode()
    try:
        n = int(headers["content-length"])
    except (KeyError, ValueError):
        return None
    body = raw[split + 4 : split + 4 + n]
    if len(body) != n:
        return None
    return {"headers": headers, "body": body}


def _http_split(payload: bytes) -> tuple[int, str, bytes]:
    """Split an application/http response payload into
    (status, content_type, body)."""
    split = payload.find(_CRLF * 2)
    if split < 0:
        return 0, "", payload
    head = payload[:split].split(_CRLF)
    try:
        status = int(head[0].split(b" ")[1])
    except (IndexError, ValueError):
        status = 0
    ctype = ""
    for line in head[1:]:
        k, _, v = line.partition(b":")
        if k.strip().lower() == b"content-type":
            ctype = v.strip().decode("latin-1")
    return status, ctype, payload[split + 4 :]


def _iter_wet_rows(file: str, content: bytes, strict: bool):
    try:
        members = list(iter_members(bytes(content)))
    except ValueError:
        if strict:
            raise
        return
    for raw in members:
        rec = parse_record(raw)
        if rec is None or rec["headers"].get("warc-type") != "conversion":
            if rec is None and strict:
                raise ValueError(f"malformed WARC record in {file}")
            continue
        h = rec["headers"]
        ts = _parse_warc_date(h, strict)
        if ts is None:
            continue  # quarantined: undateable record
        yield {
            "file": file,
            "url": h.get("warc-target-uri"),
            "warc_ts": ts,
            "length": len(rec["body"]),
            "text": rec["body"].decode("utf-8", errors="replace"),
        }


def parse_wet(files: DataFrame, strict: bool = True) -> DataFrame:
    """files(file, content) -> one row per conversion record. The
    warcinfo prologue (and any non-conversion record) is skipped;
    ``strict=False`` drops malformed containers instead of raising
    (the quarantine mode for hostile real-web bytes)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                row
                for file, content in zip(pdf["file"], pdf["content"])
                for row in _iter_wet_rows(file, content, strict)
            ]
            yield pd.DataFrame(
                rows, columns=["file", "url", "warc_ts", "length", "text"]
            )

    return files.mapInPandas(run, schema=WET_SCHEMA)


def parse_warc(files: DataFrame) -> DataFrame:
    """files(file, content) -> one row per response record with the
    HTTP header block split off the payload (html = exact body
    bytes). A malformed container, record or WARC-Date raises."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for file, content in zip(pdf["file"], pdf["content"]):
                # list(): a corrupt container raises before any of its
                # records becomes a row
                for raw in list(iter_members(bytes(content))):
                    rec = parse_record(raw)
                    if rec is None:
                        raise ValueError(f"malformed WARC record in {file}")
                    if rec["headers"].get("warc-type") != "response":
                        continue
                    h = rec["headers"]
                    ts = _parse_warc_date(h, True)
                    status, ctype, body = _http_split(rec["body"])
                    rows.append(
                        {
                            "file": file,
                            "url": h.get("warc-target-uri"),
                            "warc_ts": ts,
                            "status": status,
                            "content_type": ctype,
                            "html": body,
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=["file", "url", "warc_ts", "status", "content_type",
                         "html"],
            )

    return files.mapInPandas(run, schema=WARC_SCHEMA)


def read_wet(spark: SparkSession, path_glob: str) -> DataFrame:
    """Disk ingestion: binaryFile source (one partition per .wet.gz —
    the Common Crawl parallelism unit) -> parse_wet."""
    files = (
        spark.read.format("binaryFile")
        .load(path_glob)
        .select(F.col("path").alias("file"), "content")
    )
    return parse_wet(files)


#: binaryFile's fixed schema — streaming file sources require it
#: spelled out (no inference on an unbounded directory)
_BINARY_FILE_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("modificationTime", T.TimestampType()),
        T.StructField("length", T.LongType()),
        T.StructField("content", T.BinaryType()),
    ]
)


def stream_wet(spark: SparkSession, path: str, max_files: int = 16) -> DataFrame:
    """Kept for SCALING.md "Web-transport & compliance".

    Incremental WET ingestion: the checkpointed file-discovery
    stream (the Auto Loader analog, streaming.read_pages_stream's S1
    shape) over .wet.gz containers — each trigger picks up only the
    crawl segments that appeared since the last checkpoint, caps
    per-trigger work at ``max_files`` containers, and parses them
    with the same member-streaming mapInPandas as the batch path.
    This is exactly how a daily Common Crawl drop lands: new segment
    files in a prefix, nothing reprocessed."""
    files = (
        spark.readStream.format("binaryFile")
        .schema(_BINARY_FILE_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .load(path)
        .select(F.col("path").alias("file"), "content")
    )
    return parse_wet(files)


# ------------------------------------------------------------------ CDX index

CDX_JSON_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("mime", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("digest", T.StringType()),
        T.StructField("length", T.StringType()),
    ]
)


def cdx_surt(url):
    """SURT key (Sort-friendly URI Reordering Transform, simplified:
    lowercased reversed-host comma-join + ')' + path+query; no www
    folding or scheme rules): the sort key Common Crawl's URL index
    shards and range-scans by — same-domain captures are
    lexicographic neighbors."""
    host = F.regexp_extract(url, r"^[a-zA-Z][\w+.-]*://([^/?#]*)", 1)
    rest = F.regexp_extract(url, r"^[a-zA-Z][\w+.-]*://[^/?#]*([^#]*)", 1)
    return F.concat(
        F.array_join(F.reverse(F.split(F.lower(host), r"\.")), ","),
        F.lit(")"),
        rest,
    )


def cdx_lines(captures: DataFrame) -> DataFrame:
    """captures(url, warc_ts, mime, status, digest, length) -> one
    CDXJ index line per capture: ``<surt> <ts14> <json>`` (the
    Common Crawl cdx-*.gz layout). Pure Column ops — to_json, no
    UDF."""
    ts14 = F.date_format("warc_ts", "yyyyMMddHHmmss")
    js = F.to_json(
        F.struct(
            F.col("url"),
            F.col("mime"),
            F.col("status").cast("string").alias("status"),
            F.col("digest"),
            F.col("length").cast("string").alias("length"),
        )
    )
    return captures.select(
        F.concat(cdx_surt(F.col("url")), F.lit(" "), ts14, F.lit(" "), js)
        .alias("line")
    )


def parse_cdx(lines: DataFrame) -> DataFrame:
    """CDXJ lines -> typed capture rows. split(limit=3) isolates the
    JSON block (which itself contains spaces), from_json binds the
    string fields, casts type them. Map-only; a 100 TB index parses
    as a pure scan."""
    parts = F.split(F.col("line"), " ", 3)
    j = F.from_json(parts[2], CDX_JSON_SCHEMA)
    return lines.select(
        parts[0].alias("surt"),
        F.to_timestamp(parts[1], "yyyyMMddHHmmss").alias("capture_ts"),
        j["url"].alias("url"),
        j["mime"].alias("mime"),
        j["status"].cast("int").alias("status"),
        j["digest"].alias("digest"),
        j["length"].cast("long").alias("length"),
    )
