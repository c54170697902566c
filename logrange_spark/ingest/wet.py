"""CommonCrawl WARC / WET corpus sources.

Large-scale text pipelines (CCNet, C4, RefinedWeb) start from
CommonCrawl's WARC (raw HTTP captures) or WET (extracted plain text)
archives — ISO 28500 record framing: a ``WARC/1.x`` version line,
``Key: Value`` headers, a blank line, ``Content-Length`` body bytes,
then two blank lines. This module reads either format into a DataFrame
via Spark's ``binaryFile`` source plus an Arrow-batched ``mapInPandas``
record splitter.

100 TB shape: gzip members are not splittable in ANY engine, so the
file is the parallelism unit — exactly how CommonCrawl shards its dumps
(~1 GB per .warc.gz, 64k files per crawl); a 1000-executor cluster maps
files to tasks with no shuffle at all, and the parse emits only the
projected columns so a downstream ``select`` prunes at the Arrow
boundary. Bodies are sliced by ``Content-Length`` (never by delimiter
scanning), so binary payloads containing blank lines parse correctly.

Malformed tails: a record whose header block or body runs past the end
of the file is dropped and parsing of that FILE stops (the documented
behavior of a truncated .gz fetch); records already parsed are kept.

Per-task memory is BOUNDED: the gzip stream is decoded incrementally
(``gzip.GzipFile``, 1 MiB reads), the record splitter holds at most ONE
record's header+body at a time, and output frames are emitted every
``_EMIT_ROWS`` rows / ``_EMIT_BYTES`` body bytes instead of one frame
per Arrow batch — so peak RSS per task is the (unavoidable, binaryFile
delivers whole files) compressed bytes plus O(one record + one emission
frame), NOT the full decompressed archive plus every parsed record.
At CommonCrawl's ~1 GB/.warc.gz design point that is ~1.1 GB instead of
the ~5-10 GB the previous eager implementation peaked at.

reference: no analogue (the reference ingests log streams; cf.
ingest/scanner.py for its file-collector surface). Part of the
beyond-reference training-data toolkit (SURVEY §2.8).
"""

from __future__ import annotations

import gzip
import io
from typing import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

WET_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("record_offset", T.LongType(), False),
        T.StructField("record_id", T.StringType(), True),
        T.StructField("target_uri", T.StringType(), True),
        T.StructField("warc_date", T.StringType(), True),
        T.StructField("digest", T.StringType(), True),
        T.StructField("content_length", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
    ]
)

WARC_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("record_offset", T.LongType(), False),
        T.StructField("record_id", T.StringType(), True),
        T.StructField("target_uri", T.StringType(), True),
        T.StructField("warc_date", T.StringType(), True),
        T.StructField("http_status", T.IntegerType(), True),
        T.StructField(
            "http_headers", T.MapType(T.StringType(), T.StringType()), True
        ),
        T.StructField("payload", T.BinaryType(), True),
    ]
)


_CHUNK = 1 << 20  # incremental-read granularity
_MAX_HEADER = 1 << 20  # malformed guard: no sane WARC header block is 1 MiB
_EMIT_ROWS = 10_000  # flush the building frame every N records...
_EMIT_BYTES = 64 << 20  # ...or every 64 MiB of body bytes, whichever first


def _open_stream(data: bytes) -> io.BufferedIOBase:
    """File-like over raw or gzip bytes. Gzip is decoded INCREMENTALLY
    (``gzip.GzipFile`` handles multi-member streams per RFC 1952 —
    CommonCrawl writes one member per record in some vintages), so the
    full decompressed archive never materializes."""
    raw = io.BytesIO(data)
    if data[:2] == b"\x1f\x8b":
        return gzip.GzipFile(fileobj=raw)
    return raw


def _earliest_sep(buf, start: int = 0) -> tuple[int, int]:
    """(offset, sep_len) of the EARLIEST header/body separator — spec
    CRLFCRLF or tolerated LFLF — or (-1, 0). Earliest-offset-wins is the
    only correct rule: preferring CRLF outright would let a CRLF pair
    later in the BODY beat an LF pair that actually ends the header."""
    crlf = buf.find(b"\r\n\r\n", start)
    lf = buf.find(b"\n\n", start)
    if crlf == -1 and lf == -1:
        return -1, 0
    if crlf != -1 and (lf == -1 or crlf < lf):
        return crlf, 4
    return lf, 2


def _parse_header_block(block: bytes) -> dict[str, str]:
    """Lower-cased Key: Value dict from a WARC header block (version
    line excluded)."""
    headers: dict[str, str] = {}
    for line in block.decode("utf-8", errors="replace").splitlines()[1:]:
        k, colon, v = line.partition(":")
        if colon:
            headers[k.strip().lower()] = v.strip()
    return headers


def _iter_records_stream(
    fobj: io.BufferedIOBase,
) -> Iterator[tuple[int, dict, bytes]]:
    """Yield (offset, headers, body) per WARC record from a file-like,
    holding at most ONE record (plus 1 MiB read slack) in memory.
    Offsets are byte positions in the DECOMPRESSED stream. LF-only
    framing is tolerated alongside spec CRLF. Stops at the first
    malformed/truncated record."""
    buf = bytearray()
    pos = 0  # absolute stream offset of buf[0]
    eof = False

    def _fill(need: int) -> None:
        nonlocal eof
        while not eof and len(buf) < need:
            chunk = fobj.read(_CHUNK)
            if not chunk:
                eof = True
            else:
                buf.extend(chunk)

    while True:
        # skip inter-record blank lines (CR/LF bytes between records)
        i = 0
        while True:
            _fill(i + 1)
            if i >= len(buf):
                return
            if buf[i] in (0x0D, 0x0A):
                i += 1
            else:
                break
        if i:
            pos += i
            del buf[:i]
        _fill(5)
        if bytes(buf[:5]) != b"WARC/":
            return  # not record-aligned: malformed tail
        while True:
            end, sep = _earliest_sep(buf)
            if end != -1:
                break
            if eof or len(buf) > _MAX_HEADER:
                return  # truncated/malformed header block
            _fill(len(buf) + _CHUNK)
        headers = _parse_header_block(bytes(buf[:end]))
        try:
            clen = int(headers["content-length"])
        except (KeyError, ValueError):
            return
        body_start = end + sep
        _fill(body_start + clen)
        if body_start + clen > len(buf):
            return  # truncated body
        yield pos, headers, bytes(buf[body_start : body_start + clen])
        pos += body_start + clen
        del buf[: body_start + clen]


def _iter_records(buf: bytes) -> Iterator[tuple[int, dict, bytes]]:
    """Bytes-buffer convenience wrapper over ``_iter_records_stream``
    (kept for tests and small in-memory inputs)."""
    return _iter_records_stream(io.BytesIO(buf))


def _read_binary(
    spark: SparkSession, path: str, glob: str | None
) -> DataFrame:
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path).select("path", "content")


def _record_frames(
    it: Iterator[pd.DataFrame],
    warc_type: str,
    make_row: Callable[[str, int, dict, bytes], tuple],
    columns: list[str],
) -> Iterator[pd.DataFrame]:
    """Stream (path, content) rows through the record splitter, emitting
    a pandas frame every ``_EMIT_ROWS`` records / ``_EMIT_BYTES`` body
    bytes — NOT one frame per Arrow batch — so a task's resident set is
    one emission frame plus one in-flight record, regardless of how many
    records the archive holds."""
    for pdf in it:
        for p, content in zip(pdf["path"], pdf["content"]):
            rows: list[tuple] = []
            nbytes = 0
            with _open_stream(bytes(content)) as fobj:
                for off, h, body in _iter_records_stream(fobj):
                    if h.get("warc-type") != warc_type:
                        continue
                    rows.append(make_row(p, off, h, body))
                    nbytes += len(body)
                    if len(rows) >= _EMIT_ROWS or nbytes >= _EMIT_BYTES:
                        yield pd.DataFrame(rows, columns=columns)
                        rows, nbytes = [], 0
            if rows:
                yield pd.DataFrame(rows, columns=columns)


def _wet_row(p: str, off: int, h: dict, body: bytes) -> tuple:
    return (
        p,
        off,
        h.get("warc-record-id"),
        h.get("warc-target-uri"),
        h.get("warc-date"),
        h.get("warc-block-digest"),
        len(body),
        body.decode("utf-8", errors="replace"),
    )


def _wet_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    return _record_frames(
        it, "conversion", _wet_row, [f.name for f in WET_SCHEMA]
    )


def read_wet(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """WET (extracted plain text) records as one row per document:
    (path, record_offset, record_id, target_uri, warc_date, digest,
    content_length, text). Only ``WARC-Type: conversion`` records yield
    rows (the per-file ``warcinfo`` preamble is skipped). ``text`` is
    UTF-8 with invalid bytes replaced — WET declares UTF-8 but crawls
    lie. ``record_offset`` is the byte offset in the DECOMPRESSED file,
    a stable per-file record id for downstream dedup keys."""
    return _read_binary(spark, path, glob).mapInPandas(
        _wet_batches, WET_SCHEMA
    )


# binaryFile's fixed schema — streaming file sources require it spelled
# out (batch infers it)
_BINARY_FILE_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("modificationTime", T.TimestampType(), False),
        T.StructField("length", T.LongType(), False),
        T.StructField("content", T.BinaryType(), True),
    ]
)


def read_wet_stream(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Streaming ``read_wet``: a Structured Streaming source over a
    landing directory of WET files — the continuous-crawl-ingestion
    shape. New files become new micro-batch rows through the SAME
    splitter as the batch reader (streamed output ≡ batch re-read of
    the same files, pinned by test); the file-source checkpoint gives
    exactly-once per FILE, the natural unit since a WET file is one
    crawl shard. Feed into the curation stream or any writeStream sink;
    use ``trigger(availableNow=True)`` for catch-up-then-stop runs."""
    reader = spark.readStream.format("binaryFile").schema(
        _BINARY_FILE_SCHEMA
    )
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path).select("path", "content")
    return df.mapInPandas(_wet_batches, WET_SCHEMA)


def wet_documents(wet_df: DataFrame, id_salt: str = "") -> DataFrame:
    """(doc_id, url, text) in the shape every documents-table operator
    consumes (dedup / text / sampling / report), from ``read_wet`` or
    ``read_wet_stream`` output. ``doc_id = xxhash64(salt, path,
    record_offset)`` — a pure map-side column, deterministic across
    reruns and layouts, unique per crawl record (64-bit; collisions are
    birthday-negligible below ~10⁹ records — above that, dedup keys on
    content anyway and the (path, record_offset) pair remains the
    durable identity). Hash ids make keep-FIRST dedup's min-id rule an
    arbitrary-but-deterministic choice; keep-BEST
    (``cluster_representatives``) is unaffected."""
    return wet_df.select(
        F.xxhash64(
            F.lit(id_salt), F.col("path"), F.col("record_offset")
        ).alias("doc_id"),
        F.col("target_uri").alias("url"),
        "text",
    )


def read_warc(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """WARC ``response`` records with the HTTP envelope split off:
    (path, record_offset, record_id, target_uri, warc_date, http_status,
    http_headers, payload). The payload is the raw HTTP body bytes
    (HTML, image, ...) — ``ops.html`` extracts text from HTML bodies and
    ``ops.multimodal.attach_binary`` wraps any body with size/MD5/MIME
    metadata. Responses whose HTTP head doesn't parse yield null
    status/headers and the whole record body as payload."""

    def _warc_row(p: str, off: int, h: dict, body: bytes) -> tuple:
        status, hdrs, payload = _split_http(body)
        return (
            p,
            off,
            h.get("warc-record-id"),
            h.get("warc-target-uri"),
            h.get("warc-date"),
            status,
            hdrs,
            payload,
        )

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _record_frames(
            it, "response", _warc_row, [f.name for f in WARC_SCHEMA]
        )

    return _read_binary(spark, path, glob).mapInPandas(_batches, WARC_SCHEMA)


def _split_http(body: bytes) -> tuple[int | None, dict | None, bytes]:
    """Split an HTTP response message into (status, headers, payload).
    The head/body cut is the EARLIEST of CRLFCRLF / LFLF — same rule as
    the WARC record splitter; preferring CRLF outright would cut an
    LF-framed head at a CRLF pair that happens to sit inside the BODY,
    leaking body bytes into the header dict and truncating the payload's
    prefix. Unparseable heads yield (None, None, whole body)."""
    cut, seplen = _earliest_sep(body)
    if cut != -1:
        head = body[:cut].decode("latin-1", errors="replace")
        lines = head.splitlines()
        if lines and lines[0].upper().startswith("HTTP/"):
            parts = lines[0].split(None, 2)
            try:
                status = int(parts[1])
            except (IndexError, ValueError):
                return None, None, body
            hdrs: dict[str, str] = {}
            for line in lines[1:]:
                k, colon, v = line.partition(":")
                if colon:
                    hdrs[k.strip().lower()] = v.strip()
            return status, hdrs, body[cut + seplen :]
    return None, None, body
