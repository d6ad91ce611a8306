"""WARC / WET (ISO 28500) reader — the Common Crawl input format.

A 100 TB crawl corpus arrives as tens of thousands of ``.warc.gz``
segment files (Common Crawl ships ~64 k per monthly crawl, ~1 GB each,
every record its own gzip member).  The Spark-first shape:

- **Parallelism is per file.**  ``spark.read.format("binaryFile")``
  lists and distributes the files; one file = one task.  At 64 k files
  that saturates a 1000-executor cluster without splitting inside a
  file (gzip members would allow it, but per-file tasks at ~1 GB are
  already the right granularity — and ``via="paths"`` below never even
  ships the bytes through a Spark row).
- **Parsing is incremental.**  Records are walked with a buffered
  reader over a chunk iterator; the gzip stream is inflated
  member-by-member with ``zlib.decompressobj`` (concatenated-member
  aware), so executor memory holds one record and one buffer — never a
  whole decompressed file (a 1 GB ``.warc.gz`` inflates ~4×).
- **Filters run before anything moves.**  ``warc_types`` and
  ``payload=False`` are applied inside the scan, so a metadata-only
  pass (URL census, status-code stats) ships no payload bytes into the
  plan at all.

Format knowledge is the public spec (iipc/warc-specifications, WARC
1.0/1.1) — headers terminated by a blank line, a ``Content-Length``
byte-exact content block, two CRLFs between records; ``response``
records carry an HTTP/1.x message whose body is the page.  No warcio
dependency: stdlib ``zlib`` + the record walker below.

Downstream: ``warc_http_text`` decodes response bodies (charset from
the HTTP ``Content-Type``, Arrow-batched), ``wet_text`` is pure
Catalyst (WET conversion records are UTF-8 by spec, a binary→string
cast), and ``warc_to_documents`` chains into
``operators.html_clean.extract_main_content`` + the URL-curation and
corpus_prep stages to complete the crawl→corpus story (RefinedWeb §3
stage order).
"""

from __future__ import annotations

import re
import zlib
from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

WARC_SCHEMA = (
    "warc_file string, record_id string, warc_type string, "
    "target_uri string, warc_date string, warc_content_type string, "
    "http_status int, http_content_type string, payload binary, "
    "parse_error string"
)

_GZ_MAGIC = b"\x1f\x8b"
# records per emitted Arrow batch; also flushed early when payload
# bytes in the pending batch exceed _BATCH_BYTES (bounds memory when
# individual pages are large)
_BATCH_ROWS = 256
_BATCH_BYTES = 64 << 20

_CHARSET_RE = re.compile(r"charset\s*=\s*\"?([\w.:-]+)", re.I)


def _gunzip_members(chunks: Iterable[bytes]) -> Iterator[bytes]:
    """Inflate a stream of concatenated gzip members (the Common Crawl
    layout: one member per record) incrementally; yields decompressed
    chunks without ever materializing the whole file."""
    d = zlib.decompressobj(16 + zlib.MAX_WBITS)
    for chunk in chunks:
        data = chunk
        while data:
            out = d.decompress(data)
            if out:
                yield out
            if d.eof:
                data = d.unused_data
                d = zlib.decompressobj(16 + zlib.MAX_WBITS)
            else:
                data = b""
    tail = d.flush()
    if tail:
        yield tail


class _Buffered:
    """Minimal buffered reader over a chunk iterator: ``read(n)`` and
    ``readline()`` with a single rolling bytearray — the only state the
    parse holds besides the current record."""

    def __init__(self, chunks: Iterable[bytes]):
        self._it = iter(chunks)
        self._buf = bytearray()
        self._eof = False

    def _pull(self) -> bool:
        if self._eof:
            return False
        try:
            self._buf += next(self._it)
            return True
        except StopIteration:
            self._eof = True
            return False

    def read(self, n: int) -> bytes:
        while len(self._buf) < n and self._pull():
            pass
        out = bytes(self._buf[:n])
        del self._buf[:n]
        return out

    def readline(self) -> bytes:
        start = 0
        while True:
            i = self._buf.find(b"\n", start)
            if i != -1:
                out = bytes(self._buf[: i + 1])
                del self._buf[: i + 1]
                return out
            start = len(self._buf)
            if not self._pull():
                out = bytes(self._buf)
                self._buf.clear()
                return out


def _iter_warc_records(r: _Buffered) -> Iterator[tuple[dict, bytes]]:
    """Walk WARC records: version line, headers to a blank line, a
    Content-Length byte-exact block.  Raises ValueError on a malformed
    stream (caller converts to the D8 error-sentinel row)."""
    while True:
        line = r.readline()
        while line in (b"\r\n", b"\n"):  # inter-record CRLFs
            line = r.readline()
        if not line:
            return
        if not line.startswith(b"WARC/"):
            raise ValueError(f"bad WARC version line: {line[:40]!r}")
        headers: dict[str, str] = {}
        while True:
            h = r.readline()
            if h in (b"\r\n", b"\n", b""):
                break
            k, _, v = h.partition(b":")
            headers[k.strip().lower().decode("latin-1")] = (
                v.strip().decode("utf-8", "replace"))
        try:
            length = int(headers.get("content-length", ""))
        except ValueError as e:
            raise ValueError("missing/bad Content-Length") from e
        payload = r.read(length)
        if len(payload) < length:
            raise ValueError(
                f"truncated record: {len(payload)}/{length} bytes")
        yield headers, payload


def _split_http(payload: bytes) -> tuple[int | None, str | None, bytes]:
    """response-record content block → (status, Content-Type, body).
    Lenient: LF-only line endings accepted; a block that isn't an
    HTTP/1.x message comes back (None, None, whole block)."""
    if not payload.startswith(b"HTTP/"):
        return None, None, payload
    sep, skip = payload.find(b"\r\n\r\n"), 4
    lfsep = payload.find(b"\n\n")
    if lfsep != -1 and (sep == -1 or lfsep + 1 < sep):
        sep, skip = lfsep, 2
    if sep == -1:
        return None, None, payload
    head = payload[:sep].decode("latin-1", "replace").splitlines()
    try:
        status = int(head[0].split(None, 2)[1])
    except (IndexError, ValueError):
        status = None
    ctype = None
    for hline in head[1:]:
        k, _, v = hline.partition(":")
        if k.strip().lower() == "content-type":
            ctype = v.strip()
            break
    return status, ctype, payload[sep + skip:]


def _file_rows(name: str, chunks: Iterable[bytes], warc_types, payload):
    """One file's chunk stream → row dicts (good records, then at most
    one ``__error__`` sentinel if the stream goes bad mid-file — the
    records parsed before the fault are kept, D8-style)."""
    # peek for the gzip magic without losing the first chunk
    it = iter(chunks)
    try:
        first = next(it)
    except StopIteration:
        return
    while len(first) < 2:
        try:
            first += next(it)
        except StopIteration:
            break

    def _rest():
        yield first
        yield from it

    stream = (_gunzip_members(_rest()) if first[:2] == _GZ_MAGIC
              else _rest())
    try:
        for headers, block in _iter_warc_records(_Buffered(stream)):
            wtype = headers.get("warc-type", "")
            if warc_types is not None and wtype not in warc_types:
                continue
            status = ctype = body = None
            if wtype == "response":
                status, ctype, body = _split_http(block)
            else:
                body = block
            yield {
                "warc_file": name,
                "record_id": headers.get("warc-record-id"),
                "warc_type": wtype,
                "target_uri": headers.get("warc-target-uri"),
                "warc_date": headers.get("warc-date"),
                "warc_content_type": headers.get("content-type"),
                "http_status": status,
                "http_content_type": ctype,
                "payload": body if payload else None,
                "parse_error": None,
            }
    except (ValueError, zlib.error) as e:
        yield {
            "warc_file": name, "record_id": None,
            "warc_type": "__error__", "target_uri": None,
            "warc_date": None, "warc_content_type": None,
            "http_status": None, "http_content_type": None,
            "payload": None, "parse_error": str(e),
        }


def _scan_factory(warc_types, payload, open_path: bool):
    warc_types = tuple(warc_types) if warc_types is not None else None

    def to_pdf(rows: list[dict]) -> pd.DataFrame:
        pdf = pd.DataFrame(rows)
        pdf["http_status"] = pdf["http_status"].astype("Int32")
        return pdf

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            pending = 0
            for _, frow in pdf.iterrows():
                name = frow["path"]
                if open_path:
                    f = open(re.sub("^file:", "", name), "rb")
                    chunks = iter(lambda: f.read(1 << 20), b"")
                else:
                    chunks = [bytes(frow["content"])]
                for row in _file_rows(name, chunks, warc_types, payload):
                    rows.append(row)
                    pending += len(row["payload"] or b"")
                    if len(rows) >= _BATCH_ROWS or pending >= _BATCH_BYTES:
                        yield to_pdf(rows)
                        rows, pending = [], 0
                if open_path:
                    f.close()
            if rows:
                yield to_pdf(rows)

    return scan


def read_warc(
    spark: SparkSession,
    path: str,
    warc_types: Iterable[str] | None = ("response",),
    payload: bool = True,
    via: str = "binaryFile",
    min_parallelism: int | None = None,
) -> DataFrame:
    """Read ``.warc`` / ``.warc.gz`` / ``.wet`` / ``.wet.gz`` files into
    one row per record (schema :data:`WARC_SCHEMA`; ``warc_date`` is a
    proper timestamp).

    ``via="binaryFile"`` (default) rides Spark's binary-file source —
    works on every filesystem Spark can reach (HDFS/S3/local), at the
    cost of holding each file's COMPRESSED bytes in its task (inflation
    stays incremental).  ``via="paths"`` ships only path strings and
    opens files inside the scan in 1 MiB chunks — constant memory per
    task, for filesystems the executors can ``open()`` directly
    (local/NFS; ``path`` may be a glob, expanded on the driver — a
    bounded listing, same contract as Spark's own file index).

    ``warc_types=None`` keeps every record type (warcinfo, request,
    metadata, ...); the default keeps ``response`` only.  With
    ``payload=False`` the scan emits metadata rows with a null payload —
    nothing page-sized enters the plan.
    """
    scan = _scan_factory(warc_types, payload, open_path=(via == "paths"))
    if via == "binaryFile":
        src = (spark.read.format("binaryFile").load(path)
               .select("path", "content"))
        if min_parallelism and src.rdd.getNumPartitions() < min_parallelism:
            src = src.repartition(min_parallelism)
    elif via == "paths":
        import glob as _glob
        files = sorted(_glob.glob(re.sub("^file:", "", path)))
        if not files:
            raise FileNotFoundError(f"read_warc: no files match {path!r}")
        src = spark.createDataFrame(
            [(p,) for p in files], "path string")
        src = src.repartition(min_parallelism or len(files))
    else:
        raise ValueError(f"read_warc: unknown via={via!r}")
    out = src.mapInPandas(scan, WARC_SCHEMA)
    return out.withColumn("warc_date", F.to_timestamp("warc_date"))


def _iter_members(chunks: Iterable[bytes]):
    """Walk a concatenated-gzip-member stream yielding
    ``(offset, comp_length, decompressed_bytes)`` per member — the
    byte-range bookkeeping CDX indexing needs.  ``decompressobj``
    consumes all input it is fed, so compressed consumption per member
    is exact: bytes fed minus ``unused_data`` at member EOF."""
    d = zlib.decompressobj(16 + zlib.MAX_WBITS)
    offset = consumed = 0
    parts: list[bytes] = []
    started = False
    for chunk in chunks:
        data = chunk
        while data:
            started = True
            before = len(data)
            out = d.decompress(data)
            if out:
                parts.append(out)
            if d.eof:
                consumed += before - len(d.unused_data)
                yield offset, consumed - offset, b"".join(parts)
                parts, offset = [], consumed
                data = d.unused_data
                d = zlib.decompressobj(16 + zlib.MAX_WBITS)
                started = False
            else:
                consumed += before
                data = b""
    if parts or started:
        raise ValueError(f"truncated gzip member at offset {offset}")


def _surt(url: str | None) -> str | None:
    """Minimal SURT (Sort-friendly URI Reordering Transform): lowercase,
    scheme dropped, leading ``www.`` dropped, host segments reversed and
    comma-joined, ``)`` before the path — so one host's records sort
    adjacent and a domain is a key-range prefix.  Path+query kept
    verbatim-lowercased (full SURT also normalizes query-param order;
    consumers inside this engine regenerate SURTs with this same
    function, so the simplification is self-consistent)."""
    if url is None:
        return None
    u = url.strip().lower()
    u = re.sub(r"^[a-z][a-z0-9+.-]*://", "", u)
    host, sep, rest = u.partition("/")
    host = host.split("@")[-1].split(":")[0]
    if host.startswith("www."):
        host = host[4:]
    return ",".join(reversed(host.split("."))) + ")/" + (rest if sep else "")


CDX_SCHEMA = ("surt string, ts string, url string, mime string, "
              "status int, digest string, offset bigint, length bigint, "
              "warc_file string")


def warc_cdx(spark: SparkSession, path: str, via: str = "binaryFile",
             min_parallelism: int | None = None) -> DataFrame:
    """CDX index of ``.warc.gz`` segments in the one-gzip-member-per-
    record layout (the Common Crawl shape — exactly the layout where a
    byte-range index is meaningful): one row per ``response`` record
    with the member's ``offset``/``length`` in the segment file, so a
    consumer can fetch ``bytes[offset : offset+length]``, gunzip, and
    have the record — no scan.  ``digest`` is base32 SHA-1 of the HTTP
    payload (the CDX convention); ``ts`` is the 14-digit WARC-Date;
    ``surt`` is :func:`_surt`.  Same per-file parallelism story as
    :func:`read_warc`; raises inside the scan on a non-member-layout
    file (an uncompressed or whole-file-gzip WARC has no per-record
    byte ranges to index — convert first)."""
    import base64
    import hashlib

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, frow in pdf.iterrows():
                name, content = frow["path"], bytes(frow["content"])
                if content[:2] != _GZ_MAGIC:
                    raise ValueError(
                        f"warc_cdx: {name} is not gzip-member layout")
                for off, ln, data in _iter_members([content]):
                    recs = list(_iter_warc_records(_Buffered([data])))
                    if len(recs) != 1:
                        raise ValueError(
                            f"warc_cdx: member at {name}:{off} holds "
                            f"{len(recs)} records — not the one-record-"
                            f"per-member layout")
                    h, block = recs[0]
                    if h.get("warc-type") != "response":
                        continue
                    status, mime, body = _split_http(block)
                    wd = (h.get("warc-date") or "")
                    rows.append({
                        "surt": _surt(h.get("warc-target-uri")),
                        "ts": re.sub(r"\D", "", wd)[:14],
                        "url": h.get("warc-target-uri"),
                        "mime": (mime or "").split(";")[0].strip() or None,
                        "status": status,
                        "digest": base64.b32encode(
                            hashlib.sha1(body).digest()).decode("ascii"),
                        "offset": off, "length": ln, "warc_file": name,
                    })
            if rows:
                pdf_out = pd.DataFrame(rows)
                pdf_out["status"] = pdf_out["status"].astype("Int32")
                yield pdf_out

    if via == "binaryFile":
        src = (spark.read.format("binaryFile").load(path)
               .select("path", "content"))
        if min_parallelism and src.rdd.getNumPartitions() < min_parallelism:
            src = src.repartition(min_parallelism)
    else:
        raise ValueError("warc_cdx: only via='binaryFile' (the scan "
                         "needs the raw compressed bytes for offsets)")
    return src.mapInPandas(scan, CDX_SCHEMA)


def write_cdx(cdx: DataFrame, out_dir: str, n_files: int = 1) -> None:
    """Write classic space-separated CDX lines globally sorted by
    ``(surt, ts)`` — ``repartitionByRange`` + ``sortWithinPartitions``,
    so files are range-ordered and a binary search over file boundaries
    still works at any ``n_files`` (never a single-partition global
    sort)."""
    line = F.concat_ws(
        " ", "surt", "ts", "url",
        F.coalesce("mime", F.lit("-")),
        F.coalesce(F.col("status").cast("string"), F.lit("-")),
        "digest", F.col("length").cast("string"),
        F.col("offset").cast("string"), "warc_file")
    (cdx.repartitionByRange(n_files, "surt", "ts")
        .sortWithinPartitions("surt", "ts")
        .select(line.alias("value"))
        .write.mode("overwrite").text(out_dir))


# the binaryFile source's fixed schema — streaming file sources require
# it stated explicitly (no inference on a stream)
_BINARYFILE_SCHEMA = T.StructType([
    T.StructField("path", T.StringType(), False),
    T.StructField("modificationTime", T.TimestampType(), False),
    T.StructField("length", T.LongType(), False),
    T.StructField("content", T.BinaryType(), True),
])


def stream_warc(
    spark: SparkSession,
    path: str,
    warc_types: Iterable[str] | None = ("response",),
    payload: bool = True,
    glob: str = "*.warc*",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming twin of :func:`read_warc`: ``.warc(.gz)`` segments
    LANDING in ``path`` become micro-batches of parsed records — the
    front end of an accreting crawl ingest (compose with
    ``streaming.ingest.stream_exact_dedup`` /
    ``run_incremental_neardup_ingest``; the file-source checkpoint
    remembers which segments were consumed, so a restart resumes with
    only the new arrivals).  Same scan, filters, and schema as the
    batch reader, plus ``ingest_ts`` (the segment file's modification
    time) for watermarking — WARC-Date is CRAWL time, which can lag
    arrival by days and would stall an event-time watermark."""
    scan = _scan_factory(warc_types, payload, open_path=False)
    reader = (spark.readStream.format("binaryFile")
              .schema(_BINARYFILE_SCHEMA)
              .option("pathGlobFilter", glob))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    src = reader.load(path)
    out = (src.select("path", "modificationTime", "content")
           .mapInPandas(_with_ts(scan), WARC_SCHEMA + ", ingest_ts timestamp"))
    return out.withColumn("warc_date", F.to_timestamp("warc_date"))


def _with_ts(scan):
    """Wrap a parse scan so each output row carries its source file's
    modificationTime (threaded through pandas, not a join)."""
    def wrapped(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ts_by_path = dict(zip(pdf["path"], pdf["modificationTime"]))
            for out in scan(iter([pdf])):
                out["ingest_ts"] = out["warc_file"].map(ts_by_path)
                yield out
    return wrapped


def encode_warc_record(
    wtype: str,
    block: bytes,
    record_id: str,
    target_uri: str | None = None,
    warc_date: str = "2024-01-01T00:00:00Z",
    content_type: str | None = None,
) -> bytes:
    """One spec-shaped WARC 1.0 record (version line, headers, blank
    line, Content-Length-exact block, two trailing CRLFs).  Pure bytes
    in → bytes out; the writer side of this module, used per-partition
    by :func:`write_warc` and the roundtrip gate."""
    head = [b"WARC/1.0",
            b"WARC-Type: " + wtype.encode("ascii"),
            b"WARC-Record-ID: " + record_id.encode("ascii"),
            b"WARC-Date: " + warc_date.encode("ascii")]
    if target_uri is not None:
        head.append(b"WARC-Target-URI: " + target_uri.encode("ascii"))
    if content_type is not None:
        head.append(b"Content-Type: " + content_type.encode("ascii"))
    head.append(b"Content-Length: " + str(len(block)).encode("ascii"))
    return b"\r\n".join(head) + b"\r\n\r\n" + block + b"\r\n\r\n"


def write_warc(
    df: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    gz: bool = True,
    records_per_file: int = 10_000,
) -> None:
    """Sink a text corpus as WET-style ``conversion`` records — one
    ``.warc(.gz)`` segment per ~``records_per_file`` rows, each record
    its own gzip member (the Common Crawl layout, so any member-aware
    reader can split the stream).  Runs as ``foreachPartition``-shaped
    ``mapInPandas`` writing through the Hadoop-visible local path; at
    cluster scale point ``out_dir`` at a mounted/shared filesystem (the
    parquet shard sink in sources/shards.py is the columnar default —
    this sink exists for WARC-ecosystem interchange).  Null texts are
    skipped (a WET record has no null payload concept)."""
    import gzip
    import os
    import uuid

    def dump(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        os.makedirs(out_dir, exist_ok=True)
        buf, n, part = [], 0, uuid.uuid4().hex[:12]
        fileno = 0

        def flush():
            nonlocal buf, n, fileno
            if not buf:
                return
            name = os.path.join(
                out_dir, f"part-{part}-{fileno:05d}.warc"
                + (".gz" if gz else ""))
            with open(name, "wb") as f:
                f.writelines(buf)
            buf, n = [], 0
            fileno += 1

        for pdf in batches:
            for _id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                rec = encode_warc_record(
                    "conversion", str(text).encode("utf-8"),
                    record_id=f"<urn:doc:{_id}>",
                    target_uri=f"doc://{_id}",
                    content_type="text/plain")
                buf.append(gzip.compress(rec) if gz else rec)
                n += 1
                if n >= records_per_file:
                    flush()
        flush()
        yield pd.DataFrame({"files_written": [fileno]})

    (df.select(id_col, text_col)
       .mapInPandas(dump, "files_written int")
       .agg(F.sum("files_written")).collect())


def warc_roundtrip(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Correctness gate for the writer+reader pair without touching
    disk: encode each Arrow batch's rows as an in-memory ``.warc.gz``
    stream (one gzip member per record) and parse it straight back with
    the production machinery (:func:`_gunzip_members` →
    :func:`_iter_warc_records`).  Output is ``(id_col, text_col)``
    re-derived FROM THE PARSED BYTES — equal to the non-null input rows
    iff both halves are spec-correct, which is exactly what the DuckDB
    twin checks.  Stays inside one task per partition: no shuffle, no
    driver data."""
    import gzip

    id_t = dict(df.dtypes)[id_col]

    def roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            stream = b"".join(
                gzip.compress(encode_warc_record(
                    "conversion", str(t).encode("utf-8"),
                    record_id=f"<urn:doc:{i}>", target_uri=f"doc://{i}",
                    content_type="text/plain"))
                for i, t in zip(pdf[id_col], pdf[text_col])
                if t is not None)
            ids, texts = [], []
            for h, block in _iter_warc_records(
                    _Buffered(_gunzip_members([stream]))):
                ids.append(int(h["warc-target-uri"].rsplit("//", 1)[1]))
                texts.append(block.decode("utf-8"))
            yield pd.DataFrame({id_col: pd.Series(ids, dtype="int64"),
                                text_col: texts})

    return df.select(id_col, text_col).mapInPandas(
        roundtrip, f"{id_col} {id_t}, {text_col} string")


def warc_http_text(df: DataFrame, fallback: str = "utf-8",
                   text_col: str = "text") -> DataFrame:
    """Decode ``response`` payloads to text: charset from the HTTP
    ``Content-Type`` when present and known to Python, else
    ``fallback``; undecodable bytes are replaced, never raised
    (crawl data lies about encodings).  Arrow-batched pandas UDF —
    per-payload Python work, no shuffle."""
    @F.pandas_udf("string")
    def decode(payload: pd.Series, ctype: pd.Series) -> pd.Series:
        def one(b, ct):
            if b is None:
                return None
            m = _CHARSET_RE.search(ct) if ct else None
            for enc in ([m.group(1)] if m else []) + [fallback]:
                try:
                    return bytes(b).decode(enc, "replace")
                except LookupError:  # charset label Python doesn't know
                    continue
            return bytes(b).decode(fallback, "replace")
        return pd.Series([one(b, c) for b, c in zip(payload, ctype)])

    return (df.filter(F.col("warc_type") == "response")
            .withColumn(text_col, decode("payload", "http_content_type")))


def wet_text(df: DataFrame, text_col: str = "text") -> DataFrame:
    """WET ``conversion`` records are UTF-8 plain text by spec, so the
    decode is a pure-Catalyst binary→string cast — no Python."""
    return (df.filter(F.col("warc_type") == "conversion")
            .withColumn(text_col, F.col("payload").cast("string")))


def warc_to_documents(
    spark: SparkSession,
    path: str,
    via: str = "binaryFile",
    html_statuses: tuple[int, ...] = (200,),
    min_parallelism: int | None = None,
    extractor: str = "justext",
) -> DataFrame:
    """The crawl→corpus front half in one call: read responses, keep
    fetched HTML (status + Content-Type gates — both metadata columns,
    no payload inspection), decode, strip boilerplate, and emit
    ``(doc_id, url, fetched_at, text)`` rows ready for the
    URL-curation + corpus_prep stages.  ``doc_id`` is
    ``xxhash64(record_id)`` — stable across re-reads of the same crawl.

    ``extractor``: ``"justext"`` (default since r12) = the
    context-sensitive jusText reimplementation (operators.justext — one
    Arrow-batched mapInPandas pass; rescues short interjections and
    headings a stateless gate drops — the reference's own extractor
    semantics for real crawled HTML, `LLMxMapReduce_V3/src/mcp_server/
    search/clean/html_extrator.py:85-204`), and the measured-faster
    path at every page size (~2-2.8× vs the gate at 300 B / 20 KB /
    200 KB pages and sf0.1/1/5 corpora); ``"gate"`` = the pure-Catalyst
    stopword density gate (operators.html_clean — zero Python,
    whole-stage codegen; DuckDB-replayable)."""
    from llmxmapreduce_spark.operators.html_clean import extract_main_content

    if extractor not in ("gate", "justext"):
        raise ValueError(f"unknown extractor {extractor!r}")
    pages = read_warc(spark, path, warc_types=("response",), via=via,
                      min_parallelism=min_parallelism)
    pages = pages.filter(
        F.col("http_status").isin(list(html_statuses))
        & F.lower(F.coalesce("http_content_type", F.lit("")))
        .contains("html"))
    decoded = warc_http_text(pages, text_col="__html").select(
        F.xxhash64("record_id").alias("doc_id"),
        F.col("target_uri").alias("url"),
        F.col("warc_date").alias("fetched_at"),
        F.col("__html"))
    if extractor == "justext":
        from llmxmapreduce_spark.operators.justext import justext_extract
        # keep_html=False: the raw page must not ride the mapInPandas
        # output schema just to be dropped (Catalyst can't prune through
        # a Python map — it would double the stage's Arrow volume)
        out = justext_extract(decoded, "__html", out_col="text",
                              keep_html=False)
    else:
        out = decoded.select(
            "doc_id", "url", "fetched_at",
            extract_main_content(F.col("__html")).alias("text"))
    return out.filter(F.length("text") > 0)
