"""WARC ingest — the Common Crawl container (ISO 28500), the format the
actual 100-TB web corpora arrive in. A WARC file is a concatenation of
records, each ``WARC/1.0\\r\\n`` + header lines + ``\\r\\n\\r\\n`` +
``Content-Length`` bytes of payload + ``\\r\\n\\r\\n``.

Spark-splittable reading: ``spark.read.option("lineSep",
"\\r\\n\\r\\nWARC/1.0\\r\\n").text(path)`` — the text source's custom
record delimiter splits INSIDE the file, so a 1-GB uncompressed WARC
parallelizes across tasks like any text file, and all header parsing is
JVM regexp inside whole-stage codegen (no Python). Two documented
caveats, both inherent to delimiter-splitting a length-prefixed format:

- a payload that happens to CONTAIN the delimiter byte sequence
  false-splits that record; the parser flags both halves malformed
  (header parse fails / length mismatches) rather than mis-attributing
  content — quarantine, not corruption. Real-world HTML/text payloads
  containing a literal ``\\r\\n\\r\\nWARC/1.0\\r\\n`` are rare; for
  adversarial inputs use a record-boundary-aware preprocessor.
- ``.warc.gz`` (per-record gzip members) decodes correctly through
  Spark's gzip codec but is NOT splittable — one task per file, the
  standard Hadoop gzip trade; Common Crawl ships ~1-GB .gz shards
  precisely so file-level parallelism suffices.

Returns one row per record: ``(warc_type, target_uri, warc_date,
record_id, content_length, payload, _warc_malformed)``; malformed
records (no parsable header block, or declared Content-Length
disagreeing with the observed payload) carry ``_warc_malformed=true``
and their raw text in ``payload`` for quarantine — the same
count-don't-crash policy as the JSONL/CSV sources.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["read_warc", "read_warc_gz", "warc_stats"]

_SEP = "\r\n\r\nWARC/1.0\r\n"


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Read WARC record(s) from ``path`` (file, directory, or glob).
    Header fields are extracted with anchored multiline regexes;
    ``payload`` is everything after the first blank line. A record is
    flagged malformed when it lacks a ``WARC-Type`` header or when the
    declared ``Content-Length`` differs from the observed payload length
    (the false-split signature)."""
    return _parse_warc(spark.read.option("lineSep", _SEP).text(path))


def read_warc_gz(
    spark: SparkSession,
    path: str,
    chunk_bytes: int = 32 * 1024 * 1024,
) -> DataFrame:
    """Splittable ``.warc.gz`` reading (VERDICT r7 #4). Common Crawl
    compresses each WARC record as its OWN gzip member, so a shard is a
    concatenation of independently decodable streams — but Hadoop's gzip
    codec treats the whole file as one stream: one task per file, 1-way
    parallelism on a 1-GB shard. This reader restores within-file
    parallelism in one pass over chunked byte ranges:

    The driver lists files (metadata only — never opens them) and cuts
    them into ``chunk_bytes`` ranges; ONE task per range then

    1. byte-scans its in-memory range for the gzip member signature
       ``1f 8b 08`` (no decompression; candidates are a superset of true
       member starts, ~range/2^24 false positives from compressed bytes),
    2. zlib-decodes each candidate that STARTS in its range directly
       from the buffer (``decompressobj`` stops at member end; a member
       straddling the range edge pulls just its tail bytes from the
       file), keeping it iff the decoded bytes start with ``WARC/1.0``
       — false candidates fail the zlib stream or the prefix check.

    Every true member is decoded exactly once, with within-file
    parallelism = size/chunk_bytes instead of Hadoop-gzip's one task per
    file. Decoded record text feeds the SAME ``_parse_warc`` expressions
    as the uncompressed reader (parity-pytested), so schema and
    malformed-record policy are identical. Decompression is stdlib
    ``zlib`` (C) inside one ``mapPartitions`` — the module's codec-seam
    convention, one Python call per member over in-memory bytes, one
    file open per chunk, never per row. Local/NFS paths are read with
    ``open()``; object stores need a range-read client behind the same
    shape."""
    import glob as _glob
    import os as _os

    paths = sorted(
        p
        for pat in ([path] if isinstance(path, str) else list(path))
        for p in (_glob.glob(_os.path.join(pat, "*.warc.gz")) if _os.path.isdir(pat) else _glob.glob(pat))
        if _os.path.isfile(p)
    )
    if not paths:
        raise ValueError(f"no .warc.gz files under {path!r}")
    chunks = []
    for p in paths:
        size = _os.path.getsize(p)
        for start in range(0, max(size, 1), int(chunk_bytes)):
            chunks.append((p, start, min(start + int(chunk_bytes), size)))

    sc = spark.sparkContext
    n_tasks = max(1, min(len(chunks), sc.defaultParallelism * 2))
    step = 1 << 16  # zlib feed window: one small copy per (member, 64 KB)
    # — decompressing buf[pos:] in one call would copy O(chunk) bytes per
    # member, quadratic in members-per-chunk

    def scan_decode(part):
        import zlib

        for p, start, end in part:
            with open(p, "rb") as f:
                f.seek(start)
                # +2 overlap so a signature straddling the chunk edge is
                # owned by exactly one side (the one holding its 1st byte)
                buf = f.read(end - start + 2)
                flen = None
                pos = buf.find(b"\x1f\x8b\x08")
                while pos != -1 and pos < end - start:
                    d = zlib.decompressobj(wbits=zlib.MAX_WBITS | 16)
                    out = []
                    feed = pos
                    try:
                        while not d.eof and feed < len(buf):
                            out.append(d.decompress(buf[feed:feed + step]))
                            feed += step
                        # member tail beyond this chunk's buffer: pull
                        # only the missing bytes (members are ~KBs, the
                        # straddle read is bounded and rare)
                        tail_at = start + len(buf)
                        while not d.eof:
                            if flen is None:
                                flen = _os.path.getsize(p)
                            if tail_at >= flen:
                                break
                            f.seek(tail_at)
                            blk = f.read(1 << 20)
                            if not blk:
                                break  # file shorter than flen said — never spin
                            tail_at += len(blk)
                            out.append(d.decompress(blk))
                    except zlib.error:
                        pos = buf.find(b"\x1f\x8b\x08", pos + 1)
                        continue
                    joined = b"".join(out)
                    if not d.eof and joined.startswith(b"WARC/1.0\r\n"):
                        # truncated final member (partially landed shard):
                        # emit the decoded prefix so the length check
                        # downstream flags it _warc_malformed — quarantine,
                        # not a silent drop (count-don't-crash policy)
                        yield (joined[10:].decode("utf-8", errors="replace"),)
                    if d.eof:
                        raw = joined
                        if raw.startswith(b"WARC/1.0\r\n"):
                            # normalize to the uncompressed reader's row
                            # form: the lineSep split consumes the leading
                            # magic and the record-final CRLF CRLF, so
                            # strip exactly those (a payload's own
                            # trailing CRLFs stay intact — a blind rstrip
                            # would shorten them below Content-Length and
                            # false-flag the record)
                            raw = raw[10:]
                            if raw.endswith(b"\r\n\r\n"):
                                raw = raw[:-4]
                            yield (raw.decode("utf-8", errors="replace"),)
                    pos = buf.find(b"\x1f\x8b\x08", pos + 1)

    rows = sc.parallelize(chunks, n_tasks).mapPartitions(scan_decode)
    raw_df = spark.createDataFrame(rows, "value string")
    return _parse_warc(raw_df)


def _parse_warc(raw: DataFrame) -> DataFrame:
    # the FIRST record of each file keeps its leading magic (no separator
    # precedes it) — strip it so every row is "headers\r\n\r\npayload"
    rec = F.regexp_replace(F.col("value"), r"\AWARC/1\.0\r\n", "")
    header = F.substring_index(rec, "\r\n\r\n", 1)
    # payload = rec minus "header + blank line"; empty when no blank line
    payload = F.when(
        F.length(rec) > F.length(header) + 4,
        F.substring(rec, F.length(header) + 5, F.length(rec)),
    ).otherwise(F.lit(""))

    def hfield(name: str):
        v = F.regexp_extract(header, rf"(?mi)^{name}:[ \t]*(.*?)\r?$", 1)
        return F.when(v != "", v)

    warc_type = hfield("WARC-Type")
    content_length = hfield("Content-Length").cast("long")
    # Content-Length is OCTETS (ISO 28500), not characters: validate and
    # slice on the UTF-8 byte representation — F.length/F.substring on
    # the string would mis-validate every non-ASCII payload (most of a
    # real web crawl) and could leak trailer bytes into the parsed text.
    pbytes = F.encode(payload, "UTF-8")
    blen = F.octet_length(payload)
    # trailing record separators the split consumed are not part of the
    # payload; tolerate the final record's retained trailer (<= 4 bytes)
    length_ok = (
        content_length.isNotNull()
        & (blen >= content_length)
        & (blen <= content_length + 4)
    )
    malformed = warc_type.isNull() | ~F.coalesce(length_ok, F.lit(False))
    return raw.select(
        warc_type.alias("warc_type"),
        hfield("WARC-Target-URI").alias("target_uri"),
        hfield("WARC-Date").alias("warc_date"),
        hfield("WARC-Record-ID").alias("record_id"),
        content_length.alias("content_length"),
        F.when(malformed, F.col("value"))
        .otherwise(
            F.when(
                content_length.isNotNull(),
                F.decode(F.substring(pbytes, 1, content_length), "UTF-8"),
            ).otherwise(payload)
        )
        .alias("payload"),
        malformed.alias("_warc_malformed"),
    )


def warc_stats(df: DataFrame) -> DataFrame:
    """One-row quarantine summary: total records, parsed, malformed,
    malformed fraction, plus per-parse byte mass — the shard-health
    numbers an ingest job logs per WARC file batch."""
    if "_warc_malformed" not in df.columns:
        raise ValueError("warc_stats needs a read_warc frame")
    bad = F.col("_warc_malformed").cast("long")
    return df.agg(
        F.count("*").alias("n_records"),
        F.sum(1 - bad).alias("n_parsed"),
        F.sum(bad).alias("n_malformed"),
        (F.sum(bad) / F.greatest(F.count("*"), F.lit(1)))
        .cast("double")
        .alias("malformed_frac"),
        F.sum(F.when(bad == 0, F.octet_length("payload")).otherwise(0)).alias(
            "payload_bytes"
        ),
    )
