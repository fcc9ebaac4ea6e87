"""WARC record source (round 6): the web-archive container every
Common-Crawl-scale corpus arrives in, re-expressed Spark-first.

The WARC/1.0 format is public (ISO 28500): each record is a header block
(`WARC/1.0` version line + `Name: value` headers, CRLF line ends) ending
in a blank line, then exactly `Content-Length` payload bytes, then a
record separator. Real pipelines read these with a streaming splitter —
the payload is opaque bytes; only the header grammar and the byte count
drive the walk (a record is never materialized as lines).

Here:
  - the corpus is materialized ONCE as WARC_FILES `dataN.warc` files via
    the same distributed bucketed text write as the dataN.txt layout
    (sources/text.py), records synthesized from documents rows;
  - `spark.read.format("warcsource")` is a custom Python data source:
    one input partition per .warc file, each task streaming records off
    its file with a buffered binary reader — header lines parsed, then
    one exact Content-Length read, no whole-file materialization;
  - the registered query reduces records to (doc_id, content_length,
    digest), giving an exact DuckDB oracle over the original parquet
    (octet_length/md5 of the same text bytes).

At 100 TB the partitions() list is one entry per archive file and each
executor does one sequential pass over its file — the same scan model as
the reference's file-per-map-task split (master_splitmerge.go), applied
to the container format a crawl corpus actually ships in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load_table, refresh_scratch, tmp_scratch_dir

WARC_FILES = 8


def _warc_classes():
    """Lazily define the DataSource classes (pyspark.sql.datasource is a
    Spark-4-only module; importing this file must not require it)."""
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class WarcDataSource(DataSource):
        """`format("warcsource")`: directory of WARC files → one row per
        record, one partition per file."""

        @classmethod
        def name(cls) -> str:
            return "warcsource"

        def schema(self) -> str:
            return "record_id string, target_uri string, content_length bigint, digest string"

        def reader(self, schema):
            return WarcReader(self.options)

    class WarcReader(DataSourceReader):
        def __init__(self, options):
            self.path = options.get("path")

        def partitions(self):
            import glob as _glob
            import os as _os

            files = sorted(_glob.glob(_os.path.join(self.path, "*.warc")))
            return [InputPartition(f) for f in files]

        def read(self, partition):
            # Arrow-batched yields (see UrlTextReader): records accumulate
            # into 2k-row columnar batches instead of per-record pickled
            # tuples crossing the Python↔JVM boundary
            import hashlib as _hl

            import pyarrow as pa

            cols: dict[str, list] = {"record_id": [], "target_uri": [], "content_length": [], "digest": []}

            def _flush():
                batch = pa.record_batch(
                    [
                        pa.array(cols["record_id"], pa.string()),
                        pa.array(cols["target_uri"], pa.string()),
                        pa.array(cols["content_length"], pa.int64()),
                        pa.array(cols["digest"], pa.string()),
                    ],
                    names=list(cols),
                )
                for v in cols.values():
                    v.clear()
                return batch

            with open(partition.value, "rb") as f:
                while True:
                    # skip record separators / padding before the version line
                    line = f.readline()
                    while line in (b"\r\n", b"\n"):
                        line = f.readline()
                    if not line:
                        break
                    if not line.rstrip(b"\r\n").startswith(b"WARC/"):
                        raise ValueError(f"malformed WARC version line: {line[:40]!r}")
                    headers = {}
                    while True:
                        line = f.readline()
                        if line in (b"\r\n", b"\n", b""):
                            break  # blank line ends the header block
                        k, _, v = line.rstrip(b"\r\n").partition(b":")
                        headers[k.strip().lower()] = v.strip()
                    n = int(headers.get(b"content-length", b"0"))
                    payload = f.read(n)
                    if len(payload) != n:
                        raise ValueError("truncated WARC payload")
                    cols["record_id"].append(headers.get(b"warc-record-id", b"").decode("utf-8"))
                    cols["target_uri"].append(headers.get(b"warc-target-uri", b"").decode("utf-8"))
                    cols["content_length"].append(n)
                    cols["digest"].append(_hl.md5(payload).hexdigest())
                    if len(cols["digest"]) >= 2048:
                        yield _flush()
            if cols["digest"]:
                yield _flush()

    return WarcDataSource


def _warc_record_expr() -> str:
    """documents row → one WARC/1.0 response record (headers + payload),
    Content-Length = payload UTF-8 byte count, CRLF line ends."""
    return (
        "concat("
        "'WARC/1.0\\r\\n',"
        "'WARC-Type: response\\r\\n',"
        "'WARC-Record-ID: <urn:doc:', CAST(doc_id AS STRING), '>\\r\\n',"
        "'WARC-Target-URI: https://example.org/doc/', CAST(doc_id AS STRING), '\\r\\n',"
        "'Content-Length: ', CAST(octet_length(coalesce(text, '')) AS STRING), '\\r\\n',"
        "'\\r\\n',"
        "coalesce(text, ''), '\\r\\n\\r'"
        ")"
    )


def _materialize_warc(spark: SparkSession, sf_dir: str) -> str:
    """Write the corpus as WARC_FILES dataN.warc files (distributed
    bucketed write + driver-side concat of each bucket's part files),
    refreshed from the source parquet's fingerprint so a regenerated
    fixture re-materializes."""
    import os

    from .bucketed_files import write_bucketed_files

    d = tmp_scratch_dir("warc", sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    # each record's value ends '\r\n\r'; the text writer's row terminator
    # supplies the final '\n' — so the on-disk bytes end every record with
    # the spec's CRLF CRLF separator
    return refresh_scratch(
        d,
        os.path.join(sf_dir, "documents.parquet"),
        WARC_FILES,
        lambda: write_bucketed_files(
            docs.select(
                F.expr(_warc_record_expr()).alias("value"),
                (F.col("doc_id") % WARC_FILES).alias("bucket"),
            ),
            d,
            WARC_FILES,
            "warc",
        ),
    )


def source_warc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus → WARC files → streamed record scan → typed per-record rows.
    Exact oracle: record identity and payload accounting must round-trip
    (doc_id from WARC-Record-ID; content_length/digest = octet_length/md5
    of the source text)."""
    d = _materialize_warc(spark, sf_dir)
    try:
        spark.dataSource.register(_warc_classes())
    except Exception:
        pass  # already registered in this session
    recs = spark.read.format("warcsource").option("path", d).load()
    return recs.select(
        F.regexp_extract("record_id", r"<urn:doc:(\d+)>", 1).cast("long").alias("doc_id"),
        "content_length",
        "digest",
    )
