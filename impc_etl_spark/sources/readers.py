"""Readers: parquet / CSV / TSV / JSON-lines / XML entities.

Reference shapes: S1 XML ingest (spark-xml, rowTag centre, source-file
tagging), S3 headerless TSV with explicit schema DROPMALFORMED
(shared/utils.py:20-33), S4 headered CSV, S6 JSON-lines statpackets, S9
parquet boundaries.

Source-file tagging uses ``input_file_name()`` + regexp (JVM-side) instead
of the reference's Python path-parsing UDF.

The 10 source tables are read with declared schemas (``SOURCE_SCHEMAS``)
by one loader, ``_read_source``, behind ``session.load_tables`` and
``queries._t``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)


def _contract(*cols: tuple[str, DataType]) -> StructType:
    return StructType([StructField(n, t, True) for n, t in cols])


_I, _L, _D, _S, _TS = IntegerType(), LongType(), DoubleType(), StringType(), TimestampNTZType()

# The declared schema of each source table (TESTDATA.md): exactly what
# Spark infers from the testdata files, so reading with it returns the
# same DataFrame without the per-read schema-inference job. Timestamps are
# parquet TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark types as
# timestamp_ntz.
SOURCE_SCHEMAS: dict[str, StructType] = {
    "region": _contract(("r_regionkey", _I), ("r_name", _S)),
    "nation": _contract(("n_nationkey", _I), ("n_name", _S), ("n_regionkey", _I)),
    "customer": _contract(
        ("c_custkey", _L), ("c_name", _S), ("c_nationkey", _I),
        ("c_acctbal", _D), ("c_mktsegment", _S),
    ),
    "supplier": _contract(
        ("s_suppkey", _L), ("s_name", _S), ("s_nationkey", _I), ("s_acctbal", _D),
    ),
    "part": _contract(
        ("p_partkey", _L), ("p_name", _S), ("p_brand", _S), ("p_type", _S),
        ("p_size", _I), ("p_retailprice", _D),
    ),
    "orders": _contract(
        ("o_orderkey", _L), ("o_custkey", _L), ("o_orderstatus", _S),
        ("o_totalprice", _D), ("o_orderdate", _TS), ("o_orderpriority", _S),
    ),
    "lineitem": _contract(
        ("l_orderkey", _L), ("l_partkey", _L), ("l_suppkey", _L),
        ("l_linenumber", _I), ("l_quantity", _D), ("l_extendedprice", _D),
        ("l_discount", _D), ("l_tax", _D), ("l_returnflag", _S),
        ("l_linestatus", _S), ("l_shipdate", _TS),
    ),
    "events": _contract(
        ("event_id", _L), ("ts", _TS), ("user_id", _L), ("event_type", _S),
        ("value", _D), ("props", _S),
    ),
    "documents": _contract(
        ("doc_id", _L), ("text", _S), ("lang", _S), ("source", _S), ("n_chars", _L),
    ),
    "embeddings": _contract(
        ("vec_id", _L), ("embedding", ArrayType(FloatType(), True)), ("label", _I),
    ),
}


def _first_data_file(path: str) -> str | None:
    """``path`` itself, or the first data file (in sorted walk order) of a
    parquet directory; None when there is none or ``path`` does not exist.
    Skips ``_SUCCESS``-style and hidden files the way Spark's file index
    does."""
    if os.path.isfile(path):
        return path
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        for f in sorted(files):
            if not f.startswith(("_", ".")):
                return os.path.join(root, f)
    return None


def _footer_columns(data_file: str) -> list[tuple[str, str]]:
    """(name, Spark type string) per top-level column of one parquet
    footer, typed the way Spark's parquet reader types them; a type with
    no such mapping comes back as its pyarrow name. Driver-side footer
    read, no Spark job."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type

    out = []
    for f in pq.read_schema(data_file):
        typ = None
        # TIMESTAMP(NANOS) and INT96 both surface as timestamp[ns] here;
        # Spark types them as long nanos and timestamp, not as the
        # from_arrow_type answer, so report the arrow type instead
        if not (pa.types.is_timestamp(f.type) and f.type.unit == "ns"):
            try:
                typ = from_arrow_type(f.type, prefer_timestamp_ntz=True).simpleString()
            except Exception:
                pass
        out.append((f.name, typ or str(f.type)))
    return out


def _read_source(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read source table ``name`` from ``sf_dir`` with its declared schema
    (``SOURCE_SCHEMAS``), so building the read launches no Spark job.

    Before the read, one data file's footer is checked on the driver: a
    column whose type differs from the contract, or a column the contract
    does not list, raises ``ValueError``; a contract column the file lacks
    is left out of the read schema. The columns come back in file order,
    so a valid file reads exactly as schema inference would read it.
    Paths a local filesystem cannot open (``hdfs://``, ``s3a://``) are
    checked against Spark's inferred schema instead, which costs the
    inference job. The public entry points are ``session.load_tables``
    and ``session.register_views``."""
    contract = SOURCE_SCHEMAS[name]
    path = f"{sf_dir}/{name}.parquet"
    local = path[len("file:"):] if path.startswith("file:") else path
    if "://" in local:
        found = [(f.name, f.dataType.simpleString())
                 for f in spark.read.parquet(path).schema]
    else:
        data_file = _first_data_file(local)
        if data_file is None:
            # a missing path makes the reader raise its usual PATH_NOT_FOUND;
            # a directory without data files reads as an empty table
            return spark.read.schema(contract).parquet(path)
        found = _footer_columns(data_file)
    declared = {f.name: f for f in contract}
    fields = []
    for col, typ in found:
        # type strings, so element/field nullability (which inference
        # drops anyway) never counts as drift
        want = declared.get(col)
        want_s = "no such column" if want is None else want.dataType.simpleString()
        if typ != want_s:
            raise ValueError(
                f"source table {name!r} ({path}): column {col!r} is {typ}, "
                f"the declared schema expects {want_s}"
            )
        fields.append(want)
    return spark.read.schema(StructType(fields)).parquet(path)


def read_parquet(spark: SparkSession, path: str, columns: list[str] | None = None) -> DataFrame:
    df = spark.read.parquet(path)
    return df.select(*columns) if columns else df


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    header: bool = True,
    sep: str = ",",
    mode: str = "DROPMALFORMED",
) -> DataFrame:
    """CSV ingest (S4). Under DROPMALFORMED the scan is pinned to
    FULL-ROW parsing: Spark's CSV column pruning makes malformed-row
    detection depend on the columns a query happens to project — a bare
    ``count()`` parses no columns, detects nothing, and silently counts
    the malformed rows the same read drops when all columns are selected
    (observed: 50,001 vs 50,000 on one planted bad line). DROPMALFORMED
    semantically means "the ROW failed to parse", so every field must be
    parsed regardless of projection; the always-true filter below
    references every schema column to block the pruner. Cost: no column
    pruning on DROPMALFORMED scans — which full-row validation requires
    anyway; use PERMISSIVE + a dead-letter column when projection
    pruning matters more than eager validation."""
    reader = spark.read.option("header", header).option("sep", sep).option("mode", mode)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    out = reader.csv(path)
    if mode.upper() == "DROPMALFORMED" and schema is not None:
        # Backtick-escape each name: a bare F.col(name) (or out[name])
        # parses dots/backticks in a column name as a nested-field path
        # and fails analysis on schemas with such names.
        def _esc(name: str) -> str:
            return "`" + name.replace("`", "``") + "`"

        touch_all = F.coalesce(
            F.concat_ws(
                "", *[F.col(_esc(f.name)).cast("string") for f in schema.fields]
            ),
            F.lit(""),
        )
        out = out.where(F.length(touch_all) >= 0)
    return out


def read_tsv(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    header: bool = True,
) -> DataFrame:
    """Headered/headerless TSV (S3 — shared/utils.py:20-33)."""
    return read_csv(spark, path, schema=schema, header=header, sep="\t")


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    strip_prefix_regex: str | None = None,
    schema_sample_rows: int = 256,
) -> DataFrame:
    """JSON-lines ingest (S6 statpackets). The reference reads text, strips a
    prefix by regex on the driver RDD, then re-parses; here the strip is a
    Column regexp and the parse is ``from_json`` with an explicit schema.

    When ``schema`` is None AND a prefix must be stripped, the schema is
    inferred JVM-side from a BOUNDED sample: the first
    ``schema_sample_rows`` cleaned lines are wrapped into one JSON array
    literal and ``schema_of_json`` merges the element schemas — no RDD,
    no full-data inference pass, and the actual parse stays a single
    ``from_json`` projection at scan speed. Fields that first appear
    after the sample window are not inferred — pass an explicit schema
    for open-ended payloads (the registered statpacket path does)."""
    if strip_prefix_regex is None and schema is None:
        return spark.read.json(path)
    text = spark.read.text(path)
    value = F.col("value")
    if strip_prefix_regex:
        # anchor to the line START: the contract is "strip a PREFIX", and
        # an unanchored pattern would also delete matching text inside
        # the JSON payload itself
        value = F.regexp_replace(value, f"^(?:{strip_prefix_regex})", "")
    if schema is not None:
        return text.select(F.from_json(value, schema).alias("j")).select("j.*")
    sample = [
        r["value"]
        for r in text.select(value.alias("value"))
        .where(F.length(F.trim(F.col("value"))) > 0)
        .limit(schema_sample_rows)
        .collect()
    ]
    if not sample:
        raise ValueError(f"cannot infer JSON schema: no non-empty lines in {path}")
    # DROPMALFORMED-style tolerance for the INFERENCE sample: one bad line
    # in the first 256 must not fail the whole read with an opaque
    # schema_of_json error (crawl/statpacket inputs are hostile). The
    # sample is bounded, so a driver-side json.loads filter is cheap.
    import json as _json

    parseable, bad = [], []
    for line in sample:
        try:
            _json.loads(line)
            parseable.append(line)
        except ValueError:
            bad.append(line)
    if not parseable:
        raise ValueError(
            f"cannot infer JSON schema: none of the first {len(sample)} "
            f"non-empty lines of {path} parse as JSON "
            f"(first offender: {bad[0][:200]!r})"
        )
    sample = parseable
    arr_ddl = (
        spark.range(1)
        .select(F.schema_of_json(F.lit("[" + ",".join(sample) + "]")))
        .head()[0]
    )
    if not (arr_ddl.startswith("ARRAY<") and arr_ddl.endswith(">")):
        raise ValueError(f"unexpected inferred schema {arr_ddl!r} for {path}")
    elem_ddl = arr_ddl[len("ARRAY<"):-1]
    return text.select(F.from_json(value, elem_ddl).alias("j")).select("j.*")


def rest_crawl_to_df(
    spark: SparkSession,
    fetch_page,
    schema: StructType,
    max_pages: int = 10_000,
) -> DataFrame:
    """REST crawl → DataFrame (S7, the IMPReSS-extractor pattern).

    ``fetch_page(page_index) -> list[Row-like] | None`` is called on the
    DRIVER until it returns None/empty; rows land in a DataFrame with an
    EXPLICIT schema (never inference-by-example like the reference,
    impress_extractor.py:303-321). Ingestion utility by design: paged REST
    APIs are tiny versus the engine's data — parallelizing the fetch
    belongs to the API client, not the query engine.
    """
    rows: list = []
    for page in range(max_pages):
        batch = fetch_page(page)
        if not batch:
            break
        rows.extend(batch)
    return spark.createDataFrame(rows, schema)


def tag_source_file(df: DataFrame, col_name: str = "_source_file") -> DataFrame:
    """Attach the input file basename (S1 tagging) — regexp over
    input_file_name(), no Python UDF."""
    return df.withColumn(col_name, F.regexp_extract(F.input_file_name(), r"([^/]+)$", 1))


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    recursive: bool = True,
    with_name_meta: bool = True,
) -> DataFrame:
    """Raw media ingest via Spark's ``binaryFile`` source: one row per
    file with ``path / modificationTime / length / content(binary)`` —
    the entry point of the multimodal pipeline (content then flows into
    ``multimodal.media`` mapInPandas stages as an opaque binary column).

    ``glob`` maps to ``pathGlobFilter`` (e.g. ``*.png``) so non-media
    files are pruned at listing time, before any bytes are read.
    ``with_name_meta`` adds ``file_name`` / ``file_ext`` parsed from the
    path JVM-side (regexp, no UDF) — the typed-metadata convention used
    throughout the media operators.

    Scale notes: the listing is distributed and each file is one task
    input split; for millions of small files prefer consolidating into
    parquet-with-binary-column early (exactly what `media_ingest`-style
    jobs do), because file-per-row listing is a driver-memory cost.
    ``spark.sql.files.maxPartitionBytes`` controls batching of small
    files into tasks.
    """
    reader = spark.read.format("binaryFile").option(
        "recursiveFileLookup", "true" if recursive else "false"
    )
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    if with_name_meta:
        df = df.withColumn(
            "file_name", F.regexp_extract(F.col("path"), r"([^/]+)$", 1)
        ).withColumn(
            "file_ext", F.lower(F.regexp_extract(F.col("path"), r"\.([A-Za-z0-9]+)$", 1))
        )
    return df


def read_xml_entities(
    spark: SparkSession,
    path: str,
    row_tag: str = "centre",
    schema: StructType | None = None,
    mode: str = "FAILFAST",
    null_value: str = "",
) -> DataFrame:
    """XML ingest (S1 — xml_extraction_helper.py:22-81: rowTag='centre',
    samplingRatio=1, nullValue='', mode=FAILFAST over the spark-xml
    datasource). Uses Spark 4's built-in XML source (same option surface
    as spark-xml), else the spark-xml package if installed; raises a clear
    error otherwise. The source-file tag is attached here; data-source
    path components come from ``tag_path_component`` regexps, not a
    Python UDF."""
    try:
        reader = (
            spark.read.format("xml")
            .option("rowTag", row_tag)
            .option("nullValue", null_value)
            .option("mode", mode)
        )
        if schema is not None:
            reader = reader.schema(schema)
        else:
            reader = reader.option("samplingRatio", "1")
        return tag_source_file(reader.load(path))
    except NotImplementedError:
        raise
    except Exception as exc:  # pragma: no cover - depends on runtime jars
        if "Failed to find" in str(exc) or "DATA_SOURCE_NOT_FOUND" in str(exc):
            raise NotImplementedError(
                "No XML datasource available in this runtime; provide "
                "spark-xml or Spark 4 xml format"
            ) from exc
        raise


def tag_path_component(
    df: DataFrame,
    index_from_end: int,
    col_name: str,
    path_col: str | None = None,
) -> DataFrame:
    """Attach the Nth-from-last path component of each row's source file
    (1 = basename, 2 = parent dir, …) — the reference's
    ``x.split('/')[-N]`` data-source UDFs (xml_extraction_helper.py:57-70)
    as one JVM-side regexp."""
    src = F.col(path_col) if path_col else F.input_file_name()
    pattern = r"([^/]+)" + r"/[^/]+" * (index_from_end - 1) + r"/?$"
    return df.withColumn(col_name, F.regexp_extract(src, pattern, 1))


# --- WARC (Web ARChive, ISO 28500) -------------------------------------------
#
# The web-crawl interchange format (Common Crawl et al.) — THE input
# format of a web-scale training-data pipeline. Implemented from the
# public ISO 28500 / WARC 1.0 specification: version line, named header
# fields, Content-Length-delimited payload, CRLF CRLF record separator.
# gzip members (the .warc.gz convention: one gzip member per record)
# decompress via stdlib zlib.


def parse_warc_records(payload: bytes) -> list[dict] | None:
    """Parse a WARC file's records → [{type, record_id, target_uri,
    date, content_length, payload}] in file order. Handles plain WARC
    and the record-per-gzip-member .warc.gz convention. None for
    anything unrecognized (never raises — crawl inputs are hostile);
    individual malformed records end the parse with what was read."""
    import zlib

    try:
        if payload[:2] == b"\x1f\x8b":  # .warc.gz: concatenated members
            # bounded inflate: a crafted 10 KB gzip can legally expand to
            # gigabytes; cap at 1024x the compressed size (generous for
            # real crawl text) and reject beyond instead of materializing
            cap = 1024 * max(1, len(payload))
            try:
                out = bytearray()
                data = payload
                while data:
                    d = zlib.decompressobj(wbits=31)
                    out += d.decompress(data, cap + 1 - len(out))
                    if len(out) > cap:
                        return None
                    if d.unconsumed_tail:
                        return None       # cap reached mid-member
                    data = d.unused_data  # next concatenated member
                payload = bytes(out)
            except Exception:
                return None
        if not payload.startswith(b"WARC/"):
            return None
        out: list[dict] = []
        i = 0
        n = len(payload)
        while i < n:
            if not payload.startswith(b"WARC/", i):
                break
            hdr_end = payload.find(b"\r\n\r\n", i)
            if hdr_end < 0:
                break
            lines = payload[i:hdr_end].split(b"\r\n")
            fields: dict[str, str] = {}
            for ln in lines[1:]:
                k, _, v = ln.partition(b":")
                fields[k.strip().lower().decode("ascii", "replace")] = (
                    v.strip().decode("utf-8", "replace")
                )
            try:
                clen = int(fields.get("content-length", ""))
            except ValueError:
                break
            body = payload[hdr_end + 4 : hdr_end + 4 + clen]
            if len(body) != clen:
                break
            out.append({
                "type": fields.get("warc-type"),
                "record_id": fields.get("warc-record-id"),
                "target_uri": fields.get("warc-target-uri"),
                "date": fields.get("warc-date"),
                "content_length": clen,
                "payload": body,
            })
            i = hdr_end + 4 + clen
            # records end with two CRLFs
            while payload.startswith(b"\r\n", i):
                i += 2
        return out or None
    except Exception:
        return None


def build_warc(records: list[dict], compress: bool = False) -> bytes:
    """Serialize records (same dict shape `parse_warc_records` emits) to
    a spec-conforming WARC byte stream; ``compress`` gzips the whole
    stream (deterministic: mtime pinned to 0)."""
    import gzip

    out = bytearray()
    for r in records:
        body = r["payload"]
        hdr = [b"WARC/1.0"]
        for key, field in (
            ("type", b"WARC-Type"), ("record_id", b"WARC-Record-ID"),
            ("target_uri", b"WARC-Target-URI"), ("date", b"WARC-Date"),
        ):
            if r.get(key) is not None:
                hdr.append(field + b": " + str(r[key]).encode())
        hdr.append(b"Content-Length: " + str(len(body)).encode())
        out += b"\r\n".join(hdr) + b"\r\n\r\n" + body + b"\r\n\r\n"
    raw = bytes(out)
    return gzip.compress(raw, mtime=0) if compress else raw


def warc_records_df(df, content_col: str = "content", id_col: str = "media_id"):
    """Explode WARC payloads into one row per record via an Arrow-batched
    multi-row mapInPandas stage — the crawl-ingest entry point: each
    record's headers plus its payload decoded as UTF-8 text (replace
    errors; crawl bytes are hostile). Unparseable payloads contribute no
    rows; no shuffle at any scale."""
    import pandas as pd

    def compute(batches):
        for pdf in batches:
            ids, idxs, types, uris, dates, lens, texts = ([] for _ in range(7))
            for mid, p in zip(pdf[id_col], pdf[content_col]):
                recs = parse_warc_records(bytes(p))
                if recs is None:
                    continue
                for k, r in enumerate(recs):
                    ids.append(mid)
                    idxs.append(k)
                    types.append(r["type"])
                    uris.append(r["target_uri"])
                    dates.append(r["date"])
                    lens.append(r["content_length"])
                    texts.append(r["payload"].decode("utf-8", "replace"))
            yield pd.DataFrame({
                id_col: pd.array(ids, dtype="int64"),
                "record_idx": pd.array(idxs, dtype="Int32"),
                "warc_type": types,
                "target_uri": uris,
                "warc_date": dates,
                "content_length": pd.array(lens, dtype="Int64"),
                "text": texts,
            })

    return df.mapInPandas(
        compute,
        schema=f"{id_col} bigint, record_idx int, warc_type string, "
               "target_uri string, warc_date string, content_length bigint, "
               "text string",
    )


def zip_entries_df(df, content_col: str = "content", id_col: str = "media_id",
                   max_member_bytes: int = 1 << 26):
    """Explode ZIP archive payloads into one row per member (name,
    sizes, compression method, UTF-8 text) via a multi-row Arrow stage —
    the archive-ingest path for crawled .zip/.docx/.epub-style content.
    Members larger than ``max_member_bytes`` (header-declared — attacker
    data; a zip bomb expands ~1000×) yield their metadata with NULL
    text; unparseable payloads contribute no rows; never raises."""
    import io
    import zipfile

    import pandas as pd

    def compute(batches):
        for pdf in batches:
            ids, names, sizes, csizes, methods, texts = ([] for _ in range(6))
            for mid, p in zip(pdf[id_col], pdf[content_col]):
                try:
                    zf = zipfile.ZipFile(io.BytesIO(bytes(p)))
                    infos = zf.infolist()
                except Exception:
                    continue
                for info in infos:
                    ids.append(mid)
                    names.append(info.filename)
                    sizes.append(info.file_size)
                    csizes.append(info.compress_size)
                    methods.append(
                        {0: "stored", 8: "deflate"}.get(
                            info.compress_type, str(info.compress_type)
                        )
                    )
                    if info.file_size > max_member_bytes:
                        texts.append(None)
                        continue
                    try:
                        texts.append(
                            zf.read(info.filename).decode("utf-8", "replace")
                        )
                    except Exception:
                        texts.append(None)
            yield pd.DataFrame({
                id_col: pd.array(ids, dtype="int64"),
                "member_name": names,
                "n_bytes": pd.array(sizes, dtype="Int64"),
                "compressed_bytes": pd.array(csizes, dtype="Int64"),
                "method": methods,
                "text": texts,
            })

    return df.mapInPandas(
        compute,
        schema=f"{id_col} bigint, member_name string, n_bytes bigint, "
               "compressed_bytes bigint, method string, text string",
    )


def build_zip(members: list[tuple[str, bytes]], compress: bool = True) -> bytes:
    """Deterministic in-memory ZIP (fixed timestamps) from (name, bytes)
    members — the synth twin for `zip_entries_df`."""
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(
        buf, "w",
        zipfile.ZIP_DEFLATED if compress else zipfile.ZIP_STORED,
    ) as zf:
        for name, data in members:
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = (
                zipfile.ZIP_DEFLATED if compress else zipfile.ZIP_STORED
            )
            zf.writestr(info, data)
    return buf.getvalue()


def tar_entries_df(df, content_col: str = "content", id_col: str = "media_id",
                   max_member_bytes: int = 1 << 26):
    """Explode tar archive payloads (plain, .tar.gz, .tar.bz2 — stdlib
    tarfile sniffs) into one row per regular-file member: name, size,
    UTF-8 text. Same contracts as `zip_entries_df`: oversized members
    (header-declared — attacker data) keep metadata with NULL text;
    unparseable payloads contribute no rows; never raises.

    Bomb bound (r5 ADVICE): the walk is STREAMING (``r|*``) and stops
    once the cumulative header-declared tar size exceeds 1024× the
    compressed payload — mirroring `parse_warc_records`' inflate cap —
    so a small gzip-bomb tar costs bounded CPU, not just bounded memory
    (in a tar the decompressed byte count IS the 512-padded sum of
    declared member sizes, so the declared total bounds decompression
    work; checking before advancing the member iterator prevents
    tarfile from ever decompressing past the cap)."""
    import io
    import tarfile

    import pandas as pd

    def compute(batches):
        for pdf in batches:
            ids, names, sizes, texts = [], [], [], []
            for mid, p in zip(pdf[id_col], pdf[content_col]):
                p = bytes(p)
                cap = 1024 * max(len(p), 1)
                try:
                    tf = tarfile.open(fileobj=io.BytesIO(p), mode="r|*")
                except Exception:
                    continue
                # per-payload staging: an archive that fails MID-walk
                # (truncated/corrupt after intact leading members) must
                # contribute NO rows — the all-or-nothing contract above
                # — while a cap-triggered stop keeps the rows walked so
                # far (intentional bomb truncation, not corruption)
                p_ids, p_names, p_sizes, p_texts = [], [], [], []
                consumed = 0
                try:
                    for info in tf:
                        # header block + 512-padded data the iterator
                        # will have to decompress through
                        consumed += 512 + ((info.size + 511) // 512) * 512
                        if info.isfile():
                            p_ids.append(mid)
                            p_names.append(info.name)
                            p_sizes.append(info.size)
                            if info.size > max_member_bytes:
                                p_texts.append(None)
                            else:
                                try:
                                    p_texts.append(
                                        tf.extractfile(info).read()
                                        .decode("utf-8", "replace")
                                    )
                                except Exception:
                                    p_texts.append(None)
                        if consumed > cap:
                            break
                except Exception:
                    continue
                ids.extend(p_ids)
                names.extend(p_names)
                sizes.extend(p_sizes)
                texts.extend(p_texts)
            yield pd.DataFrame({
                id_col: pd.array(ids, dtype="int64"),
                "member_name": names,
                "n_bytes": pd.array(sizes, dtype="Int64"),
                "text": texts,
            })

    return df.mapInPandas(
        compute,
        schema=f"{id_col} bigint, member_name string, n_bytes bigint, "
               "text string",
    )


def build_tar(members: list[tuple[str, bytes]], gz: bool = False) -> bytes:
    """Deterministic in-memory tar (zeroed mtimes/owners; gzip mtime
    pinned) from (name, bytes) members — the synth twin for
    `tar_entries_df`."""
    import gzip
    import io
    import tarfile

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
        for name, data in members:
            info = tarfile.TarInfo(name)
            info.size = len(data)
            info.mtime = 0
            info.uid = info.gid = 0
            info.uname = info.gname = ""
            tf.addfile(info, io.BytesIO(data))
    raw = buf.getvalue()
    return gzip.compress(raw, mtime=0) if gz else raw
