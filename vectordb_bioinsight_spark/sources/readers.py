"""Readers — SURVEY.md §2.1.

S1  CSV/TSV scan with delimiter sniff   (reference: rnaseq_pipeline/utils/base_agent.py:73-112)
S2  Parquet collection scan             (reference: backend/app/core/vector_store.py:200-209)
S5  VCF scan via text + regex           (reference: rnaseq_pipeline/agents/agent_variant.py:414-517)
S6  MAF scan (TSV, fixed columns)       (reference: rnaseq_pipeline/agents/agent_variant.py:518-581)

Design: every scan stays a declarative ``spark.read`` so Catalyst gets
predicate pushdown / column pruning / partition pruning for free. The sniffing
layer only peeks at the first KB of one file on the driver — it never forces a
full read.

Parquet schema memo: inferring a parquet schema costs one Spark job that
reads the footers (~40 ms on 4 cores, more than planning a small query), and
a service re-reads the same tables for every query. :func:`read_parquet`
infers each local file's schema once per set of inference settings and
hands it back to later reads as a user-specified schema (no job). A memo
entry is keyed by the absolute path and the session's parquet-inference
settings (:data:`_INFERENCE_CONFS`) and holds the file's fingerprint with
the schema: ``(st_ino, st_size, st_mtime_ns)`` of the file, or for a
directory the sorted ``(relative path, st_ino, st_size, st_mtime_ns)`` of
every file under it that Spark lists (names starting with ``_`` without
``=``, or with ``.``, are skipped as Spark skips them). A changed
fingerprint re-infers. Spark still lists the files on every read, so new
data is always read; only the footer job is skipped. Remote URIs (any
scheme but ``file:``) are inferred every time. A file rewritten between the
fingerprint check and Spark's listing is read with the schema it had at the
check (the next read re-infers); a rewrite that keeps inode, size and
modification time to the nanosecond is not seen.
"""

from __future__ import annotations

import csv as _csv
import os
import stat
import threading
from collections import OrderedDict
from urllib.parse import urlsplit

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: Tables in the driver-provided TPC-H-ish testdata (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: Session settings that change the schema Spark infers from parquet files.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)

#: Most schemas the memo holds; the least recently used entry goes first.
_SCHEMA_MEMO_SIZE = 256

_schema_memo: "OrderedDict[tuple, tuple[object, StructType]]" = OrderedDict()
_schema_memo_lock = threading.Lock()


def _listed(name: str) -> bool:
    """Whether Spark's file listing keeps this file or directory name
    (InMemoryFileIndex.shouldFilterOutPathName)."""
    hidden = (name.startswith("_") and "=" not in name) or name.startswith(".")
    hidden = hidden or name.endswith("._COPYING_")
    return not hidden or name.startswith(("_metadata", "_common_metadata"))


def _fingerprint(path: str) -> object:
    """``(st_ino, st_size, st_mtime_ns)`` of a file; for a directory, the
    sorted ``(relative path, st_ino, st_size, st_mtime_ns)`` of every file
    under it that Spark lists. Raises OSError when ``path`` is missing."""
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return (st.st_ino, st.st_size, st.st_mtime_ns)
    files = []
    for root, dirs, names in os.walk(path, followlinks=True):
        dirs[:] = [d for d in dirs if _listed(d)]
        for name in names:
            if _listed(name):
                full = os.path.join(root, name)
                s = os.stat(full)
                files.append((os.path.relpath(full, path), s.st_ino, s.st_size, s.st_mtime_ns))
    return tuple(sorted(files))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the schema inferred once per file
    version (module docstring: key, fingerprint, what is not memoized).

    On a memo hit the read is ``spark.read.schema(schema).parquet(path)``:
    the same columns, types and partition columns, without the
    footer-reading job. TIMESTAMP(NANOS) columns, which Spark has no type
    for, are read as bigint nanoseconds (:func:`_nanos_as_long_schema`)."""
    scheme = urlsplit(path).scheme
    if scheme not in ("", "file"):
        return spark.read.parquet(path)
    local = os.path.abspath(urlsplit(path).path if scheme else path)
    key = (local, tuple(spark.conf.get(c) for c in _INFERENCE_CONFS))
    try:
        fingerprint = _fingerprint(local)
    except OSError:
        return spark.read.parquet(path)  # missing: Spark raises its own error
    with _schema_memo_lock:
        hit = _schema_memo.get(key)
        schema = hit[1] if hit is not None and hit[0] == fingerprint else None
        if schema is not None:
            _schema_memo.move_to_end(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    try:
        df = spark.read.parquet(path)
    except AnalysisException as e:
        if e.getCondition() != "PARQUET_TYPE_ILLEGAL":
            raise
        df = spark.read.schema(_nanos_as_long_schema(spark, path)).parquet(path)
    with _schema_memo_lock:
        _schema_memo[key] = (fingerprint, df.schema)
        _schema_memo.move_to_end(key)
        while len(_schema_memo) > _SCHEMA_MEMO_SIZE:
            _schema_memo.popitem(last=False)
    return df


def _nanos_as_long_schema(spark: SparkSession, path: str) -> StructType:
    """The schema of ``path`` with TIMESTAMP(NANOS) columns as bigint
    nanoseconds, a parquet type Spark infers only under
    ``spark.sql.legacy.parquet.nanosAsLong``. It is inferred in a new session
    that shares the SparkContext, so ``spark``'s settings stay as they are;
    a read with this schema needs no setting."""
    child = spark.newSession()
    for conf in _INFERENCE_CONFS:
        child.conf.set(conf, spark.conf.get(conf))
    child.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return child.read.parquet(path).schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """S2: parquet scan of one testdata table (column-pruned / filter-pushed).

    Read through :func:`read_parquet`, which memoizes the inferred schema:
    a table whose file fingerprint (inode, size, mtime in ns) is unchanged
    since an earlier load under the same parquet-inference settings is read
    with that schema and runs no Spark job; any change re-infers. The files
    are still listed on every call. Remote URIs are inferred every time. A
    table rewritten between the fingerprint check and Spark's listing is
    read once with the schema of the version checked.

    ``events.ts`` is made a session timestamp. A ``timestamp_ntz`` column
    (a parquet timestamp not adjusted to UTC) is cast. A TIMESTAMP(NANOS)
    column arrives as bigint nanoseconds (:func:`read_parquet`) and is
    rebuilt JVM-side as ``timestamp_micros(ns div 1000)``, matching DuckDB's
    TIMESTAMP_NS -> TIMESTAMP cast (floor to micros). No session setting is
    changed; a missing or unreadable table raises Spark's error.
    """
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    for field in df.schema.fields:
        if field.name == "ts" and field.dataType.simpleString() == "bigint":
            # integer `div` — float division would lose precision above 2^53 ns
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif field.name == "ts" and field.dataType.simpleString() == "timestamp_ntz":
            # align to the session-UTC instant type so time arithmetic
            # (unix_micros etc.) type-checks identically on every Spark version
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names=TESTDATA_TABLES) -> dict[str, DataFrame]:
    """Load several testdata tables at once (lazy — no IO until an action)."""
    return {name: load_table(spark, sf_dir, name) for name in names}


def sniff_delimiter(path: str, sample_bytes: int = 4096) -> str:
    """Delimiter sniff mirroring the reference's tab/comma/Sniffer fallback
    (base_agent.py:73-112): prefer tab if present in the header line, else
    comma, else csv.Sniffer.
    """
    with open(path, "r", encoding="utf-8", errors="replace") as fh:
        head = fh.read(sample_bytes)
    first_line = head.splitlines()[0] if head else ""
    if "\t" in first_line:
        return "\t"
    if "," in first_line:
        return ","
    try:
        return _csv.Sniffer().sniff(head).delimiter
    except Exception:
        return ","


def read_csv_sniffed(
    spark: SparkSession,
    path: str,
    schema=None,
    header: bool = True,
) -> DataFrame:
    """S1: CSV/TSV scan with delimiter sniffing.

    With an explicit ``schema`` the scan is single-pass; without one we let
    Spark infer (two passes — acceptable for small dimension uploads, which is
    the only place the reference uses sniffing).
    """
    sep = sniff_delimiter(path)
    reader = spark.read.option("sep", sep).option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_vcf(spark: SparkSession, path: str) -> DataFrame:
    """S5: VCF scan — text source + regex/split extraction, fully JVM-side.

    Mirrors the reference parse (agent_variant.py:414-517): skip ``##``/``#``
    headers, split the 8 fixed columns, keep INFO as a raw string column that
    downstream ops pick apart with ``regexp_extract``.
    """
    lines = spark.read.text(path)
    data = lines.filter(~F.col("value").startswith("#"))
    parts = F.split(F.col("value"), "\t")
    return data.select(
        parts.getItem(0).alias("chromosome"),
        parts.getItem(1).cast("long").alias("position"),
        parts.getItem(2).alias("variant_id"),
        parts.getItem(3).alias("ref"),
        parts.getItem(4).alias("alt"),
        parts.getItem(5).alias("qual"),
        parts.getItem(6).alias("filter"),
        parts.getItem(7).alias("info"),
    )


def read_maf(spark: SparkSession, path: str) -> DataFrame:
    """S6: MAF scan — plain TSV with a header (agent_variant.py:518-581)."""
    return (
        spark.read.option("sep", "\t")
        .option("header", "true")
        .option("inferSchema", "true")
        .csv(path)
    )


def _pdf_unescape(raw: bytes) -> str:
    r"""Unescape a PDF () string literal body (\n, \t, \(, \), \\, octal)."""
    out = bytearray()
    i = 0
    esc = {ord("n"): 10, ord("r"): 13, ord("t"): 9, ord("b"): 8, ord("f"): 12,
           ord("("): 40, ord(")"): 41, ord("\\"): 92}
    while i < len(raw):
        c = raw[i]
        if c == 0x5C and i + 1 < len(raw):  # backslash
            n = raw[i + 1]
            if n in esc:
                out.append(esc[n]); i += 2; continue
            if 0x30 <= n <= 0x37:  # up to 3 octal digits
                j = i + 1
                digs = b""
                while j < len(raw) and len(digs) < 3 and 0x30 <= raw[j] <= 0x37:
                    digs += bytes([raw[j]]); j += 1
                out.append(int(digs, 8) & 0xFF); i = j; continue
            i += 1; continue  # line continuation / unknown escape: drop backslash
        out.append(c); i += 1
    return out.decode("latin-1")


def extract_pdf_text_minimal(data: bytes) -> str:
    """Pure-stdlib PDF text extraction for text-first PDFs.

    Walks every ``stream``...``endstream`` span, inflates FlateDecode
    streams (zlib) or takes them raw, then scans BT/ET text objects for the
    string-showing operators: ``(s) Tj``, ``(s) '``, ``(s) "``, and
    ``[...] TJ`` arrays. Text-positioning ops (Td/TD/T*) emit newlines so
    paragraph structure survives into ``sections_from_text``.

    Scope (documented, honest): latin-1 byte strings and hex strings —
    no CMap/ToUnicode handling, no encryption, no LZW. That covers the
    plain text-layer PDFs the reference's pdf_parser targets; PyMuPDF (when
    installed) remains the full-fidelity path.
    """
    import re
    import zlib

    texts: list[str] = []
    for m in re.finditer(rb"stream\r?\n(.*?)endstream", data, re.DOTALL):
        body = m.group(1)
        try:
            content = zlib.decompress(body)
        except Exception:  # noqa: BLE001 - raw (uncompressed) stream
            content = body
        for bt in re.finditer(rb"BT(.*?)ET", content, re.DOTALL):
            chunk = bt.group(1)
            pos = 0
            parts: list[str] = []
            # token scan: () literals, <> hex strings, and operators
            for tok in re.finditer(
                rb"\((?:[^()\\]|\\.)*\)|<[0-9A-Fa-f\s]+>|T\*|Td|TD|Tj|TJ|'|\"", chunk
            ):
                t = tok.group(0)
                if t.startswith(b"("):
                    parts.append(_pdf_unescape(t[1:-1]))
                elif t.startswith(b"<"):
                    hx = re.sub(rb"\s", b"", t[1:-1])
                    if len(hx) % 2:
                        hx += b"0"
                    parts.append(bytes.fromhex(hx.decode("ascii")).decode("latin-1"))
                elif t in (b"T*", b"Td", b"TD", b"'", b'\"'):
                    parts.append("\n")
                pos = tok.end()
            text = "".join(parts)
            if text.strip():
                texts.append(text)
    return "\n".join(texts)


def _default_pdf_ocr(data: bytes) -> "str | None":
    """OCR a scanned PDF's pages when the OCR stack is installed
    (pytesseract + pdf2image — the reference's optional dependency pair,
    pdf_parser.py:8-14); returns None when unavailable or on failure so
    the caller keeps the text-layer result. Pages are tagged ``[PAGE_i]``
    exactly like pdf_parser.py:513-532."""
    try:
        import pytesseract  # type: ignore[import-not-found]
        from pdf2image import convert_from_bytes  # type: ignore[import-not-found]
    except ImportError:
        return None
    try:
        images = convert_from_bytes(data, dpi=200)
        return "".join(
            f"\n[PAGE_{i}]\n" + pytesseract.image_to_string(img, lang="eng")
            for i, img in enumerate(images)
        )
    except Exception:  # noqa: BLE001 - OCR failure keeps the text layer
        return None


def parse_pdf_binary(
    df: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    ocr_min_chars: int = 500,
    ocr=None,
) -> DataFrame:
    """S3 PDF parse: decode payload bytes per executor inside mapInPandas.

    Uses PyMuPDF when importable on executors (the reference's
    pdf_parser.py:452-511 path); otherwise falls back to the built-in
    pure-stdlib extractor (:func:`extract_pdf_text_minimal` — FlateDecode +
    BT/ET operator scan; limitations documented there). Either way the
    downstream section structuring is ``sections_from_text`` (JVM-side).

    OCR fallback (pdf_parser.py:469-475 semantics): a document whose text
    layer comes back under ``ocr_min_chars`` characters (the scanned-PDF
    signature) is retried through ``ocr`` — an injectable
    ``bytes -> str | None`` callable, defaulting to
    :func:`_default_pdf_ocr` (pytesseract + pdf2image when installed,
    None otherwise) — and keeps whichever text is LONGER, exactly the
    reference's rule. The ``ocr_used`` output column makes the fallback
    visible per document, never silent. Pass ``ocr_min_chars=0`` to
    disable. OCR libs are not baked into this container, so CI pins the
    seam with an injected deterministic fake (tests/test_multimodal_sources).

    Output: (id, text, n_chars, ocr_used).
    """
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("id", df.schema[id_col].dataType),
            T.StructField("text", T.StringType()),
            T.StructField("n_chars", T.LongType()),
            T.StructField("ocr_used", T.BooleanType()),
        ]
    )
    ocr_fn = ocr if ocr is not None else _default_pdf_ocr

    def decode(batches):  # noqa: ANN001
        try:
            import fitz  # type: ignore[import-not-found]

            def one(data: bytes) -> str:
                doc = fitz.open(stream=data, filetype="pdf")
                return "\n".join(page.get_text() for page in doc)
        except ImportError:
            one = extract_pdf_text_minimal
        for pdf in batches:
            if len(pdf) == 0:
                continue
            texts: list[str] = []
            used: list[bool] = []
            for b in pdf[payload_col]:
                if b is None:
                    texts.append("")
                    used.append(False)
                    continue
                data = bytes(b)
                text = one(data)
                took_ocr = False
                if ocr_min_chars and len(text.strip()) < ocr_min_chars:
                    alt = ocr_fn(data)
                    if alt and len(alt) > len(text):
                        text, took_ocr = alt, True
                texts.append(text)
                used.append(took_ocr)
            yield pd.DataFrame(
                {
                    "id": pdf[id_col],
                    "text": texts,
                    "n_chars": [len(t) for t in texts],
                    "ocr_used": used,
                }
            )

    return df.select(id_col, payload_col).mapInPandas(decode, out_schema)


def sections_from_text(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_header_chars: int = 60,
) -> DataFrame:
    """S3 section structuring (the post-decode half of the PDF parser,
    pdf_parser.py:513-613): split text on blank lines into sections; a
    section's header is its first line when short enough, else ''. All JVM
    expressions (split / posexplode / substring_index).

    Output: (id, section_idx, header, body).
    """
    sections = F.split(F.col(text_col), r"\n\s*\n")
    # NB: F.trim strips SPACES only — newline-aware trimming needs a regex
    ws_trim = lambda c: F.regexp_replace(c, r"^\s+|\s+$", "")  # noqa: E731
    exploded = df.select(
        F.col(id_col), F.posexplode(sections).alias("section_idx", "_raw_sec")
    ).withColumn("_sec", ws_trim(F.col("_raw_sec"))).filter(F.length(F.col("_sec")) > 0)
    # header from the TRIMMED section: a leading newline (e.g. from a PDF
    # text-positioning op) must not blank the first line
    first_line = F.trim(F.substring_index(F.col("_sec"), "\n", 1))
    header = F.when(F.length(first_line) <= max_header_chars, first_line).otherwise(F.lit(""))
    return exploded.select(
        id_col,
        "section_idx",
        header.alias("header"),
        F.col("_sec").alias("body"),
    )


def melt_wide(
    df: DataFrame,
    id_col: str,
    var_name: str = "sample_id",
    value_name: str = "count",
    value_type: str = "long",
) -> DataFrame:
    """§1.1 wide→long melt: one row per (id, column) cell.

    The reference keeps count matrices wide (genes × samples,
    agent1_deg.py:70-107); the engine's storage/processing form is long —
    column pruning, partitioning, and per-group aggs all get natural. Uses
    the native ``unpivot`` (an Expand node: width× row fan-out inside one
    stage, no shuffle, no Python).
    """
    value_cols = [c for c in df.columns if c != id_col]
    out = df.unpivot(
        ids=[id_col],
        values=value_cols,
        variableColumnName=var_name,
        valueColumnName=value_name,
    )
    return out.withColumn(value_name, F.col(value_name).cast(value_type))


def read_counts_wide_csv(
    spark: SparkSession,
    path: str,
    gene_col: str | None = None,
    transpose_roles: bool = False,
) -> DataFrame:
    """S1+S4: sniffed read of a wide count matrix → long (gene_id, sample_id,
    count).

    Mirrors the reference's two ingestion shapes: bulk CSV with gene rows ×
    sample columns (agent1_deg.py:70-107) and the single-cell CSV fallback
    with cells × genes, which it transposes (singlecell/agent1_qc.py:140-184)
    — ``transpose_roles=True`` relabels instead of transposing: melting a
    cells×genes matrix already yields one (cell, gene, count) row per cell.
    ``gene_col`` defaults to the first column (the reference's contract).
    """
    wide = read_csv_sniffed(spark, path)
    first = gene_col or wide.columns[0]
    if transpose_roles:
        long = melt_wide(wide, first, var_name="gene_id", value_name="count")
        return long.select(
            F.col(first).alias("cell_id"), "gene_id", "count"
        )
    long = melt_wide(wide, first, var_name="sample_id", value_name="count")
    return long.select(F.col(first).alias("gene_id"), "sample_id", "count")


def read_h5ad(
    spark: SparkSession,
    path: str,
    chunk_rows: int = 1024,
) -> DataFrame:
    """S4 AnnData (.h5ad) load → long ``(cell_id, gene_id, count)``.

    Parses the AnnData HDF5 layout directly with ``h5py`` (the reference
    loads the same files via scanpy, singlecell/agent1_qc.py:140-184):
    ``obs``/``var`` carry the cell/gene index datasets (the group's
    ``_index`` attr names the dataset, default ``_index``); ``X`` is either
    a dense 2-D dataset or a CSR group (``data``/``indices``/``indptr``
    with an ``encoding-type``/``shape`` attr). Only NONZERO entries are
    emitted — zeros are implicit in the long single-cell contract (the
    CSR encoding never materializes them either).

    Distribution model: the driver reads only the two index vectors
    (dimension-sized); the MATRIX is read by executors — a mapInPandas
    task per ``chunk_rows`` cell-range opens the file locally (shared
    filesystem / fuse-mounted object store, the standard cluster layout
    for HDF5 inputs) and slices its own rows, which h5py serves without
    loading the file. Requires ``h5py`` importable on driver and workers;
    raises NotImplementedError otherwise (the CSV fallback
    ``read_counts_wide_csv(transpose_roles=True)`` keeps the same output
    contract).
    """
    try:
        import h5py  # type: ignore[import-not-found]
    except ImportError as exc:
        raise NotImplementedError(
            "h5ad decode requires h5py; use read_counts_wide_csv(path, "
            "transpose_roles=True) for the CSV fallback with the same output contract"
        ) from exc

    def _index_names(f, group_name: str) -> list[str]:
        g = f[group_name]
        if isinstance(g, h5py.Dataset):  # legacy: obs as a structured array
            raw = g["index"] if "index" in (g.dtype.names or ()) else g[:]
        else:
            idx_name = g.attrs.get("_index", "_index")
            if isinstance(idx_name, bytes):
                idx_name = idx_name.decode()
            raw = g[idx_name][:]
        return [v.decode() if isinstance(v, bytes) else str(v) for v in raw]

    with h5py.File(path, "r") as f:
        cells = _index_names(f, "obs")
        genes = _index_names(f, "var")
        x = f["X"]
        dense = isinstance(x, h5py.Dataset)
        n_cells = x.shape[0] if dense else int(x.attrs["shape"][0])
        if n_cells != len(cells):
            raise ValueError(
                f"obs index has {len(cells)} names but X has {n_cells} rows"
            )

    ranges = [
        (s, min(s + chunk_rows, n_cells)) for s in range(0, n_cells, chunk_rows)
    ]
    ranges_df = spark.createDataFrame(ranges, "row_start long, row_end long")
    out_schema = "cell_id string, gene_id string, count double"

    def read_chunk(batches):  # noqa: ANN001
        import numpy as np
        import pandas as pd

        with h5py.File(path, "r") as f:
            x = f["X"]
            for pdf in batches:
                for s, e in zip(pdf["row_start"], pdf["row_end"]):
                    s, e = int(s), int(e)
                    if dense:
                        block = x[s:e, :]
                        rows, cols = block.nonzero()
                        vals = block[rows, cols]
                        rows = rows + s
                    else:
                        indptr = x["indptr"][s : e + 1]
                        lo, hi = int(indptr[0]), int(indptr[-1])
                        cols = x["indices"][lo:hi]
                        vals = x["data"][lo:hi]
                        counts = (indptr[1:] - indptr[:-1]).astype("int64")
                        rows = np.repeat(np.arange(s, e, dtype="int64"), counts)
                    yield pd.DataFrame(
                        {
                            "cell_id": [cells[r] for r in rows],
                            "gene_id": [genes[c] for c in cols],
                            "count": [float(v) for v in vals],
                        }
                    )

    return ranges_df.mapInPandas(read_chunk, out_schema)


def read_jsonl_corpus(
    spark: SparkSession,
    path: str,
    schema: str = "doc_id long, text string, lang string, source string",
    corrupt_col: str = "_corrupt",
) -> DataFrame:
    """S1-family: JSONL document-corpus scan — the interchange format LLM
    corpora actually ship in (one JSON object per line; Dolma/RedPajama/
    C4 distributions). Extends the reference's document-ingest capability
    (vector_store.py parquet/JSON loads) to line-delimited corpora.

    Malformed lines do NOT fail the 100 TB job: PERMISSIVE mode routes them
    to ``corrupt_col`` (the raw line), so the pipeline can count/quarantine
    them (same error-row discipline as sources/snapshot.py). An explicit
    schema is REQUIRED at scale — schema inference would be a second full
    pass over the data.

    Spark splits un-compressed JSONL (and bgzip'd via splittable codecs) by
    byte range, so a directory of shards parallelizes like parquet; gzip'd
    shards parallelize per-file (ship many files, not one big one).
    """
    full_schema = f"{schema}, {corrupt_col} string"
    return (
        spark.read.schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )


def split_corrupt_rows(df: DataFrame, corrupt_col: str = "_corrupt"):
    """(clean, corrupt) pair: clean rows lose the corrupt column; corrupt
    rows keep the raw line for quarantine plus whatever partially parsed
    (Spark refuses plans that reference ONLY the internal corrupt-record
    column — QUERY_ONLY_CORRUPT_RECORD_COLUMN — so the quarantine side
    must, and usefully does, carry the data columns too)."""
    clean = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    corrupt = df.filter(F.col(corrupt_col).isNotNull()).withColumnRenamed(
        corrupt_col, "raw_line"
    )
    return clean, corrupt


# ---------------------------------------------------------------------------
# WARC scan — the crawl-archive format a 100 TB web corpus arrives in
# ---------------------------------------------------------------------------


def read_warc(spark: SparkSession, path: str, version: str = "1.0") -> DataFrame:
    """Minimal WARC reader: one row per WARC record with the headers a
    corpus pipeline routes on (type, target URI, date, record id) plus the
    payload body and a ``suspect`` validity flag.

    Scale shape: ``spark.read.text`` with ``lineSep='WARC/<version>\\r\\n'``
    splits the archive into records AT THE SOURCE — each record is one row
    off the scan, so a 100 TB crawl parallelizes by file split exactly like
    any text source (uncompressed or per-file-gzip WARCs, which is how
    Common Crawl ships segments — one .warc.gz per file decompresses inside
    the file-split codec path). Header parsing is pure JVM regexp over the
    record head; no UDF, no shuffle.

    FRAMING LIMITS (ADVICE r04): ISO 28500 frames records by
    Content-Length; a substring separator cannot. This reader anchors the
    split at the version line's trailing CRLF (a bare 'WARC/1.0' inside a
    payload no longer splits) and then VALIDATES every fragment two ways —
    the head must open with a ``WARC-*`` header line, and the payload's
    octet length must equal the record's declared Content-Length. Records
    failing either check get ``suspect = true`` (a payload that itself
    embeds 'WARC/1.0\\r\\nWARC-...' — crawled WARC spec text, nested
    archives — truncates and flags rather than silently corrupting;
    downstream, :func:`warc_responses_to_documents` drops flagged rows).
    One version per call: a WARC/1.1 archive needs ``version='1.1'``;
    mixed-version archives are out of scope.

    Output: (warc_type, record_id, target_uri, warc_date, content_length,
    payload, suspect) — payload is the raw block after the first blank
    line (HTTP headers + body for response records, exactly what the
    strip-HTML tier consumes next), with the exact ``\\r\\n\\r\\n`` record
    delimiter stripped so its length matches Content-Length byte for byte.
    """
    recs = spark.read.option("lineSep", f"WARC/{version}\r\n").text(path)
    head_body = F.split(F.col("value"), "\r\n\r\n", 2)
    head = F.element_at(head_body, 1)
    # try_: a fragment with no blank line (the pre-marker preamble) has one
    # element, and ANSI element_at would throw when Catalyst reorders the
    # pushed filters ahead of the warc_type prune
    body = F.try_element_at(head_body, F.lit(2))

    def _hdr(name: str):  # noqa: ANN202
        return F.regexp_extract(head, f"(?im)^{name}:\\s*(\\S+)\\s*$", 1)

    # strip the inter-record delimiter EXACTLY (two CRLFs; one at EOF) —
    # a greedy (\r\n)+ strip would eat the payload's own trailing newlines
    # and break the Content-Length equality below
    payload = F.regexp_replace(
        F.coalesce(body, F.lit("")), "(\r\n\r\n|\r\n)$", ""
    )
    out = recs.select(
        F.lower(_hdr("WARC-Type")).alias("warc_type"),
        _hdr("WARC-Record-ID").alias("record_id"),
        _hdr("WARC-Target-URI").alias("target_uri"),
        _hdr("WARC-Date").alias("warc_date"),
        _hdr("Content-Length").try_cast("long").alias("content_length"),
        payload.alias("payload"),
        (
            ~(
                head.rlike("(?i)^WARC-[\\w-]+:")
                & F.coalesce(
                    F.octet_length(payload) == _hdr("Content-Length").try_cast("long"),
                    F.lit(False),
                )
            )
        ).alias("suspect"),
    )
    return out.filter(F.col("warc_type") != "")


def warc_responses_to_documents(warc: DataFrame) -> DataFrame:
    """response records → (url, http_status, text) document rows: status
    from the HTTP status line, body after the HTTP header block — the
    handoff into the URL/HTML hygiene tier (operators/urls.py,
    operators/cleaning.py). Pure JVM projection. Records the reader
    flagged ``suspect`` (mis-framed split or Content-Length mismatch)
    are dropped here — a truncated body must not enter the corpus."""
    http = F.split(F.col("payload"), "\r\n\r\n", 2)
    head = F.element_at(http, 1)
    body = F.try_element_at(http, F.lit(2))  # header-only payloads
    if "suspect" in warc.columns:
        warc = warc.filter(~F.col("suspect"))
    return (
        warc.filter(F.col("warc_type") == "response")
        .select(
            F.col("target_uri").alias("url"),
            F.regexp_extract(head, "^HTTP/[0-9.]+\\s+(\\d{3})", 1)
            .try_cast("int")  # ANSI: '' on malformed heads must be NULL, not a throw
            .alias("http_status"),
            F.coalesce(body, F.lit("")).alias("text"),
        )
    )
