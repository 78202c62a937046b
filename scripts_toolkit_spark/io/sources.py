"""Format decoders / sources (SURVEY.md §2.1 S1–S6).

Design: staging-then-scan. Small control-plane fetches (one ZIP from a
federal site, reference mdrm_data_collect_process.py:100-129) happen
driver-side into a staging dir; everything bulk is a distributed scan —
`binaryFile` rows decoded by Arrow-batched `mapInPandas` (the only Python
in the data plane, per §2.11 policy). At fleet scale the fetch step itself
becomes a manifest table + `mapInPandas` fetch per partition (S1 note).

Libraries: zipfile/xml are stdlib (real implementations); pyreadstat (SAS
XPORT, reference converter.py:96-127) and fitz/PyMuPDF (PDF spans,
reference app.py:16-38) are NOT in this container — their decoders are
import-gated and raise with instructions, while their downstream semantics
are fully covered by the melt/profile (§2.4-2.5) and span-scan (§2.9)
operators over pre-decoded rows.
"""

from __future__ import annotations

import io
import os
import urllib.request
import zipfile
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scripts_toolkit_spark.materialize import materialize

# ------------------------------------------------------------- S1: fetch ---
def fetch_to_staging(url: str, staging_dir: str, filename: str | None = None) -> str:
    """Driver-side HTTP(S)/file fetch into a staging path (control plane —
    one quarterly ZIP, not bulk data). Distributed scans start from the
    staged file."""
    os.makedirs(staging_dir, exist_ok=True)
    name = filename or url.rstrip("/").rsplit("/", 1)[-1] or "download.bin"
    dest = os.path.join(staging_dir, name)
    with urllib.request.urlopen(url) as resp, open(dest, "wb") as out:  # noqa: S310
        while chunk := resp.read(1 << 20):
            out.write(chunk)
    return dest


FETCH_SCHEMA = "url string, status string, n_bytes bigint, content binary"


def fetch_manifest(spark: SparkSession, manifest: DataFrame, url_col: str = "url") -> DataFrame:
    """S1 at fleet scale: a manifest table of URLs fetched per partition by
    an Arrow-batched decoder — thousands of quarterly archives pull in
    parallel across executors instead of serially on the driver. Failures
    surface as rows (status != 'ok'), not job aborts."""

    def _fetch(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            rows = {"url": [], "status": [], "n_bytes": [], "content": []}
            for url in pdf[url_col]:
                try:
                    with urllib.request.urlopen(url) as resp:  # noqa: S310
                        blob = resp.read()
                    rows["status"].append("ok")
                    rows["n_bytes"].append(len(blob))
                    rows["content"].append(blob)
                except Exception as ex:  # noqa: BLE001
                    rows["status"].append(f"error: {type(ex).__name__}")
                    rows["n_bytes"].append(0)
                    rows["content"].append(b"")
                rows["url"].append(url)
            yield pd.DataFrame(rows)

    return manifest.select(F.col(url_col)).mapInPandas(_fetch, FETCH_SCHEMA)


# ---------------------------------------------------- S2: ZIP member rows ---
ZIP_MEMBER_SCHEMA = "archive string, member string, size bigint, content binary"


def zip_members(spark: SparkSession, path_glob: str, name_filter: str | None = None) -> DataFrame:
    """Distributed ZIP explode: binaryFile scan → one row per archive member
    (reference does this single-threaded, converter.py:235-250 /
    cdr_taxonomy_processor.py:86-99 / mdrm :117-127). `name_filter` is a
    substring filter applied inside the decoder (e.g. 'xpt', '-pres')."""
    archives = spark.read.format("binaryFile").load(path_glob)

    def _explode(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            rows = {"archive": [], "member": [], "size": [], "content": []}
            for path, blob in zip(pdf["path"], pdf["content"]):
                with zipfile.ZipFile(io.BytesIO(blob)) as zf:
                    for info in zf.infolist():
                        if info.is_dir():
                            continue
                        if name_filter and name_filter not in info.filename:
                            continue
                        rows["archive"].append(path)
                        rows["member"].append(info.filename)
                        rows["size"].append(info.file_size)
                        rows["content"].append(zf.read(info))
            yield pd.DataFrame(rows)

    return archives.select("path", "content").mapInPandas(_explode, ZIP_MEMBER_SCHEMA)


# ------------------------------------------------------- S4: SAS XPORT -----
_XPORT_ENCODINGS = ("WINDOWS-1252", "LATIN1")


def decode_xport_blob(blob: bytes, chunksize: int = 4000) -> pd.DataFrame:
    """One XPT byte blob → pandas DataFrame, mirroring the reference's
    chunked pyreadstat read + WINDOWS-1252 → LATIN1 fallback
    (converter.py:96-127) with two hardening fixes over the reference:

    - each encoding attempt decodes the WHOLE file before any rows are
      surfaced — a mid-file failure restarts with the next encoding and can
      never re-emit earlier chunks (partial-yield duplication);
    - pyreadstat signals encoding trouble as ReadstatError, not only
      UnicodeDecodeError — both are caught; when every encoding fails the
      error PROPAGATES instead of yielding silently-empty output.

    Without pyreadstat (this container) the pure-Python TS-140 parser
    (io/xport.py) decodes the same bytes with the same encoding fallback.
    """
    try:
        import pyreadstat as prs
    except ImportError:
        from scripts_toolkit_spark.io.xport import decode_xport

        return decode_xport(blob, _XPORT_ENCODINGS)

    import tempfile  # pragma: no cover - pyreadstat absent in container

    readstat_error = getattr(prs, "ReadstatError", ())
    errors: list[Exception] = []
    with tempfile.NamedTemporaryFile(suffix=".xpt") as f:  # pragma: no cover
        f.write(blob)
        f.flush()
        for enc in _XPORT_ENCODINGS:
            try:
                chunks = [
                    chunk
                    for chunk, _meta in prs.read_file_in_chunks(
                        prs.read_xport, f.name, encoding=enc, chunksize=chunksize
                    )
                ]
                return pd.concat(chunks, ignore_index=True) if chunks else pd.DataFrame()
            except (UnicodeDecodeError, readstat_error) as ex:
                errors.append(ex)
                continue
    raise ValueError(  # pragma: no cover
        f"XPORT blob undecodable as any of {_XPORT_ENCODINGS}: {errors!r}"
    )


def read_xport(spark: SparkSession, path_glob: str, chunksize: int = 4000) -> DataFrame:
    """Distributed SAS-XPORT decode: binaryFile rows → decoded pandas
    frames → Arrow batches (reference converter.py:96-127 semantics; see
    `decode_xport_blob` for the encoding-fallback contract).

    Schema note: XPORT column sets vary per file, so files must be
    homogeneous per call; the schema is probed from the first file
    driver-side (control-plane: one quarterly file, MBs).

    The decoded frame is returned behind a `materialize()` boundary, so
    each file crosses the JVM→Python boundary and is decoded exactly once
    per call. Without it every action on the result (the quarter's
    `first()`, the profile aggregate, each type family's unpivot in the
    EAV write) would re-run the `mapInPandas` decode."""
    files = spark.read.format("binaryFile").load(path_glob).select("path", "content")
    first = files.limit(1).collect()
    if not first:
        raise FileNotFoundError(path_glob)
    probe = decode_xport_blob(bytes(first[0]["content"]), chunksize)
    numeric = {c for c in probe.columns if probe[c].dtype.kind in "fi"}
    schema = ", ".join(
        f"`{c}` double" if c in numeric else f"`{c}` string" for c in probe.columns
    )

    def _decode(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            for blob in pdf["content"]:
                frame = decode_xport_blob(bytes(blob), chunksize)
                for c in numeric:
                    frame[c] = frame[c].astype("float64")
                yield frame

    return files.mapInPandas(_decode, schema).transform(materialize)


# -------------------------------------------- S5: XBRL linkbase XML arcs ---
ARC_SCHEMA = "arc_from string, arc_to string, arc_kind string"
LABEL_SCHEMA = "label_key string, label_text string"


def parse_linkbase_arcs(xml_bytes: bytes, kind: str) -> list[tuple[str, str, str]]:
    """One linkbase XML → [(from, to, kind)] arc tuples
    (reference cdr_taxonomy_processor.py:119-130 presentation flatten).
    `kind` ∈ {presentation, label, reference}."""
    import xmltodict

    doc = xmltodict.parse(xml_bytes)
    linkbase = doc.get("linkbase") or doc.get("link:linkbase") or {}
    link = linkbase.get(f"{kind}Link")
    if link is None:
        return []
    links = link if isinstance(link, list) else [link]
    arcs: list[tuple[str, str, str]] = []
    for lk in links:
        arc_entries = lk.get(f"{kind}Arc") or []
        if isinstance(arc_entries, dict):
            arc_entries = [arc_entries]
        for a in arc_entries:
            try:
                arcs.append((a["@xlink:from"], a["@xlink:to"], kind))
            except KeyError:
                continue
    return arcs


def parse_linkbase_labels(xml_bytes: bytes) -> list[tuple[str, str]]:
    """Label resources: [(xlink:label, text)] (reference :167-183)."""
    import xmltodict

    doc = xmltodict.parse(xml_bytes)
    linkbase = doc.get("linkbase") or {}
    link = linkbase.get("labelLink") or {}
    labels = link.get("label") or []
    if isinstance(labels, dict):
        labels = [labels]
    out = []
    for lab in labels:
        key = lab.get("@xlink:label")
        text = lab.get("#text")
        if key is not None and text is not None:
            out.append((key, text))
    return out


def linkbase_edges(spark: SparkSession, pres_xml: bytes) -> DataFrame:
    """Presentation linkbase → child→parent edge DataFrame (src, dst) —
    the (to, from) orientation of reference :145-148."""
    arcs = parse_linkbase_arcs(pres_xml, "presentation")
    rows = [(to, frm) for (frm, to, _k) in arcs]
    return spark.createDataFrame(rows, "src string, dst string")


def linkbase_label_tables(spark: SparkSession, cap_xml: bytes) -> tuple[DataFrame, DataFrame]:
    """Label linkbase → (label_arcs(arc_from, arc_to), labels(label_key,
    label_text)) for the J1 broadcast label-resolution join."""
    arcs = [(f, t) for (f, t, _k) in parse_linkbase_arcs(cap_xml, "label")]
    labels = parse_linkbase_labels(cap_xml)
    return (
        spark.createDataFrame(arcs, "arc_from string, arc_to string"),
        spark.createDataFrame(labels, LABEL_SCHEMA),
    )


# ------------------------------------------------------- S6: PDF spans -----
PDF_SPAN_SCHEMA = "page_no int, span_seq long, text string, size double, font string"


def read_pdf_spans(spark: SparkSession, path_glob: str) -> DataFrame:
    """Distributed PDF span extraction (reference app.py:16-38): binaryFile
    → {text, size, font} span rows in reading order.

    Decoder selection per executor: PyMuPDF (fitz) when installed — full
    real-world coverage — else the pure-Python subset decoder
    (io/pdftext.py: page tree, FlateDecode, BT/ET text operators), which
    handles plain text PDFs and RAISES on constructs outside its scope
    rather than decoding wrongly. Same fallback pattern as XPORT."""
    files = spark.read.format("binaryFile").load(path_glob).select("path", "content")

    def _decode(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        try:
            import fitz as _fitz  # noqa: F401
        except ImportError:
            _fitz = None

        from scripts_toolkit_spark.io.pdftext import parse_pdf_spans

        for pdf in pdfs:
            for blob in pdf["content"]:
                rows = {"page_no": [], "span_seq": [], "text": [], "size": [], "font": []}
                if _fitz is not None:  # pragma: no cover - lib absent here
                    doc = _fitz.open(stream=io.BytesIO(blob), filetype="pdf")
                    seq = 0
                    for pno, page in enumerate(doc, start=1):
                        for block in page.get_text("dict")["blocks"]:
                            for line in block.get("lines", []):
                                for span in line.get("spans", []):
                                    seq += 1
                                    rows["page_no"].append(pno)
                                    rows["span_seq"].append(seq)
                                    rows["text"].append(span["text"])
                                    rows["size"].append(span["size"])
                                    rows["font"].append(span["font"])
                else:
                    for pno, seq, text, size, font in parse_pdf_spans(bytes(blob)):
                        rows["page_no"].append(pno)
                        rows["span_seq"].append(seq)
                        rows["text"].append(text)
                        rows["size"].append(size)
                        rows["font"].append(font)
                yield pd.DataFrame(rows)

    return files.mapInPandas(_decode, PDF_SPAN_SCHEMA)
