"""Output-format serializers (SURVEY §2.2).

The reference serializes Arrow to ~13 formats (core/response.py:87-170,
context/df_base.py:120-181): json, ndjson, csv, scsv (';'), csv4excel
(utf-16-le with a ``sep=,`` preamble), xlsx, html, xml, parquet,
arrow/feather file, arrow-stream, with custom ``$csv_separator`` and
``$encoding``.

Every format has ONE writer, :func:`_encode`, which turns an iterator of
Arrow record batches into byte chunks. It is fed by two batch sources:

- :func:`serialize` (bounded, already limited/paged results):
  ``df.toArrow()`` on the driver, encoded and joined into ``bytes``;
- :func:`stream_serialize` (unbounded exports): :func:`_spilled_batches`,
  the executors' parquet spill read back one batch at a time, so driver
  memory stays one batch — the reference's temp-file chunk streaming
  (core/response.py:315-352).

Both sources yield at least one batch (a zero-row batch carrying the
schema for an empty result), so headers and schemas survive.

xlsx is a minimal stdlib SpreadsheetML writer (zipfile + escaped XML,
:class:`_XlsxWriter`) — no openpyxl/xlsxwriter needed, closing the
reference's optional-dependency gate (response.py:118-124).
"""

from __future__ import annotations

import codecs
import io
import json
from collections.abc import Iterable, Iterator
from typing import Any

import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.ipc as ipc
import pyarrow.parquet as papq
from pyspark.sql import DataFrame

FORMATS = (
    "json",
    "ndjson",
    "csv",
    "scsv",
    "csv4excel",
    "parquet",
    "arrow",
    "arrow-stream",
    "html",
    "xml",
    "xlsx",
)

#: rows per Arrow batch (the reference's default_chunk_size,
#: core/config.py:78)
CHUNK_ROWS = 10000


def _json_default(v: Any):
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _empty_batch(schema: pa.Schema) -> pa.RecordBatch:
    return pa.RecordBatch.from_pylist([], schema=schema)


def serialize(df: DataFrame, fmt: str, *, csv_separator: str = ",", encoding: str | None = None) -> bytes:
    """Serialize a bounded (already limited/paged) result to bytes."""
    tab = df.toArrow()
    batches = tab.to_batches(max_chunksize=CHUNK_ROWS) or [_empty_batch(tab.schema)]
    return b"".join(_encode(batches, fmt, csv_separator, encoding))


def stream_serialize(
    df: DataFrame,
    fmt: str,
    *,
    csv_separator: str = ",",
    encoding: str | None = None,
    chunk_size: int = CHUNK_ROWS,
) -> Iterator[bytes]:
    """Chunked serialization for unbounded (``limit=-1``) exports: the
    same writer as :func:`serialize`, fed from the parquet spill, so
    driver memory is bounded by one Arrow batch of ``chunk_size`` rows
    plus its encoded chunk."""
    return _encode(_spilled_batches(df, chunk_size), fmt, csv_separator, encoding)


def _spilled_batches(df: DataFrame, chunk_size: int = CHUNK_ROWS) -> Iterator[pa.RecordBatch]:
    """Memory-bounded Arrow batches for LARGE exports: the executors
    write the result to a temp parquet spill in parallel (no driver
    materialization — ``toArrow()`` would buffer the whole result), then
    the driver streams it back one record batch at a time. This is the
    Spark analogue of the reference's NamedTemporaryFile spill-stream
    (core/response.py:315-352); on a real cluster the spill dir would be
    shared storage and the parallel write is exactly a sink write.

    Each batch is cast to the schema ``toArrow()`` would give, so both
    batch sources encode identically. Spark writes timestamps as INT96
    by default; they are read back at µs and the cast restores the UTC
    zone, leaving the session's parquet conf untouched."""
    import glob
    import shutil
    import tempfile

    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(
        df.schema,
        error_on_duplicated_field_names_in_struct=True,
        prefers_large_types=df.sparkSession._jconf.arrowUseLargeVarTypes(),
    )
    tmp = tempfile.mkdtemp(prefix="lakeapi_export_")
    try:
        df.write.mode("overwrite").parquet(tmp)
        yielded = False
        for f in sorted(glob.glob(f"{tmp}/part-*.parquet")):
            pf = papq.ParquetFile(f, coerce_int96_timestamp_unit="us")
            for batch in pf.iter_batches(batch_size=chunk_size):
                yielded = True
                yield batch.cast(schema)
        if not yielded:  # no part files, or 0 row groups
            yield _empty_batch(schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


class _DrainSink(io.RawIOBase):
    """Unseekable file-like sink whose written bytes are drained
    incrementally — lets the sequential writers (ParquetWriter, IPC
    file/stream, zipfile) feed a chunked byte iterator without buffering
    the whole output. ``tell()`` is all the IPC file writer and zipfile
    need to place their footers."""

    def __init__(self) -> None:
        self._chunks: list[bytes] = []
        self._pos = 0

    def writable(self) -> bool:  # pragma: no cover - io protocol
        return True

    def write(self, b) -> int:
        self._chunks.append(bytes(b))
        self._pos += len(b)
        return len(b)

    def tell(self) -> int:
        return self._pos

    def drain(self) -> bytes:
        out = b"".join(self._chunks)
        self._chunks.clear()
        return out


def _encode(
    batches: Iterable[pa.RecordBatch], fmt: str, csv_separator: str, encoding: str | None
) -> Iterator[bytes]:
    """The one writer per format: Arrow batches in, byte chunks out (one
    per batch, plus any preamble and footer). ``batches`` holds at least
    one batch, so header-carrying formats always see the schema.

    Every piece of a text format, brackets and separators included, goes
    through ONE incremental encoder, so the chunks join into the same
    bytes as encoding the whole text once: one BOM for utf-16/utf-32,
    and a stateful codec's shift state carries across chunks."""
    if fmt in ("parquet", "arrow", "arrow-stream", "xlsx"):
        # feather v2 IS the Arrow IPC file format
        open_writer = {
            "parquet": papq.ParquetWriter,
            "arrow": ipc.new_file,
            "arrow-stream": ipc.new_stream,
            "xlsx": _XlsxWriter,
        }[fmt]
        sink = _DrainSink()
        writer = None
        for batch in batches:
            if writer is None:
                writer = open_writer(sink, batch.schema)
            writer.write_batch(batch)
            yield sink.drain()
        writer.close()  # footer
        yield sink.drain()
        return
    # csv4excel is the reference's exact byte layout (response.py:158-169,
    # test_output_formats.py:22-27): a raw UTF-8 'sep=,\n' preamble so
    # Excel picks the delimiter, then the csv body encoded UTF-16-LE
    enc = "utf-16-le" if fmt == "csv4excel" else encoding or "utf-8"
    # xml/html: characters the encoding lacks become character
    # references, as ElementTree.write spells them
    text = codecs.getincrementalencoder(enc)(
        "xmlcharrefreplace" if fmt in ("html", "xml") else "strict"
    ).encode
    if fmt == "json":
        # one dumps per batch, its brackets spliced off: the bytes of a
        # single whole-list dump, at the whole-list dump's speed
        yield text("[")
        sep = ""
        for batch in batches:
            if batch.num_rows:
                rows = json.dumps(batch.to_pylist(), default=_json_default)
                yield text(sep + rows[1:-1])
                sep = ", "
        yield text("]")
    elif fmt == "ndjson":
        for batch in batches:
            yield text(
                "".join(json.dumps(row, default=_json_default) + "\n" for row in batch.to_pylist())
            )
    elif fmt in ("csv", "scsv", "csv4excel"):
        if fmt == "csv4excel":
            yield b"sep=,\n"
        sep = {"csv": csv_separator, "scsv": ";", "csv4excel": ","}[fmt]
        utf8 = codecs.lookup(enc).name == "utf-8"
        header = True
        for batch in batches:
            buf = io.BytesIO()
            pacsv.write_csv(
                batch, buf, write_options=pacsv.WriteOptions(delimiter=sep, include_header=header)
            )
            header = False
            yield buf.getvalue() if utf8 else text(buf.getvalue().decode("utf-8"))
    elif fmt == "html":
        # pandas renders each batch; the <tbody> rows are spliced into
        # one table. ArrowDtype keeps value rendering independent of the
        # batch split — plain to_pandas would coerce an int64 column to
        # float64 only in batches that happen to contain a null. Nested
        # values are rendered first, one value at a time, as xml does:
        # pandas would print a list as a numpy array whose dtype follows
        # the nulls in the batch
        import pandas as pd

        for i, batch in enumerate(batches):
            cols = [
                pa.array([None if v is None else str(v) for v in c.to_pylist()], pa.string())
                if pa.types.is_nested(c.type)
                else c
                for c in batch.columns
            ]
            frame = pa.RecordBatch.from_arrays(cols, names=batch.schema.names)
            html = frame.to_pandas(types_mapper=pd.ArrowDtype).to_html(index=False)
            head, _, rest = html.partition("<tbody>")
            body, _, tail = rest.partition("</tbody>")
            rows = body.strip()
            yield text((head + "<tbody>" if i == 0 else "") + ("\n    " + rows if rows else ""))
        yield text("\n  </tbody>" + tail)
    elif fmt == "xml":
        # stdlib ElementTree (pandas.to_xml needs the optional lxml) in
        # the reference's pandas shape: <data><row>...
        import xml.etree.ElementTree as ET

        yield text(f"<?xml version='1.0' encoding='{enc}'?>\n<data>")
        for batch in batches:
            parts = []
            for row in batch.to_pylist():
                el = ET.Element("row")
                for k, v in row.items():
                    child = ET.SubElement(el, k)
                    if v is not None:
                        child.text = v.isoformat() if hasattr(v, "isoformat") else str(v)
                parts.append(ET.tostring(el, encoding="unicode"))
            yield text("".join(parts))
        yield text("</data>")
    else:
        raise ValueError(f"unsupported format {fmt!r}")
    shift = text("", final=True)  # a stateful codec's closing shift
    if shift:
        yield shift


def _col_ref(idx: int) -> str:
    """0-based column index -> spreadsheet letters (0->A, 26->AA)."""
    out = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        out = chr(ord("A") + rem) + out
    return out


def _xlsx_cell(ref: str, v: Any) -> str:
    from xml.sax.saxutils import escape

    if v is None:
        return ""
    if isinstance(v, bool):  # before int: bool is an int subclass
        return f'<c r="{ref}" t="b"><v>{int(v)}</v></c>'
    if isinstance(v, (int, float)):
        if isinstance(v, float) and v != v:  # NaN
            return ""
        return f'<c r="{ref}"><v>{v!r}</v></c>'
    text = _json_default(v) if not isinstance(v, str) else v
    return f'<c r="{ref}" t="inlineStr"><is><t>{escape(text)}</t></is></c>'


_XLSX_PARTS = (
    (
        "[Content_Types].xml",
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" '
        'ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.'
        'openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/'
        'vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/></Types>',
    ),
    (
        "_rels/.rels",
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" '
        'Target="xl/workbook.xml"/></Relationships>',
    ),
    (
        "xl/workbook.xml",
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>',
    ),
    (
        "xl/_rels/workbook.xml.rels",
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" '
        'Target="worksheets/sheet1.xml"/></Relationships>',
    ),
)


class _XlsxWriter:
    """Minimal SpreadsheetML writer over the stdlib zipfile, with the
    ``write_batch``/``close`` shape of pyarrow's writers — no
    openpyxl/xlsxwriter needed (the reference needs polars' xlsxwriter
    extra, response.py:118-124). One sheet, header row, numbers/bools
    typed natively, everything else (strings, timestamps, bytes) as
    inline strings.

    The sheet is written into its zip entry one Arrow batch at a time,
    and zipfile writes to an unseekable sink (data descriptors after
    each entry), so memory stays one batch whatever the result size.
    Zip entry timestamps are pinned (1980 epoch) so the same table
    always serializes to the same bytes."""

    def __init__(self, sink, schema: pa.Schema) -> None:
        import zipfile

        def entry(name: str) -> zipfile.ZipInfo:
            zi = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            zi.compress_type = zipfile.ZIP_DEFLATED
            return zi

        self._zip = zipfile.ZipFile(sink, "w", zipfile.ZIP_DEFLATED)
        for name, xml in _XLSX_PARTS:
            self._zip.writestr(entry(name), xml)
        # force_zip64: the sheet is streamed without a known size and a
        # limit=-1 export can exceed 4 GiB of XML — without the ZIP64
        # local header the write would die mid-export at the boundary
        self._sheet = self._zip.open(entry("xl/worksheets/sheet1.xml"), "w", force_zip64=True)
        self._names = schema.names
        self._refs = [_col_ref(c) for c in range(len(self._names))]
        self._r = 2
        header = "".join(_xlsx_cell(f"{ref}1", n) for ref, n in zip(self._refs, self._names))
        self._sheet.write(
            b'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            b'<worksheet xmlns="http://schemas.openxmlformats.org/'
            b'spreadsheetml/2006/main"><sheetData>'
            + f'<row r="1">{header}</row>'.encode()
        )

    def write_batch(self, batch: pa.RecordBatch) -> None:
        rows = []
        for row in batch.to_pylist():
            r = self._r
            cells = "".join(
                _xlsx_cell(f"{ref}{r}", row[n]) for ref, n in zip(self._refs, self._names)
            )
            rows.append(f'<row r="{r}">{cells}</row>')
            self._r += 1
        self._sheet.write("".join(rows).encode())

    def close(self) -> None:
        self._sheet.write(b"</sheetData></worksheet>")
        self._sheet.close()
        self._zip.close()
