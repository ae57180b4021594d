"""Round-trip tests for the output formats (ref test_output_formats.py +
test_app.py:214-271 round-trip style)."""

from __future__ import annotations

import io
import json

import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.feather as feather
import pyarrow.ipc as ipc
import pyarrow.parquet as papq
import pytest

from lakeapi_spark.serialize import FORMATS, serialize, stream_serialize


@pytest.fixture(scope="module")
def small_df(spark):
    return spark.createDataFrame(
        [(1, "a;b", 1.5), (2, "x,y", 2.5), (3, None, None)], ["id", "s", "v"]
    )


def test_json(small_df):
    rows = json.loads(serialize(small_df, "json"))
    assert rows[0] == {"id": 1, "s": "a;b", "v": 1.5}
    assert rows[2]["s"] is None


def test_ndjson_lines(small_df):
    lines = serialize(small_df, "ndjson").decode().strip().split("\n")
    assert len(lines) == 3
    assert json.loads(lines[1])["id"] == 2


def test_csv_and_custom_separator(small_df):
    out = serialize(small_df, "csv").decode()
    assert out.splitlines()[0] == '"id","s","v"'
    assert '"x,y"' in out
    scsv = serialize(small_df, "scsv").decode()
    assert '"a;b"' in scsv and scsv.splitlines()[1].count(";") >= 2


def test_csv4excel_utf16_preamble(small_df):
    """Byte-exact reference layout (response.py:158-169,
    test_output_formats.py:22-27): raw utf-8 'sep=,\\n' preamble, then
    the csv body in utf-16-le."""
    raw = serialize(small_df, "csv4excel")
    assert raw[0:6].decode("ascii") == "sep=,\n"
    import csv as _csv

    body = raw[6:].decode("utf-16-le")
    rows = list(_csv.DictReader(body.splitlines()))
    assert rows[0]["id"] == "1" and rows[1]["s"] == "x,y"


def test_parquet_roundtrip(small_df):
    tab = papq.read_table(io.BytesIO(serialize(small_df, "parquet")))
    assert tab.num_rows == 3 and tab.column("id").to_pylist() == [1, 2, 3]


def test_arrow_roundtrips(small_df):
    tab = feather.read_table(io.BytesIO(serialize(small_df, "arrow")))
    assert tab.num_rows == 3
    stream = ipc.open_stream(io.BytesIO(serialize(small_df, "arrow-stream"))).read_all()
    assert stream.column("s").to_pylist() == ["a;b", "x,y", None]


def test_html_xml(small_df):
    assert b"<table" in serialize(small_df, "html")
    assert b"<row>" in serialize(small_df, "xml")


def test_custom_encoding(small_df):
    latin = serialize(small_df, "csv", encoding="latin-1")
    assert b'"id"' in latin


def test_stream_ndjson_chunks(small_df):
    chunks = list(stream_serialize(small_df, "ndjson", chunk_size=2))
    rows = [json.loads(ln) for c in chunks for ln in c.decode().strip().split("\n")]
    assert len(rows) == 3
    assert len(chunks) >= 2  # chunked at 2 rows per batch


def test_unknown_format(small_df):
    with pytest.raises(ValueError):
        serialize(small_df, "yaml")


def test_all_declared_formats_covered():
    assert set(FORMATS) >= {"json", "ndjson", "csv", "scsv", "csv4excel", "parquet", "arrow", "arrow-stream", "html", "xml"}


class TestStreamSerialize:
    """stream_serialize must (a) produce the same logical content as
    serialize(), (b) stay memory-bounded — every yielded chunk is small
    regardless of total result size (the full-sf lineitem test below is
    the limit=-1 export of ref test_app.py:181-203)."""

    def test_stream_matches_serialize_small(self, small_df):
        """One writer per format: the in-memory and the spilled batch
        source encode to the same bytes (the decoded table for the
        binary formats, whose row-group/batch layout follows the
        split), for one batch, one batch per row, an empty result, and
        decimal, date, array, map and struct-with-timestamp columns (so
        the spill's cast follows the schema ``toArrow()`` gives).
        pyarrow's csv writer takes no nested columns, so the csv formats
        get the flat ones."""
        from pyspark.sql.types import ArrayType, MapType, StructType

        from lakeapi_spark.serialize import serialize, stream_serialize

        readers = {
            "parquet": lambda raw: papq.read_table(io.BytesIO(raw)),
            "arrow": lambda raw: feather.read_table(io.BytesIO(raw)),
            "arrow-stream": lambda raw: ipc.open_stream(io.BytesIO(raw)).read_all(),
        }
        ordered = small_df.orderBy("id")
        mixed = small_df.sparkSession.sql(
            "select 1 as id, cast(12.34 as decimal(10,2)) as dec, "
            "cast(123456789012.345678 as decimal(30,6)) as wide, date'2024-02-29' as d, "
            "array(1, 2) as arr, map('k', 1.5) as m, "
            "named_struct('t', timestamp'2024-03-01 12:34:56.5', 's', 'x') as st "
            "union all select 2, null, null, null, array(null), map('n', null), "
            "named_struct('t', cast(null as timestamp), 's', cast(null as string))"
        ).orderBy("id")
        for df in (ordered, ordered.filter("id < 0"), mixed):
            flat = [
                f.name
                for f in df.schema
                if not isinstance(f.dataType, (ArrayType, MapType, StructType))
            ]
            for fmt in FORMATS:
                src = df.select(flat) if "csv" in fmt else df
                whole = serialize(src, fmt)
                for chunk_size in (10000, 1):
                    streamed = b"".join(
                        stream_serialize(src.coalesce(1), fmt, chunk_size=chunk_size)
                    )
                    if fmt in readers:
                        got, want = readers[fmt](streamed), readers[fmt](whole)
                        assert got.equals(want) and got.schema == want.schema, fmt
                    else:
                        assert streamed == whole, (fmt, chunk_size)
        row = json.loads(serialize(mixed, "json"))[0]
        assert row["dec"] == "12.34" and row["d"] == "2024-02-29"
        assert row["st"] == {"t": "2024-03-01T12:34:56.500000+00:00", "s": "x"}

    def test_utf16_one_bom_both_paths(self, small_df):
        """An encoding that is not ASCII-compatible gets one BOM and one
        byte width for the whole reply, however many chunks it streams
        in: the text decodes and parses, and both paths agree."""
        import csv as _csv
        import xml.etree.ElementTree as ET

        from lakeapi_spark.serialize import serialize, stream_serialize

        df = small_df.orderBy("id")
        for enc in ("utf-16", "utf-32"):
            for fmt in ("json", "ndjson", "csv", "xml", "html"):
                whole = serialize(df, fmt, encoding=enc)
                streamed = b"".join(
                    stream_serialize(df.coalesce(1), fmt, encoding=enc, chunk_size=1)
                )
                assert streamed == whole, (enc, fmt)
                doc = whole.decode(enc)
                assert "\ufeff" not in doc, (enc, fmt)
                if fmt == "json":
                    assert [r["id"] for r in json.loads(doc)] == [1, 2, 3]
                elif fmt == "ndjson":
                    assert [json.loads(ln)["id"] for ln in doc.splitlines()] == [1, 2, 3]
                elif fmt == "csv":
                    rows = list(_csv.DictReader(doc.splitlines()))
                    assert [r["s"] for r in rows] == ["a;b", "x,y", ""]
                elif fmt == "xml":
                    # expat reads no utf-32, so parse the decoded body
                    root = ET.fromstring(doc.partition("?>")[2])
                    assert [r.findtext("id") for r in root] == ["1", "2", "3"]
                else:
                    assert doc.count("<tr") == 4  # header + 3 rows
                if fmt != "xml":  # its declaration names the encoding
                    assert whole == serialize(df, fmt).decode().encode(enc), (enc, fmt)

    def test_xml_same_in_both_paths(self, small_df):
        """Characters the requested encoding lacks become character
        references (html too), whether the result is serialized whole
        or streamed (an empty result is covered above)."""
        from lakeapi_spark.serialize import serialize, stream_serialize

        euro = small_df.sparkSession.createDataFrame([(1, "5 \u20ac")], ["id", "s"])
        for fmt in ("xml", "html"):
            whole = serialize(euro, fmt, encoding="latin-1")
            assert b"5 &#8364;</" in whole, fmt
            assert b"".join(stream_serialize(euro, fmt, encoding="latin-1")) == whole, fmt

    def test_export_leaves_parquet_timestamp_conf(self, spark):
        """An export reads Spark's default INT96 timestamps back without
        touching the session conf, and a timestamp serializes the same
        through both paths."""
        from lakeapi_spark.serialize import serialize, stream_serialize

        key = "spark.sql.parquet.outputTimestampType"
        df = spark.sql(
            "select 1 as id, timestamp'2024-03-01 12:34:56.789123' as ts "
            "union all select 2, timestamp'1900-01-01 00:00:00'"
        ).orderBy("id")
        spark.conf.unset(key)
        before = spark.conf.get(key, None)
        streamed = b"".join(stream_serialize(df.coalesce(1), "json"))
        assert spark.conf.get(key, None) == before
        assert streamed == serialize(df, "json")
        assert json.loads(streamed)[0]["ts"] == "2024-03-01T12:34:56.789123+00:00"
        spark.conf.set(key, "INT96")
        try:
            b"".join(stream_serialize(df, "csv"))
            assert spark.conf.get(key) == "INT96"
        finally:
            spark.conf.unset(key)

    def test_stream_arrow_file_roundtrip(self, small_df):
        """The feather/IPC *file* format streams too: its footer needs
        only the sink's position, not a seek."""
        from lakeapi_spark.serialize import stream_serialize

        df = small_df.orderBy("id").coalesce(1)
        raw = b"".join(stream_serialize(df, "arrow"))
        tab = feather.read_table(io.BytesIO(raw))
        assert tab.column("id").to_pylist() == [1, 2, 3]
        assert tab.column("s").to_pylist() == ["a;b", "x,y", None]

    def test_stream_parquet_and_arrow_roundtrip(self, small_df):
        from lakeapi_spark.serialize import stream_serialize

        df = small_df.orderBy("id").coalesce(1)
        tab = papq.read_table(io.BytesIO(b"".join(stream_serialize(df, "parquet"))))
        assert tab.column("id").to_pylist() == [1, 2, 3]
        stream = ipc.open_stream(
            io.BytesIO(b"".join(stream_serialize(df, "arrow-stream")))
        ).read_all()
        assert stream.column("s").to_pylist() == ["a;b", "x,y", None]

    def test_stream_empty_result_keeps_schema(self, small_df):
        from lakeapi_spark.serialize import stream_serialize

        empty = small_df.filter("id < 0")
        tab = papq.read_table(io.BytesIO(b"".join(stream_serialize(empty, "parquet"))))
        assert tab.num_rows == 0 and tab.column_names == ["id", "s", "v"]
        csv = b"".join(stream_serialize(empty, "csv")).decode()
        assert csv.splitlines()[0] == '"id","s","v"'
        assert json.loads(b"".join(stream_serialize(empty, "json"))) == []

    def test_stream_unknown_format_raises(self, small_df):
        from lakeapi_spark.serialize import stream_serialize

        with pytest.raises(ValueError):
            list(stream_serialize(small_df, "yaml"))

    def test_stream_xlsx_full_lineitem_memory_bounded(self, spark, sf_dir):
        """limit=-1 xlsx export of the whole lineitem table: the sheet
        is deflated into the zip batch-by-batch and each batch's bytes
        are yielded as they are written — no whole-result buffer on the
        driver — and the workbook round-trips with every row."""
        import xml.etree.ElementTree as ET
        import zipfile

        from lakeapi_spark.catalog import table
        from lakeapi_spark.serialize import stream_serialize

        li = table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey", "l_quantity"
        )
        n_expected = li.count()
        chunks = list(stream_serialize(li, "xlsx", chunk_size=1000))
        assert len(chunks) > 1  # genuinely chunked
        assert max(len(c) for c in chunks) <= 65536
        z = zipfile.ZipFile(io.BytesIO(b"".join(chunks)))
        ns = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
        sheet = ET.fromstring(z.read("xl/worksheets/sheet1.xml"))
        assert len(sheet.findall(".//m:row", ns)) == n_expected + 1  # + header

    @pytest.mark.parametrize("fmt", ["ndjson", "csv", "parquet", "arrow-stream"])
    def test_full_lineitem_export_memory_bounded(self, spark, sf_dir, fmt):
        """limit=-1 export of the whole lineitem table: chunks stay
        bounded (driver never holds the full serialized result) and the
        row count survives the round trip."""
        from lakeapi_spark.catalog import table
        from lakeapi_spark.serialize import stream_serialize

        li = table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey", "l_quantity", "l_shipdate"
        )
        n_expected = li.count()
        total_rows = 0
        max_chunk = 0
        n_chunks = 0
        if fmt in ("parquet", "arrow-stream"):
            buf = io.BytesIO()
            for chunk in stream_serialize(li, fmt, chunk_size=1000):
                max_chunk = max(max_chunk, len(chunk))
                n_chunks += 1
                buf.write(chunk)
            buf.seek(0)
            tab = (
                papq.read_table(buf)
                if fmt == "parquet"
                else ipc.open_stream(buf).read_all()
            )
            total_rows = tab.num_rows
        else:
            rest = b""
            for chunk in stream_serialize(li, fmt, chunk_size=1000):
                max_chunk = max(max_chunk, len(chunk))
                n_chunks += 1
                data = rest + chunk
                lines = data.split(b"\n")
                rest = lines[-1]
                total_rows += sum(1 for ln in lines[:-1] if ln)
            total_rows += 1 if rest else 0
            if fmt == "csv":
                total_rows -= 1  # header line
        assert total_rows == n_expected
        assert n_chunks > 1  # genuinely chunked
        # one 1k-row chunk of 4 narrow columns serializes well under 1MB;
        # a whole-result buffer would be orders of magnitude bigger
        assert max_chunk < 1024 * 1024


def test_xlsx_roundtrip_stdlib(small_df):
    """xlsx is now a real sink (stdlib SpreadsheetML writer, no
    openpyxl gate): verify the package structure and cell values by
    unzipping with the stdlib."""
    import xml.etree.ElementTree as ET
    import zipfile

    raw = serialize(small_df.orderBy("id"), "xlsx")
    z = zipfile.ZipFile(io.BytesIO(raw))
    assert {"[Content_Types].xml", "xl/workbook.xml", "xl/worksheets/sheet1.xml"} <= set(
        z.namelist()
    )
    ns = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
    sheet = ET.fromstring(z.read("xl/worksheets/sheet1.xml"))
    rows = sheet.findall(".//m:row", ns)
    assert len(rows) == 4  # header + 3 data rows

    def cellvals(row):
        out = {}
        for c in row.findall("m:c", ns):
            ref = c.attrib["r"]
            if c.attrib.get("t") == "inlineStr":
                out[ref] = c.find("m:is/m:t", ns).text
            else:
                v = c.find("m:v", ns)
                out[ref] = v.text if v is not None else None
        return out

    assert cellvals(rows[0]) == {"A1": "id", "B1": "s", "C1": "v"}
    r2 = cellvals(rows[1])
    assert r2["A2"] == "1" and r2["B2"] == "a;b" and float(r2["C2"]) == 1.5
    # nulls are omitted cells
    assert "B4" not in cellvals(rows[3])


def test_xlsx_column_letters():
    from lakeapi_spark.serialize import _col_ref

    assert [_col_ref(i) for i in (0, 1, 25, 26, 27, 51, 52, 701, 702)] == [
        "A", "B", "Z", "AA", "AB", "AZ", "BA", "ZZ", "AAA",
    ]
