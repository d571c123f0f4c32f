"""Sinks (SURVEY §2.1 S6-S9): CSV, JSON, XLSX, table append.

The reference exports grids in the browser — CSV with quote-escaping
(``index.html:338-371`` et al.), XLSX via SheetJS
(``cpu_usage_grid.html:216-240``), JSON for Chart.js (views.py:816).
Here they are engine-side writers: CSV/JSON scale out (one file per
partition, executor-side); XLSX is inherently single-file and is
documented as a driver-side small-result export.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_csv(df: DataFrame, path: str, header: bool = True, single_file: bool = False) -> None:
    """CSV export with full quoting (S6 — the JS exporter quotes every
    cell). ``single_file`` coalesces to one partition for small
    dashboard grids; leave False for large tables."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", header).option("quoteAll", True).csv(path)


def write_json(df: DataFrame, path: str) -> None:
    """JSON-lines export (S8 — ``json.dumps(processed_res)``)."""
    df.write.mode("overwrite").json(path)


def to_json_column(df: DataFrame, col_name: str = "payload") -> DataFrame:
    """Row → JSON string column (the Chart.js hand-off shape): struct of
    all columns serialized JVM-side."""
    return df.select(F.to_json(F.struct(*df.columns)).alias(col_name))


def write_xlsx(df: DataFrame, path: str, max_rows: int = 100_000) -> None:
    """XLSX export (S7), stdlib-only. The reference exports the grid
    as a real .xlsx via SheetJS in the browser
    (``cpu_usage_grid.html:216-240``); this writer produces the same
    artifact engine-side with no dependency beyond ``zipfile``: xlsx
    is zipped OOXML, and a single-sheet workbook needs only four XML
    parts plus the sheet itself.

    Spreadsheet files are a driver-side, small-result format: the
    writer refuses unbounded inputs rather than silently collecting a
    100 TB table. One action: fetch max_rows+1 and refuse on overflow
    instead of a separate count.

    Cell typing mirrors SheetJS's grid export: finite numbers become
    numeric cells (``t="n"``), NULL/NaN become empty cells, everything
    else (strings, timestamps, booleans) becomes an inline string —
    inline strings rather than a sharedStrings part keep the writer a
    single streaming pass. Zip entries carry a fixed timestamp so
    re-exports of the same result are byte-identical (reproducible
    artifacts)."""
    pdf = df.limit(max_rows + 1).toPandas()
    if len(pdf) > max_rows:
        raise ValueError(f"xlsx export capped at {max_rows} rows; use write_csv")
    with open(path, "wb") as fh:
        fh.write(_xlsx_bytes(list(pdf.columns), pdf.itertuples(index=False)))


_XLSX_STATIC_PARTS = {
    "[Content_Types].xml": (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        "</Types>"
    ),
    "_rels/.rels": (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
        "</Relationships>"
    ),
    "xl/workbook.xml": (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
        ' xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets>'
        "</workbook>"
    ),
    "xl/_rels/workbook.xml.rels": (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
        "</Relationships>"
    ),
}


def _col_letter(i: int) -> str:
    """0-based column index → spreadsheet letters (0→A, 25→Z, 26→AA)."""
    out = ""
    i += 1
    while i:
        i, rem = divmod(i - 1, 26)
        out = chr(ord("A") + rem) + out
    return out


# Characters XML 1.0 forbids outright (escape() passes them through,
# producing a sheet readers reject): C0 controls except \t \n \r, plus
# DEL..0x9F and the non-characters U+FFFE/U+FFFF. OOXML's convention
# is the _xHHHH_ escape; a literal "_xHHHH_" must itself be escaped as
# _x005F_xHHHH_ so decoding round-trips.
_XML_BAD = re.compile(
    "[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f￾￿]|_(?=x[0-9A-Fa-f]{4}_)"
)


def _xlsx_text(s: str) -> str:
    from xml.sax.saxutils import escape

    s = _XML_BAD.sub(lambda m: f"_x{ord(m.group(0)):04X}_", s)
    return escape(s)


def _xlsx_cell(ref: str, value) -> str:
    import math as _math
    import numbers
    from decimal import Decimal

    if value is None:
        return ""
    if isinstance(value, bool):
        # bool is an int subclass; render as text like the JS grid does
        return f'<c r="{ref}" t="inlineStr"><is><t>{value}</t></is></c>'
    # numbers.Integral/Real (not bare int/float) so numpy scalars from
    # pandas itertuples (np.int64, np.float64) land in numeric cells
    if isinstance(value, numbers.Integral):
        return f'<c r="{ref}"><v>{int(value)}</v></c>'
    if isinstance(value, numbers.Real):
        f = float(value)
        return "" if not _math.isfinite(f) else f'<c r="{ref}"><v>{f!r}</v></c>'
    if isinstance(value, Decimal):
        return "" if not value.is_finite() else f'<c r="{ref}"><v>{value}</v></c>'
    return (
        f'<c r="{ref}" t="inlineStr"><is>'
        f'<t xml:space="preserve">{_xlsx_text(str(value))}</t></is></c>'
    )


def _xlsx_bytes(columns: list[str], rows) -> bytes:
    import io
    import zipfile

    body = io.StringIO()
    body.write(
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        "<sheetData>"
    )
    letters = [_col_letter(i) for i in range(len(columns))]
    body.write("<row r=\"1\">")
    for letter, name in zip(letters, columns):
        body.write(_xlsx_cell(f"{letter}1", str(name)))
    body.write("</row>")
    r = 1
    for row in rows:
        r += 1
        body.write(f'<row r="{r}">')
        for letter, value in zip(letters, row):
            # array/map/struct cells (e.g. an embeddings export) reach
            # here as np.ndarray/list/dict, whose `!=` is elementwise —
            # render them as text BEFORE the NaN self-equality check,
            # which would raise "truth value of an array is ambiguous"
            # on them (r12 review)
            if isinstance(value, (list, dict)) or type(value).__name__ == "ndarray":
                body.write(_xlsx_cell(f"{letter}{r}", str(value)))
                continue
            # pandas NaN/NaT surface as float('nan')/pd.NaT; both fail
            # self-equality and must become empty cells, not "nan" text
            if value is None or value != value:
                continue
            body.write(_xlsx_cell(f"{letter}{r}", value))
        body.write("</row>")
    body.write("</sheetData></worksheet>")

    buf = io.BytesIO()
    stamp = (1980, 1, 1, 0, 0, 0)  # fixed → byte-identical re-exports
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, content in _XLSX_STATIC_PARTS.items():
            zf.writestr(zipfile.ZipInfo(name, stamp), content)
        zf.writestr(zipfile.ZipInfo("xl/worksheets/sheet1.xml", stamp), body.getvalue())
    return buf.getvalue()


def write_sharded_corpus(documents: DataFrame, path: str, budget_tokens: int = 2000) -> None:
    """Training-shard writer: `pipeline.shard_pack` assignment joined
    back onto the documents and written as parquet partitioned by
    (source, shard_id) — the directory layout a training loader reads
    shard-by-shard.

    The repartition on the partition columns means each output
    directory is produced by one task (no small-file explosion: without
    it every input partition writes a sliver of every shard), and
    `sortWithinPartitions` keeps doc_id order inside a shard file so a
    loader streams documents in packing order. The assignment is
    deterministic (pure function of source + doc_id order), so a
    failed write re-runs to identical shards."""
    from ..operators.pipeline import shard_pack
    from ..operators.util import materialize

    # diamond rule (r12 review): the join's probe side re-expands the
    # shard_pack subplan — without materializing the assignment the
    # documents source is scanned (and the packing cumsum re-run) once
    # for assignment and once for the join
    assign = materialize(
        shard_pack(documents, budget_tokens).select(
            "doc_id", "shard_id", "n_tokens"
        )
    )
    (
        documents.join(assign, "doc_id")
        .repartition("source", "shard_id")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .partitionBy("source", "shard_id")
        .parquet(path)
    )


def write_alert_maildir(
    df: DataFrame,
    path: str,
    subject: str = "Database Monitoring Alert",
    from_addr: str = "monitoring@localhost",
    to_addr: str = "admin@localhost",
    max_alerts: int = 10_000,
) -> list[str]:
    """Alert e-mail delivery as a MAILDIR sink: one RFC-822 `.eml`
    file per alert row, formatted with the stdlib email machinery —
    the reference's `send_notification_email` (views.py:371-378:
    Django `send_mail` with a fixed subject and admin recipient) with
    the SMTP hop replaced by files a relay (or a test) picks up. The
    body carries every column as `name: value` lines, the shape of
    the reference's f-string alert message (views.py:618-638).

    Driver-side and capped like the XLSX export — alert relations are
    small BY CONSTRUCTION (a threshold filter's survivors), and a cap
    that trips is itself an alerting bug worth surfacing, so breaching
    it raises instead of silently truncating. Filenames are
    deterministic (row index + md5 of the payload), and the batch OWNS
    the directory: any `alert-*.eml` left from a previous run is
    removed first, so a re-run whose alerts changed (or shrank) can't
    leave stale files for the relay to double-deliver (r12 review) —
    an UNCHANGED batch still rewrites byte-identical files, keeping
    at-least-once delivery idempotent. Returns the paths."""
    import hashlib
    import os
    from email.message import EmailMessage
    from email.policy import SMTP

    rows = df.limit(max_alerts + 1).collect()
    if len(rows) > max_alerts:
        raise ValueError(
            f"write_alert_maildir: more than {max_alerts} alerts — a "
            "threshold this loose is a paging storm, not a mail batch"
        )
    os.makedirs(path, exist_ok=True)
    # the batch owns the dir: clear the previous run's alert files so
    # a changed/shrunk batch can't leave stale mail behind
    import glob as _glob

    for stale in _glob.glob(os.path.join(path, "alert-*.eml")):
        os.unlink(stale)
    cols = df.columns
    written = []
    for i, row in enumerate(rows):
        body = "\n".join(f"{c}: {row[c]}" for c in cols) + "\n"
        msg = EmailMessage(policy=SMTP)
        msg["Subject"] = subject
        msg["From"] = from_addr
        msg["To"] = to_addr
        # a deterministic Message-ID (payload hash) instead of the
        # stdlib's random one: re-delivery of the same alert batch is
        # byte-identical, so downstream dedup by Message-ID works
        digest = hashlib.md5(body.encode()).hexdigest()
        msg["Message-ID"] = f"<{digest}@rtdbms-spark>"
        msg.set_content(body)
        fname = os.path.join(path, f"alert-{i:06d}-{digest[:12]}.eml")
        with open(fname, "wb") as fh:
            fh.write(msg.as_bytes())
        written.append(fname)
    return written
