"""Minimal stdlib ``.xlsx`` writer and reader for the benchmark's inputs.

The benchmark writes its workbooks with this module rather than with the
program's own ``sources.excel.write_xlsx``, so a change to the program's
sink cannot change the benchmark's inputs. The reader is used to read
back the audit workbook the program writes, for the correctness check.
"""

from __future__ import annotations

import re
import zipfile
from xml.etree import ElementTree

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_MAIN = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_REL = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
_PKG_REL = "http://schemas.openxmlformats.org/package/2006/relationships"
_SHEET_CT = ("application/vnd.openxmlformats-officedocument."
             "spreadsheetml.worksheet+xml")


def _col(idx: int) -> str:
    out = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        out = chr(65 + rem) + out
    return out


def _esc(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _cell(ref: str, v: object) -> str:
    if isinstance(v, bool):
        return f'<c r="{ref}" t="b"><v>{int(v)}</v></c>'
    if isinstance(v, (int, float)):
        return f'<c r="{ref}"><v>{v!r}</v></c>'
    return (f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">'
            f'{_esc(str(v))}</t></is></c>')


def write_workbook(path: str, sheets: dict[str, list[list[object]]]) -> None:
    """Write ``{sheet name: row matrix}``; ``None`` cells are left out."""
    overrides, entries, rels, parts = [], [], [], {}
    for i, (name, rows) in enumerate(sheets.items(), start=1):
        overrides.append(f'<Override PartName="/xl/worksheets/sheet{i}.xml" '
                         f'ContentType="{_SHEET_CT}"/>')
        entries.append(f'<sheet name="{_esc(name)}" sheetId="{i}" r:id="rId{i}"/>')
        rels.append(f'<Relationship Id="rId{i}" Type="{_REL}/worksheet" '
                    f'Target="worksheets/sheet{i}.xml"/>')
        body = "".join(
            f'<row r="{ri}">'
            + "".join(_cell(f"{_col(ci)}{ri}", v)
                      for ci, v in enumerate(row) if v is not None)
            + "</row>"
            for ri, row in enumerate(rows, start=1))
        parts[f"xl/worksheets/sheet{i}.xml"] = (
            f'<worksheet xmlns="{_MAIN}"><sheetData>{body}</sheetData></worksheet>')
    parts["[Content_Types].xml"] = (
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/'
        'vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/'
        'vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        + "".join(overrides) + "</Types>")
    parts["_rels/.rels"] = (
        f'<Relationships xmlns="{_PKG_REL}"><Relationship Id="rId1" '
        f'Type="{_REL}/officeDocument" Target="xl/workbook.xml"/></Relationships>')
    parts["xl/workbook.xml"] = (
        f'<workbook xmlns="{_MAIN}" xmlns:r="{_REL}"><sheets>'
        + "".join(entries) + "</sheets></workbook>")
    parts["xl/_rels/workbook.xml.rels"] = (
        f'<Relationships xmlns="{_PKG_REL}">' + "".join(rels) + "</Relationships>")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, xml in parts.items():
            zf.writestr(name, '<?xml version="1.0" encoding="UTF-8"?>' + xml)


def _value(c: ElementTree.Element, shared: list[str]) -> object:
    t = c.get("t")
    if t == "inlineStr":
        return "".join(x.text or "" for x in c.iter(f"{_NS}t"))
    v = c.find(f"{_NS}v")
    if v is None or v.text is None:
        return None
    if t == "s":
        return shared[int(v.text)]
    if t == "b":
        return v.text == "1"
    if t in ("str", "e"):
        return v.text
    return int(v.text) if re.fullmatch(r"-?\d+", v.text) else float(v.text)


def read_sheet(path: str, sheet: str) -> list[list[object]]:
    """Rows of the named sheet as a dense matrix (missing cells ``None``)."""
    with zipfile.ZipFile(path) as zf:
        wb = ElementTree.fromstring(zf.read("xl/workbook.xml"))
        rels = ElementTree.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
        targets = {r.get("Id"): r.get("Target") for r in rels}
        rid = next(s.get(f"{{{_REL}}}id") for s in wb.iter(f"{_NS}sheet")
                   if s.get("name") == sheet)
        shared: list[str] = []
        if "xl/sharedStrings.xml" in zf.namelist():
            sst = ElementTree.fromstring(zf.read("xl/sharedStrings.xml"))
            shared = ["".join(t.text or "" for t in si.iter(f"{_NS}t"))
                      for si in sst.iter(f"{_NS}si")]
        root = ElementTree.fromstring(zf.read("xl/" + targets[rid].lstrip("/")
                                              .removeprefix("xl/")))
    rows = []
    for row in root.iter(f"{_NS}row"):
        cells: dict[int, object] = {}
        for c in row.iter(f"{_NS}c"):
            letters = re.match(r"[A-Z]+", c.get("r")).group(0)
            idx = 0
            for ch in letters:
                idx = idx * 26 + ord(ch) - 64
            cells[idx - 1] = _value(c, shared)
        width = max(cells) + 1 if cells else 0
        rows.append([cells.get(i) for i in range(width)])
    return rows
