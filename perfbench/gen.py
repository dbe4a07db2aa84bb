"""Seeded input generators for the two workloads.

Every generator takes an output directory and a seed and writes the files the
program receives plus a ``manifest.json`` holding what the checks need: the
expected tables, the planted faults, the change plan and the planted pairs.
The shape of each workload (how many resources, formats, changes, groups,
documents) is fixed; the seed changes the values and the row counts.
"""

import datetime as dt
import gzip
import hashlib
import io
import json
import os
import random
import struct
import zipfile

import pyarrow as pa
import pyarrow.parquet as pq

# Syllables chosen so that no generated word reads as a month, weekday,
# boolean or number in any locale the type detector knows.
SYLL = ["lor", "vik", "tam", "sen", "qua", "zor", "pel", "bri", "dun", "kes",
        "mul", "rof", "gat", "xen", "wib", "hol", "nir", "sop", "tuv", "yal"]
ACCENTED = ["é", "è", "à", "ç", "ù", "ô"]


def word(rng, accents=False):
    w = "".join(rng.choice(SYLL) for _ in range(rng.randint(2, 3)))
    if accents and rng.random() < 0.3:
        w += rng.choice(ACCENTED)
    return w


def md5(s):
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def sha1_bytes(b):
    return hashlib.sha1(b).hexdigest()


# ---------------------------------------------------------------- columns

# column kind -> python_type the type vote must reach
KIND_TYPE = {"id": "int", "int": "int", "float": "float", "date": "date",
             "datetime": "datetime", "bool": "bool", "cat": "string",
             "text": "string"}
MISSING = {"id": 0.0, "int": 0.05, "float": 0.04, "date": 0.03,
           "datetime": 0.02, "bool": 0.05, "cat": 0.08, "text": 0.1}
LAYOUTS = [
    ["id", "int", "float", "cat", "date"],
    ["id", "cat", "text", "float", "bool", "datetime"],
    ["id", "int", "int", "cat", "date", "text"],
    ["id", "float", "cat", "bool"],
]


def make_column(rng, kind, n, accents):
    """n generated values of one column, None where the value is missing."""
    base = dt.date(2015, 1, 1)
    cats = [word(rng, accents) for _ in range(rng.randint(4, 12))]
    vals = []
    for i in range(n):
        if kind != "id" and rng.random() < MISSING[kind] and i > 0:
            vals.append(None)
            continue
        if kind == "id":
            v = i + 1
        elif kind == "int":
            v = rng.randint(-5000, 250000)
        elif kind == "float":
            v = round(rng.uniform(-1000, 100000), 2)
            if v == int(v):
                v += 0.25
        elif kind == "date":
            v = base + dt.timedelta(days=rng.randint(0, 3650))
        elif kind == "datetime":
            v = dt.datetime(2020, 1, 1) + dt.timedelta(seconds=rng.randint(1, 10**8))
            if v.hour == 0 and v.minute == 0 and v.second == 0:
                v += dt.timedelta(seconds=7)
        elif kind == "bool":
            v = rng.random() < 0.5
        elif kind == "cat":
            v = rng.choice(cats)
        else:
            v = " ".join(word(rng, accents) for _ in range(rng.randint(1, 4)))
        vals.append(v)
    # the first data row carries a value in every column: the type vote then
    # never sees a column that is empty in the sniffer's head sample
    if vals[0] is None:
        vals[0] = {"int": 7, "float": 1.5, "bool": True}.get(kind, "x")
    return vals


def text_of(kind, v):
    if v is None:
        return ""
    if kind == "float":
        return "%.2f" % v
    if kind == "bool":
        return "true" if v else "false"
    if kind == "datetime":
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if kind == "date":
        return v.isoformat()
    return str(v)


def expected_table(names, kinds, cols):
    """What the typed table and its profile must hold."""
    out = []
    for name, kind, vals in zip(names, kinds, cols):
        present = [v for v in vals if v is not None]
        ptype = KIND_TYPE[kind]
        c = {"name": name, "python_type": ptype,
             "missing": len(vals) - len(present),
             "distinct": len(set(present))}
        if ptype in ("int", "float"):
            c["min"], c["max"] = float(min(present)), float(max(present))
        elif ptype == "bool":
            c["min"] = 1.0 if all(present) else 0.0
            c["max"] = 1.0 if any(present) else 0.0
        out.append(c)
    return out


def make_table(rng, layout, n, accents=False):
    kinds = LAYOUTS[layout]
    names = []
    for k in kinds:
        nm = "%s_%s" % (k, word(rng))
        while nm in names:
            nm += "x"
        names.append(nm)
    cols = [make_column(rng, k, n, accents) for k in kinds]
    return names, kinds, cols


def csv_bytes(names, kinds, cols, sep, enc, preamble=0):
    lines = ["Source %d : extraction du registre %s" % (i + 1, "é" if enc != "ascii" else "e")
             for i in range(preamble)]
    lines.append(sep.join(names))
    for r in range(len(cols[0])):
        lines.append(sep.join(text_of(k, c[r]) for k, c in zip(kinds, cols)))
    return ("\n".join(lines) + "\n").encode(enc)


# ------------------------------------------------------------ spreadsheets

def col_letter(i):
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


def xml_escape(s):
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def xlsx_bytes(names, kinds, cols):
    rows = ['<row r="1">' + "".join(
        '<c r="%s1" t="inlineStr"><is><t>%s</t></is></c>' % (col_letter(j), xml_escape(n))
        for j, n in enumerate(names)) + "</row>"]
    for r in range(len(cols[0])):
        cells = []
        for j, (k, c) in enumerate(zip(kinds, cols)):
            v = c[r]
            ref = "%s%d" % (col_letter(j), r + 2)
            if v is None:
                continue
            if k in ("id", "int", "float"):
                cells.append('<c r="%s"><v>%s</v></c>' % (ref, text_of(k, v)))
            elif k == "bool":
                cells.append('<c r="%s" t="b"><v>%d</v></c>' % (ref, 1 if v else 0))
            else:
                cells.append('<c r="%s" t="inlineStr"><is><t>%s</t></is></c>'
                             % (ref, xml_escape(text_of(k, v))))
        rows.append('<row r="%d">%s</row>' % (r + 2, "".join(cells)))
    sheet = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
             '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
             '<sheetData>%s</sheetData></worksheet>' % "".join(rows))
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml",
                   '<?xml version="1.0" encoding="UTF-8"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
                   '<Default Extension="xml" ContentType="application/xml"/></Types>')
        z.writestr("xl/workbook.xml",
                   '<?xml version="1.0" encoding="UTF-8"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
                   'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
                   '<sheets><sheet name="Feuil1" sheetId="1" r:id="rId1"/></sheets></workbook>')
        z.writestr("xl/_rels/workbook.xml.rels",
                   '<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
                   '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" '
                   'Target="worksheets/sheet1.xml"/></Relationships>')
        z.writestr("xl/worksheets/sheet1.xml", sheet)
    return buf.getvalue()


def ods_bytes(names, kinds, cols):
    def cell(k, v):
        if v is None:
            return "<table:table-cell/>"
        if k in ("id", "int", "float"):
            t = text_of(k, v)
            return ('<table:table-cell office:value-type="float" office:value="%s">'
                    '<text:p>%s</text:p></table:table-cell>' % (t, t))
        return ('<table:table-cell office:value-type="string"><text:p>%s</text:p>'
                '</table:table-cell>' % xml_escape(text_of(k, v)))
    rows = ["<table:table-row>" + "".join(cell("text", n) for n in names) + "</table:table-row>"]
    for r in range(len(cols[0])):
        rows.append("<table:table-row>" + "".join(cell(k, c[r]) for k, c in zip(kinds, cols))
                    + "</table:table-row>")
    content = ('<?xml version="1.0" encoding="UTF-8"?>'
               '<office:document-content xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" '
               'xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0" '
               'xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0">'
               '<office:body><office:spreadsheet><table:table table:name="Feuille1">%s'
               '</table:table></office:spreadsheet></office:body></office:document-content>'
               % "".join(rows))
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr(zipfile.ZipInfo("mimetype"), "application/vnd.oasis.opendocument.spreadsheet")
        z.writestr("content.xml", content)
    return buf.getvalue()


def _rec(t, data):
    return struct.pack("<HH", t, len(data)) + data


def xls_bytes(names, kinds, cols):
    """BIFF8 workbook (SST strings + NUMBER cells) in a minimal MS-CFB file
    with the mini-stream layout every small real .xls uses."""
    grid = [[n for n in names]]
    for r in range(len(cols[0])):
        grid.append([None if c[r] is None else
                     (float(c[r]) if k in ("id", "int", "float") else text_of(k, c[r]))
                     for k, c in zip(kinds, cols)])
    strings = []
    for row in grid:
        for v in row:
            if isinstance(v, str) and v not in strings:
                strings.append(v)
    idx = {s: i for i, s in enumerate(strings)}
    bof = lambda d: _rec(0x809, struct.pack("<HHHHII", 0x600, d, 0x0DBB, 0x07CC, 0, 0x106))
    sst = _rec(0xFC, struct.pack("<II", len(strings), len(strings)) + b"".join(
        struct.pack("<HB", len(s), 0) + s.encode("latin-1") for s in strings))
    xfs = b"".join(_rec(0xE0, struct.pack("<HHH", 0, 0, 0xFFF5) + bytes(14)) for _ in range(16))
    cells = b""
    for r, row in enumerate(grid):
        for c, v in enumerate(row):
            if isinstance(v, str):
                cells += _rec(0xFD, struct.pack("<HHHI", r, c, 0, idx[v]))
            elif v is not None:
                cells += _rec(0x203, struct.pack("<HHHd", r, c, 0, v))
    sheet = bof(0x10) + cells + _rec(0x0A, b"")

    def globals_(off):
        return (bof(0x05) + xfs + sst +
                _rec(0x85, struct.pack("<IBBBB", off, 0, 0, 6, 0) + b"Sheet1") + _rec(0x0A, b""))
    wb = globals_(len(globals_(0))) + sheet
    assert len(wb) < 4096, "xls resources must stay inside the mini stream"
    mini_n = (len(wb) + 63) // 64
    mini = wb.ljust(mini_n * 64, b"\0")
    cont = (len(mini) + 511) // 512
    END, FREE = 0xFFFFFFFE, 0xFFFFFFFF
    hdr = (bytes([0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A, 0xE1]) + bytes(16) +
           struct.pack("<HHHHH", 0x3E, 3, 0xFFFE, 9, 6) + bytes(6) +
           struct.pack("<IIIIIIIII", 0, 1, 1, 0, 4096, 2, 1, END, 0) +
           struct.pack("<I", 0) + struct.pack("<I", FREE) * 108)
    fat = struct.pack("<III", 0xFFFFFFFD, END, END) + b"".join(
        struct.pack("<I", END if k == cont - 1 else 3 + k + 1) for k in range(cont))
    fat = fat.ljust(512, b"\xff")

    def dirent(name, typ, child, start, size):
        nb = name.encode("utf-16-le")
        return (nb.ljust(64, b"\0") + struct.pack("<HBB", len(nb) + 2, typ, 1) +
                struct.pack("<iii", -1, -1, child) + bytes(16) +
                struct.pack("<IQQIII", 0, 0, 0, start, size, 0))
    dirs = (dirent("Root Entry", 5, 1, 3, len(mini)) + dirent("Workbook", 2, -1, 0, len(wb)))
    dirs = dirs.ljust(512, b"\0")
    minifat = b"".join(struct.pack("<I", END if k == mini_n - 1 else k + 1) for k in range(mini_n))
    minifat = minifat.ljust(512, b"\xff")
    return hdr + fat + dirs + minifat + mini.ljust(cont * 512, b"\0")


# ---------------------------------------------------------- service_steady

STEADY_RESOURCES = 2000
STEADY_DOMAINS = 200
STEADY_BATCH = 40
STEADY_GROUPS = 6           # groups with files behind them (one per batch)
HISTORY_PER_RESOURCE = 6
HISTORY_DAYS = 40
T0 = dt.datetime(2024, 6, 1, 8, 0, 0, tzinfo=dt.timezone.utc)

# Format of a resource by its position in its group: (kind, separator,
# encoding, preamble lines, layout). 8 formats and 5 header classes are
# coprime, so every (format, class) pair occurs once in each group of 40.
FORMATS = [
    ("csv", ",", "utf-8", 0, 0),
    ("csv", ";", "latin-1", 0, 1),
    ("csv", "\t", "utf-8", 2, 2),
    ("csvgz", ",", "utf-8", 0, 1),
    ("xlsx", None, None, 0, 0),
    ("ods", None, None, 0, 2),
    ("xls", None, None, 0, 3),
    ("csv", "|", "utf-8", 0, 3),
]
EXT = {"csv": "csv", "csvgz": "csv.gz", "xlsx": "xlsx", "ods": "ods", "xls": "xls"}
CTYPE = {"csv": "text/csv", "csvgz": "application/gzip",
         "xlsx": "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet",
         "ods": "application/vnd.oasis.opendocument.spreadsheet",
         "xls": "application/vnd.ms-excel"}


def http_date(t):
    return t.strftime("%a, %d %b %Y %H:%M:%S GMT")


def steady_class(pos):
    """A: content-length only; B: last-modified only; C: neither (the
    pipeline must GET and compare checksums)."""
    return "AABBC"[pos % 5]


# Format (index into FORMATS) of each changed resource, per group. Fixed for
# every seed, so a batch does the same work whatever the seed. Group 0 is the
# set-up round; groups 1 and 2 (the rounds a traced run measures) re-ingest
# all five formats between them. An .xls body is padded to whole 512-byte
# sectors, so a new version can keep its length: XLS is never the change
# that only content-length shows (A).
CHANGE_FORMATS = [
    {"A": 2, "B": 4, "C": 3, "broken": 5, "gone": 0},
    {"A": 7, "B": 0, "C": 6, "broken": 1, "gone": 2},
    {"A": 4, "B": 5, "C": 3, "broken": 2, "gone": 0},
    {"A": 5, "B": 6, "C": 1, "broken": 4, "gone": 7},
    {"A": 0, "B": 7, "C": 4, "broken": 3, "gone": 6},
    {"A": 3, "B": 5, "C": 6, "broken": 2, "gone": 1},
]
# header class of a change, as position modulo 5 (see steady_class)
CHANGE_OFFSETS = {"A": 0, "broken": 1, "B": 2, "gone": 3, "C": 4}


def change_plan(g):
    """Position in group g of each change: the one position whose format
    (position mod 8) and header class (position mod 5) are the planned ones."""
    return {what: next(p for p in range(STEADY_BATCH)
                       if p % 8 == CHANGE_FORMATS[g][what] and p % 5 == off)
            for what, off in CHANGE_OFFSETS.items()}


def write_catalog(path, rows):
    """The national-catalog export shape CatalogLoader reads."""
    with open(path, "w", encoding="utf-8") as f:
        f.write('"id";"url";"dataset.id";"dataset.archived";"harvest.modified_at"\n')
        for rid, url, did in rows:
            f.write('"%s";"%s";"%s";"False";""\n' % (rid, url, did))


def row_count(fmt, version):
    """Rows of a resource file: fixed, so that a batch re-ingests the same
    amount of data whatever the seed. A new version has two more rows. An
    .xls body must fit the 4 KiB mini stream the fixture writer emits."""
    return (15 if fmt[0] == "xls" else 40) + 2 * version


def resource_file(rng, fmt, n):
    """(bytes, expected columns) of one generated resource version."""
    kind, sep, enc, pre, layout = fmt
    names, kinds, cols = make_table(rng, layout, n, accents=(enc == "latin-1"))
    if kind == "csv":
        data = csv_bytes(names, kinds, cols, sep, enc, pre)
    elif kind == "csvgz":
        data = gzip.compress(csv_bytes(names, kinds, cols, sep, enc), mtime=0)
    elif kind == "xlsx":
        data = xlsx_bytes(names, kinds, cols)
    elif kind == "ods":
        data = ods_bytes(names, kinds, cols)
    else:
        data = xls_bytes(names, kinds, cols)
    return data, expected_table(names, kinds, cols)


def gen_steady(out, seed):
    rng = random.Random(seed)
    files = os.path.join(out, "files")
    os.makedirs(files, exist_ok=True)
    resources = []
    for i in range(STEADY_RESOURCES):
        domain = "portal%03d.example.org" % (i % STEADY_DOMAINS)
        rid = "steady-%05d" % i
        fmt = FORMATS[(i % STEADY_BATCH) % len(FORMATS)]
        resources.append({"resource_id": rid, "dataset_id": "dsst-%04d" % (i // 4),
                          "url": "https://%s/files/%s.%s" % (domain, rid, EXT[fmt[0]]),
                          "kind": fmt[0], "content_type": CTYPE[fmt[0]], "domain": domain,
                          "group": i // STEADY_BATCH, "pos": i % STEADY_BATCH})
    write_catalog(os.path.join(out, "catalog.csv"),
                  [(r["resource_id"], r["url"], r["dataset_id"]) for r in resources])

    # each group: one change per header class, one new version that is a
    # broken (empty) file and one resource that is gone (404)
    groups = []
    for g in range(STEADY_GROUPS):
        members = resources[g * STEADY_BATCH:(g + 1) * STEADY_BATCH]
        plan = {pos: what for what, pos in change_plan(g).items()}
        for r in members:
            r["cls"] = steady_class(r["pos"])
            fmt = FORMATS[r["pos"] % len(FORMATS)]
            v0, _ = resource_file(rng, fmt, row_count(fmt, 0))
            # gzip bodies are saved without .gz, as a downloader saves them
            p0 = os.path.join(files, "%s.v0.%s" % (r["resource_id"], fmt[0]))
            with open(p0, "wb") as f:
                f.write(v0)
            lm0 = T0 - dt.timedelta(days=rng.randint(20, 300))
            r.update(path_v0=os.path.abspath(p0), sha1_v0=sha1_bytes(v0), len_v0=len(v0),
                     lm_v0=http_date(lm0), change=plan.get(r["pos"]), table=md5(r["url"]))
            what = r["change"]
            if what in ("A", "B", "C", "broken"):
                if what == "broken":
                    v1, cols = b"", None
                else:
                    r["rows"] = row_count(fmt, 1)
                    v1, cols = resource_file(rng, fmt, r["rows"])
                    while what == "A" and len(v1) == len(v0):  # content-length shows it
                        v1, cols = resource_file(rng, fmt, r["rows"])
                p1 = os.path.join(files, "%s.v1.%s" % (r["resource_id"], fmt[0]))
                with open(p1, "wb") as f:
                    f.write(v1)
                r.update(path_v1=os.path.abspath(p1), sha1_v1=sha1_bytes(v1), len_v1=len(v1),
                         lm_v1=http_date(T0 - dt.timedelta(hours=rng.randint(1, 48))),
                         columns=cols)
        groups.append([r["resource_id"] for r in members])

    # check history: HISTORY_PER_RESOURCE checks per resource spread over
    # HISTORY_DAYS date partitions, ids increasing with created_at
    start = T0 - dt.timedelta(days=HISTORY_DAYS)
    events = []
    for i, r in enumerate(resources):
        for k in range(HISTORY_PER_RESOURCE):
            day = (k * HISTORY_DAYS) // HISTORY_PER_RESOURCE + rng.randint(0, 6)
            t = start + dt.timedelta(days=min(day, HISTORY_DAYS - 1),
                                     seconds=rng.randint(0, 86399))
            events.append((t, i, k))
    events.sort()
    ids, cols = [], {c: [] for c in (
        "resource_id", "url", "domain", "created_at", "status", "headers", "timeout",
        "response_time", "checksum", "filesize", "mime_type", "parsing_table",
        "parsing_error", "parquet_url", "parquet_size", "detected_last_modified_at",
        "error", "next_check_at")}
    last_of = {}
    for n, (t, i, k) in enumerate(events):
        r = resources[i]
        last = k == HISTORY_PER_RESOURCE - 1
        file_backed = "path_v0" in r
        if last and file_backed:
            status = 200
            headers = {"content-type": CTYPE[r["kind"]]}
            if r["cls"] == "A":
                headers["content-length"] = str(r["len_v0"])
            if r["cls"] == "B":
                headers["last-modified"] = r["lm_v0"]
            checksum, size = r["sha1_v0"], r["len_v0"]
        else:
            status = rng.choices([200, 404, 500, 301], [90, 5, 3, 2])[0]
            headers = {"content-type": "text/csv",
                       "content-length": str(rng.randint(200, 90000))}
            checksum = "%040x" % rng.getrandbits(160) if status == 200 else None
            size = int(headers["content-length"]) if status == 200 else None
        ids.append(n + 1)
        last_of[r["resource_id"]] = n + 1
        cols["resource_id"].append(r["resource_id"])
        cols["url"].append(r["url"])
        cols["domain"].append(r["domain"])
        cols["created_at"].append(t)
        cols["status"].append(status)
        cols["headers"].append(list(headers.items()))
        cols["timeout"].append(False)
        cols["response_time"].append(round(rng.uniform(0.05, 2.0), 3))
        cols["checksum"].append(checksum)
        cols["filesize"].append(size)
        cols["mime_type"].append("text/plain" if status == 200 else None)
        cols["parsing_table"].append(md5(r["url"]) if status == 200 else None)
        cols["parsing_error"].append(None)
        cols["parquet_url"].append(None)
        cols["parquet_size"].append(None)
        cols["detected_last_modified_at"].append(None)
        cols["error"].append(None if status == 200 else "HTTP %d" % status)
        cols["next_check_at"].append(t + dt.timedelta(hours=24))
    ts = pa.timestamp("us", tz="UTC")
    table = pa.table({
        "id": pa.array(ids, pa.int64()),
        "resource_id": pa.array(cols["resource_id"], pa.string()),
        "url": pa.array(cols["url"], pa.string()),
        "domain": pa.array(cols["domain"], pa.string()),
        "created_at": pa.array(cols["created_at"], ts),
        "status": pa.array(cols["status"], pa.int32()),
        "headers": pa.array(cols["headers"], pa.map_(pa.string(), pa.string())),
        "timeout": pa.array(cols["timeout"], pa.bool_()),
        "response_time": pa.array(cols["response_time"], pa.float64()),
        "checksum": pa.array(cols["checksum"], pa.string()),
        "filesize": pa.array(cols["filesize"], pa.int64()),
        "mime_type": pa.array(cols["mime_type"], pa.string()),
        "parsing_table": pa.array(cols["parsing_table"], pa.string()),
        "parsing_error": pa.array(cols["parsing_error"], pa.string()),
        "parquet_url": pa.array(cols["parquet_url"], pa.string()),
        "parquet_size": pa.array(cols["parquet_size"], pa.int64()),
        "detected_last_modified_at": pa.array(cols["detected_last_modified_at"], ts),
        "error": pa.array(cols["error"], pa.string()),
        "next_check_at": pa.array(cols["next_check_at"], ts),
    })
    pq.write_table(table, os.path.join(out, "history.parquet"))

    # catalog pointers the staging writes after the load: group g falls due
    # at T0 + g minutes, resources without files far in the future
    pointers = []
    for r in resources:
        due = (T0 + dt.timedelta(minutes=r["group"]) if r["group"] < STEADY_GROUPS
               else T0 + dt.timedelta(days=30))
        pointers.append((r["resource_id"], last_of[r["resource_id"]], due.isoformat()))
    manifest = {"workload": "service_steady", "seed": seed, "t0": T0.isoformat(),
                "batch": STEADY_BATCH, "groups": groups, "history_rows": len(ids),
                "catalog": os.path.abspath(os.path.join(out, "catalog.csv")),
                "history": os.path.abspath(os.path.join(out, "history.parquet")),
                "history_days": sorted({t.date().isoformat() for t, _, _ in events}),
                "pointers": pointers,
                "resources": [r for r in resources if "path_v0" in r],
                "n_resources": len(resources)}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


# ------------------------------------------------------- llm_dedup_linkage

CORPUS_DOCS = 400
VOCAB = [a + b for a in SYLL for b in ("", "a", "en", "ir", "o", "us")]
BOILERPLATE = [
    "all rights reserved reproduction prohibited without written consent",
    "subscribe to our newsletter for the latest updates and offers",
    "this page uses cookies to improve your browsing experience",
]
NEAR_DUP_RATE = 0.15        # share of documents that are edited copies
BOILERPLATE_RATE = 0.3      # share of documents ending with a shared sentence


def gen_corpus(out, seed):
    rng = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    texts, near = [], []
    n_base = CORPUS_DOCS - int(CORPUS_DOCS * NEAR_DUP_RATE)
    for i in range(n_base):
        toks = [rng.choice(VOCAB) for _ in range(rng.randint(30, 80))]
        if rng.random() < BOILERPLATE_RATE:
            toks += rng.choice(BOILERPLATE).split()
        texts.append(" ".join(toks))
    for j in range(CORPUS_DOCS - n_base):
        src = rng.randrange(n_base)
        toks = texts[src].split()
        # one or two token substitutions: a near-duplicate at 3-shingle
        # Jaccard well above every dedup threshold in the declared queries
        for _ in range(rng.randint(1, 2)):
            toks[rng.randrange(len(toks))] = rng.choice(VOCAB)
        texts.append(" ".join(toks))
        near.append((src, n_base + j))
    order = list(range(CORPUS_DOCS))
    rng.shuffle(order)
    doc_id = {old: new for new, old in enumerate(order)}
    rows = sorted((doc_id[i], t) for i, t in enumerate(texts))
    table = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "lang": pa.array(["en"] * len(rows), pa.string()),
        "source": pa.array(["src%d" % (r[0] % 7) for r in rows], pa.string()),
        "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
    })
    pq.write_table(table, os.path.join(out, "documents.parquet"))
    manifest = {"workload": "llm_dedup_linkage", "seed": seed, "docs": CORPUS_DOCS,
                "dir": os.path.abspath(out),
                "near_pairs": sorted(tuple(sorted((doc_id[a], doc_id[b]))) for a, b in near)}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


GENERATORS = {"service_steady": gen_steady, "llm_dedup_linkage": gen_corpus}
