"""Seeded input generators for the three workloads.

Everything here is plain numpy/stdlib: the generated files do not depend on
the code under test, and the same seed always gives byte-identical files.

- ``write_metadata``: stations/sensors pipe-CSVs (id|lotjuid|name, no header)
  drawn from the embedded 2019 station ids and sensor names.
- ``write_lotju_month``: one month of LOTJU ``tiesaa_mittatieto`` (reading
  headers) and ``anturi_arvo`` (sensor values) dumps with Finnish local
  timestamps.  The month is March 2024, so the spring-forward DST switch
  (31.03.2024 03:00 -> 04:00 local) falls inside it.  Planted: gaps longer
  than 30 min, re-sent (primary-key duplicate) rows, NULL fields, unknown
  LOTJU station and sensor ids, and value runs that cross the thresholds the
  workbooks test.
- ``write_workbook``: a multi-sheet condition workbook (.xlsx) with blocks
  shared across conditions, secondary chains and planted error rows.
- ``write_corpus``: documents / orders / lineitem parquet tables shaped like
  the registry's sf0.1 tier, for the corpus_board rows.
"""

from __future__ import annotations

import os
import zipfile
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone
from xml.sax.saxutils import escape
from zoneinfo import ZoneInfo

import numpy as np

from tsatool_app_spark.snapshots import snapshot_sensor_name_to_id, snapshot_station_ids

HELSINKI = ZoneInfo("Europe/Helsinki")

#: Local month covered by every generated dump (DST starts on 31.03.2024).
MONTH_START_LOCAL = datetime(2024, 3, 1)
MONTH_DAYS = 31
CADENCE_MIN = 10

#: Sensors written to the dumps: (name, base, daily amplitude, walk step).
#: Each series is a daily cycle plus a random walk, rounded to 0.1, so runs
#: cross the thresholds the workbooks use.
SENSORS = (
    ("ilma", 0.0, 4.0, 0.3),
    ("tie_1", 0.5, 5.0, 0.3),
    ("tie_2", 1.0, 5.0, 0.3),
    ("kastepiste", -3.0, 2.0, 0.2),
    ("keskituuli", 4.0, 2.0, 0.4),
    ("ilman_kosteus", 80.0, 10.0, 1.0),
)

#: LOTJU id offsets: real ids live in a different number space from the
#: canonical ids, which is what the ingest joins translate.
STATION_LOTJU_BASE = 40_000
SENSOR_LOTJU_BASE = 900
UNKNOWN_STATION_LOTJU = 99_999
UNKNOWN_SENSOR_LOTJU = 999


@dataclass
class Month:
    """What a generated month holds; the oracle and the workloads read it."""

    mittatieto_csv: str
    anturi_csv: str
    stations_csv: str
    sensors_csv: str
    station_ids: list[int]
    sensor_ids: dict[str, int]
    rows_in: int  # anturi_arvo data lines (raw readings offered to ingest)


def _utc_grid() -> np.ndarray:
    """Minutes since the epoch (UTC) of every local minute of the month."""
    t0 = MONTH_START_LOCAL.replace(tzinfo=HELSINKI).astimezone(timezone.utc)
    t1 = (MONTH_START_LOCAL + timedelta(days=MONTH_DAYS)).replace(tzinfo=HELSINKI)
    n = int((t1.astimezone(timezone.utc) - t0).total_seconds() // 60)
    return int(t0.timestamp() // 60) + np.arange(n, dtype=np.int64)


def finnish_timestamp(utc_minute: int) -> str:
    """LOTJU's ``dd.MM.yyyy HH:mm:ss,nnnnnnnnn`` in Helsinki local time."""
    local = datetime.fromtimestamp(utc_minute * 60, tz=timezone.utc).astimezone(HELSINKI)
    return local.strftime("%d.%m.%Y %H:%M:%S") + ",000000000"


def write_metadata(out_dir: str, rng: np.random.Generator, n_stations: int):
    """stations.csv / sensors.csv; returns (station ids, {sensor: id})."""
    all_ids = np.array(sorted(snapshot_station_ids()))
    station_ids = sorted(int(x) for x in rng.choice(all_ids, n_stations, replace=False))
    snap = snapshot_sensor_name_to_id()
    sensor_ids = {name: snap[name] for name, *_ in SENSORS}
    stations_csv = os.path.join(out_dir, "stations.csv")
    sensors_csv = os.path.join(out_dir, "sensors.csv")
    with open(stations_csv, "w", newline="") as f:
        for sid in station_ids:
            f.write(f"{sid}|{STATION_LOTJU_BASE + sid}|asema {sid}\n")
    with open(sensors_csv, "w", newline="") as f:
        for name, sid in sensor_ids.items():
            f.write(f"{sid}|{SENSOR_LOTJU_BASE + sid}|{name.upper()}\n")
    return station_ids, sensor_ids, stations_csv, sensors_csv


def write_lotju_month(out_dir: str, seed: int, n_stations: int, days: int = MONTH_DAYS) -> Month:
    """Write one month of LOTJU dumps for ``n_stations`` stations.

    ``days`` < 31 keeps the first and last ``days // 2`` days only (both
    month ends, so the DST switch stays in); used for small stores."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    station_ids, sensor_ids, stations_csv, sensors_csv = write_metadata(
        out_dir, rng, n_stations
    )
    grid = _utc_grid()
    if days < MONTH_DAYS:
        keep = days // 2 * 24 * 60
        grid = np.concatenate([grid[:keep], grid[-keep:]])

    # Reading headers: one row per (station, 10-min step), each station with
    # its own minute offset, minus a few planted gaps of 40-180 minutes.
    # The unknown-LOTJU station rides along as one more station.
    hdr_t, hdr_st = [], []
    for lotju in [STATION_LOTJU_BASE + s for s in station_ids] + [UNKNOWN_STATION_LOTJU]:
        offset = int(rng.integers(0, CADENCE_MIN))
        t = grid[(grid - offset) % CADENCE_MIN == 0]
        keep = np.ones(len(t), dtype=bool)
        for _ in range(int(rng.integers(2, 5))):
            start = int(rng.integers(0, len(t) - 20))
            keep[start : start + int(rng.integers(4, 19))] = False
        hdr_t.append(t[keep])
        hdr_st.append(np.full(int(keep.sum()), lotju, dtype=np.int64))
    t = np.concatenate(hdr_t)
    st = np.concatenate(hdr_st)
    order = np.lexsort((st, t))  # dumps are in time order
    t, st = t[order], st[order]
    n_hdr = len(t)
    hdr_id = 10_000_000 + np.arange(n_hdr, dtype=np.int64)

    # Header plants: NULL AIKA / ASEMA_ID / ID, and exact re-sent lines.
    null_aika = rng.choice(n_hdr, 5, replace=False)
    null_asema = rng.choice(n_hdr, 5, replace=False)
    null_id = rng.choice(n_hdr, 5, replace=False)
    resent = np.sort(rng.choice(n_hdr, 20, replace=False))

    ts_text = {int(m): finnish_timestamp(int(m)) for m in np.unique(t)}
    mittatieto_csv = os.path.join(out_dir, "tiesaa_mittatieto.csv")
    aika = [ts_text[int(m)] for m in t]
    for i in null_aika:
        aika[i] = ""
    asema = [str(int(x)) for x in st]
    for i in null_asema:
        asema[i] = ""
    ids = [str(int(x)) for x in hdr_id]
    for i in null_id:
        ids[i] = ""
    lines = [f"{ids[i]}|{aika[i]}|{asema[i]}" for i in range(n_hdr)]
    for i in resent:
        lines.append(lines[i])
    with open(mittatieto_csv, "w", newline="") as f:
        f.write('"ID"|"AIKA"|"ASEMA_ID"\n')
        f.write("\n".join(lines))
        f.write("\n")

    # Sensor values: every header gets one value per sensor.  Series are
    # per (station, sensor): daily cycle + random walk, rounded to 0.1.
    sensor_lotju = [SENSOR_LOTJU_BASE + sensor_ids[name] for name, *_ in SENSORS]
    day_phase = 2 * np.pi * ((t % 1440) / 1440.0)
    vals = np.empty((n_hdr, len(SENSORS)), dtype=np.float64)
    for j, (_, base, amp, step) in enumerate(SENSORS):
        walk = np.zeros(n_hdr)
        for lotju in np.unique(st):
            m = st == lotju
            walk[m] = np.cumsum(rng.normal(0.0, step, int(m.sum())))
            walk[m] -= walk[m].mean()
        vals[:, j] = np.round(base + amp * np.sin(day_phase - 2.0) + walk, 1)
    vals[vals == 0] = 0.0  # no "-0.0" in the dump

    aid = [str(int(x)) for x in hdr_id]  # MITTATIETO_ID; NULL-ID headers
    for i in null_id:  # keep a dangling id that no header carries
        aid[i] = str(5_000_000 + int(i))
    n_val = n_hdr * len(SENSORS)
    val_text = np.char.mod("%.1f", vals.ravel()).tolist()
    null_val = set(rng.choice(n_val, n_val // 200, replace=False).tolist())
    null_anturi = set(rng.choice(n_val, 5, replace=False).tolist())
    null_mitta = set(rng.choice(n_val, 5, replace=False).tolist())
    unknown_sensor = rng.choice(n_hdr, 30, replace=False)
    resent_val = set(rng.choice(n_val, 40, replace=False).tolist())

    anturi_csv = os.path.join(out_dir, "anturi_arvo.csv")
    out = []
    vid = 50_000_000
    for k in range(n_val):
        i, j = divmod(k, len(SENSORS))
        arvo = "" if k in null_val else val_text[k]
        anturi = "" if k in null_anturi else str(sensor_lotju[j])
        mitta = "" if k in null_mitta else aid[i]
        row = f"|{anturi}|{arvo}|{mitta}|{1 + (i % 7)}"
        out.append(f"{vid}{row}")
        vid += 1
        if k in resent_val:  # re-sent value: new row id, same reading
            out.append(f"{vid}{row}")
            vid += 1
    for i in unknown_sensor:
        out.append(f"{vid}|{UNKNOWN_SENSOR_LOTJU}|1.0|{aid[i]}|1")
        vid += 1
    with open(anturi_csv, "w", newline="") as f:
        f.write('"ID"|"ANTURI_ID"|"ARVO"|"MITTATIETO_ID"|"TIEDOSTO_ID"\n')
        f.write("\n".join(out))
        f.write("\n")

    return Month(
        mittatieto_csv=mittatieto_csv,
        anturi_csv=anturi_csv,
        stations_csv=stations_csv,
        sensors_csv=sensors_csv,
        station_ids=station_ids,
        sensor_ids=sensor_ids,
        rows_in=len(out),
    )


# ---------------------------------------------------------------------------
# Condition workbooks
# ---------------------------------------------------------------------------

#: (sensor, operator, thresholds) used for primary blocks.
_PREDICATES = (
    ("ilma", "<", (-1, 0, 1)),
    ("tie_1", "<", (0, 1, 3)),
    ("tie_2", ">=", (0, 2)),
    ("kastepiste", "<", (-4, -3)),
    ("keskituuli", ">", (4, 5)),
    ("ilman_kosteus", ">=", (80, 85)),
)


@dataclass
class SheetRow:
    site: str
    alias: str
    #: Boolean template over the terms, e.g. "{0} and not {1}".
    expr: str
    #: ("p", station, sensor, op, threshold) primary or ("ref", alias) terms.
    terms: list = field(default_factory=list)
    #: None for a runnable condition, else the planted error kind.
    error: str | None = None

    @property
    def condition(self) -> str:
        return self.expr.format(*(term_text(t) for t in self.terms))


def term_text(term: tuple) -> str:
    if term[0] == "ref":
        return term[1]
    _, station, sensor, op, thr = term
    return f"s{station}#{sensor} {op} {thr}"


def make_conditions(rng: np.random.Generator, station_ids: list[int], n: int, site: str,
                    chain_depth: int = 0, errors: bool = False) -> list[SheetRow]:
    """``n`` primary conditions over ``station_ids``, then a secondary chain
    of ``chain_depth`` conditions (c1 = p0 AND p1, c2 = c1 OR NOT p2, ...),
    then the planted error rows.  Blocks repeat across conditions on
    purpose, so the cross-condition block sharing is exercised."""
    blocks = [(s, op, thr) for s, op, thresholds in _PREDICATES for thr in thresholds]
    templates = {1: "{0}", 2: "{0} and not {1}", 3: "{0} and ({1} or not {2})"}
    rows: list[SheetRow] = []
    for i in range(n):
        k = 3 - i % 3  # the shape is fixed, so every seed does the same work
        terms = [
            ("p", int(st), *blocks[int(b)])
            for st, b in zip(rng.choice(station_ids, k), rng.choice(len(blocks), k))
        ]
        rows.append(SheetRow(site, f"p{i}", templates[k], terms))
    prev = "p0"
    for d in range(chain_depth):
        expr = "{0} and {1}" if d % 2 == 0 else "{0} or not {1}"
        rows.append(SheetRow(site, f"c{d + 1}", expr, [("ref", prev), ("ref", f"p{(d + 1) % n}")]))
        prev = f"c{d + 1}"
    if errors:
        s0 = station_ids[0]
        rows.append(SheetRow(site, "e_syntax", "({0} and", [("p", s0, "ilma", "<", 0)], "syntax"))
        rows.append(SheetRow(site, "e_sensor", "{0}", [("p", s0, "lumisade", ">", 1)], "sensor"))
        rows.append(SheetRow(site, "e_ref", "{0} and {1}", [("ref", "nosuch"), ("ref", "p0")], "reference"))
        rows.append(SheetRow(site, "", "{0}", [("p", s0, "ilma", "<", 0)], "empty"))
    return rows


def write_workbook(path: str, sheets: dict[str, tuple[str, str, list[SheetRow]]]) -> None:
    """Minimal .xlsx (inline strings only) in the reference sheet layout:
    A2/B2 = start/end date ``d.m.Y``, rows from 4 on = (site, alias,
    condition).  Fixed zip timestamps keep the file byte-identical."""
    names = list(sheets)
    parts: dict[str, str] = {}
    for i, name in enumerate(names, start=1):
        t0, t1, rows = sheets[name]
        grid = [["start", "end"], [t0, t1], ["site", "master_alias", "condition"]]
        grid += [[r.site, r.alias, r.condition] for r in rows]
        parts[f"xl/worksheets/sheet{i}.xml"] = _sheet_xml(grid)
    sheet_entries = "".join(
        f'<sheet name="{escape(n)}" sheetId="{i}" r:id="rId{i}"/>'
        for i, n in enumerate(names, start=1)
    )
    parts["xl/workbook.xml"] = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        f"<sheets>{sheet_entries}</sheets></workbook>"
    )
    rels = "".join(
        f'<Relationship Id="rId{i}" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" '
        f'Target="worksheets/sheet{i}.xml"/>'
        for i in range(1, len(names) + 1)
    )
    parts["xl/_rels/workbook.xml.rels"] = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        f"{rels}</Relationships>"
    )
    parts["_rels/.rels"] = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" '
        'Target="xl/workbook.xml"/></Relationships>'
    )
    overrides = "".join(
        f'<Override PartName="/xl/worksheets/sheet{i}.xml" '
        'ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        for i in range(1, len(names) + 1)
    )
    parts["[Content_Types].xml"] = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" '
        'ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        f"{overrides}</Types>"
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name in sorted(parts):
            info = zipfile.ZipInfo(name, date_time=(2024, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, parts[name])


def _col(i: int) -> str:
    return "ABCDEFGHIJ"[i]


def _sheet_xml(grid: list[list[str]]) -> str:
    rows = []
    for r, values in enumerate(grid, start=1):
        cells = "".join(
            f'<c r="{_col(c)}{r}" t="inlineStr"><is><t>{escape(str(v))}</t></is></c>'
            for c, v in enumerate(values)
            if v != ""
        )
        rows.append(f'<row r="{r}">{cells}</row>')
    return (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        f"<sheetData>{''.join(rows)}</sheetData></worksheet>"
    )


# ---------------------------------------------------------------------------
# Corpus tables (documents / orders / lineitem)
# ---------------------------------------------------------------------------

_VOCAB = (
    "query row stream the spark line small fast group customer batch sort value "
    "hash filter big data part column order scan a slow agg key window table "
    "merge vector join"
).split()
_LANGS = ("en", "en", "de", "fr", "es", "zh")


def write_corpus(out_dir: str, seed: int, n_docs: int, n_orders: int, n_lines: int) -> None:
    """Parquet tables with the registry tier's shape: ``documents`` of 10-100
    random vocabulary words (source keyed off doc_id, a few planted exact
    duplicates ending in "dup"), and an ``orders``/``lineitem`` pair whose
    supplier/customer keys form the pagerank graph."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    vocab = np.array(_VOCAB)
    texts = []
    for i in range(n_docs):
        # doc 0 is the lowest benchmark document (doc_id % 97 == 0), which
        # the pretraining_mix fixture slices into planted near-duplicates;
        # keep it as long as the registry tier's (53 words).  With ~25
        # words its slices chain into a three-node near-duplicate component
        # and the row raises - a defect listed in README.md.
        n = int(rng.integers(40 if i == 0 else 10, 101))
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), n)]))
    for a, b in rng.choice(n_docs, (max(1, n_docs // 600), 2), replace=False):
        texts[a] = texts[a] + " dup"
        texts[b] = texts[a]
    doc_id = np.arange(n_docs, dtype=np.int64)
    docs = pa.table(
        {
            "doc_id": doc_id,
            "text": texts,
            "lang": [_LANGS[int(x)] for x in rng.integers(0, len(_LANGS), n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64) * 4 + 1,
            "o_custkey": rng.integers(0, max(1, n_orders // 10), n_orders).astype(np.int64),
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": orders["o_orderkey"].to_numpy()[rng.integers(0, n_orders, n_lines)],
            "l_suppkey": rng.integers(0, max(1, n_orders // 150), n_lines).astype(np.int64),
        }
    )
    for name, table in (("documents", docs), ("orders", orders), ("lineitem", lineitem)):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
