"""Independent DuckDB oracles, run outside the timed region.

- ``expected_observations``: the observation relation the ingest must store,
  computed from the raw generated dumps (LOTJU id translation, Helsinki
  local time to UTC, NULL cleansing, primary-key de-duplication).
- ``store_fingerprint``: (row count, order-insensitive hash) of a relation;
  applied to the expected relation and to the parquet store the ingest wrote.
- ``expected_summaries``: each condition's validity summary row, from the
  reference semantics: step readings (validity capped at ``max_minutes``),
  merge equal-truth runs, cut the timeline at every block boundary, evaluate
  the condition with three-valued logic, roll up the durations.
- ``corpus_rows`` / ``same_rows``: a registry row's own DuckDB oracle over
  the generated corpus tables, compared with the normalisation the repo's
  selfcheck applies (columns by name, rows sorted, floats to 9 places).
"""

from __future__ import annotations

import math
import os

import duckdb

MAX_MINUTES = 30


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    return con


def expected_observations(con, month) -> None:
    """Create table ``exp_obs(tfrom, statid, seid, seval)`` from the raw dumps
    of ``month``, and fail if a primary key maps to two different rows (the
    engine's de-duplication would then keep an arbitrary one)."""
    meta = "columns={'id': 'INTEGER', 'lotjuid': 'INTEGER', 'name': 'VARCHAR'}"
    con.execute(f"""
CREATE OR REPLACE TABLE exp_obs AS
WITH st AS (SELECT * FROM read_csv('{month.stations_csv}', delim='|', header=false, {meta})),
se AS (SELECT * FROM read_csv('{month.sensors_csv}', delim='|', header=false, {meta})),
hdr AS (
  SELECT * FROM read_csv('{month.mittatieto_csv}', delim='|', header=true, quote='"',
    columns={{'ID': 'BIGINT', 'AIKA': 'VARCHAR', 'ASEMA_ID': 'INTEGER'}})
),
val AS (
  SELECT * FROM read_csv('{month.anturi_csv}', delim='|', header=true, quote='"',
    columns={{'ID': 'BIGINT', 'ANTURI_ID': 'INTEGER', 'ARVO': 'FLOAT',
              'MITTATIETO_ID': 'BIGINT', 'TIEDOSTO_ID': 'INTEGER'}})
),
statobs AS (
  SELECT DISTINCT hdr.ID AS id, st.id AS statid,
    timezone('UTC', timezone('Europe/Helsinki',
      try_strptime(regexp_extract(AIKA, '^(.*),', 1), '%d.%m.%Y %H:%M:%S'))) AS tfrom
  FROM hdr JOIN st ON hdr.ASEMA_ID = st.lotjuid
),
statobs_ok AS (SELECT * FROM statobs WHERE id IS NOT NULL AND tfrom IS NOT NULL),
seobs AS (
  SELECT DISTINCT MITTATIETO_ID AS obsid, se.id AS seid, ARVO AS seval
  FROM val JOIN se ON val.ANTURI_ID = se.lotjuid
  WHERE val.ID IS NOT NULL AND MITTATIETO_ID IS NOT NULL AND ARVO IS NOT NULL
)
SELECT s.tfrom, s.statid, v.seid, v.seval
FROM statobs_ok s JOIN seobs v ON s.id = v.obsid
""")
    (clash,) = con.execute("""
SELECT count(*) FROM (
  SELECT tfrom, statid, seid FROM exp_obs GROUP BY ALL HAVING count(*) > 1)
""").fetchone()
    if clash:
        raise AssertionError(f"generated dumps have {clash} ambiguous primary keys")


def store_fingerprint(con, relation: str) -> tuple[int, int]:
    n, h = con.execute(f"""
SELECT count(*), coalesce(sum(hash(epoch_us(tfrom), CAST(statid AS INTEGER),
                                   CAST(seid AS INTEGER), CAST(seval AS FLOAT))), 0)
FROM {relation}""").fetchone()
    return int(n), int(h)


def parquet_store(path: str) -> str:
    return f"read_parquet('{path}/*/*.parquet', hive_partitioning=true)"


# ---------------------------------------------------------------------------
# Condition summaries
# ---------------------------------------------------------------------------


def _pack_cte(name: str, term: tuple, sensor_ids: dict[str, int], window: str) -> str:
    _, station, sensor, op, thr = term
    return f"""
{name}_w AS (
  SELECT tfrom AS vfrom,
         least(lead(tfrom) OVER w, tfrom + INTERVAL {MAX_MINUTES} MINUTE) AS vuntil,
         lead(tfrom) OVER w AS next_t,
         CASE WHEN (seval {op} {thr}) THEN 1 WHEN NOT (seval {op} {thr}) THEN 0 ELSE -1 END AS s
  FROM exp_obs
  WHERE statid = {station} AND seid = {sensor_ids[sensor]} AND {window}
  WINDOW w AS (ORDER BY tfrom)
),
{name}_i AS (
  SELECT *, sum(chg) OVER (ORDER BY vfrom ROWS UNBOUNDED PRECEDING) AS island FROM (
    SELECT *, CASE WHEN s IS DISTINCT FROM lag(s) OVER (ORDER BY vfrom) THEN 1 ELSE 0 END AS chg
    FROM {name}_w WHERE next_t IS NOT NULL)
),
{name} AS (
  SELECT min(vfrom) AS vfrom, max(vuntil) AS vuntil,
         CASE min(s) WHEN 1 THEN TRUE WHEN 0 THEN FALSE END AS truth
  FROM {name}_i GROUP BY island
)"""


def _combine_cte(name: str, rels: list[str], expr: str) -> str:
    pts = " UNION ALL ".join(
        f"SELECT vfrom AS vt FROM {r} UNION ALL SELECT vuntil FROM {r}" for r in rels
    )
    joins = "\n".join(
        f"LEFT JOIN {r} AS j{k} ON m.vfrom >= j{k}.vfrom AND m.vfrom < j{k}.vuntil"
        for k, r in enumerate(rels)
    )
    master = expr.format(*(f"j{k}.truth" for k in range(len(rels))))
    return f"""
{name}_m AS (
  SELECT vt AS vfrom, lead(vt) OVER (ORDER BY vt) AS vuntil FROM (SELECT DISTINCT vt FROM ({pts}))
),
{name} AS (
  SELECT m.vfrom, m.vuntil, epoch(m.vuntil) - epoch(m.vfrom) AS vdiff_s, ({master}) AS truth
  FROM {name}_m AS m
  {joins}
  WHERE m.vuntil IS NOT NULL
)"""


def expected_summaries(con, sheet_rows, sensor_ids: dict[str, int], t0: str, t1: str) -> dict:
    """cond_id -> summary dict for every runnable condition of one sheet
    (``t0``/``t1`` are the sheet's ``YYYY-MM-DD`` bounds), plus ``rows``: the
    number of timeline segments the condition's ranges hold."""
    window = (
        f"tfrom BETWEEN TIMESTAMP '{t0} 00:00:00' AND TIMESTAMP '{t1} 23:59:59'"
    )
    ctes: list[str] = []
    packed: dict[tuple, str] = {}
    cond_rel: dict[str, str] = {}
    out = {}
    for row in sheet_rows:
        if row.error is not None:
            continue
        rels = []
        for term in row.terms:
            if term[0] == "ref":
                rels.append(cond_rel[term[1]])
                continue
            if term not in packed:
                packed[term] = f"b{len(packed)}"
                ctes.append(_pack_cte(packed[term], term, sensor_ids, window))
            rels.append(packed[term])
        cond_rel[row.alias] = f"c_{row.alias}"
        ctes.append(_combine_cte(cond_rel[row.alias], rels, row.expr))
    for alias, rel in cond_rel.items():
        data_from, data_until, v, nv, n = con.execute(
            f"WITH {','.join(ctes)}\n"
            f"SELECT min(vfrom), max(vuntil),"
            f" coalesce(sum(CASE WHEN truth THEN vdiff_s END), 0),"
            f" coalesce(sum(CASE WHEN NOT truth THEN vdiff_s END), 0), count(*) FROM {rel}"
        ).fetchone()
        tot = None if data_from is None else int((data_until - data_from).total_seconds())
        pct = (lambda x: None if not tot else x / tot * 100.0)
        out[alias] = {
            "data_from": data_from,
            "data_until": data_until,
            "tottime_s": tot,
            "tottime_valid_s": int(v),
            "tottime_notvalid_s": int(nv),
            "tottime_nodata_s": None if tot is None else tot - int(v) - int(nv),
            "percentage_valid": pct(int(v)),
            "percentage_notvalid": pct(int(nv)),
            "percentage_nodata": None if tot is None else pct(tot - int(v) - int(nv)),
            "rows": int(n),
        }
    return out


def close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    return a == b


# ---------------------------------------------------------------------------
# Registry rows over the generated corpus
# ---------------------------------------------------------------------------


def corpus_connection(corpus_dir: str) -> duckdb.DuckDBPyConnection:
    con = connect()
    for f in sorted(os.listdir(corpus_dir)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{corpus_dir}/{f}')"
            )
    return con


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "tolist") and not isinstance(v, str):
        return _norm(v.tolist())
    return str(v)


def normalized_rows(df) -> list:
    """A pandas frame as sorted, normalised row tuples (columns by name)."""
    cols = sorted(df.columns)
    return sorted(
        (tuple(_norm(v) for v in r) for r in df[cols].itertuples(index=False)), key=repr
    ), cols


def corpus_rows(con, sql: str):
    return normalized_rows(con.sql(sql).df())
