"""The workloads.  Each has five phases:

- ``generate`` (untimed): write the seeded inputs;
- ``expect``   (untimed): compute the oracle answers with DuckDB;
- ``setup``    (timed as set-up): program work done before the first op;
- ``op``       (timed): one operation through the repo's public functions;
- ``check``    (untimed): compare the op's outputs with the oracle, then
  delete them.  It returns a list of mismatch messages (empty = correct).
"""

from __future__ import annotations

import contextlib
import csv
import io
import json
import os
import shutil
import struct
import zipfile
from datetime import datetime

import numpy as np

import gen
import oracle

CORPUS_ROWS = (
    "pretraining_mix",
    "simhash_pairs",
    "minhash_pairs",
    "dedup_components",
    "decontaminate",
    "pagerank",
    "bpe_merges",
)


class Workload:
    #: conditions fully analysed per op, raw readings per op (0 = n/a)
    conditions_per_op = 0
    readings_per_op = 0

    def __init__(self, work: str, seed: int, tracer_hook):
        self.work = work
        self.seed = seed
        self.span = tracer_hook  # span(name) context manager factory
        self.store_stats: dict = {}

    def generate(self) -> None: ...

    def expect(self) -> None: ...

    def setup(self, spark) -> None: ...

    def op(self, spark, i: int): ...

    def check(self, i: int, result) -> list[str]: ...


def _store_stats(path: str) -> tuple[int, int]:
    files = [
        os.path.join(d, f)
        for d, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]
    return len(files), sum(os.path.getsize(f) for f in files)


#: summary fields compared for ``summaries_df`` rows and summary CSV rows
SUMMARY_KEYS = (
    "data_from", "data_until", "tottime_s", "tottime_valid_s", "tottime_notvalid_s",
    "tottime_nodata_s", "percentage_valid", "percentage_notvalid", "percentage_nodata",
)
CSV_KEYS = (
    "data_from", "data_until", "percentage_valid", "percentage_notvalid",
    "percentage_nodata", "rows",
)


def _compare_summary(cid: str, got: dict, exp: dict, keys) -> list[str]:
    bad = []
    for k in keys:
        if k not in got:
            bad.append(f"{cid}.{k}: missing from the output")
        elif not oracle.close(got[k], exp[k]):
            bad.append(f"{cid}.{k}: got {got[k]!r}, expected {exp[k]!r}")
    return bad


# ---------------------------------------------------------------------------
# lifecycle: ingest one month, analyse a sheet over it, run the batch CLI
# ---------------------------------------------------------------------------


class Lifecycle(Workload):
    """One op is the reference's monthly loop: ingest a month of LOTJU dumps
    into a fresh store, analyse one sheet over it (summaries only), then run
    the batch CLI over a two-sheet workbook with every report on, against the
    same store."""

    N_STATIONS = 8
    DAYS = gen.MONTH_DAYS
    N_CONDITIONS = 12
    #: workbook sheet -> (start, end, primaries, chain depth, planted errors)
    SHEETS = {
        "early": ("01.03.2024", "05.03.2024", 2, 3, True),
        "late": ("27.03.2024", "31.03.2024", 1, 0, False),
    }

    def generate(self):
        self.month = gen.write_lotju_month(
            os.path.join(self.work, "in"), self.seed, self.N_STATIONS, days=self.DAYS
        )
        rng = np.random.default_rng(self.seed + 1)
        self.rows = gen.make_conditions(rng, self.month.station_ids, self.N_CONDITIONS, "a")
        self.sheets = {}
        for name, (t0, t1, n, depth, errors) in self.SHEETS.items():
            rows = gen.make_conditions(
                rng, self.month.station_ids, n, name, chain_depth=depth, errors=errors
            )
            self.sheets[name] = (t0, t1, rows)
        self.workbook = os.path.join(self.work, "in", "workbook.xlsx")
        gen.write_workbook(self.workbook, self.sheets)
        self.conditions_per_op = len(self.rows) + sum(
            1 for _, _, rows in self.sheets.values() for r in rows if r.error is None
        )
        self.readings_per_op = self.month.rows_in

    def expect(self):
        con = oracle.connect()
        oracle.expected_observations(con, self.month)
        self.exp_store = oracle.store_fingerprint(con, "exp_obs")
        self.exp_summary = oracle.expected_summaries(
            con, self.rows, self.month.sensor_ids, "2024-03-01", "2024-03-31"
        )
        self.expected = {}
        for name, (t0, t1, rows) in self.sheets.items():
            iso = [datetime.strptime(t, "%d.%m.%Y").strftime("%Y-%m-%d") for t in (t0, t1)]
            self.expected[name] = oracle.expected_summaries(
                con, rows, self.month.sensor_ids, *iso
            )
        con.close()

    def setup(self, spark):
        from tsatool_app_spark.sources import metadata

        self.stations = metadata.read_metadata_csv(spark, self.month.stations_csv)
        self.sensors = metadata.read_metadata_csv(spark, self.month.sensors_csv)

    def op(self, spark, i):
        from tsatool_app_spark import cli
        from tsatool_app_spark.runner import CondCollection
        from tsatool_app_spark.sources import csv_ingest, metadata

        store = os.path.join(self.work, f"store-{i}")
        csv_ingest.ingest_month(
            spark,
            mittatieto_csv=self.month.mittatieto_csv,
            anturi_csv=self.month.anturi_csv,
            stations=self.stations,
            sensors=self.sensors,
            out_path=store,
        )
        sensor_map = metadata.sensor_name_to_id(self.sensors)
        coll = CondCollection.from_rows(
            "a",
            datetime(2024, 3, 1),
            datetime(2024, 3, 31),
            [(r.site, r.alias, r.condition) for r in self.rows],
        )
        res = coll.run(spark.read.parquet(store), sensor_name_to_id=sensor_map, cache_results=False)
        with self.span("runner.summaries"):
            rows = [r.asDict() for r in CondCollection.summaries_df(res).collect()]
        res = None
        out = os.path.join(self.work, f"results-{i}")
        with contextlib.redirect_stdout(io.StringIO()):  # the CLI's summary line
            code = cli.main(
                [
                    "-i", self.workbook,
                    "-n", "bench",
                    "-r", out,
                    "--obs-parquet", store,
                    "--sensors-csv", self.month.sensors_csv,
                    "--xlsx", "--pptx", "--png",
                ]
            )
        return store, rows, out, code

    def check(self, i, result):
        store, rows, out, code = result
        con = oracle.connect()
        got_store = oracle.store_fingerprint(con, oracle.parquet_store(store))
        con.close()
        self.store_stats = {"readings_in": self.month.rows_in, "readings_stored": got_store[0]}
        self.store_stats["files"], self.store_stats["bytes"] = _store_stats(store)
        bad = []
        if got_store != self.exp_store:
            bad.append(f"store {got_store} != expected {self.exp_store}")
        got = {r["cond_id"]: r for r in rows}
        for alias, exp in self.exp_summary.items():
            cid = f"a_{alias}"
            if cid not in got:
                bad.append(f"{cid}: missing summary row")
                continue
            bad += _compare_summary(cid, got[cid], exp, SUMMARY_KEYS)
        if len(got) != len(self.exp_summary):
            bad.append(f"{len(got)} summary rows, expected {len(self.exp_summary)}")
        if code != 0:
            bad.append(f"cli exit code {code}")
        try:
            for name, (_, _, sheet_rows) in self.sheets.items():
                bad += self._check_sheet(out, name, sheet_rows)
            with open(os.path.join(out, "bench_ERRORS.json")) as f:
                if "e_syntax" not in f.read():
                    bad.append("error tree lacks the planted syntax error")
        except (OSError, ValueError, KeyError, zipfile.BadZipFile) as e:
            bad.append(f"unreadable output: {e!r}")
        shutil.rmtree(store, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)
        return bad

    def _check_sheet(self, out: str, name: str, rows) -> list[str]:
        bad = []
        exp = self.expected[name]
        with open(os.path.join(out, f"bench_{name}.csv"), newline="") as f:
            got = {r["master_alias"]: r for r in csv.DictReader(f)}
        listed = [r for r in rows if r.alias]  # the empty-cell row is skipped
        if sorted(got) != sorted(r.alias for r in listed):
            bad.append(f"{name}: csv conditions {sorted(got)}")
        for r in listed:
            g = got.get(r.alias)
            if g is None:
                continue
            e = exp.get(r.alias)
            if e is None:  # planted error: an empty summary row
                if g["percentage_valid"] or g["rows"] != "0":
                    bad.append(f"{name}.{r.alias}: error row has a result")
                continue
            parsed = {
                "data_from": g["data_from"] or None,
                "data_until": g["data_until"] or None,
                "rows": int(g["rows"]),
            }
            for k in ("percentage_valid", "percentage_notvalid", "percentage_nodata"):
                parsed[k] = float(g[k]) if g[k] else None
            want = dict(e)
            for k in ("data_from", "data_until"):
                want[k] = None if e[k] is None else str(e[k])
            bad += _compare_summary(f"{name}.{r.alias}", parsed, want, CSV_KEYS)
            cid = f"{name}_{r.alias}"
            png = os.path.join(out, f"bench_{cid}_timeline.png")
            with open(png, "rb") as f:
                head = f.read(24)
            if head[:8] != b"\x89PNG\r\n\x1a\n" or struct.unpack(">II", head[16:24])[0] == 0:
                bad.append(f"{png}: not a PNG")
            with open(os.path.join(out, f"bench_{cid}_timeline.json")) as f:
                json.load(f)
        with zipfile.ZipFile(os.path.join(out, f"bench_{name}.xlsx")) as z:
            if z.testzip() is not None or "xl/workbook.xml" not in z.namelist():
                bad.append(f"{name}.xlsx malformed")
        with zipfile.ZipFile(os.path.join(out, f"bench_{name}.pptx")) as z:
            slides = [n for n in z.namelist() if n.startswith("ppt/slides/slide")]
            if z.testzip() is not None or len(slides) != len(listed):
                bad.append(f"{name}.pptx: {len(slides)} slides, expected {len(listed)}")
        return bad


# ---------------------------------------------------------------------------
# corpus_board: one pass over a fixed subset of the query registry
# ---------------------------------------------------------------------------


class CorpusBoard(Workload):
    N_DOCS = 1000
    N_ORDERS = 10_000
    N_LINES = 40_000

    def generate(self):
        self.corpus = os.path.join(self.work, "corpus")
        gen.write_corpus(self.corpus, self.seed, self.N_DOCS, self.N_ORDERS, self.N_LINES)

    def expect(self):
        from tsatool_app_spark.plans.driver_queries import QUERIES

        con = oracle.corpus_connection(self.corpus)
        self.expected = {n: oracle.corpus_rows(con, QUERIES[n].oracle) for n in CORPUS_ROWS}
        con.close()

    def op(self, spark, i):
        from tsatool_app_spark.plans.driver_queries import QUERIES

        out = {}
        for name in CORPUS_ROWS:
            with self.span(f"registry.{name}"):
                out[name] = QUERIES[name].fn(spark, self.corpus).toPandas()
        return out

    def check(self, i, result):
        bad = []
        for name, df in result.items():
            (rows, cols), (exp_rows, exp_cols) = oracle.normalized_rows(df), self.expected[name]
            if cols != exp_cols:
                bad.append(f"{name}: columns {cols} != {exp_cols}")
            elif rows != exp_rows:
                bad.append(f"{name}: {len(rows)} rows differ from the oracle's {len(exp_rows)}")
            elif not rows:
                bad.append(f"{name}: empty result certifies nothing")
        return bad


WORKLOADS = {"lifecycle": Lifecycle, "corpus_board": CorpusBoard}
