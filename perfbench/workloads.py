"""The workloads: daily_history and catalog_mix.

Each workload has a one-off ``setup`` (warm-up, history seeding), a
per-pass ``prepare`` that lands the pass's inputs, a timed ``run_pass``
that calls only public ``ulh_etl_spark`` functions, a ``check`` that
compares the pass's outputs with what the generator says they must
be, and a ``finish`` for checks that span passes. Timings exclude
preparation and checks.
"""

from __future__ import annotations

import functools
import json
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass
from pathlib import Path
from types import SimpleNamespace

from perfbench import gen

PRACTICE = "adcs"
RAW, REFINED, CURATED, MIRROR = "appt_raw", "appt_refined", "appt_curated", "entity_mirror"
SYNC_COLS = ("MBI", "PATIENTNAME", "APPOINTMENTTS", "OFFICE", "APPTSTATUS", "DOB")
QUERIES = (
    "q01_pricing_summary", "q05_self_join", "q34_dedup_exact", "q38_ngram_jaccard_pairs",
    "q167_bucketed_join",
)


@dataclass(frozen=True)
class Sizes:
    burst_rows: int = 300
    history_rows: int = 20_000
    day_rows: int = 4_000
    orders: int = 1500
    docs: int = 300


FULL = Sizes()
TINY = Sizes(burst_rows=20, history_rows=2_000, day_rows=200, orders=150, docs=60)


class LocalEntityStore:
    """In-process stand-in for the entity store's ``$batch`` endpoint
    (no network): every operation in a batch succeeds."""

    def __call__(self, method, url, headers=None, json_body=None, data=None):
        n = sum(1 for line in (data or "").splitlines() if line.strip())
        return SimpleNamespace(status=200, body="\n".join(['{"status": 204}'] * n))


class Workload:
    name = ""

    def __init__(self, spark, work: Path, seed: int, sizes: Sizes = FULL):
        self.spark, self.work, self.seed, self.sizes = spark, work, seed, sizes
        self.tracer = None
        self.latencies: list[float] = []  # one per batch, see batch_p50_s
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.phases: dict[str, float] = {}  # set-up steps, logged to stderr

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def expect(self, ok: bool, what: str) -> bool:
        if not ok:
            self.problems.append(what)
        return ok

    def setup(self) -> None:
        pass

    def prepare(self, i: int):
        raise NotImplementedError

    def run_pass(self, i: int, prep) -> tuple[float, object]:
        """Run pass ``i``; return (its main call's wall seconds, outputs)."""
        raise NotImplementedError

    def check(self, i: int, prep, out) -> None:
        raise NotImplementedError

    def run_wall(self, walls: list[float]) -> float:
        """run_wall_s from the timed passes' main-call walls."""
        return statistics.median(walls)

    def finish(self) -> None:
        pass


# ------------------------------------------------------------- pipeline


class DailyHistory(Workload):
    """Zones and entity mirror seeded with a history; each pass is one
    day: one large file of mostly returning keys and one small
    malformed file (its kind cycles over the days) go through
    run_practice(archive=True), then the day's curated rows are synced
    to the entity store. All tables live in a fresh Spark database."""

    name = "daily_history"
    days = 0

    def setup(self) -> None:
        """Backfill the history through run_practice and merge it into
        the mirror, then run one whole untimed day. The backfill finds no curated table
        and no mirror, so it takes the create-table branches; the warm
        day lands a well-formed small file and one of each malformed
        kind besides its large file, so it runs the curated UPDATE
        join, the mirror merge, every precheck outcome and both
        archive targets before the first timed day."""
        from ulh_etl_spark.sinks.tables import write_table

        t0 = time.perf_counter()
        s = self.sizes
        # unqualified names (zone tables, watermark, audit logs, lookup)
        # resolve in this database
        self.spark.sql("CREATE DATABASE pb_hist")
        self.spark.catalog.setCurrentDatabase("pb_hist")
        write_table(self.spark.createDataFrame(list(gen.OFFICES),
                                               "emr_location string, assigned_office string"),
                    "office_mappings", mode="overwrite")
        self.landing = self.work / "landing"
        landed = gen.backfill(self.landing, self.seed, s.history_rows)
        rpt = self.run_practice()
        # The entity store holds the history already: it only seeds the
        # mirror, and the warm day is the first to use the $batch endpoint.
        sent, merged = self.sync(rpt.parent_run_id, send=False)
        self.check_day(rpt, sent, merged, landed)
        self.known = set(gen.history_keys(s.history_rows))
        self.totals = landed
        self.runs = 1
        self.phases["seed_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        prep = self.land_day((None, *gen.MALFORMED))
        _, out = self.run_pass(-1, prep)
        self.check(-1, prep, out)
        self.latencies.clear()
        self.phases["warm_day_s"] = time.perf_counter() - t0

    def land_day(self, kinds: tuple):
        """Land the next day's large file and one small file per entry
        of ``kinds`` (see gen.landing_burst)."""
        s = self.sizes
        self.days += 1
        landed = gen.landing_burst(self.landing, self.seed, self.days, s.burst_rows, kinds)
        landed.add(gen.daily_file(self.landing, self.seed, self.days, s.day_rows,
                                  s.history_rows, self.known))
        return landed

    def prepare(self, i: int):
        return self.land_day((gen.MALFORMED[i % len(gen.MALFORMED)],))

    def run_pass(self, i: int, prep):
        t0 = time.perf_counter()
        rpt = self.run_practice()
        wall = time.perf_counter() - t0
        sent, merged = self.sync(rpt.parent_run_id)
        self.latencies.append(time.perf_counter() - t0)
        return wall, (rpt, sent, merged)

    def run_practice(self):
        from ulh_etl_spark import pipeline
        from ulh_etl_spark.config import load_config

        raw = json.loads((Path(__file__).parent / "practice.json").read_text())
        raw["Practices"][0]["ingest"][0]["source"]["directory"] = str(self.landing)
        reports = pipeline.run_practice(self.spark, load_config(raw), PRACTICE, archive=True)
        self.expect(len(reports) == 1 and reports[0].status == "SUCCESS",
                    f"run failed: {[r.error for r in reports]}")
        return reports[0]

    def sync(self, run_id: str, send: bool = True):
        """Send the run's curated rows to the entity store (unless
        ``send`` is false), then merge them into the mirror by
        alternate key."""
        from pyspark.sql import functions as F
        from ulh_etl_spark.sinks import entity

        rows = (self.spark.table(CURATED).filter(F.col("RUN_ID") == run_id)
                .select(*SYNC_COLS))
        sent = None
        if send:
            ops = entity.classify_create_update(rows, self.spark.table(MIRROR), ["MBI"],
                                                guid_col="guid")
            sent = entity.batch_upsert_http(ops, "local://entity/$batch", "cr063_appointments",
                                            ["MBI"], transport_factory=LocalEntityStore,
                                            batch_size=500)
        merged = entity.entity_mirror_merge(self.spark, MIRROR,
                                            rows.withColumn("guid", F.md5("MBI")), ["MBI"])
        return sent, merged

    def check_day(self, rpt, sent, merged, landed: gen.Landed) -> bool:
        """Routing, row counts, NEW/UPDATE split, archive moves and
        entity sync of one run."""
        ok = self.expect(set(rpt.files_loaded) == landed.accepted, "accepted files")
        ok &= self.expect(set(rpt.files_rejected) == landed.rejected, "rejected files")
        ok &= self.expect((rpt.rows_raw, rpt.rows_refined, rpt.rows_curated)
                          == (landed.raw_rows, landed.raw_rows, landed.curated_rows),
                          f"run rows {rpt.rows_raw}/{rpt.rows_refined}/{rpt.rows_curated}")
        split = {k: v for k, v in (("NEW", landed.new_keys), ("UPDATE", landed.update_keys)) if v}
        ok &= self.expect(rpt.record_type_distribution == split,
                          f"NEW/UPDATE split {rpt.record_type_distribution} != {split}")
        suffix = f"_{rpt.parent_run_id}"

        def moved(sub):
            return {p.name.replace(suffix, "") for p in (self.landing / sub).glob(f"*{suffix}*")}

        ok &= self.expect(moved("archive") == landed.accepted, "archived files")
        ok &= self.expect(moved("error") == landed.rejected, "error files")
        ok &= self.expect(not any(p.is_file() for p in self.landing.iterdir()),
                          "landing not drained")
        if sent is not None:
            ok &= self.expect((sent.succeeded, sent.failed) == (landed.curated_rows, 0),
                              f"sync {sent}")
        return ok & self.expect((merged.get("updated", 0), merged.get("inserted"))
                                == (landed.update_keys, landed.new_keys),
                                f"mirror merge {merged}")

    def check(self, i: int, prep, out) -> None:
        """One operation per landed file: a file counts as verified
        when its whole day checks out."""
        n = len(prep.accepted) + len(prep.rejected)
        self.attempted += n
        self.totals.add(prep)
        self.runs += 1
        if not self.check_day(*out, prep):
            self.failed += n

    def finish(self) -> None:
        """Whole-history exactly-once check after the last day: zone
        and mirror row counts, and run ids in the watermark. A mismatch
        fails every file."""
        t = self.totals
        got = self.spark.sql(f"""
            SELECT (SELECT count(*) FROM {RAW}), (SELECT count(*) FROM {REFINED}),
                   (SELECT count(*) FROM {CURATED}), (SELECT count(*) FROM {MIRROR}),
                   (SELECT count(DISTINCT run_id) FROM _processed_runs
                    WHERE stage = 'REFINED:{RAW}'),
                   (SELECT count(DISTINCT run_id) FROM _processed_runs
                    WHERE stage = 'CURATED:{REFINED}')""").first()
        want = (t.raw_rows, t.raw_rows, t.curated_rows, t.new_keys, self.runs, self.runs)
        if not self.expect(tuple(got) == want, f"history {tuple(got)} != {want}"):
            self.failed = self.attempted


# --------------------------------------------------------------- catalog


class CatalogMix(Workload):
    """A fixed sequence of catalog queries over seeded star-schema
    tables, each forced through a noop sink, with the tracked persists
    and the cache released after each query. Every pass's rows are
    compared with the queries' DuckDB oracles."""

    name = "catalog_mix"
    WARM_PASSES = 3

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.query_s: list[float] = []  # every timed query, in run order

    def setup(self) -> None:
        from ulh_etl_spark.queries import all_queries

        s = self.sizes
        t0 = time.perf_counter()
        self.sf_dir = self.work / "catalog"
        gen.catalog_tables(self.sf_dir, self.seed, s.orders, s.docs)
        catalog = all_queries()
        self.queries = {q: catalog[q] for q in QUERIES}
        self.want = self.oracle_rows()
        self.phases["generate_s"] = time.perf_counter() - t0
        # Warm the mix itself with untimed, checked passes. Pass times
        # fall over the first three passes and then repeat.
        t0 = time.perf_counter()
        for i in range(-self.WARM_PASSES, 0):
            _, out = self.run_pass(i, None)
            self.check(i, None, out)
        self.latencies.clear()
        self.query_s.clear()
        self.phases["warm_s"] = time.perf_counter() - t0

    def oracle_rows(self) -> dict:
        """Per query: its DuckDB oracle's column names and rows, in
        the oracle tool's normal form."""
        import duckdb

        from ulh_etl_spark.queries import all_oracles

        norm = _oracle_norm()
        oracles = all_oracles()
        con = duckdb.connect()
        con.execute(f"SET temp_directory = '{self.work / 'duckdb'}'")
        for t in sorted(p.stem for p in self.sf_dir.glob("*.parquet")):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')")
        want = {}
        for q in QUERIES:
            df = con.execute(oracles[q]).fetchdf()
            want[q] = (sorted(map(str.lower, df.columns)), norm(df))
        con.close()
        return want

    def query(self, name: str):
        return self.queries[name](self.spark, str(self.sf_dir))

    def release(self) -> None:
        from ulh_etl_spark import cache

        with self.span("cache.release_persisted") as sp:
            n = cache.release_persisted()
            if sp is not None:
                sp.counters["blocks"] = n
        self.spark.catalog.clearCache()

    def prepare(self, i: int):
        return None

    def run_pass(self, i: int, prep):
        """Each query once. Between its noop write and the release,
        and outside the timed span, the same DataFrame is collected for
        ``check``."""
        wall, rows = 0.0, {}
        for q in QUERIES:
            t0 = time.perf_counter()
            with self.span(f"queries.{q}"):
                df = self.query(q)
                df.write.format("noop").mode("overwrite").save()
            took = time.perf_counter() - t0
            with self.span("check"):
                rows[q] = df.toPandas()
            t0 = time.perf_counter()
            self.release()
            wall += took + time.perf_counter() - t0
            self.query_s.append(took)
        self.latencies.append(wall)
        return wall, rows

    def check(self, i: int, prep, out) -> None:
        """One operation per query execution: its rows against its
        oracle's, with the oracle tool's normalisation."""
        norm = _oracle_norm()
        for q, got in out.items():
            cols, rows = self.want[q]
            self.attempted += 1
            if not self.expect(sorted(map(str.lower, got.columns)) == cols
                               and norm(got) == rows, f"pass {i}: {q} differs from its oracle"):
                self.failed += 1

    def run_wall(self, walls: list[float]) -> float:
        """A typical pass: the sum of each query's median time."""
        n = len(QUERIES)
        return sum(statistics.median(self.query_s[k::n]) for k in range(n))


@functools.cache
def _oracle_norm():
    """``_norm_rows`` from tools/check_oracle.py, loaded by path."""
    import importlib.util

    path = Path(__file__).resolve().parent.parent / "tools" / "check_oracle.py"
    spec = importlib.util.spec_from_file_location("_check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._norm_rows


WORKLOADS = {w.name: w for w in (DailyHistory, CatalogMix)}
