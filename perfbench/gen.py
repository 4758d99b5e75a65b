"""Seeded input generators for the benchmark.

Everything here is a pure function of its seed: the same seed gives
byte-identical landing files and catalog tables. The engine only ever
sees the files these functions write.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass, field
from pathlib import Path

HEADER = (
    "appt_id", "Appt_Date", "Appt_Provider", "Appt_StartTime", "Appt_Status",
    "Appt_Type", "national_provider_id", "location_id", "location_name",
    "Patient_Address_1", "cell_phone", "city", "email_address", "state", "zip",
    "Primary_Ins_Name", "Primary_Policy_Number", "date_of_birth", "first_name",
    "last_name", "med_rec_nbr", "Appointment_Deleted",
)

# EMR location names as they land, and the lookup rows keyed by the
# name REFINED leaves after stripping the " Clinic"/" CLINIC" suffix.
LOCATIONS = ("Alpha Clinic", "Beta Center", "Gamma CLINIC", "Delta Clinic", "Epsilon")
OFFICES = (("Alpha", "Office Alpha"), ("Gamma", "Office Gamma"), ("Delta", "Office Delta"))
STATUSES = ("Scheduled", "RESCHEDULED", "CANCELLED", "Completed")
FIRST = ("Ann", "Bob", "Cal", "Dee", "Eve", "Fay", "Gus", "Hal", "Ida", "Joe")
LAST = ("Smith", "Jones", "Brown", "Lee", "Diaz", "Khan", "Moss", "Ruiz")

# Malformed-file kinds, and whether precheck lets the file through (a
# BOM only warns).
MALFORMED = ("bom", "wrong_header", "ragged", "empty")
MALFORMED_ACCEPTED = {"bom": True, "wrong_header": False, "ragged": False, "empty": False}


def rng(seed: int, *tag) -> random.Random:
    """Independent stream per (seed, tag), stable across processes."""
    digest = hashlib.sha256(repr((seed, *tag)).encode()).digest()
    return random.Random(int.from_bytes(digest[:8], "big"))


@dataclass
class Landed:
    """What the generator put in a landing zone, i.e. the oracle for
    one pipeline run."""

    accepted: set[str] = field(default_factory=set)
    rejected: set[str] = field(default_factory=set)
    raw_rows: int = 0
    curated_rows: int = 0
    new_keys: int = 0
    update_keys: int = 0

    def add(self, other: "Landed") -> None:
        self.accepted |= other.accepted
        self.rejected |= other.rejected
        self.raw_rows += other.raw_rows
        self.curated_rows += other.curated_rows
        self.new_keys += other.new_keys
        self.update_keys += other.update_keys


def appointment_rows(r: random.Random, keys: list[str], tag: str,
                     live_share: float = 0.95) -> tuple[list[str], int]:
    """One CSV line per key; returns (lines, rows CURATED keeps).

    A row survives CURATED when it is not deleted and its appointment
    lies in the future; about ``1 - live_share`` of rows fail one of
    the two filters."""
    lines, live = [], 0
    for i, key in enumerate(keys):
        roll = r.random()
        deleted = "Y" if roll > live_share + (1 - live_share) / 2 else "N"
        past = live_share < roll <= live_share + (1 - live_share) / 2
        year = 2001 if past else 2099
        live += deleted == "N" and not past
        first, last = r.choice(FIRST), r.choice(LAST)
        lines.append(",".join((
            f"{{A-{tag}-{i}}}", f"{year}-{r.randint(1, 12):02d}-{r.randint(1, 28):02d}",
            "Dr. Who", f"{r.randint(7, 17):02d}:{r.choice((0, 15, 30, 45)):02d}",
            r.choice(STATUSES), "Checkup", str(1000 + r.randrange(9000)),
            f"{{L-{r.randrange(5)}}}", r.choice(LOCATIONS), f"{r.randint(1, 999)} Main St",
            f"555{r.randrange(10**7):07d}", "Springfield", f"{first.lower()}@example.org",
            "IL", f"{62700 + r.randrange(99)}", "Medicare", key,
            f"19{r.randint(30, 99)}-{r.randint(1, 12):02d}-{r.randint(1, 28):02d}",
            first, last, f"M{key}", deleted,
        )))
    return lines, live


def _csv(lines: list[str], header: tuple[str, ...] = HEADER) -> str:
    return ",".join(header) + "\n" + "\n".join(lines) + "\n"


def write_malformed(path: Path, kind: str, r: random.Random, key_prefix: str,
                    rows: int) -> tuple[int, int]:
    """Write one malformed file; returns (raw rows, curated rows) it
    contributes when precheck accepts it."""
    if kind == "empty":
        path.write_bytes(b"")
        return 0, 0
    lines, live = appointment_rows(r, [f"{key_prefix}{i}" for i in range(rows)], key_prefix)
    if kind == "bom":
        path.write_bytes(b"\xef\xbb\xbf" + _csv(lines).encode())
        return rows, live
    if kind == "wrong_header":
        header = tuple("mrn" if h == "med_rec_nbr" else h for h in HEADER)
        path.write_text(_csv(lines, header))
    elif kind == "ragged":
        path.write_text(_csv([ln.replace(",", ";", 3) for ln in lines]))
    else:
        raise ValueError(f"unknown malformed kind {kind!r}")
    return 0, 0


def landing_burst(directory: Path, seed: int, burst: int, rows: int,
                  kinds: tuple = (None, *MALFORMED)) -> Landed:
    """Small CSVs of ``rows`` rows each into ``directory``, one per
    entry of ``kinds``: None for a well-formed file, else a MALFORMED
    kind. All keys are fresh, so CURATED marks every surviving row NEW."""
    directory.mkdir(parents=True, exist_ok=True)
    out = Landed()
    for i, kind in enumerate(kinds):
        name = f"appt_b{burst:04d}_f{i:02d}.csv"
        r = rng(seed, "burst", burst, i)
        prefix = f"B{burst:04d}F{i:02d}K"
        if kind is None:
            lines, live = appointment_rows(r, [f"{prefix}{k}" for k in range(rows)], prefix)
            (directory / name).write_text(_csv(lines))
            raw = rows
            out.accepted.add(name)
        else:
            raw, live = write_malformed(directory / name, kind, r, prefix, rows)
            (out.accepted if MALFORMED_ACCEPTED[kind] else out.rejected).add(name)
        out.raw_rows += raw
        out.curated_rows += live
        out.new_keys += live
    return out


def history_keys(n: int) -> list[str]:
    return [f"H{k:08d}" for k in range(n)]


def backfill(directory: Path, seed: int, rows: int) -> Landed:
    """The history a practice has already loaded: one CSV of ``rows``
    distinct keys, every row live."""
    directory.mkdir(parents=True, exist_ok=True)
    lines, live = appointment_rows(rng(seed, "backfill", 0), history_keys(rows), "H0",
                                   live_share=1.0)
    name = "backfill_00.csv"
    (directory / name).write_text(_csv(lines))
    return Landed(accepted={name}, raw_rows=rows, curated_rows=live, new_keys=live)


def daily_file(directory: Path, seed: int, day: int, rows: int, history: int,
               known: set[str], returning: float = 0.9) -> Landed:
    """One day's file: about ``returning`` of its keys come back from
    history (UPDATE), the rest are new (NEW). Keys are distinct within
    the day, so the mirror merge sees one row per key. ``known`` holds
    the keys already curated and is extended in place."""
    directory.mkdir(parents=True, exist_ok=True)
    r = rng(seed, "day", day)
    n_back = int(rows * returning)
    keys = [f"H{k:08d}" for k in r.sample(range(history), n_back)]
    keys += [f"D{day:04d}N{k:06d}" for k in range(rows - n_back)]
    r.shuffle(keys)
    lines, _ = appointment_rows(r, keys, f"D{day}")
    name = f"appt_day{day:04d}.csv"
    (directory / name).write_text(_csv(lines))
    out = Landed(accepted={name}, raw_rows=rows)
    # CURATED classifies each surviving row against curated keys.
    for key, line in zip(keys, lines):
        fields = line.split(",")
        if fields[-1] == "N" and fields[1].startswith("2099"):
            out.curated_rows += 1
            if key in known:
                out.update_keys += 1
            else:
                out.new_keys += 1
                known.add(key)
    return out


# ----------------------------------------------------------- catalog data


WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")


def catalog_tables(directory: Path, seed: int, orders: int, docs: int) -> list[str]:
    """The tables the catalog mix reads, shaped like the engine's test
    data: ``orders`` orders with 1-7 lines each, and ``docs``
    documents of which one in twenty is a near-copy of an earlier one."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    directory.mkdir(parents=True, exist_ok=True)
    g = np.random.default_rng(int.from_bytes(hashlib.sha256(repr(("catalog", seed)).encode())
                                             .digest()[:8], "big"))
    day0 = np.datetime64("1995-01-01", "us")

    def date(days):
        return day0 + days.astype("timedelta64[D]").astype("timedelta64[us]")

    okeys = np.arange(orders, dtype=np.int64)
    lines_per = g.integers(1, 8, orders)
    tables = {
        "orders": {
            "o_orderkey": okeys,
            "o_custkey": g.integers(0, max(orders // 10, 1), orders),
            "o_orderstatus": g.choice(["F", "O", "P"], orders),
            "o_totalprice": np.round(g.uniform(1000, 500000, orders), 2),
            "o_orderdate": date(g.integers(0, 2400, orders)),
            "o_orderpriority": g.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], orders),
        },
    }
    n = int(lines_per.sum())
    tables["lineitem"] = {
        "l_orderkey": np.repeat(okeys, lines_per),
        "l_partkey": g.integers(0, 2000, n),
        "l_suppkey": g.integers(0, 100, n),
        "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in lines_per]).astype(np.int32),
        "l_quantity": g.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(g.uniform(900, 105000, n), 2),
        "l_discount": g.integers(0, 11, n) / 100.0,
        "l_tax": g.integers(0, 9, n) / 100.0,
        "l_returnflag": g.choice(["A", "N", "R"], n),
        "l_linestatus": g.choice(["F", "O"], n),
        "l_shipdate": date(g.integers(0, 2500, n)),
    }
    texts: list[str] = []
    for i in range(docs):
        if i >= 10 and i % 20 == 0:
            texts.append(texts[int(g.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(g.choice(WORDS, int(g.integers(10, 100)))))
    tables["documents"] = {
        "doc_id": np.arange(docs, dtype=np.int64),
        "text": texts,
        "lang": g.choice(LANGS, docs),
        "source": [f"src{i % 20}" for i in range(docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), directory / f"{name}.parquet")
    return sorted(tables)
