"""Seeded input generators for the benchmark workloads. Pure numpy and
pyarrow: no Spark.

``generate`` writes the IRMQ (evidence-image) and IRSession exports:
one parquet file per (country, simulated day, export type), shaped as
in FIXTURES.md sections 1-2: lowercase UUID keys, about 5% duplicate
primary keys (copies within the file and from earlier files), about 10%
empty image URLs, single and comma-joined image names, NULL timestamps,
'True'/'False' flags next to '0'/'1', junk columns in some files and a
nullable column left out of others. Over-length varchar values are left
out: the sink rejects them by design. Each file gets the modification
time of its simulated day, so the 15-day mtime window of the daily load
prunes it. The generator also returns what a correct load must produce
from the files (the distinct keys that pass the empty-URL filter, and
each session's status), which the output checks compare against.

``generate_star`` writes the TPC-H-shaped star schema the registry
queries read (region, nation, customer, supplier, part, orders,
lineitem), with the column names, types and value domains of the
engine's test tables and every foreign key resolving.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

COUNTRIES = ("ken", "bwa", "eth", "tza", "moz", "uga", "zam", "nam", "gha", "cbl")
BASE_DAY = dt.date(2024, 3, 1)
KINDS = ("IRMQ", "IRSession")

_TS = pa.timestamp("us", tz="UTC")
IRMQ_FIELDS = [
    ("SessionUID", pa.string()),
    ("SceneUID", pa.string()),
    ("SceneType", pa.string()),
    ("SubSceneType", pa.string()),
    ("EvidenceImageURL", pa.string()),
    ("EvidenceImageName", pa.string()),
    ("CreatedOnTime", _TS),
    ("ReExportStatus", pa.string()),
    ("ReExportTime", _TS),
    ("ReProcessedStatus", pa.string()),
    ("ReProcessedTime", _TS),
]
SESSION_FIELDS = [
    ("Sessionuid", pa.string()),
    ("sessionstartdatetime", _TS),
    ("sessionenddatetime", _TS),
    ("programid", pa.int32()),
    ("programname", pa.string()),
    ("programitemid", pa.int32()),
    ("programitemname", pa.string()),
    ("clientcode", pa.string()),
    ("subclientcode", pa.string()),
    ("outletcode", pa.string()),
    ("outletname", pa.string()),
    ("countrycode", pa.string()),
    ("userid", pa.string()),
    ("userprofile", pa.string()),
    ("sessionstatus", pa.string()),
    ("latitude", pa.float64()),
    ("longitude", pa.float64()),
    ("cancelcallnote", pa.string()),
    ("cancelcallreason", pa.string()),
    ("cancelevidenceimageurl", pa.string()),
    ("cancelevidenceimagename", pa.string()),
    ("sessionendlatitude", pa.float64()),
    ("sessionendlongitude", pa.float64()),
]
IRMQ_SCHEMA = pa.schema(IRMQ_FIELDS)
SESSION_SCHEMA = pa.schema(SESSION_FIELDS)
# Spark DDL of the raw IRMQ export, for the file stream (a stream needs
# its schema up front; junk columns are simply not read).
IRMQ_STREAM_SCHEMA = ", ".join(
    f"{name} {'timestamp' if pa.types.is_timestamp(typ) else 'string'}" for name, typ in IRMQ_FIELDS
)

_SCENE_TYPES = np.array(["Shelf", "Cooler", "Display", "Promo", "Backroom"], dtype=object)
_SUB_TYPES = np.array(["Front", "Side", "Top", "Detail"], dtype=object)
_FLAGS = np.array(["True", "False", "True", "False", "1", "0"], dtype=object)
_STATUSES = np.array(["Complete"] * 7 + ["Cancelled", "Cancelled", "InProgress"], dtype=object)
_DUP_SHARE = 0.05
_EMPTY_URL_SHARE = 0.10
_NULL_TS_SHARE = 0.05


@dataclass
class ExportFile:
    """One generated export file and what a correct load takes from it."""

    kind: str
    country: str
    day: int
    name: str  # path relative to the generation root
    rows: int
    bytes: int
    mtime: float
    kept_rows: int  # rows that pass the empty-URL filter
    # keys a correct load keeps from this file, as key strings (see
    # key_strings); for sessions, also those whose status is 'Complete'
    keys: pa.Array
    complete: pa.Array | None = None


def key_strings(columns: list) -> pa.Array:
    """One string per row for a (possibly composite) key: the key's
    columns joined by '|' (UUIDs never contain it)."""
    joined = columns[0] if len(columns) == 1 else pc.binary_join_element_wise(*columns, "|")
    return joined.combine_chunks() if isinstance(joined, pa.ChunkedArray) else joined


@dataclass
class Exports:
    root: str
    days: int
    files: list[ExportFile] = field(default_factory=list)

    def _through(self, kind: str, day: int, attr: str) -> pa.Array:
        arrays = [getattr(f, attr) for f in self.files if f.kind == kind and f.day <= day]
        return pc.unique(pa.concat_arrays(arrays)) if arrays else pa.array([], pa.string())

    def keys_through(self, kind: str, day: int) -> pa.Array:
        """Distinct keys a correct load holds after loading days 0..day."""
        return self._through(kind, day, "keys")

    def report_keys(self, day: int) -> pa.Array:
        """sessionuid|sceneuid of the image_urls report after day: the
        evidence images of the sessions loaded with status 'Complete'."""
        ev = self.keys_through("IRMQ", day)
        session = pc.utf8_slice_codeunits(ev, 0, 36)
        return ev.filter(pc.is_in(session, value_set=self._through("IRSession", day, "complete")))


def day_date(day: int) -> dt.date:
    return BASE_DAY + dt.timedelta(days=day)


def day_mtime(day: int, country_idx: int) -> float:
    """Landing time of a file: 02:00 UTC on its day, staggered per country."""
    t = dt.datetime.combine(day_date(day), dt.time(2, country_idx), dt.timezone.utc)
    return t.timestamp()


def relpath(kind: str, country: str, day: int) -> str:
    """The reference's blob layout: <container>/V2/Data/<type>/YYYY/MM/DD/."""
    d = day_date(day)
    return f"{country}/V2/Data/{kind}/{d:%Y/%m/%d}/{kind.lower()}-{country}-{d:%Y%m%d}.parquet"


_HEX = np.frombuffer(b"0123456789abcdef", dtype=np.uint8)
_UUID_DIGITS = [i for i in range(36) if i not in (8, 13, 18, 23)]


def _uuids(rng: np.random.Generator, n: int) -> pa.Array:
    """Lowercase hyphenated version-4 UUID strings."""
    raw = rng.integers(0, 256, size=(n, 16), dtype=np.uint8)
    raw[:, 6] = (raw[:, 6] & 0x0F) | 0x40  # version 4
    raw[:, 8] = (raw[:, 8] & 0x3F) | 0x80  # RFC 4122 variant
    nibbles = np.stack([raw >> 4, raw & 0x0F], axis=2).reshape(n, 32)
    text = np.full((n, 36), ord("-"), dtype=np.uint8)
    text[:, _UUID_DIGITS] = _HEX[nibbles]
    fixed = pa.FixedSizeBinaryArray.from_buffers(pa.binary(36), n, [None, pa.py_buffer(text.tobytes())])
    return fixed.cast(pa.binary()).cast(pa.string())


def _timestamps(rng, day: int, n: int, null_share: float = 0.0, lo_h=6.0, hi_h=23.9) -> pa.Array:
    """Millisecond-rounded instants on ``day`` between ``lo_h`` and
    ``hi_h`` o'clock UTC, about ``null_share`` of them NULL."""
    start_us = int(dt.datetime.combine(day_date(day), dt.time(), dt.timezone.utc).timestamp()) * 10**6
    ms = np.round(rng.uniform(lo_h * 3600, hi_h * 3600, size=n) * 1000).astype(np.int64)
    mask = rng.random(n) < null_share if null_share else None
    return pa.array(start_us + ms * 1000, type=_TS, mask=mask)


def _pick(rng, values: np.ndarray, n: int) -> pa.Array:
    return pa.array(values[rng.integers(0, len(values), size=n)], pa.string())


def _dup_index(rng, n: int, n_hist: int) -> np.ndarray:
    """Row index into history + fresh rows: about 5% of the fresh rows
    become exact copies, half of an earlier row of this file, half of a
    row of an earlier file of the same country."""
    idx = np.arange(n_hist, n_hist + n)
    n_dup = max(1, int(round(n * _DUP_SHARE)))
    for i in rng.choice(n, size=n_dup, replace=False):
        if n_hist and rng.random() < 0.5:
            idx[i] = rng.integers(0, n_hist)
        else:
            idx[i] = n_hist + rng.integers(0, max(1, int(i)))
    return idx


def _session_table(rng, country: str, day: int, n: int) -> pa.Table:
    ids = _uuids(rng, n)
    # a few sessions start late and run past midnight
    start = _timestamps(rng, day, n)
    length_us = np.round(rng.uniform(300, 5400, size=n) * 1000).astype(np.int64) * 1000
    end = pa.array(start.cast(pa.int64()).to_numpy() + length_us, type=_TS)
    status = _STATUSES[rng.integers(0, len(_STATUSES), size=n)]
    cancelled = status == "Cancelled"
    prog = rng.integers(1, 40, size=n)
    item = rng.integers(1, 400, size=n)
    outlet = rng.integers(1, 5000, size=n)
    user = rng.integers(1, 300, size=n)
    lat = np.round(rng.uniform(-30, 10, size=n), 6)
    lon = np.round(rng.uniform(15, 45, size=n), 6)

    def when_cancelled(values: list) -> pa.Array:
        return pa.array([v if c else None for v, c in zip(values, cancelled)], pa.string())

    cols = {
        "Sessionuid": ids,
        "sessionstartdatetime": start,
        "sessionenddatetime": end,
        "programid": pa.array(prog, pa.int32()),
        "programname": pa.array([f"Program {p}" for p in prog], pa.string()),
        "programitemid": pa.array(item, pa.int32()),
        "programitemname": pa.array([f"Item {i}" for i in item], pa.string()),
        "clientcode": pa.array([f"CL{p % 7}" for p in prog], pa.string()),
        "subclientcode": pa.array([f"SC{p % 3}" for p in prog], pa.string()),
        "outletcode": pa.array([f"{country.upper()}-{o:05d}" for o in outlet], pa.string()),
        "outletname": pa.array([f"Outlet {o}" for o in outlet], pa.string()),
        "countrycode": pa.array([country] * n, pa.string()),
        "userid": pa.array([f"user{u:04d}" for u in user], pa.string()),
        "userprofile": pa.array(["merchandiser"] * n, pa.string()),
        "sessionstatus": pa.array(status, pa.string()),
        "latitude": pa.array(lat, pa.float64()),
        "longitude": pa.array(lon, pa.float64()),
        "cancelcallnote": when_cancelled(["Outlet closed"] * n),
        "cancelcallreason": when_cancelled(["closed"] * n),
        "cancelevidenceimageurl": when_cancelled([f"https://img.example/{country}/cancel/"] * n),
        "cancelevidenceimagename": pa.array(
            pc.if_else(pa.array(cancelled), pc.binary_join_element_wise(
                "cancel-", pc.utf8_slice_codeunits(ids, 0, 8), ".jpg", ""), None), pa.string()),
        "sessionendlatitude": pa.array(np.round(lat + 0.001, 6), pa.float64()),
        "sessionendlongitude": pa.array(np.round(lon + 0.001, 6), pa.float64()),
    }
    return pa.table(cols, schema=SESSION_SCHEMA)


def _irmq_table(rng, country: str, day: int, sessions: pa.Array, n: int) -> pa.Table:
    scenes = _uuids(rng, n)
    base = f"https://img.example/{country}/{day_date(day):%Y%m%d}"
    empty = rng.random(n) < _EMPTY_URL_SHARE
    urls = np.where(empty, "", np.where(np.arange(n) % 2 == 1, base + "/", base + "/v2/"))
    # one to three image names per scene, comma-joined
    stem = pc.utf8_slice_codeunits(scenes, 0, 8)
    one = pc.binary_join_element_wise(stem, "-0.jpg", "")
    two = pc.binary_join_element_wise(one, ",", stem, "-1.jpg", "")
    three = pc.binary_join_element_wise(two, ",", stem, "-2.jpg", "")
    k = rng.integers(1, 4, size=n)
    names = pc.if_else(pa.array(k == 1), one, pc.if_else(pa.array(k == 2), two, three))
    cols = {
        "SessionUID": sessions.take(pa.array(rng.integers(0, len(sessions), size=n))),
        "SceneUID": scenes,
        "SceneType": _pick(rng, _SCENE_TYPES, n),
        "SubSceneType": _pick(rng, _SUB_TYPES, n),
        "EvidenceImageURL": pa.array(urls, pa.string()),
        "EvidenceImageName": names,
        "CreatedOnTime": _timestamps(rng, day, n, _NULL_TS_SHARE),
        "ReExportStatus": _pick(rng, _FLAGS, n),
        "ReExportTime": _timestamps(rng, day, n, 0.5),
        "ReProcessedStatus": _pick(rng, _FLAGS, n),
        "ReProcessedTime": _timestamps(rng, day, n, 0.5),
    }
    return pa.table(cols, schema=IRMQ_SCHEMA)


def _file_shape(rng, table: pa.Table, optional: str, drop_ok: bool) -> pa.Table:
    """The per-file schema drift of the exports: odd-numbered countries
    sometimes leave a nullable column out (the union must null-fill it
    from the others), and some files carry columns outside the
    keep-lists."""
    if drop_ok and rng.random() < 0.3:
        table = table.drop_columns([optional])
    n = table.num_rows
    if rng.random() < 0.5:
        table = table.append_column(
            "_extra_junk_col", pa.array([f"junk{i % 13}" for i in range(n)], pa.string())
        )
    if rng.random() < 0.3:
        table = table.append_column("ExportBatchRow", pa.array(np.arange(n), pa.int64()))
    return table


def generate(root: str, seed: int, days: int, scenes_per_file: int, sessions_per_file: int) -> Exports:
    """Write days x countries x {IRMQ, IRSession} files under ``root``.

    Deterministic: the same arguments give byte-identical files. Each
    country draws from its own stream, seeded by (seed, country)."""
    out = Exports(root=root, days=days)
    for ci, country in enumerate(COUNTRIES):
        rng = np.random.default_rng([seed, ci])
        hist = {kind: [] for kind in KINDS}  # earlier files' rows, full schema
        for day in range(days):
            n_hist = sum(t.num_rows for t in hist["IRSession"])
            fresh = _session_table(rng, country, day, sessions_per_file)
            ses = pa.concat_tables(hist["IRSession"] + [fresh]).take(
                _dup_index(rng, sessions_per_file, n_hist)
            )
            n_hist = sum(t.num_rows for t in hist["IRMQ"])
            fresh = _irmq_table(rng, country, day, ses.column("Sessionuid").combine_chunks(), scenes_per_file)
            irmq = pa.concat_tables(hist["IRMQ"] + [fresh]).take(_dup_index(rng, scenes_per_file, n_hist))
            sid = ses.column("Sessionuid").combine_chunks()
            complete = sid.filter(pc.equal(ses.column("sessionstatus").combine_chunks(), "Complete"))
            kept = irmq.filter(pc.not_equal(irmq.column("EvidenceImageURL"), "")).combine_chunks()
            ev_keys = key_strings([kept.column("SessionUID"), kept.column("SceneUID")])
            mtime = day_mtime(day, ci)
            for kind, table, keys, optional in (
                ("IRSession", ses, sid, "cancelcallreason"),
                ("IRMQ", irmq, ev_keys, "ReProcessedTime"),
            ):
                name = relpath(kind, country, day)
                path = os.path.join(root, name)
                os.makedirs(os.path.dirname(path), exist_ok=True)
                pq.write_table(_file_shape(rng, table, optional, ci % 2 == 1), path)
                os.utime(path, (mtime, mtime))
                out.files.append(
                    ExportFile(
                        kind, country, day, name, table.num_rows, os.path.getsize(path), mtime,
                        len(keys), keys, complete if kind == "IRSession" else None,
                    )
                )
                hist[kind].append(table)
    return out


# --- star schema for the registry queries -------------------------------------

STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], dtype=object)
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object)
_PART_TYPES = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], dtype=object)
_ADJ = ("red", "blue", "small", "large", "hot", "cold", "old", "new")
_NOUN = ("plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil")
_DAY_US = 86_400 * 10**6


def _days_between(rng, lo: dt.date, hi: dt.date, n: int) -> pa.Array:
    """Midnight timestamps (no time zone) uniformly between two dates."""
    epoch = dt.date(1970, 1, 1)
    d = rng.integers((lo - epoch).days, (hi - epoch).days + 1, size=n)
    return pa.array(d.astype(np.int64) * _DAY_US, type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> pa.Array:
    return pa.array(np.round(rng.uniform(lo, hi, size=n), 2), pa.float64())


def generate_star(root: str, seed: int, orders: int) -> dict[str, int]:
    """Write the star schema under ``root`` as ``<table>.parquet`` files,
    sized by the ``orders`` row count in the test tables' ratios
    (customer 1/10, part 2/15, supplier 1/150, lineitem 4x). Returns the
    row count of each table. Deterministic per (seed, orders)."""
    rng = np.random.default_rng([seed, 1_000_003])
    n_cust, n_part, n_supp, n_li = orders // 10, orders * 2 // 15, max(5, orders // 150), orders * 4
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, size=n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj, noun = rng.integers(0, len(_ADJ), size=n_part), rng.integers(0, len(_NOUN), size=n_part)
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, size=n_part)],
        "p_type": _pick(rng, _PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, size=n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2), pa.float64()),
    })
    orders_t = pa.table({
        "o_orderkey": pa.array(np.arange(orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, size=orders), pa.int64()),
        "o_orderstatus": _pick(rng, np.array(["O", "F", "P"], dtype=object), orders),
        "o_totalprice": _money(rng, 1000, 500_000, orders),
        "o_orderdate": _days_between(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), orders),
        "o_orderpriority": _pick(rng, _PRIORITIES, orders),
    })
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, orders, size=n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, size=n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, size=n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, size=n_li), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, size=n_li).astype(np.float64), pa.float64()),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": pa.array(rng.integers(0, 11, size=n_li) / 100, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, size=n_li) / 100, pa.float64()),
        "l_returnflag": _pick(rng, np.array(["A", "N", "R"], dtype=object), n_li),
        "l_linestatus": _pick(rng, np.array(["O", "F"], dtype=object), n_li),
        "l_shipdate": _days_between(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_li),
    })
    tables = dict(zip(STAR_TABLES, (region, nation, customer, supplier, part, orders_t, lineitem)))
    os.makedirs(root, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
