"""The benchmark workloads, written against the engine's public API.

A workload is a set-up (untimed warm-up ops), a few untimed check ops,
then rounds of timed ops, then a final check of its outputs:

- ``analytics_sweep``: one op builds one registry query by calling its
  registry function and materializes it with a ``noop`` write; a round
  is one pass over ``SWEEP_QUERIES``. The inputs are a generated star
  schema. Each op's result is compared against the query's DuckDB
  oracle, the comparison ``tools/parity.py`` makes.
- ``daily_lookback_load``: the reference's daily job; one op is one
  simulated day. It scans the 10 country-tagged sources of both export
  types through the 15-day mtime window, shapes the rows, conflict-skip
  appends each target, then joins the targets into the ``image_urls``
  report and merges it into the reporting table. Set-up loads the first
  day's whole window into empty targets, so every timed op is a steady
  day that re-reads 15 loaded days and lands one new one.
- ``stream_ingest``: one op lands a day's IRMQ files in a stream source
  directory and one ``upsert_stream_available_now`` call ingests them
  through the same transform and conflict-skip sink. Set-up ingests
  days 0, 1 and 2. The exports of a seed are the same files in both
  workloads, so after any day the stream holds the evidence-images keys
  the daily load holds after that day.

Landing files and checking outputs happen outside op timing. Calls into
the engine go through ``tracer.span`` so a traced round can attribute
time and Spark jobs to layers; an untraced round uses ``NULL``.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import sys
from dataclasses import dataclass
from typing import Any, Callable

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq

from evidence_images_etl_airflow_spark import schemas
from evidence_images_etl_airflow_spark.plans import (
    image_urls,
    transform_evidence_images,
    transform_sessions,
)
from evidence_images_etl_airflow_spark.sinks import writers
from evidence_images_etl_airflow_spark.sources import SourceConfig, date_window, scan_sources
from evidence_images_etl_airflow_spark.streaming.file_stream import upsert_stream_available_now

import gen

EV_KEYS = schemas.EVIDENCE_IMAGES_PK
SESSION_KEYS = ["sessionuid"]
REPORT_KEYS = ["sessionuid", "sceneuid"]
LOOKBACK_DAYS = 15
# Rows per export file; a day of 10 countries lands about 17,000 new
# evidence-image keys.
SCENES_PER_FILE = 2000
SESSIONS_PER_FILE = 400
# Headline registry queries the sweep runs: pagerank, whose build step
# runs jobs (its power iterations, each checkpointed), so the registry,
# operator and caching layers all do measurable work. One query keeps
# the sweep's set-up, which runs every query once cold, within the run
# time budget.
SWEEP_QUERIES = ("graph_pagerank_bipartite",)
SWEEP_ORDERS = 20_000  # between the sf0.01 and sf0.1 test tables


class NullTracer:
    """Tracing off: every hook is a no-op."""

    enabled = False

    def span(self, name: str):
        return contextlib.nullcontext()

    def add(self, name: str, value: float) -> None:
        pass

    def peak(self, name: str, value: float) -> None:
        pass

    def begin_op(self) -> None:
        pass

    def end_op(self) -> None:
        pass


NULL = NullTracer()


@dataclass
class Op:
    """One unit of timed work: ``run`` is timed; ``prepare`` (before it)
    and ``check`` (after it) are not, and ``check`` returns None when the
    output is right, else what is wrong."""

    name: str
    run: Callable[[], Any]
    check: Callable[[Any], str | None]
    prepare: Callable[[], Any] = lambda: None


def parquet_files(path: str) -> list[str]:
    out = []
    for d, _, names in os.walk(path):
        out.extend(os.path.join(d, n) for n in names if n.endswith(".parquet"))
    return out


def disk_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in parquet_files(path))


def key_error(path: str, keys: list[str], want: pa.Array, what: str) -> str | None:
    """None if the parquet target holds exactly the key strings ``want``
    (see gen.key_strings), each once. Read with pyarrow: no Spark jobs."""
    got = pa.array([], pa.string())
    if os.path.isdir(path):
        t = pads.dataset(path, format="parquet").to_table(columns=keys)
        got = gen.key_strings([t.column(k) for k in keys])
    distinct = pc.unique(got)
    if len(got) != len(distinct):
        return f"{what} holds {len(got) - len(distinct)} duplicate keys"
    extra = len(distinct) - (pc.sum(pc.is_in(distinct, value_set=want)).as_py() or 0)
    missing = len(want) - (pc.sum(pc.is_in(want, value_set=distinct)).as_py() or 0)
    if extra or missing:
        return f"{what} key set differs from the expected one: {extra} extra, {missing} missing"
    return None


class Workload:
    """Base of the workloads. ``op_seconds`` is the cost of one round as
    measured on a 4-vCPU VM, which sizes a run to ``--seconds``."""

    op_seconds = 1.0
    min_rounds = 2
    stop_on_error = True  # later ops would run on a broken state

    def __init__(self, work: str, seed: int, rounds: int) -> None:
        """Generates the inputs for set-up and ``rounds`` rounds; the
        caller sets ``spark`` before the first op."""
        self.spark = None
        self.work = work
        self.tracer = NULL

    def warm_up_ops(self) -> list[Op]:
        """Set-up work, timed into ``setup_s``."""
        return []

    def check_ops(self, thorough: bool) -> list[Op]:
        """Untimed ops that only check behaviour, run after set-up;
        ``thorough`` adds the costly ones (traced runs only)."""
        return []

    def round(self, r: int) -> list[Op]:
        raise NotImplementedError

    def record(self, traced: bool) -> None:
        """Called after every op, untimed; a traced op's layer counts."""

    def check_final(self) -> str | None:
        return None

    def storage(self) -> tuple[int, int]:
        """(bytes of the final targets, bytes of the inputs they came from)."""
        return 0, 0

    def close(self) -> None:
        pass


# --- the read path: registry queries ---------------------------------------


class AnalyticsSweep(Workload):
    op_seconds = 2.2
    min_rounds = 1
    stop_on_error = False

    def __init__(self, work, seed, rounds) -> None:
        super().__init__(work, seed, rounds)
        import duckdb

        from evidence_images_etl_airflow_spark.workload import REGISTRY

        sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
        import parity

        self.compare = parity.compare
        self.registry = REGISTRY
        self.star = os.path.join(work, "star")
        gen.generate_star(self.star, seed, SWEEP_ORDERS)
        self.con = duckdb.connect()
        for t in gen.STAR_TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.star}/{t}.parquet'")

    def _op(self, name: str, checked: bool = True) -> Op:
        q = self.registry[name]

        def run():
            tr = self.tracer
            with tr.span("workload.build"):
                df = q.fn(self.spark, self.star)
            with tr.span("workload.materialize"):
                df.write.format("noop").mode("overwrite").save()
            return df

        def check(df) -> str | None:
            if not checked:
                return None
            ok, msg = self.compare(name, df, q.oracle, self.con)
            return None if ok else f"{name}: {msg}"

        return Op(name, run, check)

    def warm_up_ops(self) -> list[Op]:
        """Three passes: the JVM keeps speeding up over a run's first
        calls (after one pass the next ran up to twice as slow as the one
        after it), and the slowest timed call should not be the first one
        still warming up. The timed rounds run the same calls on the same
        inputs and are checked, so these are not compared again."""
        return [self._op(n, checked=False) for _ in range(3) for n in SWEEP_QUERIES]

    def round(self, r: int) -> list[Op]:
        return [self._op(n) for n in SWEEP_QUERIES]

    def close(self) -> None:
        self.con.close()


# --- the write path: exports, sources and sinks ------------------------------


class Landing(Workload):
    """A replay of simulated days of exports landing in a source tree."""

    kinds: tuple[str, ...] = gen.KINDS
    setup_days: tuple[int, ...] = ()  # days the set-up's ops load

    def __init__(self, work, seed, rounds) -> None:
        super().__init__(work, seed, rounds)
        self.exports = gen.generate(
            os.path.join(work, "exports"), seed, self.day(rounds),
            SCENES_PER_FILE, SESSIONS_PER_FILE,
        )
        self.landed: set[str] = set()
        self.tgt = os.path.join(work, "tgt")
        self.src = os.path.join(work, "src")
        self.loaded_through = -1

    def day(self, r: int) -> int:
        """The day round ``r`` loads: one day per round after set-up."""
        return self.setup_days[-1] + 1 + r

    def warm_up_ops(self) -> list[Op]:
        return [self._day_op(d) for d in self.setup_days]

    def round(self, r: int) -> list[Op]:
        return [self._day_op(self.day(r))]

    def dest(self, f: gen.ExportFile) -> str:
        return os.path.join(self.src, f.name)

    def arrive(self, day: int) -> list[gen.ExportFile]:
        """Land every file of this workload's kinds up to ``day``, each
        with its simulated mtime; untimed."""
        new = [
            f for f in self.exports.files
            if f.kind in self.kinds and f.name not in self.landed and f.day <= day
        ]
        for f in new:
            dst = self.dest(f)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            tmp = os.path.join(os.path.dirname(dst), "." + os.path.basename(dst) + ".tmp")
            shutil.copyfile(os.path.join(self.exports.root, f.name), tmp)
            os.utime(tmp, (f.mtime, f.mtime))
            os.replace(tmp, dst)
            self.landed.add(f.name)
        self.new_rows = sum(f.rows for f in new)
        self.new_bytes = sum(f.bytes for f in new)
        return new

    def storage(self) -> tuple[int, int]:
        by_name = {f.name: f for f in self.exports.files}
        return disk_bytes(self.tgt), sum(by_name[n].bytes for n in self.landed)

    def _record_scan(self, names) -> None:
        by_name = {os.path.basename(f.name): f for f in self.exports.files}
        tr = self.tracer
        tr.add("sources.files_read", len(names))
        tr.add("sources.rows_scanned", sum(by_name[n].rows for n in names))
        tr.add("sources.kept_rows_scanned", sum(by_name[n].kept_rows for n in names))
        tr.add("sources.rows_landed", self.new_rows)
        tr.add("sources.bytes_landed", self.new_bytes)
        tr.peak("sinks.target_files", len(parquet_files(self.tgt)))


class DailyLookbackLoad(Landing):
    op_seconds = 12.0
    setup_days = (LOOKBACK_DAYS,)  # loads days 0..15 into empty targets

    def __init__(self, work, seed, rounds) -> None:
        super().__init__(work, seed, rounds)
        self.ev, self.ses, self.rep = (
            os.path.join(self.tgt, n) for n in ("evidence_images", "sessions", "image_urls")
        )
        self.sources = {
            kind: [
                SourceConfig(f"{self.src}/{c}/V2/Data/{kind}/*/*/*/*.parquet", {"source_container": c})
                for c in gen.COUNTRIES
            ]
            for kind in gen.KINDS
        }

    def load(self, day: int) -> tuple[int, int]:
        """One daily run; returns rows appended to (evidence_images, sessions)."""
        spark, tr = self.spark, self.tracer
        after, before = date_window(LOOKBACK_DAYS, -1, today=gen.day_date(day))
        with tr.span("sources.scan"):
            ev_raw = scan_sources(spark, self.sources["IRMQ"], after, before, schemas.IRMQ_KEEP)
            ses_raw = scan_sources(spark, self.sources["IRSession"], after, before, schemas.SESSION_KEEP)
        with tr.span("plans.transform"):
            ev, ses = transform_evidence_images(ev_raw), transform_sessions(ses_raw)
        with tr.span("sinks.append"):
            n_ev = writers.idempotent_append_parquet(spark, ev, self.ev, EV_KEYS)
            n_ses = writers.idempotent_append_parquet(spark, ses, self.ses, SESSION_KEYS)
        with tr.span("plans.transform"):
            report = image_urls(spark.read.parquet(self.ev), spark.read.parquet(self.ses))
        with tr.span("sinks.merge"):
            writers.merge_into_parquet(spark, report, self.rep, REPORT_KEYS)
        tr.add("sinks.rows_appended", n_ev + n_ses)
        self.scanned = (ev_raw, ses_raw)
        return n_ev, n_ses

    def _day_op(self, day: int) -> Op:
        def run():
            return self.load(day)

        def check(got) -> str | None:
            """Rows appended must be the keys new since the last load."""
            ex, last = self.exports, self.loaded_through
            want = tuple(
                len(ex.keys_through(kind, day)) - len(ex.keys_through(kind, min(last, day)))
                for kind in gen.KINDS
            )
            self.loaded_through = max(last, day)
            if tuple(got) != want:
                return f"day {day}: appended (evidence_images, sessions)={tuple(got)}, expected {want}"
            return None

        return Op(f"day {day}", run, check, lambda: self.arrive(day))

    def check_ops(self, thorough: bool) -> list[Op]:
        if not thorough:
            return []
        op = self._day_op(LOOKBACK_DAYS)
        op.name = f"re-run of day {LOOKBACK_DAYS}"  # must append nothing
        return [op]

    def record(self, traced: bool) -> None:
        if traced:
            self._record_scan([os.path.basename(p) for df in self.scanned for p in df.inputFiles()])

    def check_final(self) -> str | None:
        ex, last = self.exports, self.loaded_through
        return (
            key_error(self.ev, EV_KEYS, ex.keys_through("IRMQ", last), "evidence_images")
            or key_error(self.ses, SESSION_KEYS, ex.keys_through("IRSession", last), "sessions")
            or key_error(self.rep, REPORT_KEYS, ex.report_keys(last), "image_urls report")
        )


class StreamIngest(Landing):
    op_seconds = 1.7
    kinds = ("IRMQ",)
    # the first arrival into an empty target, then two days on top of it,
    # so the conflict-skip path against a non-empty target is warm
    setup_days = (0, 1, 2)

    def __init__(self, work, seed, rounds) -> None:
        super().__init__(work, seed, rounds)
        self.ckpt = os.path.join(work, "checkpoint")
        self.ev = os.path.join(self.tgt, "evidence_images")
        os.makedirs(self.src, exist_ok=True)
        self.seen_files: set[str] = set()
        self.seen_batches = 0

    def dest(self, f: gen.ExportFile) -> str:
        return os.path.join(self.src, os.path.basename(f.name))

    def _transform(self, df):
        with self.tracer.span("plans.transform"):
            return transform_evidence_images(df)

    def trigger(self) -> None:
        """One availableNow trigger over whatever has landed."""
        with self._traced_sink(), self.tracer.span("streaming.trigger"):
            upsert_stream_available_now(
                self.spark, self.src, gen.IRMQ_STREAM_SCHEMA, self.ev, EV_KEYS, self.ckpt,
                transform=self._transform,
            )

    @contextlib.contextmanager
    def _traced_sink(self):
        """When tracing, time the sink the stream calls per micro-batch by
        wrapping the module attribute it resolves at call time."""
        if not self.tracer.enabled:
            yield
            return
        inner = writers.idempotent_append_parquet

        def traced(spark, df, path, keys, order_by=None):
            with self.tracer.span("sinks.append"):
                n = inner(spark, df, path, keys, order_by)
            self.tracer.add("sinks.rows_appended", n)
            return n

        writers.idempotent_append_parquet = traced
        try:
            yield
        finally:
            writers.idempotent_append_parquet = inner

    def _day_op(self, day: int) -> Op:
        def check(_) -> str | None:
            """The target's row count (from parquet footers) must be the
            number of distinct keys landed; check_final compares the keys."""
            self.loaded_through = day
            want = len(self.exports.keys_through("IRMQ", day))
            got = sum(pq.ParquetFile(p).metadata.num_rows for p in parquet_files(self.ev))
            return None if got == want else f"day {day}: evidence_images holds {got} rows, expected {want}"

        return Op(f"day {day}", self.trigger, check, lambda: self.arrive(day))

    def check_ops(self, thorough: bool) -> list[Op]:
        """A trigger with no new files must not write to the target."""
        before: list = []

        def run():
            before[:] = sorted(parquet_files(self.ev))
            self.trigger()

        def check(_) -> str | None:
            if sorted(parquet_files(self.ev)) != before:
                return "a trigger with no new files wrote to the target"
            return None

        return [Op("idle trigger", run, check)]

    def record(self, traced: bool) -> None:
        """Batches and files the last trigger read, from the stream's own
        checkpoint: the file-source log and the commit log."""
        log = os.path.join(self.ckpt, "sources", "0")
        read = set()  # compacted log files repeat earlier batches' entries
        for name in sorted(os.listdir(log)) if os.path.isdir(log) else []:
            if not name.split(".")[0].isdigit():
                continue  # checksum files
            with open(os.path.join(log, name)) as fh:
                for line in fh:
                    if line.startswith("{") and '"path"' in line:
                        read.add(os.path.basename(json.loads(line)["path"]))
        commits = os.path.join(self.ckpt, "commits")
        batches = len([n for n in os.listdir(commits) if n.isdigit()]) if os.path.isdir(commits) else 0
        new, self.seen_files = sorted(read - self.seen_files), read
        n_batches, self.seen_batches = batches - self.seen_batches, batches
        if traced:
            self.tracer.add("streaming.batches", n_batches)
            self.tracer.peak("streaming.checkpoint_files", sum(len(n) for _, _, n in os.walk(self.ckpt)))
            self._record_scan(new)

    def check_final(self) -> str | None:
        return key_error(
            self.ev, EV_KEYS, self.exports.keys_through("IRMQ", self.loaded_through), "evidence_images"
        )


WORKLOADS = {
    "analytics_sweep": AnalyticsSweep,
    "daily_lookback_load": DailyLookbackLoad,
    "stream_ingest": StreamIngest,
}


def traced_round(r: int) -> bool:
    """Rounds of a traced run alternate untraced, traced, traced,
    untraced, so a cost that drifts linearly over the run (a target that
    grows each day, the JVM warming) cancels out of the tracing overhead."""
    return r % 4 in (1, 2)

